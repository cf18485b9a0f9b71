package graft

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftspec.JobCount
import org.apache.spark.sql.types._

/** [[ParquetSchema]] learns on the driver the schema that
  * `spark.read.parquet` infers with a Spark job: the same file, the same
  * conversion, the session's parquet settings — and opening a catalog
  * table through it starts no job. */
class ParquetSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(name: String): String =
    Files.createTempDirectory("graft_pqs").toString + "/" + name

  /** One parquet file in the old events vintage: INT64 TIMESTAMP(NANOS),
    * which Spark cannot write. */
  private def nanosEvents(path: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(
      HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withType(schema).withConf(conf).build()
    val g = new SimpleGroupFactory(schema)
    try {
      w.write(g.newGroup().append("event_id", 1L).append("ts", 1700000000123456789L))
      w.write(g.newGroup().append("event_id", 2L).append("ts", 999L))
    } finally w.close()
  }

  test("the driver schema equals the inferred schema for every sf0.001 table") {
    Tables.names.foreach { n =>
      val p = s"$sf0001/$n.parquet"
      assert(ParquetSchema.of(spark, p) == spark.read.parquet(p).schema, n)
    }
  }

  test("a Spark-written multi-file directory with _SUCCESS: same schema, same rows") {
    val dir = tmp("multi")
    spark.range(0, 300).repartition(3)
      .selectExpr("id", "cast(id as string) s", "array(id, id + 1) a",
        "named_struct('x', id, 'y', cast(id as double)) st",
        "cast(id as decimal(12, 2)) d", "map(id, 'v') m")
      .write.parquet(dir)
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("_SUCCESS"))
    assert(names.count(_.endsWith(".parquet")) >= 2, names)
    val inferred = spark.read.parquet(dir)
    assert(ParquetSchema.of(spark, dir) == inferred.schema)
    val read = ParquetSchema.read(spark, dir)
    assert(read.schema == inferred.schema)
    assert(read.collect().toSet == inferred.collect().toSet)
  }

  test("events vintage INT64 TIMESTAMP(NANOS): long under nanosAsLong, read by Tables.t in a fresh session") {
    val dir = tmp("nanos")
    new java.io.File(dir).mkdirs()
    val p = s"$dir/events.parquet"
    nanosEvents(p)
    assert(spark.conf.get(nanosKey) == "true")
    val inferred = spark.read.parquet(p).schema
    assert(inferred("ts").dataType == LongType)
    assert(ParquetSchema.of(spark, p) == inferred)
    // the conversion follows the session's setting: without nanosAsLong
    // Spark rejects the type, and so does the driver read
    val fresh = spark.newSession()
    fresh.conf.set(nanosKey, "false")
    intercept[Exception](ParquetSchema.of(fresh, p))
    // Tables.t sets nanosAsLong before it converts the footer
    val ev = Tables.t(fresh, dir, "events")
    assert(ev.schema("ts").dataType == LongType)
    assert(ev.select(Tables.tsUs(ev)).as[Long].collect().sorted.toSeq ==
      Seq(0L, 1700000000123456L))
  }

  test("events vintage TIMESTAMP_NTZ: same schema on the driver") {
    val p = tmp("ntz.parquet")
    Seq((1L, 1700000000123456L)).toDF("event_id", "us")
      .selectExpr("event_id", "cast(timestamp_micros(us) as timestamp_ntz) ts")
      .coalesce(1).write.parquet(p)
    val inferred = spark.read.parquet(p).schema
    assert(inferred("ts").dataType == TimestampNTZType)
    assert(ParquetSchema.of(spark, p) == inferred)
  }

  test("partition columns are typed from the caller: the string value \"01\" stays \"01\"") {
    val dir = tmp("parts")
    Seq((1L, "01"), (2L, "1"), (3L, "01")).toDF("id", "cell")
      .write.partitionBy("cell").parquet(dir)
    val typed = ParquetSchema.read(spark, dir,
      StructType(Seq(StructField("cell", StringType))))
    assert(typed.schema.fieldNames.toSeq == Seq("id", "cell"))
    assert(typed.select("cell").as[String].collect().toSet == Set("01", "1"))
    // a partition column the caller does not name keeps Spark's inference
    val inferred = ParquetSchema.read(spark, dir)
    assert(inferred.schema == spark.read.parquet(dir).schema)
    assert(inferred.schema("cell").dataType == IntegerType)
  }

  test("Tables.t opens the 10 tables in a fresh session with no Spark job") {
    val fresh = spark.newSession()
    val (_, jobs) = JobCount(spark.sparkContext) {
      Tables.names.foreach(n => Tables.t(fresh, sf0001, n))
    }
    assert(jobs == 0)
    // the listener does see the inference job spark.read.parquet starts
    val (_, inferJobs) = JobCount(spark.sparkContext) {
      Tables.names.foreach(n => fresh.read.parquet(s"$sf0001/$n.parquet"))
    }
    assert(inferJobs == Tables.names.size)
  }
}
