package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's one trusted end-to-end pipeline (README.md:16), Spark-first:
  * JSONL crawl logs -> member records -> PE-firm seed table.
  *
  * Reference lifecycle (SURVEY.md §3.1): response capture filters F3
  * (seed_aic.py:107-125), payload-shape filter F4 (:134-143, re-checked
  * :326-333), member explode (:323-334), membership+substring filters F1∧F2
  * (:336), first-seen dedup W1 (:311,336-338), projections P1 (:359-363),
  * CSV sinks K1 (:356-366).
  *
  * Spark restatement: `read.json(schema) -> filter -> explode -> filter ->
  * window-dedup -> select`. The declared schema replaces the reference's
  * runtime shape probing; Catalyst prunes the JSON parse to the referenced
  * fields.
  */
object SeedPipeline {

  /** Member record inside `JSON.Items.$values` (observed in
    * logs/aic_responses_*.jsonl; probed at seed_aic.py:134-143). */
  val memberSchema: StructType = StructType(Seq(
    StructField("$type", StringType),
    StructField("ID", LongType),
    StructField("FullName", StringType),
    StructField("FullName5", StringType),
    StructField("Company", StringType),
    StructField("Email", StringType),
    StructField("Phone", StringType),
    StructField("Website", StringType),
    StructField("Latitude", DoubleType),
    StructField("Longitude", DoubleType),
    StructField("LongLatAddress", StringType),
    StructField("Radius", StringType),
    StructField("UserId", LongType),
    StructField("ExcludeDirectory", BooleanType),
    StructField("filter-Member Type", StringType)
  ))

  /** JSONL envelope written by the capture sink (seed_aic.py:146-152). */
  val logSchema: StructType = StructType(Seq(
    StructField("datetime", StringType),
    StructField("url", StringType),
    StructField("status", LongType),
    StructField("headers", MapType(StringType, StringType)),
    StructField("JSON", StructType(Seq(
      StructField("Items", StructType(Seq(
        StructField("$values", ArrayType(memberSchema))
      )))
    )))
  ))

  /** Raw log scan (S1). */
  def readLogs(spark: SparkSession, logsDir: String): DataFrame =
    spark.read.schema(logSchema).json(logsDir)

  /** Source-side filters F3: AIC api url + JSON payload captured
    * (seed_aic.py:107-125). status/url checks; content-type already folded
    * into capture. */
  def responseFilter(df: DataFrame): Column =
    col("url").contains("investmentcouncil.com.au") &&
      !col("url").contains("maps.googleapis.com") &&
      col("status") === 200

  /** Shape filter F4 + member explode X8/X9 (seed_aic.py:134-143,323-334). */
  def members(logs: DataFrame): DataFrame = {
    val values = col("JSON").getField("Items").getField("$values")
    logs
      .filter(responseFilter(logs))
      .filter(values.isNotNull && size(values) > 0 &&
        values.getItem(0).getField("FullName").isNotNull)
      .select(input_file_name().as("src_file"),
        posexplode(values).as(Seq("pos", "m")))
      .select(col("src_file"), col("pos"), col("m.*"))
  }

  /** Seed query: F1 ∧ F2 filters + first-seen dedup W1 + P1 projection
    * (seed_aic.py:309-366). Dedup order is made total and deterministic via
    * (src_file, pos, ID) — SURVEY.md §7.3. */
  def peFirms(logs: DataFrame): DataFrame = {
    val m = members(logs)
    val w = Window.partitionBy(col("FullName"))
      .orderBy(col("src_file"), col("pos"), col("ID"))
    m.filter(col("`filter-Member Type`").isin("PE", "private equity") &&
        col("LongLatAddress").contains("Australia"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "src_file", "pos")
  }

  /** 2-column seed projection (output/PE_firms.csv, seed_aic.py:359). */
  def seedProjection(firms: DataFrame): DataFrame =
    firms.select("FullName", "Website")

  /** 7-column detailed projection (output/detailed_PE.csv, seed_aic.py:360-363). */
  def detailedProjection(firms: DataFrame): DataFrame =
    firms.select("FullName", "Website", "Phone", "Email",
      "Latitude", "Longitude", "LongLatAddress")
}
