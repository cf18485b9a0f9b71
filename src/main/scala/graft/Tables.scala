package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver testdata tables (TESTDATA.md).
  *
  * All `SparkEntry.queries` are phrased over these parquet tables so the
  * driver can run the DuckDB oracle on the identical inputs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One resolved relation per (session, dir, table) — what a catalog gives
    * a real deployment. Opening a table lists its files and reads one
    * footer for the schema; `spark.read.parquet` would read that footer in
    * a one-task Spark job, so the schema is read on the driver instead
    * ([[ParquetSchema]]) and the open starts no job. Re-opening per query
    * call would repeat that listing and footer read, which at 100 TB scale
    * is exactly the metadata work a metastore amortizes.
    *
    * Scoped per SparkSession through a [[SessionMemo]], which sweeps the
    * entries of STOPPED sessions on access and so releases their relations
    * across session churn. Static-data assumption: the file listing is
    * frozen at first read per (session, dir, table); rewriting a directory
    * mid-session requires a new session (or `refreshByPath`), exactly like
    * a metastore-cached relation. */
  private val resolved = new SessionMemo[DataFrame]

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    resolved.of(spark, path) {
      // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark 4 rejects
      // by default; read nanos as long (queries convert when needed). Set
      // before the footer is converted: the conversion reads it.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      ParquetSchema.read(spark, path)
    }
  }

  /** Microseconds-since-epoch for `events.ts` as a SQL fragment, dispatched
    * on the column's ACTUAL type — the testdata has shipped two vintages:
    * INT64 TIMESTAMP(NANOS) (read as raw nanos longs via `nanosAsLong`,
    * converted with integral `div`) and TIMESTAMP_NTZ(µs). Sessions are
    * UTC-pinned, so the ntz->timestamp cast is a tz-free reinterpretation
    * and `unix_micros` matches DuckDB's `epoch_us(ts)` exactly. Every
    * ts-consuming query MUST go through this dispatch instead of assuming a
    * vintage: the r9 regression (7 queries red) was exactly that assumption
    * going stale. */
  def tsUsSql(df: DataFrame): String = df.schema("ts").dataType match {
    case LongType          => "(ts div 1000)"
    case TimestampNTZType  => "unix_micros(cast(ts as timestamp))"
    case TimestampType     => "unix_micros(ts)"
    case other => throw new IllegalStateException(
      s"events.ts has unsupported type $other; expected nanos LONG, TIMESTAMP or TIMESTAMP_NTZ")
  }

  /** Column form of [[tsUsSql]]. */
  def tsUs(df: DataFrame): Column = expr(tsUsSql(df))

  def lineitem(spark: SparkSession, d: String): DataFrame  = t(spark, d, "lineitem")
  def orders(spark: SparkSession, d: String): DataFrame    = t(spark, d, "orders")
  def customer(spark: SparkSession, d: String): DataFrame  = t(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = t(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = t(spark, d, "part")
  def nation(spark: SparkSession, d: String): DataFrame    = t(spark, d, "nation")
  def region(spark: SparkSession, d: String): DataFrame    = t(spark, d, "region")
  def events(spark: SparkSession, d: String): DataFrame    = t(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame = t(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = t(spark, d, "embeddings")
}
