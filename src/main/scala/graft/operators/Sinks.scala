package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks K2–K4 (SURVEY.md §2.1): the JSONL envelope append sink, the
  * nested per-firm JSON document sink, and run-partitioned output paths.
  */
object Sinks {

  /** K2: JSONL append with the capture envelope
    * {datetime,url,status,headers,JSON} (seed_aic.py:146-155). `datetime` is
    * taken from a column (pinned in tests) rather than now() so replays are
    * deterministic. */
  def appendJsonl(df: DataFrame, path: String,
                  envelopeCols: Seq[String] = Seq("datetime", "url", "status", "headers", "JSON")): Unit =
    df.select(to_json(struct(envelopeCols.map(col): _*)).as("value"))
      .write.mode(SaveMode.Append).text(path)

  /** A4+K3: nested per-firm document assembly + JSON sink
    * (main_portCo.py:113-122,137-138). portco structs are sorted inside each
    * document so output is deterministic (SURVEY.md §7.3). */
  def nestedAssembly(firms: DataFrame, portcos: DataFrame, firmKey: String): DataFrame =
    firms.join(portcos, Seq(firmKey), "left")
      .groupBy(firmKey)
      .agg(sort_array(collect_list(struct(
        col("name"), col("url"), col("score")))).as("portcos"))

  def writeNestedJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** K4: session/run-scoped partitioned output (seed_aic.py:13-17's
    * timestamped filenames → a run_ts partition column, pruned on read). */
  def writeRunPartitioned(df: DataFrame, path: String, runTs: String): Unit =
    df.withColumn("run_ts", lit(runTs))
      .write.mode(SaveMode.Append).partitionBy("run_ts").parquet(path)
}
