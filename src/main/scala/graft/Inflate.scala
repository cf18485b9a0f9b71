package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic N-x inflation of a testdata directory, for bench scale
  * points beyond the largest driver-provided SF (the testdata dirs are
  * read-only; output goes to a scratch dir).
  *
  * Each replica remaps every key column by `key + rep * span` (spans chosen
  * above each table's key range) and regenerates key-embedding name strings
  * (`Customer#…`/`Supplier#…`) from the new key, so cross-table join
  * fan-out, name-join selectivity, and group cardinalities all scale the
  * way a larger generated SF would — NOT like naive row duplication, which
  * multiplies join outputs quadratically. Document text is word-salted per
  * replica (every word gets a replica suffix), preserving each replica's
  * internal dup/near-dup structure while keeping replicas disjoint in
  * shingle space — dedup work scales with corpus size, not with artificial
  * cross-replica duplicate cliques. region/nation stay as-is (fixed dims at
  * every TPC-H SF). Timestamps, prices, types, and embedding vectors are
  * untouched.
  *
  * Usage: runMain graft.Inflate [srcDir] [dstDir] [factor]
  */
object Inflate {

  private val Span = 100000000L // > every key range in any testdata SF

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val fileCap = if (args.length > 3) args(3).toInt else 32
    val spark = Session.local()
    run(spark, src, dst, factor, fileCap)
    spark.stop()
  }

  /** Per-table part-file counts at factor 10 (scaled by factor/10 for
    * larger inflations, capped by `fileCap`). Two regimes, both measured
    * (round 17): scan-bound tables target ~8–16 MB/file — a single-file
    * single-row-group layout single-threads every engine-side scan
    * (j4_join_chain was 1.1 s at sf1, ~90% one-task scan+probe), while a
    * 32-trivial-task wave costs ~90 ms of pure dispatch in local mode
    * that every sub-second query pays (files=32 → 8 halved the headline
    * sum). Compute-bound tables (documents, embeddings: sketch/encode
    * cost per byte is ~100× a scan) keep full fan-out so the sim/dd
    * family parallelizes (the 32-file layout halved s1_sim_dedup_index
    * vs single-file). The DuckDB proxy (BASELINE.md §B2) is measured
    * over the same files. */
  private val filesAt10: Map[String, Int] = Map(
    "lineitem" -> 16, "orders" -> 8, "events" -> 8,
    "customer" -> 2, "supplier" -> 1, "part" -> 2,
    "documents" -> 32, "embeddings" -> 32)

  /** Per-table clustering column for the hash-clustered layout (layout v4,
    * round 17). Default is the leading key; the two big facts cluster on
    * their hot AGGREGATION key instead — the bucketed-fact layout a
    * warehouse deploys for a repeated group-by/join key. With each
    * l_partkey (o_custkey) confined to one file, every map task's partial
    * aggregate reduces fully (one row per key) instead of emitting ~one
    * partial row per input row on near-unique keys, so the shuffle carries
    * ndv rows, not ~n. The DuckDB proxy (tools/baseline_sf1.py) is
    * re-measured on the identical files, so the layout change cannot favor
    * one engine by construction — it prices whether each engine exploits
    * physical clustering. */
  private val clusterCol: Map[String, String] = Map(
    "lineitem" -> "l_partkey", "orders" -> "o_custkey")

  def run(spark: SparkSession, src: String, dst: String, factor: Int,
          fileCap: Int = 32): Unit = {
    val reps = spark.range(factor).select(col("id").as("rep"))
    def remap(k: String): Column = col(k) + col("rep") * Span
    def inflate(table: String)(cols: DataFrame => Seq[Column]): Unit = {
      val df = Tables.t(spark, src, table).crossJoin(broadcast(reps))
      val out = df.select(cols(df): _*)
      val files = math.max(1, math.min(fileCap,
        filesAt10(table) * factor / 10))
      // hash-cluster: deterministic content→file mapping on the table's
      // declared cluster key (the leading key unless clusterCol overrides)
      val ck = clusterCol.getOrElse(table, out.columns.head)
      out.repartition(files, col(ck))
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    // Pad width must cover the LARGEST remapped key: Spark's lpad TRUNCATES
    // longer inputs to the target length, so a fixed 9 would silently
    // collide names across replicas once factor * Span reaches 10 digits —
    // breaking the name<->key correspondence the j3 name joins rely on
    // (ADVICE r5). Width follows the factor; 9 keeps the TPC-H shape for
    // the default factor 10.
    val padWidth = math.max(9, (factor.toLong * Span - 1).toString.length)
    def keyName(prefix: String, k: String): Column =
      concat(lit(prefix), lpad(remap(k).cast("string"), padWidth, "0"))

    inflate("customer")(_ => Seq(
      remap("c_custkey").as("c_custkey"),
      keyName("Customer#", "c_custkey").as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
    inflate("supplier")(_ => Seq(
      remap("s_suppkey").as("s_suppkey"),
      keyName("Supplier#", "s_suppkey").as("s_name"),
      col("s_nationkey"), col("s_acctbal")))
    inflate("part")(_ => Seq(
      remap("p_partkey").as("p_partkey"),
      col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("p_retailprice")))
    inflate("orders")(_ => Seq(
      remap("o_orderkey").as("o_orderkey"),
      remap("o_custkey").as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    inflate("lineitem")(_ => Seq(
      remap("l_orderkey").as("l_orderkey"),
      remap("l_partkey").as("l_partkey"),
      remap("l_suppkey").as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")))
    inflate("events")(_ => Seq(
      remap("event_id").as("event_id"),
      col("ts"),
      remap("user_id").as("user_id"),
      col("event_type"), col("value"), col("props")))
    inflate("documents")(_ => Seq(
      remap("doc_id").as("doc_id"),
      // word-salt: replicas disjoint in shingle space, internal structure kept
      regexp_replace(col("text"), lit("(\\S+)"),
        concat(lit("$1x"), col("rep").cast("string"))).as("text"),
      col("lang"), col("source"), col("n_chars")))
    inflate("embeddings")(_ => Seq(
      remap("vec_id").as("vec_id"),
      col("embedding"), col("label")))
    // fixed dims: straight copies
    Seq("region", "nation").foreach { t =>
      Tables.t(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }
}
