package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators the reference lacks but a large-scale event/
  * training-data pipeline needs: as-of join and bounded range (band) join,
  * plus exact interpolated quantiles.
  *
  * Scale notes (the whole point of these shapes):
  *  - The as-of join is the union+ordered-window formulation: ONE shuffle on
  *    the join key, then a linear per-partition sweep. Never a per-row probe
  *    or a theta join — at 100 TB the naive `LEFT JOIN ... ts <= ts` plans
  *    as a nested loop and dies; this plans as sort + running last().
  *  - The range join buckets time into band-width cells and equi-joins on
  *    (key, cell), exploding one side to its two candidate cells, then
  *    applies the exact predicate. Work is proportional to true pair count,
  *    not |L|x|R| per key.
  *
  * events.ts has shipped as both raw nanosecond longs and TIMESTAMP_NTZ;
  * `Tables.tsUs` dispatches on the actual schema to microseconds matching
  * DuckDB's epoch_us() exactly.
  */
object TemporalQueries {

  private def tsUs(df: DataFrame) = Tables.tsUs(df)

  /** As-of join: for each purchase event, the most recent error event of the
    * same user at or before it. Union + running `last(ignoreNulls)` over an
    * ordered window — one shuffle, linear sweep, deterministic tie-breaks
    * (errors before purchases at equal ts; later event_id wins among equal
    * ts). Oracle states the same semantics as join + argmax. */
  val ajAsof = QueryDef("aj_asof_join",
    """WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'purchase'),
      |e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'error'),
      |j AS (SELECT p.event_id, p.user_id, p.ts_us, e.event_id AS err_id, e.ts_us AS err_ts,
      |        ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY e.ts_us DESC, e.event_id DESC) AS rn
      |      FROM p LEFT JOIN e ON e.user_id = p.user_id AND e.ts_us <= p.ts_us)
      |SELECT event_id, user_id, err_id AS last_err_id,
      |  CAST(ts_us - err_ts AS BIGINT) AS gap_us
      |FROM j WHERE rn = 1""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val ev = raw
      .select(col("event_id"), col("user_id"), tsUs(raw).as("ts_us"), col("event_type"))
    val tagged = ev.filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts_us"),
        when(col("event_type") === "error", 0).otherwise(1).as("tag"),
        col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "tag", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_err_id",
        last(when(col("tag") === 0, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("last_err_ts",
        last(when(col("tag") === 0, col("ts_us")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("last_err_id"),
        (col("ts_us") - col("last_err_ts")).as("gap_us"))
  }

  /** The SAME as-of semantics through the native whole-operator path
    * ([[graft.plans.AsofJoinPlan]] → AsofJoinStrategy → AsofJoinExec): a
    * custom LogicalPlan node planned by an injected strategy into a
    * physical two-pointer merge sweep with ClusteredDistribution +
    * SortOrder requirements — one hash shuffle and one per-partition sort
    * PER SIDE (probes never union with references, no window operator, no
    * per-probe buffering). Declared alongside [[ajAsof]] with the
    * identical oracle, so the custom operator is driver-adjudicated
    * row-for-row against DuckDB every round, and spec-pinned equal to the
    * union+window composition. */
  val ajAsofNative = QueryDef("aj_asof_native", ajAsof.oracle.get) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val ev = raw
      .select(col("event_id"), col("user_id"), tsUs(raw).as("ts_us"), col("event_type"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("last_err_id"), col("ts_us").as("err_ts"))
    graft.plans.AsofJoin(p, e, key = "user_id", time = "ts_us", tie = "last_err_id")
      .select(col("event_id"), col("user_id"), col("last_err_id"),
        (col("ts_us") - col("err_ts")).as("gap_us"))
  }

  /** Bounded range (band) join: all (error, purchase) pairs of the same user
    * with 0 <= purchase.ts - error.ts <= 5 min. Implementation buckets time
    * into 5-minute cells and equi-joins on (user_id, cell) — the error side
    * is exploded to its cell and the next (a qualifying purchase is at most
    * one cell ahead), then the exact band predicate filters. */
  val ajRange = QueryDef("aj_range_join",
    """WITH p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'purchase'),
      |e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'error')
      |SELECT p.event_id AS p_id, e.event_id AS e_id,
      |  CAST(p.ts_us - e.ts_us AS BIGINT) AS gap_us
      |FROM p JOIN e ON e.user_id = p.user_id
      |  AND e.ts_us <= p.ts_us AND p.ts_us - e.ts_us <= 300000000""".stripMargin) { (spark, d) =>
    val BandUs = 300000000L // 5 minutes
    val raw = Tables.events(spark, d)
    val ev = raw
      .select(col("event_id"), col("user_id"), tsUs(raw).as("ts_us"), col("event_type"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts_us").as("p_ts"),
        (col("ts_us") / BandUs).cast("long").as("cell"))
    val e = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("e_id"), col("ts_us").as("e_ts"),
        explode(array((col("ts_us") / BandUs).cast("long"),
          (col("ts_us") / BandUs).cast("long") + 1)).as("cell"))
    p.join(e, Seq("user_id", "cell"))
      .filter(col("e_ts") <= col("p_ts") && col("p_ts") - col("e_ts") <= BandUs)
      .select(col("p_id"), col("e_id"), (col("p_ts") - col("e_ts")).as("gap_us"))
  }

  /** Exact interpolated quantiles per event type (median + p90 + count).
    * Spark `percentile` and DuckDB `quantile_cont` share the linear-
    * interpolation definition; round(6) guards the last-ulp boundary. */
  val aggQuantile = QueryDef("agg_quantile",
    """SELECT event_type, COUNT(*) AS n,
      |  round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS p50,
      |  round(quantile_cont(CAST(value AS DOUBLE), 0.9), 6) AS p90
      |FROM events GROUP BY event_type""".stripMargin) { (spark, d) =>
    Tables.events(spark, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"))
  }

  val all: Seq[QueryDef] = Seq(ajAsof, ajAsofNative, ajRange, aggQuantile)
}
