package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exprs.wordsSql
import org.apache.spark.sql.functions._

/** Data-quality / validation operators — the monitoring half of a
  * training-data pipeline: schema-level column profiling and
  * distribution-drift detection. Neither exists in the reference (its
  * validation is ad-hoc per-field checks); both are table stakes for a
  * pipeline that re-ingests continuously at 100 TB.
  */
object QualityQueries {

  /** Column profile of the lineitem fact table: per profiled column, row
    * count, null count, EXACT distinct count, and (for the numeric
    * columns) min/max in integer cents.
    *
    * The scale-defining choice: one narrow column-pruned aggregation PER
    * COLUMN, unioned — never several `countDistinct`s in one `agg`. The
    * approx_stats round-11 lesson (PLANS.md): Spark's distinct-rewrite
    * expands one row per (group, distinct-key) and every expanded row
    * pays the full partial-merge buffer — the profiler shape that blows
    * up first on wide tables. Separate per-column aggregates keep each
    * scan pruned to one column (vectorized parquet reads nothing else)
    * and each shuffle vocabulary-sized; at 100 TB the exact distincts
    * swap to approx_count_distinct per column with the union unchanged
    * (approx_stats demonstrates the adjudication pattern for that). */
  val qaSchemaProfile = QueryDef("qa_schema_profile",
    """SELECT 'l_orderkey' AS col, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
      |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
      |  CAST(NULL AS BIGINT) AS min_cents, CAST(NULL AS BIGINT) AS max_cents
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT), NULL, NULL
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(COUNT(DISTINCT l_quantity) AS BIGINT),
      |  CAST(MIN(round(l_quantity * 100)) AS BIGINT),
      |  CAST(MAX(round(l_quantity * 100)) AS BIGINT)
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
      |  CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      |  CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
      |  CAST(MIN(round(l_extendedprice * 100)) AS BIGINT),
      |  CAST(MAX(round(l_extendedprice * 100)) AS BIGINT)
      |FROM lineitem""".stripMargin) { (spark, d) =>
    val li = Tables.lineitem(spark, d)
    def profile(c: String, cents: Boolean) = {
      val base = li.select(col(c))
      val aggs = Seq(
        count(lit(1)).cast("long").as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).cast("long").as("n_null"),
        countDistinct(col(c)).cast("long").as("n_distinct")) ++ (
        if (cents) Seq(
          min(round(col(c) * 100)).cast("long").as("min_cents"),
          max(round(col(c) * 100)).cast("long").as("max_cents"))
        else Seq(lit(null).cast("long").as("min_cents"),
          lit(null).cast("long").as("max_cents")))
      base.agg(aggs.head, aggs.tail: _*).select(lit(c).as("col"), col("n"),
        col("n_null"), col("n_distinct"), col("min_cents"), col("max_cents"))
    }
    profile("l_orderkey", cents = false)
      .union(profile("l_returnflag", cents = false))
      .union(profile("l_quantity", cents = true))
      .union(profile("l_extendedprice", cents = true))
  }

  /** Distribution drift per event type: total-variation distance (in
    * integer ppm) between the value-bucket distributions of two
    * deterministic time slices (even vs odd event days). TV = half the
    * L1 distance between the two normalized histograms — the drift
    * monitor a continuous-ingest pipeline alarms on, stated without logs
    * or doubles: tv_ppm = Σ|c_a·N_b − c_b·N_a| · 10^6 div (2·N_a·N_b),
    * accumulated in DECIMAL(38,0)/HUGEINT per the overflow ceiling.
    *
    * Scale shape: one partial-agg'd groupBy over (type, bucket, slice) —
    * the only corpus-sized stage — then vocabulary-sized pivots, totals
    * DERIVED from the bucket counts, and a broadcast join back. Empty
    * slices yield no row for the type (both totals must be positive for
    * TV to be defined), deterministically on both engines. */
  val qaTvDrift = QueryDef("qa_tv_drift",
    """WITH t AS (SELECT event_type,
      |    (epoch_us(ts) // 86400000000) % 2 = 0 AS slice_a,
      |    CAST(round(value * 100) AS BIGINT) // 1000 AS bucket
      |  FROM events),
      |b AS (SELECT event_type, bucket,
      |    SUM(CASE WHEN slice_a THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN slice_a THEN 0 ELSE 1 END) AS cb
      |  FROM t GROUP BY 1, 2),
      |n AS (SELECT event_type, SUM(ca) AS na, SUM(cb) AS nb FROM b GROUP BY 1)
      |SELECT b.event_type AS event_type,
      |  CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
      |  CAST(SUM(abs(CAST(b.ca AS HUGEINT)*n.nb - CAST(b.cb AS HUGEINT)*n.na))
      |    * 1000000 // (2 * CAST(n.na AS HUGEINT) * n.nb) AS BIGINT) AS tv_ppm
      |FROM b JOIN n ON n.event_type = b.event_type
      |WHERE n.na > 0 AND n.nb > 0
      |GROUP BY b.event_type, n.na, n.nb""".stripMargin) { (spark, d) =>
    val raw = Tables.events(spark, d)
    val t = raw
      .select(col("event_type"), Tables.tsUs(raw).as("ts_us"), col("value"))
      .select(col("event_type"),
        (expr("ts_us div 86400000000") % 2 === 0).as("slice_a"),
        expr("cast(round(value * 100) as bigint) div 1000").as("bucket"))
    val b = t.groupBy("event_type", "bucket")
      .agg(sum(when(col("slice_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("slice_a"), 0L).otherwise(1L)).as("cb"))
    val n = b.groupBy("event_type")
      .agg(sum("ca").as("na"), sum("cb").as("nb"))
      .filter(col("na") > 0 && col("nb") > 0)
    b.join(broadcast(n), "event_type")
      .groupBy("event_type", "na", "nb")
      .agg(expr(
        """sum(abs(cast(ca as decimal(38,0)) * nb - cast(cb as decimal(38,0)) * na))
          | * 1000000 div (2 * cast(na as decimal(38,0)) * nb)""".stripMargin)
        .cast("long").as("tv_ppm"))
      .select(col("event_type"), col("na").cast("long").as("n_a"),
        col("nb").cast("long").as("n_b"), col("tv_ppm"))
  }

  /** Pearson correlation between order quantity and extended price per
    * return flag — stated WITHOUT doubles: the engines exchange exact
    * integer moment sums (n, Σx, Σy, Σxy, Σx², Σy² over cents, DECIMAL
    * accumulators) and emit r² in ppm = cov²·10^6 div (varx·vary) plus
    * the covariance sign — monotone in |r|, so thresholding/ranking
    * semantics survive. (A double `corr()` matches only to a round(6)
    * guard; the moment form removes the guard — the ta_rarity rule
    * applied to second moments.)
    *
    * Overflow discipline: cov² overflows even int128 at sf0.01 (cov can
    * reach ~10^24 in cent units), so r² is computed as the SPLIT floor
    * division (|cov|·10^6 div vx) · (|cov|·10^6 div vy) div 10^6 — each
    * factor fits (Cauchy-Schwarz bounds the product by 10^12), both
    * engines floor the same positive operands (|cov|, not cov: DuckDB //
    * floors while Spark div truncates, which DIVERGES on negatives), and
    * the deterministic downward truncation bias is part of the declared
    * statistic. One partial-agg'd scan; nothing else. */
  val aggCorr = QueryDef("agg_corr",
    """WITH t AS (SELECT l_returnflag AS flag,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (SELECT flag, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |    SUM(CAST(y AS HUGEINT) * y) AS syy
      |  FROM t GROUP BY flag),
      |v AS (SELECT flag, n, n*sxy - sx*sy AS cov,
      |    n*sxx - sx*sx AS vx, n*syy - sy*sy AS vy FROM m)
      |SELECT flag, CAST(n AS BIGINT) AS n,
      |  CAST((abs(cov) * 1000000 // vx) * (abs(cov) * 1000000 // vy)
      |    // 1000000 AS BIGINT) AS r2_ppm,
      |  CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END
      |    AS BIGINT) AS sign
      |FROM v WHERE vx > 0 AND vy > 0""".stripMargin) { (spark, d) =>
    val t = Tables.lineitem(spark, d).select(col("l_returnflag").as("flag"),
      round(col("l_quantity") * 100).cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    // Per-row products stay LONG (round 17, guide §2.3 "narrower types"):
    // the domain bounds them — x = quantity·100 ≤ 5·10³, y = price·100 ≤
    // ~1.1·10⁷, so x·y ≤ 5.5·10¹⁰ and y² ≤ 1.3·10¹⁴, far inside 2⁶³ —
    // while the SUMS (~n·10¹⁴) genuinely need an int128-class accumulator.
    // Two measured steps (probe A/Bs, interleaved min-of-8 ×2 at sf0.1):
    // dec(x)*y → dec(x*y) killed the per-row BigDecimal MULTIPLY (0.87 →
    // 0.69 s); [[graft.plans.Sum128]] then killed the per-row BigDecimal
    // ADD — the five moments accumulate on a two-long codegen buffer and
    // materialize DECIMAL(38,0) once per group (0.69 → 0.36–0.43 s, at or
    // below the corrDouble twin while staying exact). Equality: Sum128 ≡
    // sum(dec(·)) under its documented bounds (per-row ≤ 2⁶², total
    // < 2.1·10³⁷ — here ~10¹⁴·n, eleven orders of margin at 10¹² rows);
    // oracle re-run green, Sum128Spec pins sign/merge/null edges.
    val s128 = (c: org.apache.spark.sql.Column) => graft.plans.sum128(c)
    val m = t.groupBy("flag").agg(
      count(lit(1)).as("n"), s128(col("x")).as("sx"), s128(col("y")).as("sy"),
      s128(col("x") * col("y")).as("sxy"),
      s128(col("x") * col("x")).as("sxx"),
      s128(col("y") * col("y")).as("syy"))
    m.select(col("flag"), col("n").cast("long").as("n"),
        (dec(col("n")) * col("sxy") - col("sx") * col("sy")).as("cov"),
        (dec(col("n")) * col("sxx") - col("sx") * col("sx")).as("vx"),
        (dec(col("n")) * col("syy") - col("sy") * col("sy")).as("vy"))
      .filter(col("vx") > 0 && col("vy") > 0)
      .select(col("flag"), col("n"),
        expr("(abs(cov) * 1000000 div vx) * (abs(cov) * 1000000 div vy) div 1000000")
          .cast("long").as("r2_ppm"),
        when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L)
          .as("sign"))
  }

  /** Vocabulary coverage curve: the share of all token occurrences (in
    * ppm) covered by the top-10 / top-100 / top-1000 most frequent words
    * — the statistic tokenizer and vocab-size decisions read off first.
    * The rank-cumsum window runs over the VOCABULARY relation (Heap's-law
    * sublinear), never the token stream; the only corpus-sized stage is
    * the shared term store's one shuffle. Rank ties break by word so both
    * engines cut the curve identically. */
  val taVocabCoverage = QueryDef("ta_vocab_coverage",
    s"""WITH w AS (SELECT unnest($wordsSql) AS w FROM documents),
      |c AS (SELECT w, COUNT(*) AS cnt FROM w GROUP BY w),
      |r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rnk FROM c),
      |tot AS (SELECT SUM(cnt) AS n FROM c),
      |cum AS (SELECT rnk, SUM(cnt) OVER (ORDER BY rnk) AS cn FROM r)
      |SELECT k, CAST(cv * CAST(1000000 AS BIGINT) // n AS BIGINT) AS cover_ppm
      |FROM (SELECT k.k AS k, MAX(CASE WHEN rnk <= k.k THEN cn END) AS cv
      |      FROM cum CROSS JOIN (VALUES (10), (100), (1000)) k(k) GROUP BY 1) x
      |CROSS JOIN tot""".stripMargin) { (spark, d) =>
    val tf = graft.Persisted.of(spark, s"$d#term_tf") {
      Tables.documents(spark, d)
        .select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
    }
    val c = tf.groupBy("w").agg(sum("tf").as("cnt"))
    val tot = broadcast(c.agg(sum("cnt").as("n")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("w"))
    // vocabulary-sized single-partition window — bounded by Heap's law,
    // the same contract as every other vocab-rank in the engine
    val cum = c.withColumn("rnk", row_number().over(w))
      .withColumn("cn", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.orderBy("rnk")))
    val ks = spark.range(0, 3).select(
      when(col("id") === 0, 10L).when(col("id") === 1, 100L).otherwise(1000L)
        .as("k"))
    cum.crossJoin(broadcast(ks))
      .filter(col("rnk") <= col("k"))
      .groupBy("k").agg(max("cn").as("cv"))
      .crossJoin(tot)
      .select(col("k"), expr("cv * 1000000L div n").cast("long").as("cover_ppm"))
  }

  val all: Seq[QueryDef] = Seq(qaSchemaProfile, qaTvDrift, aggCorr,
    taVocabCoverage)
}
