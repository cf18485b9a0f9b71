package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exprs._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator queries — SURVEY.md §2.2–§2.8 families phrased
  * over the driver testdata so the DuckDB oracle can check them.
  *
  * Scale notes (100 TB thinking): every aggregation here is a plain
  * `groupBy` (partial/map-side aggregation + single shuffle); windows
  * shuffle once on their partition keys; the only theta join (J3) keeps its
  * small side broadcastable; top-k uses TakeOrderedAndProject (no global
  * sort materialization).
  */
object CoreQueries {

  /** TPC-H Q1 shape — A5/A6/A7 aggregation + F7 range filter.
    *
    * Oracle-parity arithmetic, chosen for scan speed (decimal aggregation
    * buffers cost ~3x a double sum in the hot partial-agg loop):
    *  - sum_qty / avg_qty: quantities are integer-valued, so double sums are
    *    EXACT (no accumulation error) and the division of two exact values
    *    is correctly rounded — bit-identical on both engines.
    *  - money sums use exact fixed-point: per-row terms are the same IEEE
    *    doubles on both engines (identical parenthesization), scaled to the
    *    value's decimal precision and rounded to LONG per row, summed as
    *    longs (order-independent, exact), then divided back once. This is
    *    oracle-exact at ANY scale and partitioning, unlike a double SUM
    *    whose accumulation error is partition-order-dependent. Headroom:
    *    a 1e4-scaled long overflows past ~9e14 in summed value — beyond
    *    that, widen to sum(decimal) of the per-row longs (still cheap:
    *    the per-row round stays in codegen).
    *
    *    The per-row round is spelled `(x*s + 0.5).cast(long)`: for the
    *    POSITIVE money values here this equals round-half-away (including
    *    exact .5 ties) while staying a codegen'd multiply-add — Spark's
    *    Round on a double routes through BigDecimal per row (~1.5x the
    *    whole aggregate's cost, measured in Probe: o1_cents 0.23s vs
    *    o1_cents_fast 0.15s). The oracle's round(x*s) is identical on the
    *    same IEEE product. Do NOT use this form on columns that can go
    *    negative (truncation-toward-zero would floor instead of round). */
  val q1Agg = QueryDef("q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
      |  SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
      |  SUM(l_quantity) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (spark, d) =>
    Tables.lineitem(spark, d)
      .filter(col("l_shipdate") <= lit("2000-09-02 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        (sum((col("l_extendedprice") * 100 + 0.5).cast("long")) / 100.0)
          .as("sum_base_price"),
        (sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 10000 + 0.5)
          .cast("long")) / 10000.0).as("sum_disc_price"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  /** F1 IN-list + F7 range + P1 projection (seed_aic.py:336,359). */
  val f1Isin = QueryDef("f1_isin_project",
    """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
      |FROM customer
      |WHERE c_mktsegment IN ('AUTOMOBILE','BUILDING') AND c_acctbal BETWEEN 0 AND 5000""".stripMargin) { (spark, d) =>
    Tables.customer(spark, d)
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING") &&
        col("c_acctbal").between(0, 5000))
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
  }

  /** F2 substring predicate (seed_aic.py:336 `contains`). */
  val f2Contains = QueryDef("f2_contains_filter",
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE contains(text, 'spark window') AND NOT contains(text, 'slow')""".stripMargin) { (spark, d) =>
    Tables.documents(spark, d)
      .filter(col("text").contains("spark window") && !col("text").contains("slow"))
      .select("doc_id", "lang", "n_chars")
  }

  /** F5 positive + F6 negative regex gates (founded_year.py:87-95 shape). */
  val f5RegexGate = QueryDef("f5_regex_gate",
    """SELECT lang, COUNT(*) AS n_docs
      |FROM documents
      |WHERE regexp_matches(text, '\b(merge|hash)\b') AND NOT regexp_matches(text, '\bvector\b')
      |GROUP BY lang""".stripMargin) { (spark, d) =>
    Tables.documents(spark, d)
      .filter(col("text").rlike("\\b(merge|hash)\\b") && !col("text").rlike("\\bvector\\b"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
  }

  /** X7 JSON field extraction (seed_aic.py:318) + aggregation. Uses the
    * native fixed-shape probe (graft.plans.JsonLongField): props is a
    * machine-written flat payload, and per-row Jackson parser construction
    * (get_json_object/from_json) showed intermittent 30x scan stalls —
    * full-JSON parsing coverage lives in x17_map_lookup and the seed
    * pipeline's spark.read.json. Oracle uses a regex twin. */
  val x7Json = QueryDef("x7_json_extract",
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  MIN(CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER)) AS min_k,
      |  MAX(CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER)) AS max_k,
      |  CAST(SUM(CAST(regexp_extract(props, '(\d+)', 1) AS INTEGER)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type""".stripMargin) { (spark, d) =>
    Tables.events(spark, d)
      .withColumn("k", graft.plans.jsonLong(col("props"), "k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"),
        sum("k").as("sum_k"))
  }

  /** Narrow customer→nation-key slice, built once per (session, sf dir) —
    * the fact-side join's entire build requirement is (c_custkey,
    * c_nationkey): two longs, so the broadcast is as small as it can be
    * and the probe row stays fixed-width. At 100 TB the relation is
    * customer-sized (MEMORY_AND_DISK spills) and deliberately carries NO
    * broadcast hint — AQE broadcasts it while it fits and falls back to a
    * shuffled join when it doesn't. While it IS broadcast, the built
    * broadcast itself is kept alive across actions by
    * [[graft.plans.SessionCachedBroadcastExec]], so re-running a consumer
    * re-uses the hash relation instead of re-scanning the dim. */
  def custNationRelation(spark: org.apache.spark.sql.SparkSession, d: String) =
    graft.Persisted.of(spark, s"$d#cust_nkey") {
      Tables.customer(spark, d).select(col("c_custkey"), col("c_nationkey"))
    }

  /** Nation-key → (n_name, r_name) decoration dim (25 rows at every SF). */
  def nationGeoRelation(spark: org.apache.spark.sql.SparkSession, d: String) =
    graft.Persisted.of(spark, s"$d#nation_geo") {
      Tables.nation(spark, d)
        .join(broadcast(Tables.region(spark, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
    }

  /** J4 enrichment join chain + group (exact fixed-point money sum per the
    * q1_agg parity note).
    *
    * Planned decorate-LATE: aggregate on the numeric nation key, then join
    * the 25-row group result to [[nationGeoRelation]] for the names. The
    * naive shape — fold (n_name, r_name) into the build side and group by
    * the strings — was measured 2x slower at sf1 (round 17, JFR): half the
    * map-stage CPU was `UTF8String.getBytes` inside the generated fast
    * hash map, which COPIES both key strings to hash them on EVERY probe
    * row. Grouping by the long key keeps the agg on the allocation-free
    * numeric fast path and shrinks both the broadcast (two longs vs
    * long+two strings) and the shuffled partial rows. Sound because
    * n_nationkey is the nation dim's primary key: (n_name, r_name) is
    * functionally dependent on it, so group-by-key + decorate ≡ the
    * oracle's group-by-names (a real optimizer derives this from the FD;
    * Spark doesn't, so the plan states it). */
  val j4JoinChain = QueryDef("j4_join_chain",
    """SELECT r_name, n_name, COUNT(*) AS order_cnt,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin) { (spark, d) =>
    Tables.orders(spark, d)
      .join(custNationRelation(spark, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("order_cnt"),
        (sum((col("o_totalprice") * 100 + 0.5).cast("long")) / 100.0).as("revenue"))
      .join(broadcast(nationGeoRelation(spark, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("r_name"), col("n_name"), col("order_cnt"), col("revenue"))
  }

  /** W1 first-seen dedup (seed_aic.py:311,336-338). Planned as
    * groupBy + min_by rather than a ROW_NUMBER window: identical rows out
    * (min key per group plus its payload), but a hash aggregate with
    * map-side combine shuffles one row per (task, group) where the window
    * form shuffles and SORTS every input row — at 100 TB that is a partial
    * agg versus a full-data sort. The window idiom itself stays covered by
    * w2_dedup_max_score. */
  val w1FirstSeen = QueryDef("w1_first_seen_dedup",
    """SELECT c_mktsegment, c_nationkey, c_custkey, c_name FROM (
      |  SELECT c_mktsegment, c_nationkey, c_custkey, c_name,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment, c_nationkey ORDER BY c_custkey) AS rn
      |  FROM customer) t WHERE rn = 1""".stripMargin) { (spark, d) =>
    Tables.customer(spark, d)
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(min_by(struct(col("c_custkey"), col("c_name")), col("c_custkey")).as("b"))
      .select(col("c_mktsegment"), col("c_nationkey"),
        col("b.c_custkey").as("c_custkey"), col("b.c_name").as("c_name"))
  }

  /** W2 keep-highest-score dedup (step3_attempt1.py:497-504). */
  val w2DedupMax = QueryDef("w2_dedup_max_score",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t WHERE rn = 1""".stripMargin) { (spark, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_totalprice")
  }

  /** J1/A8/W3 scoring + per-key argmax (step3_attempt1.py:289-304,401-411).
    * Integer point scale (x10 of the reference weights) keeps the score
    * float-free for the oracle. */
  val j1ScoreArgmax = QueryDef("j1_score_argmax",
    """SELECT o_custkey, o_orderkey, match_score FROM (
      |  SELECT o_custkey, o_orderkey,
      |    (CASE WHEN o_orderstatus = 'F' THEN 10 ELSE 0 END
      |     + CASE WHEN o_orderpriority LIKE '1-%' THEN 9 ELSE 0 END
      |     + CASE WHEN o_totalprice > 100000 THEN 7 ELSE 0 END
      |     + CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01 00:00:00' THEN 3 ELSE 0 END) AS match_score,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY
      |      (CASE WHEN o_orderstatus = 'F' THEN 10 ELSE 0 END
      |       + CASE WHEN o_orderpriority LIKE '1-%' THEN 9 ELSE 0 END
      |       + CASE WHEN o_totalprice > 100000 THEN 7 ELSE 0 END
      |       + CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01 00:00:00' THEN 3 ELSE 0 END) DESC, o_orderkey) AS rn
      |  FROM orders) t WHERE rn = 1""".stripMargin) { (spark, d) =>
    val score =
      when(col("o_orderstatus") === "F", 10).otherwise(0) +
        when(col("o_orderpriority").startsWith("1-"), 9).otherwise(0) +
        when(col("o_totalprice") > 100000, 7).otherwise(0) +
        when(col("o_orderdate") >= lit("2000-01-01 00:00:00").cast("timestamp"), 3).otherwise(0)
    // argmax as max over ONE PACKED LONG — score·2⁵⁸ + (2⁵⁸−1 − orderkey):
    // identical tie semantics to the oracle's ROW_NUMBER (max score first
    // in the high bits, then min orderkey via the complemented low bits).
    // The previous max_by(struct, struct) form had a STRUCT agg buffer,
    // which disqualifies HashAggregateExec (mutable primitive buffers
    // only) AND ObjectHashAggregateExec (TypedImperative only) — the plan
    // silently ran as SortAggregate, each task SORTING its input by
    // custkey before combining (round 17, the plan-dump audit; probe
    // j1_packed vs declared at sf1: 0.202 → 0.180 s min-of-8 ×2). The
    // packed max is a primitive-buffer hash aggregate: the shuffle still
    // carries one row per (task, custkey), and the per-task sort is gone
    // — at 100 TB that is hash-agg O(n) vs sort-agg O(n log n) map work.
    // Bounds (both oracle-witnessed and domain-stated): 0 ≤ score ≤ 29
    // < 2⁵ so score·2⁵⁸ ≤ 8.4e18 < 2⁶³, and 0 ≤ o_orderkey ≪ 2⁵⁸ at any
    // scale factor (TPC-H orderkeys are ~6e6·sf). Decode is exact
    // positive-long div/mod.
    val KMAX = (1L << 58) - 1
    Tables.orders(spark, d)
      .withColumn("match_score", score)
      .groupBy("o_custkey")
      .agg(max(col("match_score").cast("long") * (KMAX + 1)
        + (lit(KMAX) - col("o_orderkey"))).as("p"))
      // decode with INTEGER div/mod (Column./ is double division — a 53-bit
      // mantissa cannot represent p ~ 8e18 exactly)
      .select(col("o_custkey"),
        (lit(KMAX) - (col("p") % (KMAX + 1))).as("o_orderkey"),
        expr(s"p div ${KMAX + 1}").cast("int").as("match_score"))
  }

  /** J3/X13 name-substring theta join (step3_attempt1.py:277-287): normalized
    * equality OR >=3-char containment either way. Small side broadcasts. */
  val j3NameMatch = QueryDef("j3_name_substring_join",
    """WITH s AS (SELECT s_suppkey, regexp_replace(s_name, '^Supplier#0*', '') AS sn FROM supplier),
      |     c AS (SELECT c_custkey, regexp_replace(c_name, '^Customer#0*', '') AS cn FROM customer)
      |SELECT s_suppkey, c_custkey FROM s JOIN c
      |  ON sn = cn
      |  OR (contains(cn, sn) AND length(sn) >= 3)
      |  OR (contains(sn, cn) AND length(cn) >= 3)""".stripMargin) { (spark, d) =>
    val s = Tables.supplier(spark, d)
      .select(col("s_suppkey"), regexp_replace(col("s_name"), "^Supplier#0*", "").as("sn"))
    val c = Tables.customer(spark, d)
      .select(col("c_custkey"), regexp_replace(col("c_name"), "^Customer#0*", "").as("cn"))
    val cond = (col("sn") === col("cn")) ||
      (col("cn").contains(col("sn")) && length(col("sn")) >= 3) ||
      (col("sn").contains(col("cn")) && length(col("cn")) >= 3)
    broadcast(s).join(c, cond).select("s_suppkey", "c_custkey")
  }

  /** J3 at scale: the same containment-join semantics as
    * j3_name_substring_join, but as trigram-bucketed candidate generation +
    * exact verify instead of an O(|S|*|C|) broadcast nested-loop. If a
    * (len >= 3) string is contained in another, EVERY one of its trigrams
    * occurs among the other's trigrams — so joining the contained side on
    * ANY single one of its grams against the container side's exploded
    * distinct grams is complete, the containment predicate verifies
    * candidates exactly, and a distinct over (s, c) collapses pairs that
    * matched through several grams/branches. Equality (any length) is its
    * own equi-join branch.
    *
    * Gram CHOICE is the candidate-count lever: the contained side picks its
    * RAREST gram, by carrier count on the container side (the prefix-
    * filtering / df-ordering trick from the set-similarity-join
    * literature). A fixed leading-gram choice rides the hottest buckets on
    * low-entropy keys (these numeric names have a 10-char alphabet), where
    * the rarest gram bounds each contained row's candidates by the
    * MINIMUM bucket it participates in; a gram carried by NO container row
    * proves non-containment and drops the row before any join. The freq
    * relations are gram-count aggregates (bounded by the distinct-gram
    * universe, tiny next to the data), and the argmin is a min_by partial
    * aggregate keyed (freq, gram) for determinism. Trigram explode is
    * explode(sequence)+substr — plain codegen'd rows, no array lambdas
    * (CodegenFallback) on the hot path. At 100x the work scales with total
    * trigrams (~ total chars), shuffles hash-partition by gram, and AQE
    * splits residual hot-gram skew — no broadcast ceiling, no quadratic
    * comparison count (SURVEY.md §4's candidate-generation extension). */
  val j3Bucketed = QueryDef("j3_bucketed",
    """WITH s AS (SELECT s_suppkey, regexp_replace(s_name, '^Supplier#0*', '') AS sn FROM supplier),
      |     c AS (SELECT c_custkey, regexp_replace(c_name, '^Customer#0*', '') AS cn FROM customer)
      |SELECT s_suppkey, c_custkey FROM s JOIN c
      |  ON sn = cn
      |  OR (contains(cn, sn) AND length(sn) >= 3)
      |  OR (contains(sn, cn) AND length(cn) >= 3)""".stripMargin) { (spark, d) =>
    val (buckets, rarest) = j3Stores(spark, d)
    // ONE side-crossed join serves both containment directions AND short-
    // name equality: probe side = each row's single rarest gram, build side
    // = every bucket entry of the OTHER side; containment verifies exactly.
    // Both stores are cached pre-partitioned on g, so the join needs no
    // exchange at query time — only the closing distinct shuffles, and it
    // carries bare key pairs.
    val i = rarest.select(
      col("side").as("i_side"), col("key").as("i_key"),
      col("name").as("i_name"), col("g"))
    val o = buckets.select(
      col("side").as("o_side"), col("key").as("o_key"),
      col("name").as("o_name"), col("g").as("o_g"))
    i.join(o, col("g") === col("o_g") && col("i_side") =!= col("o_side"))
      .filter(col("o_name").contains(col("i_name")))
      .select(
        when(col("i_side") === "s", col("i_key")).otherwise(col("o_key")).as("s_suppkey"),
        when(col("i_side") === "s", col("o_key")).otherwise(col("i_key")).as("c_custkey"))
      .distinct()
  }

  /** The j3 gram-index stores `(buckets, rarest)` behind [[j3Bucketed]];
    * package-visible so a spec can inspect the stores. */
  private[graft] def j3Stores(spark: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val s = Tables.supplier(spark, d)
      .select(col("s_suppkey"), regexp_replace(col("s_name"), "^Supplier#0*", "").as("sn"))
    val c = Tables.customer(spark, d)
      .select(col("c_custkey"), regexp_replace(col("c_name"), "^Customer#0*", "").as("cn"))
    val maxGram = 5
    // The session's NAME-GRAM INDEX: one side-tagged store holding (a)
    // every (row, distinct trigram) bucket entry and (b) each row's single
    // RAREST gram by global carrier count (any gram of a contained string
    // is complete, so the globally-rarest one is a valid branch-independent
    // choice — it can be picked once at build time). Both relations are
    // sized stores on g at ONE width, so the two per-action candidate
    // joins line up IMR-to-IMR on the SAME hash partitioning: zero
    // exchanges at query time, exactly the bucketed-store shape the dedup
    // band relations use (Dedup.minhashSigRelation). Build cost is
    // amortized session state, like j4's cust_geo dim; rows whose rarest
    // gram has no carrier at all on the other side are dropped at build
    // (freq 0 proves non-containment).
    // A plain plan, deliberately NOT Persisted: the sized stores
    // below are the only relations read at query time, and separately
    // persisting the base would pin a duplicate copy of the gram index
    // for the whole session (code-review r8). The source pipeline runs
    // twice per (session, dir) — the row estimate + buckets-store build —
    // and the rarest store then DERIVES from the cached buckets store,
    // never rescanning the source tables.
    def gramBase(): org.apache.spark.sql.DataFrame = {
        val u = s.select(lit("s").as("side"), col("s_suppkey").as("key"), col("sn").as("name"))
          .unionAll(c.select(lit("c").as("side"), col("c_custkey").as("key"), col("cn").as("name")))
        // MIXED-LENGTH grams (the "longer gram" saturation lever, the j3
        // analogue of the simhash wide tier): containers index their
        // 3-, 4- AND 5-grams; a contained row probes with one rarest gram
        // of ITS OWN longest class — 5 if len >= 5, else 4, else 3.
        // Completeness is per class (every L-gram of a contained string of
        // length >= L occurs in its container's L-gram entries), and the
        // classes can never collide (different gram lengths). On the
        // digit-alphabet names each extra gram char makes the universe 10x
        // sparser, which is what bounds candidate growth at sf1+ (measured
        // 8M verify pairs with trigram-only probes; the 4-gram class cut
        // that ~10x, and the 5-gram class is the next decade).
        def gramsOfLen(l: Int) = u.filter(length(col("name")) >= l)
          .select(col("side"), col("key"), col("name"),
            explode(sequence(lit(0), length(col("name")) - l)).as("i"))
          .select(col("side"), col("key"), col("name"),
            col("name").substr(col("i") + 1, lit(l)).as("g"))
        val grams = (4 to maxGram)
          .foldLeft(gramsOfLen(3))((acc, l) => acc.unionAll(gramsOfLen(l)))
          .distinct() // per-row distinct grams: freqs are carrier counts
        // len<3 names can only ever match by EQUALITY (the containment
        // branches require length >= 3), and equality of len>=3 names is
        // already subsumed by containment (identical strings share every
        // gram) — so short names ride the same bucket join as whole-name
        // entries: g = the name itself, which being under 3 chars can never
        // collide with a 3- or 4-gram. No separate equality branch remains.
        val short = u.filter(length(col("name")) < 3)
          .select(col("side"), col("key"), col("name"), col("name").as("g"))
        grams.unionAll(short)
      }
    // Store width from the BUCKETS relation's row count; the rarest store
    // takes the width buckets got, so the IMR-to-IMR join sees equal
    // partition counts and skips its exchanges.
    val buckets = graft.Persisted.sized(spark, s"$d#j3_gram_buckets", "g")(
      gramBase().count())(gramBase())
    // The rarest relation DERIVES from the cached buckets store —
    // buckets = grams ∪ short-name entries, and the short entries are
    // exactly the length<3 keys, so filtering on gram length reproduces
    // the gram relation without touching the source tables again.
    val rarest = graft.Persisted.atWidth(spark, s"$d#j3_gram_rarest", "g")(
        graft.Persisted.widthOf(buckets)) {
      val grams = buckets.filter(length(col("g")) >= 3)
      val short = buckets.filter(length(col("g")) < 3)
      val freq = broadcast(grams.groupBy("g").agg(
        sum(when(col("side") === "s", 1L).otherwise(0L)).as("fS"),
        sum(when(col("side") === "c", 1L).otherwise(0L)).as("fC")))
      val otherF = when(col("side") === "s", col("fC")).otherwise(col("fS"))
      grams.join(freq, "g")
        // probe with the longest gram class the row supports
        .filter(length(col("g")) ===
          (4 to maxGram).foldLeft(lit(3)) { (acc, l) =>
            when(length(col("name")) >= l, l).otherwise(acc)
          })
        .groupBy("side", "key", "name")
        .agg(min_by(col("g"), struct(otherF.as("f"), col("g"))).as("g"),
          min(otherF).as("fmin"))
        .filter(col("fmin") > 0).drop("fmin")
        .unionAll(short)
    }
    (buckets, rarest)
  }

  /** Semi join — customers having at least one open order. */
  val jSemi = QueryDef("j_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""".stripMargin) { (spark, d) =>
    Tables.customer(spark, d)
      .join(Tables.orders(spark, d).filter(col("o_orderstatus") === "O"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  /** Anti join — customers with no FINISHED order. The status filter
    * keeps the row set non-empty at every SF (every customer in the
    * testdata has SOME order, so an unfiltered anti-join is vacuously
    * empty and its oracle hash proves nothing — VERDICT r8 #5). */
  val jAnti = QueryDef("j_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin) { (spark, d) =>
    Tables.customer(spark, d)
      .join(Tables.orders(spark, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** O1/O3 top-k: group-sum, total order (revenue desc, key asc), limit.
    * Plans as TakeOrderedAndProject — no full sort at scale. Exact
    * fixed-point cents sum (see q1_agg note): order-independent, so the
    * top-k cut line is deterministic at any partitioning, and ~3x cheaper
    * than a decimal aggregation buffer per group. */
  val o1TopK = QueryDef("o1_topk",
    """SELECT l_partkey, SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS revenue
      |FROM lineitem GROUP BY l_partkey
      |ORDER BY revenue DESC, l_partkey LIMIT 10""".stripMargin) { (spark, d) =>
    Tables.lineitem(spark, d)
      .groupBy("l_partkey")
      .agg((sum((col("l_extendedprice") * 100 + 0.5).cast("long")) / 100.0).as("revenue"))
      .orderBy(col("revenue").desc, col("l_partkey")).limit(10)
  }

  /** E-family relational INTERSECT (distinct semantics both engines). */
  val e1Intersect = QueryDef("e1_intersect",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin) { (spark, d) =>
    val o = Tables.orders(spark, d)
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
  }

  /** E-family relational EXCEPT. */
  val e2Except = QueryDef("e2_except",
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin) { (spark, d) =>
    val o = Tables.orders(spark, d)
    o.filter(col("o_orderstatus") === "F").select("o_custkey")
      .except(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
  }

  /** A4 nested assembly, oracle-safe string form: per-group ordered id list
    * (main_portCo.py:113-122; ordering pinned per SURVEY.md §7.3).
    * Boundedness: like the reference's per-firm portco lists, the collected
    * group is assumed small (here: short docs per language); A4 semantics
    * are inherently "one output row per group carrying the whole group", so
    * an unbounded group means an unbounded ROW, not a usable query — cap or
    * pre-aggregate upstream when group sizes are open-ended. */
  val a4Collect = QueryDef("a4_collect_sorted",
    """SELECT lang, COUNT(*) AS n_docs,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS ids
      |FROM (SELECT lang, doc_id FROM documents WHERE n_chars < 200) t
      |GROUP BY lang""".stripMargin) { (spark, d) =>
    Tables.documents(spark, d)
      .filter(col("n_chars") < 200)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("ids"))
  }

  /** X2/X5/X6/F12 composed: URL construction, bad-extension filter, domain
    * extraction (step1_attempt1.py:42-53, helper_functions.py:91,
    * step3_attempt1.py:43-57). */
  val x6Url = QueryDef("x6_url_domain",
    """SELECT s_suppkey, candidate,
      |  regexp_replace(lower(regexp_extract(candidate, 'https?://([^/?#]+)', 1)), '^www\.', '') AS domain
      |FROM (
      |  SELECT s_suppkey,
      |    concat('https://www.', lower(regexp_replace(s_name, '#', '')), '.example.com/portfolio/item-',
      |           CAST(s_suppkey AS VARCHAR),
      |           CASE WHEN s_suppkey % 3 = 0 THEN '.pdf' ELSE '' END) AS candidate
      |  FROM supplier) t
      |WHERE NOT regexp_matches(candidate, '(?i)\.(pdf|docx?|pptx?|xlsx?)$')""".stripMargin) { (spark, d) =>
    val candidate = concat(
      lit("https://www."), lower(regexp_replace(col("s_name"), "#", "")),
      lit(".example.com/portfolio/item-"), col("s_suppkey").cast("string"),
      when(col("s_suppkey") % 3 === 0, ".pdf").otherwise(""))
    Tables.supplier(spark, d)
      .withColumn("candidate", candidate)
      .filter(!badContentUrl(col("candidate")))
      .select(col("s_suppkey"), col("candidate"), urlDomain(col("candidate")).as("domain"))
  }

  val all: Seq[QueryDef] = Seq(
    q1Agg, f1Isin, f2Contains, f5RegexGate, x7Json, j4JoinChain,
    w1FirstSeen, w2DedupMax, j1ScoreArgmax, j3NameMatch, j3Bucketed, jSemi, jAnti,
    o1TopK, e1Intersect, e2Except, a4Collect, x6Url)
}
