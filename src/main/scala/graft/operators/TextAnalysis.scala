package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Exprs._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (builder brief):
  * language-ID (marker n-gram heuristic), quality scoring, token counting,
  * positional document fingerprinting. All pure column expressions — one
  * scan + at most one shuffle each.
  */
object TextAnalysis {

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Shared quality-metric definitions — [[taQuality]] (the score) and
    * [[keepFilter]] (the gate) read THESE, on both the Spark and the
    * DuckDB side, so a retuned stopword list or metric formula can never
    * make the two silently disagree (the scattered-constants hazard
    * Rubric.scala closes for the portco weights). */
  private object Metrics {
    import org.apache.spark.sql.Column
    def norm: Column = normText(col("text"))
    def words: Column = split(norm, " ")
    def nTok: Column = size(words)
    def stopCnt: Column = size(filter(words, x => x.isin(Stopwords: _*)))
    def stopRatio: Column = stopCnt.cast("double") / nTok
    def awl: Column = (length(norm) - (nTok - 1)).cast("double") / nTok

    val stopOrSql: String = Stopwords.map(s => s"x = '$s'").mkString(" OR ")
    /** CTE body: (doc_id, norm, words) from documents. */
    val normCteSql: String =
      """SELECT doc_id, md5(text) AS h,
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm,
        |    string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS words
        |  FROM documents""".stripMargin
    val stopCntSql: String = s"len(list_filter(words, x -> $stopOrSql))"
    val stopRatioSql: String = s"CAST($stopCntSql AS DOUBLE) / len(words)"
    val awlSql: String = "CAST(length(norm) - (len(words) - 1) AS DOUBLE) / len(words)"
  }

  /** (cand_lang, marker) heuristic profile — broadcast lookup table, the
    * Spark analogue of the reference's planned YAML rubric config tables
    * (SURVEY.md §1.1). */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "is",
    "es" -> "el", "es" -> "la", "es" -> "los",
    "de" -> "der", "de" -> "die", "de" -> "und",
    "fr" -> "le", "fr" -> "les", "fr" -> "est",
    "zh" -> "shi", "zh" -> "de", "zh" -> "ma")

  /** Language-ID: count marker-word hits per candidate language, argmax.
    * Honest n-gram-profile scaffold; on the synthetic corpus (shared
    * vocabulary across langs) most docs score 0 everywhere and fall to the
    * deterministic tie-break. */
  val taLangId: QueryDef = {
    val valuesSql = LangMarkers.map { case (l, m) => s"('$l','$m')" }.mkString(", ")
    QueryDef("ta_langid",
      s"""WITH prof AS (SELECT * FROM (VALUES $valuesSql) p(cand_lang, marker)),
        |hits AS (
        |  SELECT d.doc_id, d.lang, p.cand_lang,
        |    SUM(CASE WHEN contains(' ' || trim(regexp_replace(d.text, '\\s+', ' ', 'g')) || ' ', ' ' || p.marker || ' ') THEN 1 ELSE 0 END) AS n_hits
        |  FROM documents d CROSS JOIN prof p
        |  GROUP BY d.doc_id, d.lang, p.cand_lang)
        |SELECT doc_id, cand_lang AS pred_lang, CAST(n_hits AS BIGINT) AS n_hits,
        |  (cand_lang = lang) AS is_match
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, cand_lang) AS rn FROM hits) t
        |WHERE rn = 1""".stripMargin) { (spark, d) =>
      // The marker profile is tiny and literal, so compile it INTO the scan:
      // per-language hit counts as summed contains() columns and the argmax
      // as array_max over (n_hits, -langRank) structs. Zero joins, zero
      // shuffles, zero windows — one narrow projection. (The broadcast-join
      // form this replaces shipped every padded document 15x through a
      // shuffle; at 100 TB a few hundred markers still fit in scan-stage
      // literals.) Tie semantics match the oracle's ROW_NUMBER: max n_hits,
      // then lexicographically-least cand_lang = greatest negated rank.
      val langs = LangMarkers.map(_._1).distinct.sorted
      val perLang = langs.zipWithIndex.map { case (l, rank) =>
        val nHits = LangMarkers.filter(_._1 == l).map { case (_, m) =>
          when(col("padded").contains(s" $m "), 1).otherwise(0)
        }.reduce(_ + _)
        struct(nHits.as("n_hits"), lit(-rank).as("neg_rank"), lit(l).as("cand_lang"))
      }
      Tables.documents(spark, d)
        .select(col("doc_id"), col("lang"),
          concat(lit(" "), normText(col("text")), lit(" ")).as("padded"))
        .select(col("doc_id"), col("lang"), array_max(array(perLang: _*)).as("best"))
        .select(col("doc_id"), col("best.cand_lang").as("pred_lang"),
          col("best.n_hits").cast("long").as("n_hits"),
          (col("best.cand_lang") === col("lang")).as("is_match"))
    }
  }

  /** Quality scoring: token count, stopword ratio, mean word length,
    * composite score — fixed left-to-right double arithmetic for parity.
    * Metric definitions come from [[Metrics]], shared with the
    * [[keepFilter]] gate on both engines. */
  val taQuality: QueryDef = {
    QueryDef("ta_quality",
      s"""WITH t AS (
        |  ${Metrics.normCteSql})
        |SELECT doc_id,
        |  CAST(len(words) AS BIGINT) AS n_tokens,
        |  CAST(${Metrics.stopCntSql} AS BIGINT) AS stop_cnt,
        |  ${Metrics.stopRatioSql} AS stop_ratio,
        |  ${Metrics.awlSql} AS avg_word_len,
        |  (CASE WHEN len(words) BETWEEN 20 AND 300 THEN 0.5 ELSE 0.0 END
        |   + (1.0 - ${Metrics.stopRatioSql}) * 0.3
        |   + CASE WHEN ${Metrics.awlSql} BETWEEN 3.0 AND 8.0 THEN 0.2 ELSE 0.0 END) AS quality
        |FROM t""".stripMargin) { (spark, d) =>
      import Metrics._
      val quality =
        when(nTok.between(20, 300), 0.5).otherwise(0.0) +
          (lit(1.0) - stopRatio) * 0.3 +
          when(awl.between(3.0, 8.0), 0.2).otherwise(0.0)
      Tables.documents(spark, d).select(
        col("doc_id"), nTok.cast("long").as("n_tokens"),
        stopCnt.cast("long").as("stop_cnt"), stopRatio.as("stop_ratio"),
        awl.as("avg_word_len"), quality.as("quality"))
    }
  }

  /** Token counting: whitespace tokens + BPE-ish regex tokens
    * (letters | digits | single punctuation). */
  val taTokens: QueryDef = {
    val pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    QueryDef("ta_token_count",
      s"""SELECT doc_id,
        |  CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS bpe_tokens
        |FROM documents""".stripMargin) { (spark, d) =>
      Tables.documents(spark, d).select(
        col("doc_id"),
        size(split(normText(col("text")), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("bpe_tokens"))
    }
  }

  /** Positional fingerprint: sum(pos * (256*len(word) + ascii(word[0])))
    * mod 1e9+7 — an order-sensitive rolling-hash analogue that stays
    * relational (no fold) so the oracle can replay it. */
  val taFingerprint = QueryDef("ta_fingerprint",
    """WITH w AS (
      |  SELECT doc_id,
      |    unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w,
      |    generate_subscripts(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '), 1) AS pos
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(SUM(CAST(pos AS BIGINT) * (256 * length(w) + ascii(substring(w, 1, 1)))) % 1000000007 AS BIGINT) AS fingerprint
      |FROM w GROUP BY doc_id""".stripMargin) { (spark, d) =>
    Tables.documents(spark, d)
      .select(col("doc_id"), posexplode(split(normText(col("text")), " ")).as(Seq("pos", "w")))
      .groupBy("doc_id")
      .agg((sum((col("pos") + 1).cast("long") *
        (lit(256) * length(col("w")) + ascii(substring(col("w"), 1, 1)))) % 1000000007L)
        .as("fingerprint"))
  }

  /** TF-IDF-style top-5 terms per document. Weight = (tf/doc_len)*(N/df)
    * as ONE double division over exact integer products — no ln(), so both
    * engines compute bit-identical weights (round(6) guards the division).
    * Plan shape: one explode -> one (doc,word) aggregate; doc lengths and
    * document frequencies both DERIVE from that aggregate (sum / count per
    * side) instead of re-exploding — one wide shuffle, two narrow ones. */
  val taTermWeight = QueryDef("ta_term_weight",
    """WITH w AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
      |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
      |df AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY w),
      |n AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT doc_id, term, tf, weight FROM (
      |  SELECT tf.doc_id, tf.w AS term, CAST(tf.tf AS BIGINT) AS tf,
      |    round(CAST(tf.tf * n.n AS DOUBLE) / (dl.dl * df.df), 6) AS weight,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY
      |      round(CAST(tf.tf * n.n AS DOUBLE) / (dl.dl * df.df), 6) DESC, tf.w) AS rn
      |  FROM tf JOIN dl ON dl.doc_id = tf.doc_id JOIN df ON df.w = tf.w CROSS JOIN n) t
      |WHERE rn <= 5""".stripMargin) { (spark, d) =>
    val docs = Tables.documents(spark, d)
    // The (doc, term, tf, dl) relation feeds TWO consumers (weights and
    // document frequencies) — persisted once per session, it is the
    // inverted-index/term-store a 100 TB pipeline materializes anyway
    // (cf. Dedup.minhashSigRelation). Per-document tokenize + count + doc
    // length all happen INSIDE the scan row (graft.plans.wordCounts, a
    // codegen'd one-byte-walk expression): only distinct (word, tf) pairs
    // ever leave the row, so the former explode -> groupBy(doc_id, word)
    // wide shuffle — which carried every token occurrence of the corpus —
    // is gone entirely (round-8 fix for the suite's slowest query).
    val tf = graft.Persisted.of(spark, s"$d#term_tf") {
      docs.select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
    }
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = broadcast(docs.agg(count(lit(1)).as("n")))
    // df is vocabulary-sized (Heap's law: sublinear in corpus size) and
    // arrives through its own shuffle, so AQE sees its true byte size and
    // broadcast-joins it; tf then never reshuffles on w. The rank orders by
    // the SAME round(...,6) value as the oracle, so rounding-induced ties
    // still break identically on term.
    val weighted = tf
      .join(df, "w").crossJoin(n)
      .select(col("doc_id"), col("w").as("term"), col("tf").cast("long").as("tf"),
        round((col("tf") * col("n")).cast("double") / (col("dl") * col("df")), 6).as("weight"))
    val win = Window.partitionBy("doc_id").orderBy(col("weight").desc, col("term"))
    weighted.withColumn("rn", row_number().over(win)).filter(col("rn") <= 5)
      .select("doc_id", "term", "tf", "weight")
  }

  /** Repetition signals (the Gopher/MassiveText curation family's other
    * axis): duplicate-word fraction (1 - distinct/total) and top-word
    * share (max tf / total), plus the composite `repetitive` gate over
    * the round(6) values (both engines round identically; the raw-double
    * threshold compare would be the only parity hazard here). Rides the
    * SAME session-persisted (doc, w, tf, dl) term store as ta_term_weight
    * — the scan-stage `graft_word_counts` pass means the shuffle carries
    * distinct (word, tf) pairs, never token occurrences, and a corpus
    * already running TF-IDF pays nothing extra for repetition scoring.
    * All metrics are per-doc aggregates of the counts relation:
    * order-independent, exactly replayable as grouped SQL. */
  val taRepetition = QueryDef("ta_repetition",
    """WITH w AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w)
      |SELECT doc_id,
      |  CAST(SUM(tf) AS BIGINT) AS n_words,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |  round(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(tf), 6) AS dup_word_frac,
      |  round(CAST(MAX(tf) AS DOUBLE) / SUM(tf), 6) AS top_word_frac,
      |  (round(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(tf), 6) > 0.3
      |   OR round(CAST(MAX(tf) AS DOUBLE) / SUM(tf), 6) > 0.1) AS repetitive
      |FROM tf GROUP BY doc_id""".stripMargin) { (spark, d) =>
    val docs = Tables.documents(spark, d)
    val tf = graft.Persisted.of(spark, s"$d#term_tf") {
      docs.select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
    }
    val dupF = round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 6)
    val topF = round(col("top_cnt").cast("double") / col("n_words"), 6)
    tf.groupBy("doc_id")
      .agg(sum("tf").as("n_words"), count(lit(1)).as("n_distinct"),
        max("tf").as("top_cnt"))
      .select(col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        col("n_distinct").cast("long").as("n_distinct"),
        dupF.as("dup_word_frac"), topF.as("top_word_frac"),
        (dupF > 0.3 || topF > 0.1).as("repetitive"))
  }

  /** Deterministic sampling + split assignment — the reproducible (seeded
    * RNG-free) shape a training pipeline needs: membership is a pure
    * function of the key, so it is stable across runs, engines, executors,
    * and retries. Hash buckets come from the same char-polynomial the
    * dedup sketches use; per-language stratified keep-rates and a
    * train/val/test split in one pass. */
  val taSample: QueryDef = {
    val hashSql = Dedup.shingleIdCharSql // over a column named `shingle`
    // independent hash streams: 's'-salted bucket decides KEEP (stratified
    // per-language rate), 'p'-salted bucket decides SPLIT — so low-rate
    // strata still spread across train/val/test
    QueryDef("ta_sample_split",
      s"""WITH h AS (
        |  SELECT doc_id, lang,
        |    (SELECT ($hashSql) % 100 FROM (SELECT concat('s', CAST(t.doc_id AS VARCHAR)) AS shingle) s) AS keep_b,
        |    (SELECT ($hashSql) % 100 FROM (SELECT concat('p', CAST(t.doc_id AS VARCHAR)) AS shingle) s) AS split_b
        |  FROM documents t),
        |kept AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN split_b < 80 THEN 'train' WHEN split_b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM h
        |  WHERE keep_b < CASE lang WHEN 'en' THEN 100 WHEN 'es' THEN 50 ELSE 25 END)
        |SELECT lang, split, COUNT(*) AS n_docs, CAST(MIN(doc_id) AS BIGINT) AS min_doc
        |FROM kept GROUP BY lang, split""".stripMargin) { (spark, d) =>
      def bucket(salt: String) =
        pmod(Dedup.shingleIdChar(concat(lit(salt), col("doc_id").cast("string"))), lit(100))
      Tables.documents(spark, d)
        .select(col("doc_id"), col("lang"),
          bucket("s").as("keep_b"), bucket("p").as("split_b"))
        .filter(col("keep_b") <
          when(col("lang") === "en", 100).when(col("lang") === "es", 50).otherwise(25))
        .withColumn("split",
          when(col("split_b") < 80, "train").when(col("split_b") < 90, "val").otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
    }
  }

  /** Deterministic shard packing — the training-data step after curation:
    * assign each document to a fixed-token-budget shard by greedy
    * sequential fill in doc_id order (shard = the budget window its
    * running-prefix START falls in). The semantics is a GLOBAL ordered
    * prefix sum, but the plan must never be the naive
    * `Window.orderBy(doc_id)` — an un-partitioned window is an
    * Exchange SinglePartition that funnels 100 TB through one task. This
    * is the classic two-level parallel prefix sum instead:
    *
    *   1. bucket = doc_id div 1000 — doc_id-contiguous ranges, so bucket
    *      order IS global order;
    *   2. local prefix within each bucket (window PARTITIONED by bucket —
    *      parallel, shuffle keyed on bucket);
    *   3. bucket START offsets = prefix over per-bucket totals — a
    *      relation `corpus/1000` the size of the bucket count, where the
    *      single-partition window is as legitimate as any dim build (at
    *      petabyte scale recurse the same construction once more);
    *   4. global_prefix = bucket_offset + local_prefix, broadcast-joined
    *      back on bucket.
    *
    * The oracle states the straight global-window form — the two-level
    * decomposition is exactly equal, per-row, by construction. */
  /** The two-level global prefix: (doc_id, n_tok, st) where st is each
    * document's 0-based token START in global doc_id order — shared by
    * [[taShardPack]] (shard = budget window st falls in) and [[taSeqPack]]
    * (sequence interval [st, st+n_tok) cut at fixed boundaries). */
  private def tokenStarts(spark: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"),
        size(split(normText(col("text")), " ")).cast("long").as("n_tok"),
        expr("doc_id div 1000").as("bucket"))
    val localW = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = toks.withColumn("local_cum", sum("n_tok").over(localW))
    // bucket totals DERIVE from the windowed relation (max of a
    // monotone prefix = the bucket total): the agg's required
    // distribution is the window's own hashpartitioning(bucket), so the
    // offsets branch reuses the SAME scan+tokenize+exchange instead of
    // re-reading the corpus (code-review r10 — the groupBy-on-toks form
    // scanned and tokenized every document twice per action)
    val offsets = local.groupBy("bucket").agg(max("local_cum").as("btot"))
      .withColumn("boff",
        coalesce(sum("btot").over(
          Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "boff")
    local.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), col("n_tok"),
        expr("boff + local_cum - n_tok").as("st"))
  }

  val taShardPack: QueryDef = {
    val Budget = 4096L
    QueryDef("ta_shard_pack",
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, n_tok, CAST((cum - n_tok) // $Budget AS BIGINT) AS shard_id
        |FROM s""".stripMargin) { (spark, d) =>
      tokenStarts(spark, d)
        .select(col("doc_id"), col("n_tok"),
          expr(s"st div $Budget").as("shard_id"))
    }
  }

  /** The curation DECISION — what a corpus filter actually emits: per doc,
    * keep/drop plus the FIRST failing rule as the reason (the
    * Gopher/C4-style rule-cascade shape). Rules in fixed order: token-count
    * band, stopword-ratio ceiling, mean-word-length band, exact-duplicate
    * keeper (group minimum by content digest). Composes the ta_quality
    * metrics with the dd_exact keeper choice in ONE query.
    *
    * Scale shape: all metrics are scan-stage expressions; the only shuffle
    * is the digest partition for the keeper window, and it carries the
    * 16-byte digest plus three numbers per row — never the text. Reasons
    * are a deterministic CASE cascade, so the output is hash-stable on any
    * engine (float comparisons see bit-identical doubles: same integer
    * inputs, same single division). */
  val taKeepFilter: QueryDef = {
    QueryDef("ta_keep_filter",
      s"""WITH t AS (
        |  ${Metrics.normCteSql}),
        |m AS (
        |  SELECT doc_id, h, CAST(len(words) AS BIGINT) AS n_tokens,
        |    ${Metrics.stopRatioSql} AS stop_ratio,
        |    ${Metrics.awlSql} AS awl
        |  FROM t),
        |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY h) AS keeper FROM m),
        |r AS (
        |  SELECT doc_id,
        |    CASE WHEN n_tokens IS NULL THEN 'too_short'
        |         WHEN n_tokens < 20 THEN 'too_short'
        |         WHEN n_tokens > 300 THEN 'too_long'
        |         WHEN stop_ratio > 0.6 THEN 'stopword_ratio'
        |         WHEN NOT (awl BETWEEN 2.0 AND 10.0) THEN 'word_length'
        |         WHEN doc_id <> keeper THEN 'duplicate'
        |         ELSE 'keep' END AS reason
        |  FROM k)
        |SELECT doc_id, (reason = 'keep') AS keep, reason FROM r""".stripMargin) { (spark, d) =>
      keepFilter(Tables.documents(spark, d))
    }
  }

  /** The keep-gate over any `(doc_id, text)` relation (see [[taKeepFilter]]
    * for the rule cascade and oracle). */
  def keepFilter(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import Metrics._
    // metrics in the scan stage; the keeper shuffle carries only
    // (doc_id, digest, 3 numbers)
    val metrics = docs.select(
      col("doc_id"), md5(col("text")).as("h"),
      nTok.cast("long").as("n_tokens"),
      stopRatio.as("stop_ratio"),
      awl.as("awl"))
    val withKeeper = metrics.withColumn("keeper",
      min("doc_id").over(Window.partitionBy("h")))
    val reason =
      // NULL text nulls every metric; without this leading rule all the
      // WHEN conditions would be skipped and a contentless row would fall
      // through to 'keep' (same fix in the oracle's CASE)
      when(col("n_tokens").isNull, "too_short")
        .when(col("n_tokens") < 20, "too_short")
        .when(col("n_tokens") > 300, "too_long")
        .when(col("stop_ratio") > 0.6, "stopword_ratio")
        .when(!col("awl").between(2.0, 10.0), "word_length")
        .when(col("doc_id") =!= col("keeper"), "duplicate")
        .otherwise("keep")
    withKeeper.select(col("doc_id"), (reason === "keep").as("keep"),
      reason.as("reason"))
  }

  // ---- PII scrubbing (the C4-style redaction pass) ----

  /** Email / phone / bare-URL patterns — deliberately simple anchored
    * regexes whose semantics are identical in Spark (Java regex) and
    * DuckDB (RE2): no lookaround, no \b-adjacent unicode subtleties. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}"
  val UrlRe = "https?://[^ ]+"

  /** Redact PII in `text`: emails -> <EMAIL>, then phones -> <PHONE>, then
    * URLs -> <URL> — fixed order, so overlapping matches resolve
    * identically everywhere. */
  def scrub(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      UrlRe, "<URL>")

  /** PII redaction over a synthesized contact-card corpus (the testdata
    * documents carry no PII, so the oracle would be vacuous on them):
    * per customer, a text embedding an email, a phone, and a URL. The
    * query emits the scrubbed text plus per-kind match counts — the shape
    * a curation pipeline logs for audit. Pure per-row regex work: scales
    * as a scan, no shuffle at all. */
  val taScrub = QueryDef("ta_scrub",
    s"""SELECT c_custkey AS doc_id,
      |  regexp_replace(regexp_replace(regexp_replace(
      |    'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR) || '@firm' || CAST(c_nationkey AS VARCHAR) || '.example.com or +1-555-' || CAST(100 + c_custkey % 900 AS VARCHAR) || '-' || CAST(1000 + c_custkey % 9000 AS VARCHAR) || ' see https://firm' || CAST(c_nationkey AS VARCHAR) || '.example.com/about for details',
      |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'), '$UrlRe', '<URL>', 'g') AS scrubbed,
      |  CAST(1 AS BIGINT) AS n_emails, CAST(1 AS BIGINT) AS n_phones, CAST(1 AS BIGINT) AS n_urls
      |FROM customer""".stripMargin) { (spark, d) =>
    val text = concat(
      lit("reach "), col("c_name"),
      lit(" at user"), col("c_custkey").cast("string"),
      lit("@firm"), col("c_nationkey").cast("string"),
      lit(".example.com or +1-555-"),
      (lit(100) + col("c_custkey") % 900).cast("string"), lit("-"),
      (lit(1000) + col("c_custkey") % 9000).cast("string"),
      lit(" see https://firm"), col("c_nationkey").cast("string"),
      lit(".example.com/about for details"))
    // six regex passes per row on a one-task gate-corpus scan — spread the
    // projection over the session's cores (Scale.fanOut no-ops on wide
    // inputs; the three source columns are the only shuffled bytes)
    Scale.fanOut(
      Tables.customer(spark, d).select("c_custkey", "c_name", "c_nationkey"),
      col("c_custkey"))
      .select(
        col("c_custkey").as("doc_id"),
        scrub(text).as("scrubbed"),
        size(regexp_extract_all(text, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(regexp_replace(text, EmailRe, "<EMAIL>"),
          lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(text, lit(UrlRe), lit(0))).cast("long").as("n_urls"))
  }

  /** Exploded corpus side of decontamination: one row per (doc, shingle),
    * n_shingles riding the row as size(wids) — wids are per-doc distinct —
    * so nothing needs the full explode counted. */
  private def decontamExploded(corpusWids: DataFrame): DataFrame =
    corpusWids.select(col("doc_id"),
      size(col("wids")).cast("long").as("n_shingles"),
      explode(col("wids")).as("wid"))

  /** Overlap aggregation tail shared by both dictionary tiers: `matched`
    * holds only OVERLAP rows (inner join against the dictionary — sum of
    * per-doc matches) instead of every exploded shingle; at sf10 that is
    * the difference between aggregating 26M rows and ~2M, and
    * non-overlapping docs (already excluded from the output) never reach
    * the shuffle. */
  private def decontamAgg(matched: DataFrame): DataFrame =
    matched.groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (lit(2) * col("n_overlap") >= col("n_shingles")).as("contaminated"))

  /** Broadcast-dictionary decontamination over (doc_id, wids) relations:
    * the benchmark's distinct-shingle dictionary broadcasts (never
    * shuffled, like a dim table), the corpus side explodes and inner-joins
    * it. The tier for dictionaries small enough to fit executor memory as
    * a broadcast hash relation (~50 bytes/id: defensible to the tens of
    * millions of ids). */
  def decontamBroadcast(corpusWids: DataFrame, benchWids: DataFrame): DataFrame = {
    val dict = benchWids.select(explode(col("wids")).as("wid")).distinct()
    decontamAgg(decontamExploded(corpusWids).join(broadcast(dict), Seq("wid")))
  }

  /** Bloom-dictionary decontamination (VERDICT r8 #3 — the tier past
    * broadcast size): a held-out set of millions of benchmark documents
    * yields a shingle dictionary too large to broadcast as an exact hash
    * relation, but a 1%-fpp bloom over it is ~50x smaller (1.2 bytes/id vs
    * ~50). Two-phase candidate/verify, the dedup family's discipline:
    *
    *   1. CANDIDATE — the bloom (built DISTRIBUTED via the per-partition
    *      merge aggregate behind `stat.bloomFilter`, broadcast once) is
    *      probed per exploded corpus shingle inside whole-stage codegen
    *      ([[graft.plans.bloomContains]]) — no join, no shuffle: the
    *      non-overlapping majority of corpus shingles dies in the scan
    *      stage, at any dictionary size.
    *   2. VERIFY — survivors (true overlaps + the fpp sliver) re-check
    *      against the exact dictionary via a shuffle equi-join whose BOTH
    *      sides are now small relative to the corpus, so false positives
    *      can never reach the output: results are IDENTICAL to
    *      [[decontamBroadcast]] by construction (spec-pinned).
    *
    * `expectedDictIds` sizes the filter (pass the dictionary's distinct-id
    * count or a safe upper bound); building it runs one aggregate job. */
  def decontamBloom(corpusWids: DataFrame, benchWids: DataFrame,
                    expectedDictIds: Long, fpp: Double = 0.01): DataFrame = {
    val spark = corpusWids.sparkSession
    val dict = benchWids.select(explode(col("wids")).as("wid")).distinct()
    val bloom = spark.sparkContext.broadcast(
      dict.stat.bloomFilter("wid", expectedDictIds, fpp))
    decontamAgg(
      decontamExploded(corpusWids)
        .filter(graft.plans.bloomContains(col("wid"), bloom))
        .join(dict, Seq("wid")))
  }

  /** A PREBUILT decontamination gate over a static benchmark — for loops
    * that apply the same dictionary to many relations (the rolling
    * curation funnel): the distinct-shingle dictionary is derived,
    * persisted, and counted ONCE here, the tier picked from the exact
    * count, and the bloom (when tiered past broadcast) built exactly
    * once — so per application the corpus side pays only its own explode
    * + probe, never a benchmark-sized job. Returns (gate, release):
    * `release()` unpersists the dictionary and destroys the bloom; call
    * it when the owning loop terminates (idempotent). */
  def decontamGate(benchWids: DataFrame, broadcastMaxIds: Long = 4000000L,
                   fpp: Double = 0.01): (DataFrame => DataFrame, () => Unit) = {
    val spark = benchWids.sparkSession
    val dict = benchWids.select(explode(col("wids")).as("wid"))
      .distinct().persist()
    val dictIds = dict.count()
    val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    if (dictIds <= broadcastMaxIds)
      (corpus => decontamAgg(
        decontamExploded(corpus).join(broadcast(dict), Seq("wid"))),
        () => if (released.compareAndSet(false, true)) dict.unpersist(): Unit)
    else {
      val bloom = spark.sparkContext.broadcast(
        dict.stat.bloomFilter("wid", dictIds, fpp))
      (corpus => decontamAgg(
        decontamExploded(corpus)
          .filter(graft.plans.bloomContains(col("wid"), bloom))
          .join(dict, Seq("wid"))),
        () => if (released.compareAndSet(false, true)) {
          dict.unpersist(); bloom.destroy()
        })
    }
  }

  /** Size-tiered decontamination entry: broadcast dictionary up to
    * `broadcastMaxIds` distinct shingle ids (default 4M ≈ 200 MB as a
    * broadcast hash relation — the practical executor ceiling), bloom +
    * exact re-check beyond. The caller passes the dictionary size (or an
    * upper bound) so the gate itself runs no job. */
  def decontaminate(corpusWids: DataFrame, benchWids: DataFrame,
                    dictIds: Long, broadcastMaxIds: Long = 4000000L,
                    fpp: Double = 0.01): DataFrame =
    if (dictIds <= broadcastMaxIds) decontamBroadcast(corpusWids, benchWids)
    else decontamBloom(corpusWids, benchWids, dictIds, fpp)

  /** Benchmark decontamination (the GPT-3/Pile curation stage): flag
    * corpus documents whose word-3-gram shingles overlap a held-out
    * benchmark set — here the mod-50 slice of the documents table stands
    * in for the benchmark, so the split is proportional at every SF.
    * Output per overlapping doc: distinct-shingle count, overlapping
    * count, and the ratio>=1/2 contamination verdict (integer arithmetic,
    * engine-exact).
    *
    * Scale shape: this is the ASYMMETRIC corpus-vs-reference analogue of
    * the dedup self-joins — the fixture benchmark is a dictionary of a
    * few thousand ids, so the declared query rides the BROADCAST tier
    * ([[decontamBroadcast]]); past broadcast size [[decontaminate]] flips
    * to the bloom+re-check tier. The corpus side is the native codegen'd
    * shingle-ID pass ([[Dedup.widRelation]] — the same scan-stage sketch
    * every dd_* query rides, PERSISTED per session so the bench's
    * repeated-action protocol pays the text-to-shingles pass once, not
    * per iteration) plus a single groupBy(doc_id) shuffle of longs. No
    * self-join, no candidate blowup; work ∝ corpus. Overlap is measured
    * in sketch-id space (the dd family's documented tradeoff — an id
    * collision can only merge two shingles, slightly over-counting
    * overlap). */
  val taDecontam = QueryDef("ta_decontam",
    s"""WITH ${Dedup.shingleListCtes},
      |bw AS (SELECT DISTINCT unnest(wids) AS wid FROM widl WHERE doc_id % 50 = 0),
      |cw AS (SELECT doc_id, len(wids) AS n_shingles, unnest(wids) AS wid
      |  FROM widl WHERE doc_id % 50 <> 0),
      |agg AS (SELECT doc_id, n_shingles, COUNT(*) AS n_overlap
      |  FROM cw JOIN bw USING (wid)
      |  GROUP BY doc_id, n_shingles)
      |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
      |  CAST(n_overlap AS BIGINT) AS n_overlap,
      |  2*n_overlap >= n_shingles AS contaminated
      |FROM agg""".stripMargin) { (spark, d) =>
    val wid = Dedup.widRelation(spark, d)
    decontamBroadcast(
      wid.filter(col("doc_id") % 50 =!= 0),
      wid.filter(col("doc_id") % 50 === 0))
  }

  /** Stratified QUOTA sampling — the curation step [[taSample]]'s rate
    * membership cannot express: take EXACTLY min(quota, |stratum|)
    * documents per language, chosen by a deterministic hash order (so the
    * selection is reproducible across engines, retries, and corpus
    * re-partitioning — same RNG-free contract as ta_sample_split).
    *
    * The semantics is a per-stratum ORDERED rank, and the naive plan —
    * `Window.partitionBy(lang).orderBy(hash)` — funnels each stratum
    * through ONE task: with a handful of languages over 100 TB that is a
    * few terabyte-sized partitions, the same single-partition funnel
    * ta_shard_pack refuses for its global prefix sum. Same remedy, once
    * more with an ORDER-PRESERVING bucket decomposition of the HASH
    * domain (not doc_id ranges — rank order here is hash order):
    *
    *   1. bucket = hash div (P/256) — 256 contiguous hash ranges, so
    *      (bucket, hash) order IS stratum-wide hash order;
    *   2. local rank within (lang, bucket) — parallel window, shuffle
    *      keyed on (lang, bucket);
    *   3. per-(lang, bucket) counts DERIVE from the windowed relation
    *      (max of a dense rank = the count — no second corpus scan);
    *      bucket START offsets = prefix over counts, a langs x 256
    *      relation whose window partitions by lang;
    *   4. global rank = offset + local rank, broadcast-joined back; keep
    *      rank <= quota(lang). Buckets whose offset already exceeds the
    *      quota contribute nothing — at scale the quota filter prunes all
    *      but the first few hash buckets per stratum, so the selection
    *      cost is ∝ quota, not corpus.
    *
    * The oracle states the straight per-stratum window; the two-level
    * form is per-row equal by construction. */
  val taStratifiedSample: QueryDef = {
    val hashSql = Dedup.shingleIdCharSql // over a column named `shingle`
    val quotaSql = "CASE lang WHEN 'en' THEN 100 WHEN 'es' THEN 50 ELSE 40 END"
    QueryDef("ta_stratified_sample",
      s"""WITH h AS (
        |  SELECT doc_id, lang,
        |    (SELECT ($hashSql) FROM (SELECT concat('q', CAST(t.doc_id AS VARCHAR)) AS shingle) s) AS hv
        |  FROM documents t),
        |r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
        |  FROM h)
        |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= $quotaSql""".stripMargin) { (spark, d) =>
      val quota =
        when(col("lang") === "en", 100L).when(col("lang") === "es", 50L).otherwise(40L)
      stratifiedSample(Tables.documents(spark, d), quota)
    }
  }

  /** [[corpusShuffle]] as a declared query: the oracle states the straight
    * global window in the independent 'r'-salted hash order; the two-level
    * decomposition is per-row equal by construction. */
  val taCorpusShuffle: QueryDef = {
    val hashSql = Dedup.shingleIdCharSql // over a column named `shingle`
    QueryDef("ta_corpus_shuffle",
      s"""WITH h AS (
        |  SELECT doc_id,
        |    (SELECT ($hashSql) FROM (SELECT concat('r', CAST(t.doc_id AS VARCHAR)) AS shingle) s) AS hv
        |  FROM documents t)
        |SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY hv, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin) { (spark, d) =>
      corpusShuffle(Tables.documents(spark, d))
    }
  }

  /** Sliding-window document chunking — the step that turns curated
    * documents into fixed-budget training sequences: windows of `ChunkW`
    * tokens advancing by `ChunkS` (overlap = ChunkW - ChunkS), final
    * partial window kept, short docs yield their single partial chunk.
    * Emits (doc_id, chunk_idx, start_tok, n_tok, chunk_text).
    *
    * Scale shape: pure scan-stage row expansion — tokenize once per doc,
    * explode over the chunk-index sequence, slice the shared words array
    * per chunk. ZERO shuffles; output size is corpus x (1/stride overlap
    * factor), the same expansion any chunking pass pays. Chunk count and
    * boundaries are integer arithmetic (ceil via (n + S - 1) div S), so
    * the layout is bit-identical on any engine or partitioning. */
  val taChunk: QueryDef = {
    val W = 64
    val S = 48
    QueryDef("ta_chunk",
      s"""WITH t AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
        |  FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS nw FROM t),
        |c AS (
        |  SELECT doc_id, ws, nw,
        |    unnest(generate_series(0, CASE WHEN nw <= $W THEN 0 ELSE (nw - $W + $S - 1) // $S END)) AS ci
        |  FROM n)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
        |  CAST(ci * $S AS BIGINT) AS start_tok,
        |  CAST(LEAST($W, nw - ci * $S) AS BIGINT) AS n_tok,
        |  array_to_string(list_slice(ws, ci * $S + 1, ci * $S + LEAST($W, nw - ci * $S)), ' ') AS chunk_text
        |FROM c""".stripMargin) { (spark, d) =>
      chunk(Tables.documents(spark, d))
    }
  }

  /** The sliding-window chunker over any `(doc_id, text)` relation (see
    * [[taChunk]] for the window/stride contract and oracle). */
  def chunk(docs: DataFrame, w: Int = 64, s: Int = 48): DataFrame =
    docs
      .select(col("doc_id"), split(normText(col("text")), " ").as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).as("nw"))
      .select(col("doc_id"), col("ws"), col("nw"),
        explode(sequence(lit(0),
          when(col("nw") <= w, 0)
            .otherwise(floor((col("nw") - w + (s - 1)) / s)).cast("int"))).as("ci"))
      .select(col("doc_id"), col("ci").cast("long").as("chunk_idx"),
        (col("ci") * s).cast("long").as("start_tok"),
        least(lit(w), col("nw") - col("ci") * s).cast("long").as("n_tok"),
        concat_ws(" ", slice(col("ws"), col("ci") * s + 1,
          least(lit(w), col("nw") - col("ci") * s))).as("chunk_text"))

  /** The two-level stratified quota rank over any `(doc_id, lang)` relation
    * (see [[taStratifiedSample]] for the construction and oracle); exposed
    * so the property suite can drive it over adversarial strata (empty,
    * singleton, all-in-one-bucket). */
  def stratifiedSample(docs: DataFrame, quota: org.apache.spark.sql.Column): DataFrame =
    twoLevelHashRank(docs, salt = "q").filter(col("rk") <= quota)
      .select(col("doc_id"), col("lang"), col("rk"))

  /** Deterministic global corpus shuffle — the order-randomization step
    * between curation and [[taShardPack]] in a training pipeline: a
    * reproducible pseudo-random permutation of the corpus as
    * (doc_id, pos), stated as the global rank in salted-hash order. Same
    * two-level construction over ONE pseudo-stratum: rank order is hash
    * order, buckets are contiguous hash ranges, so parallelism comes from
    * the 256 hash buckets, never a single-partition window. An
    * independent salt ('r') keeps the permutation uncorrelated with the
    * sampling decisions ('q'/'s'/'p' streams). */
  def corpusShuffle(docs: DataFrame): DataFrame =
    twoLevelHashRank(docs.withColumn("lang", lit("_")), salt = "r")
      .select(col("doc_id"), col("rk").as("pos"))

  /** Shared two-level global-rank core: per-stratum rank in
    * (salted-hash, doc_id) order as (doc_id, lang, rk). */
  private def twoLevelHashRank(docs: DataFrame, salt: String): DataFrame = {
    val NB = 256L
    val BW = (Dedup.P + NB - 1) / NB // bucket width: ceil(P / NB)
    // Both coalesces make hv AND bucket NON-NULLABLE (IntegralDivide is
    // unconditionally nullable — div-by-zero yields null — so hv alone is
    // not enough). Nullable join keys made the offsets join spray
    // IsNotNull(<24-term hash>) into the probe branch's scan filter (the
    // full hash evaluated per row in the scan, before any CSE) and the
    // branches' differing filters defeated ReusedExchange, so the
    // scan+hash+window subtree executed TWICE. doc_id is never null in
    // any vintage; the 0 fallbacks are unreachable and keep semantics
    // oracle-identical.
    val base = docs.select(
      col("doc_id"), col("lang"),
      coalesce(Dedup.shingleIdChar(concat(lit(salt), col("doc_id").cast("string"))),
        lit(0L)).as("hv"))
      .withColumn("bucket", coalesce(expr(s"hv div $BW"), lit(0L)))
    val localW = Window.partitionBy("lang", "bucket").orderBy("hv", "doc_id")
    val local = base.withColumn("lrk", row_number().over(localW).cast("long"))
    val offsets = local.groupBy("lang", "bucket").agg(max("lrk").as("bn"))
      .withColumn("boff",
        coalesce(sum("bn").over(
          Window.partitionBy("lang").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("lang", "bucket", "boff")
    local.join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("rk", col("boff") + col("lrk"))
  }

  /** BM25 keyword retrieval over the corpus — the lexical-search half of a
    * curation stack (targeted quality audits, contamination spot-checks,
    * topic-sliced subcorpus pulls all start from "find the docs matching
    * these terms"). Rides the SAME session-persisted (doc, w, tf, dl)
    * term store as [[taTermWeight]]/[[taRepetition]] — the inverted-index
    * relation a 100 TB pipeline materializes once.
    *
    * Scoring is the standard BM25 shape (k1=1.2, b=0.75) with a RATIONAL
    * idf, (N - df + 0.5)/(df + 0.5), instead of its logarithm: ln() is
    * the one transcendental whose last-ulp behavior the two engines don't
    * contractually share, while +,*,/ on doubles are IEEE-exact on both.
    * Same monotone ordering for fixed N, bit-identical scores. Per-doc
    * totals sum the round(6) term scores in DECIMAL so accumulation order
    * can't perturb the hash (the house sum rule).
    *
    * Plan shape: the term filter hits the store first (candidates = docs
    * containing >= 1 query term — inverted-index pruning, not a corpus
    * scan); df and the corpus stats are term-count-sized broadcasts; the
    * final top-10 is orderBy+limit, which Spark plans as
    * TakeOrderedAndProject (per-partition heaps + driver merge of 10-row
    * heads, never a global sort). Work ∝ posting-list sizes. */
  val taBm25: QueryDef = {
    val terms = Seq("scan", "merge", "window", "spark")
    val inList = terms.map(t => s"'$t'").mkString(", ")
    QueryDef("ta_bm25",
      s"""WITH w AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
        |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
        |  CAST(SUM(tf) AS DOUBLE) / (SELECT COUNT(*) FROM documents) AS avgdl FROM tf),
        |dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |df AS (SELECT w, COUNT(*) AS df FROM tf WHERE w IN ($inList) GROUP BY w),
        |sc AS (SELECT tf.doc_id,
        |    round(((st.n - df.df + 0.5) / (df.df + 0.5))
        |      * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / st.avgdl)))), 6) AS ts
        |  FROM tf JOIN df ON df.w = tf.w JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st)
        |SELECT doc_id, n_hit, score FROM (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit,
        |    CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) AS score,
        |    ROW_NUMBER() OVER (ORDER BY CAST(SUM(CAST(ts AS DECIMAL(28,6))) AS DOUBLE) DESC, doc_id) AS rn
        |  FROM sc GROUP BY doc_id) t
        |WHERE rn <= 10""".stripMargin) { (spark, d) =>
      val docs = Tables.documents(spark, d)
      val tf = graft.Persisted.of(spark, s"$d#term_tf") {
        docs.select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
      }
      val stats = broadcast(
        tf.agg(sum("tf").as("sumtok")).crossJoin(docs.agg(count(lit(1)).as("n")))
          .select(col("n"), (col("sumtok").cast("double") / col("n")).as("avgdl")))
      val df = broadcast(
        tf.filter(col("w").isin(terms: _*)).groupBy("w").agg(count(lit(1)).as("df")))
      // tf rows already carry dl (the scan-stage wordCounts sketch emits
      // it per row), so no per-doc dl join is needed on this side; the
      // oracle derives dl from its tf CTE instead — same values.
      val ts = round(
        ((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          ((col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / col("avgdl"))))), 6)
      tf.filter(col("w").isin(terms: _*))
        .join(df, "w").crossJoin(stats)
        .select(col("doc_id"), ts.as("ts"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_hit"),
          sum(col("ts").cast("decimal(28,6)")).cast("double").as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }
  }

  /** Temperature-scaled source-mixture weights — the sampling step that
    * turns per-source corpus statistics into a training mixture: weight
    * each source by n_docs^alpha (alpha = 1/2, the standard multilingual
    * temperature that up-samples small sources), normalize, and emit the
    * per-source document quota for a fixed 100k-doc epoch budget.
    *
    * alpha = 1/2 is deliberately sqrt: among x^alpha kernels it is the
    * one IEEE requires to be CORRECTLY ROUNDED (pow() is not), so both
    * engines compute the identical double. The normalizer sums the
    * round(6) weights in DECIMAL (exact, order-free); per-source shares
    * divide by that one scalar.
    *
    * Scale shape: one partial+final groupBy over the corpus to
    * source-level stats (source cardinality is tiny), then a broadcast
    * scalar join — the same two-level "aggregate, then normalize against
    * a broadcast total" shape as [[taShardPack]]'s offsets. The epoch
    * quota feeds [[taStratifiedSample]]'s exact-quota draw. */
  val taMixture: QueryDef = QueryDef("ta_mixture",
    """WITH s AS (SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars FROM documents GROUP BY source),
      |w AS (SELECT source, n_docs, n_chars, round(sqrt(CAST(n_docs AS DOUBLE)), 6) AS w FROM s),
      |t AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS tot FROM w)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_chars AS BIGINT) AS n_chars,
      |  round(w / tot, 6) AS p,
      |  CAST(floor(100000 * round(w / tot, 6)) AS BIGINT) AS quota_docs
      |FROM w CROSS JOIN t""".stripMargin) { (spark, d) =>
    val bySrc = Tables.documents(spark, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .withColumn("w", round(sqrt(col("n_docs").cast("double")), 6))
    val tot = broadcast(
      bySrc.agg(sum(col("w").cast("decimal(28,6)")).cast("double").as("tot")))
    val p = round(col("w") / col("tot"), 6)
    bySrc.crossJoin(tot).select(
      col("source"), col("n_docs").cast("long").as("n_docs"),
      col("n_chars").cast("long").as("n_chars"), p.as("p"),
      floor(lit(100000) * p).cast("long").as("quota_docs"))
  }

  /** Unigram language-model rarity score — the log-free analogue of the
    * LM-perplexity quality filter (CCNet/Gopher rank documents by how
    * surprising their tokens are under a corpus LM; rare-token-heavy docs
    * are gibberish/OCR-noise candidates, vanishingly-common-token docs are
    * boilerplate). Per token the surprise is the INVERSE smoothed unigram
    * probability (C + V) / (c(w) + 1) — the likelihood ratio itself, not
    * its logarithm, per the [[taBm25]] house rule (ln() is the
    * transcendental the engines don't contractually share; +,*,/ are
    * IEEE-exact on both). Per-doc score = tf-weighted mean of the round(6)
    * per-term surprises, accumulated in DECIMAL so order can't perturb
    * the hash, and EMITTED in integer micro-units via exact floor
    * division: `round(mean, 6)` is not engine-portable when the exact
    * rational mean lands ON a 6-dp tie (sf0.1's doc 4032: 541.095885/18 =
    * 30.0608825 exactly — Spark rounds the under-tie double down via
    * BigDecimal expansion, DuckDB rounds its shortest-decimal reading up),
    * while Σ·1e6 div dl is one integer operation both engines share.
    *
    * Scale shape: rides the session-persisted (doc, w, tf, dl) term store
    * (one scan-stage `graft_word_counts` pass shared with
    * ta_term_weight/ta_repetition/ta_bm25); corpus counts c(w) are
    * vocabulary-sized (Heap's law) and AQE-broadcast back onto the store;
    * the scalar (C, V) pair is a broadcast cross join. One shuffle for
    * c(w), one for the per-doc mean — both partial-agg'd. */
  val taRarity: QueryDef = QueryDef("ta_rarity",
    """WITH w AS (SELECT doc_id, unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w FROM documents),
      |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
      |c AS (SELECT w, SUM(tf) AS c FROM tf GROUP BY w),
      |st AS (SELECT CAST(SUM(c) AS BIGINT) AS ctot, COUNT(*) AS v FROM c),
      |sc AS (SELECT tf.doc_id, tf.tf,
      |    (st.ctot + st.v) * 1000000 // (c.c + 1) AS surprise_micro
      |  FROM tf JOIN c ON c.w = tf.w CROSS JOIN st)
      |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl,
      |  CAST(SUM(tf * surprise_micro) // SUM(tf) AS BIGINT) AS rarity_micro
      |FROM sc GROUP BY doc_id""".stripMargin) { (spark, d) =>
    val docs = Tables.documents(spark, d)
    val tf = graft.Persisted.of(spark, s"$d#term_tf") {
      docs.select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
    }
    val c = tf.groupBy("w").agg(sum("tf").as("c"))
    val st = broadcast(c.agg(sum("c").cast("long").as("ctot"),
      count(lit(1)).as("v")))
    // ADVICE r10: the per-term surprise carried round(double, 6) — the
    // exact 6-dp-tie hazard this query's own doc bans. Now the surprise is
    // integer micro-units end-to-end: (ctot+v)*1e6 div (c+1) is one exact
    // integer floor division both engines share (all operands positive, so
    // DuckDB's floor `//` == Spark's truncating `div`). Overflow ceiling:
    // (ctot+v)*1e6 accumulates in DECIMAL(38,0); the quotient fits BIGINT
    // up to ~1.8e13 corpus tokens (c+1 >= 2 for any joined term).
    val surpriseMicro =
      expr("cast(ctot + v as decimal(38,0)) * 1000000 div (c + 1)")
    tf.join(c, "w").crossJoin(st)
      .select(col("doc_id"), col("tf"), surpriseMicro.as("surprise_micro"))
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("dl"),
        expr("sum(cast(tf as decimal(38,0)) * surprise_micro) div sum(tf)")
          .as("rarity_micro"))
  }

  /** The first BPE-training iteration: corpus-weighted adjacent
    * character-pair counts, top-20 merge candidates by (count DESC, pair)
    * — the primitive a tokenizer-training pipeline iterates (count pairs →
    * merge the argmax → recount). Emitted as one oracle-checked round
    * because each round is this same relational shape re-run on the merged
    * symbol stream.
    *
    * Scale shape: the pair explode runs over the VOCABULARY, not token
    * occurrences — the term store collapses to (w, Σtf) first (one
    * vocab-sized partial-agg'd shuffle, Heap's-law sublinear), each
    * distinct word contributes its pairs once weighted by its corpus
    * count, and the final top-20 is TakeOrderedAndProject (per-partition
    * heaps, no global sort). At 100 TB the per-round cost is a vocab scan,
    * which is why BPE training is tractable at all. */
  val taBpePairs: QueryDef = QueryDef("ta_bpe_pairs",
    """WITH w AS (SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w FROM documents),
      |p AS (SELECT substring(w, i, 2) AS pair
      |      FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i FROM w) t)
      |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
      |ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (spark, d) =>
    val tf = graft.Persisted.of(spark, s"$d#term_tf") {
      Tables.documents(spark, d)
        .select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
    }
    tf.groupBy("w").agg(sum("tf").as("wn"))
      // single-char words emit no pairs; the filter also guards Spark's
      // sequence(1, 0), which DESCENDS ([1, 0]) rather than being empty
      .filter(length(col("w")) >= 2)
      .select(col("wn"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("wn").as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
  }

  /** The SECOND BPE-training iteration — proof the round iterates: take
    * round 1's argmax pair, APPLY the merge to every word (non-regex
    * `replace`, whose left-to-right non-overlapping semantics both engines
    * share — "aaa" under merge "aa" becomes [aa][a] on each), and recount
    * adjacent symbol pairs on the merged stream, where the merged symbol
    * is a marker char (chr(1), absent from any corpus word) rendered as
    * '<M>' in the output. A full tokenizer build is THIS query iterated V
    * times with the merge table as the loop state — per round one
    * vocab-sized recount, the same shape as round 1.
    *
    * Scale shape: identical to [[taBpePairs]] plus a 1-row broadcast (the
    * argmax merge) joined onto the vocab before the re-explode. */
  val taBpeMerge2: QueryDef = QueryDef("ta_bpe_merge2",
    """WITH v AS (SELECT w, COUNT(*) AS wn FROM (
      |    SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w FROM documents) t
      |  GROUP BY w),
      |p1 AS (SELECT substring(w, i, 2) AS pair, SUM(wn) AS n
      |       FROM (SELECT w, wn, unnest(generate_series(1, length(w) - 1)) AS i FROM v) t
      |       GROUP BY 1),
      |top1 AS (SELECT pair FROM p1 ORDER BY n DESC, pair LIMIT 1),
      |m AS (SELECT replace(v.w, top1.pair, chr(1)) AS w2, wn FROM v CROSS JOIN top1),
      |p2 AS (SELECT substring(w2, i, 2) AS pair, SUM(wn) AS n
      |       FROM (SELECT w2, wn, unnest(generate_series(1, length(w2) - 1)) AS i FROM m) t
      |       GROUP BY 1)
      |SELECT replace(pair, chr(1), '<M>') AS pair, CAST(n AS BIGINT) AS n
      |FROM p2 ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (spark, d) =>
    val tf = graft.Persisted.of(spark, s"$d#term_tf") {
      Tables.documents(spark, d)
        .select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
    }
    val vocab = tf.groupBy("w").agg(sum("tf").as("wn"))
    def pairsOf(words: org.apache.spark.sql.DataFrame, wc: String) =
      words.filter(length(col(wc)) >= 2)
        .select(col("wn"), explode(expr(
          s"transform(sequence(1, length($wc) - 1), i -> substring($wc, i, 2))"))
          .as("pair"))
        .groupBy("pair").agg(sum("wn").as("n"))
    val top1 = pairsOf(vocab, "w").orderBy(col("n").desc, col("pair")).limit(1)
      .select(col("pair").as("mergep"))
    val merged = vocab.crossJoin(broadcast(top1))
      .select(expr("replace(w, mergep, char(1))").as("w2"), col("wn"))
    pairsOf(merged, "w2")
      .select(expr("replace(pair, char(1), '<M>')").as("pair"),
        col("n").cast("long").as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
  }

  /** Adjacent-symbol pair counts over a (word, corpus-count) vocabulary —
    * the per-round aggregation every BPE-training iteration re-runs. */
  private def bpePairCounts(words: DataFrame, wc: String): DataFrame =
    words.filter(length(col(wc)) >= 2)
      .select(col("wn"), explode(expr(
        s"transform(sequence(1, length($wc) - 1), i -> substring($wc, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("wn").as("n"))

  /** Number of BPE merges [[taBpeTrain]] runs — the vocab budget of the
    * demonstration training loop (VERDICT r10 #4 asked >= 4). */
  private val bpeTrainRounds = 5

  /** Merge-symbol marker for round k: a Unicode PRIVATE-USE code point
    * (U+E000 + k), which cannot appear in any corpus text. The first
    * implementation used `k.toChar` — a control char only for k <= 31, so
    * the merge-budget stress probe's rounds 32+ used printable ASCII
    * markers (digits at k = 48–57!) that can collide with genuine vocab
    * characters and silently corrupt merge semantics (ADVICE r15). The PUA
    * offset keeps the bound-literal `call_function` approach and stays a
    * single UTF-16 char, so `length()` counts it as 1 on both engines. */
  private def bpeMarker(k: Int): String = (0xE000 + k).toChar.toString
  private def bpeMarkerSql(k: Int): String = s"chr(${0xE000 + k})"

  /** The SQL training rounds shared by every BPE oracle: CTEs
    * v0 (corpus vocab), p_k (pair counts), t_k (argmax merge), v_k
    * (merged vocab), for k = 1..n. Generated from ONE template so the
    * train and encode oracles cannot drift. */
  private def bpeTrainCtes(n: Int): String = {
    val b = new StringBuilder(
      """v0 AS (SELECT w, COUNT(*) AS wn FROM (
        |    SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS w FROM documents) t
        |  GROUP BY w)""".stripMargin)
    for (k <- 1 to n) b ++=
      s""",
         |p$k AS (SELECT substring(w, i, 2) AS pair, SUM(wn) AS n
         |       FROM (SELECT w, wn, unnest(generate_series(1, length(w) - 1)) AS i FROM v${k - 1}) t
         |       GROUP BY 1),
         |t$k AS (SELECT pair, n FROM p$k ORDER BY n DESC, pair LIMIT 1),
         |v$k AS (SELECT replace(v${k - 1}.w, t$k.pair, ${bpeMarkerSql(k)}) AS w, wn FROM v${k - 1} CROSS JOIN t$k)""".stripMargin
    b.toString
  }

  /** The learned merge table (iter, pair, count) for the documents table
    * of `d` — the [[taBpeTrain]] loop factored out and memoized per
    * (session, dir): the driver holds only the n-pair table, each round is
    * one vocab-sized partial-agg'd shuffle + a TakeOrdered(1), and every
    * consumer (training output, corpus encoding) shares one run. */
  private val bpeMergesMemo = new graft.SessionMemo[Seq[(Int, String, Long)]]
  /** `onRound(k, sec)` fires after each training round's argmax action —
    * the per-round cost-law hook the merge-budget stress probe reads
    * (VERDICT r14 #5); the default is a no-op and the declared queries
    * never pass it.
    *
    * Loop shape — CONSTANT plan depth, the merge-budget lesson: the first
    * implementation persisted each round's merged vocab and built round
    * k's relation ON round k−1's DataFrame. Data-wise that was fine (each
    * round reads the previous round's cache), but each persisted plan
    * NESTS the previous round's executed AQE plan, and Spark stringifies
    * the full physical-plan description per action for its SQL-execution
    * events — a cost that is superlinear in nesting depth. At a 64-merge
    * budget the driver spent 20+ minutes single-threaded inside
    * generateTreeString with a ~25 GB heap of plan strings before any
    * round past ~30 completed. So the vocabulary is now what
    * [[taBpeEncode]] always did: ONE projection over the once-persisted
    * base vocab whose merge chain is a k-deep nested-replace EXPRESSION
    * (sequential semantics preserved — replace k applies to the output of
    * replace k−1). Plan depth never grows; the chain re-evaluates per
    * round (O(k) string work per vocab row, O(n²·vocab) cumulative),
    * which is linear-per-round in practice and measured flat
    * (ARCHITECTURE round-15 merge-budget table). */
  def bpeMerges(spark: org.apache.spark.sql.SparkSession, d: String,
                n: Int = bpeTrainRounds,
                onRound: (Int, Double) => Unit = (_, _) => ()): Seq[(Int, String, Long)] =
    bpeMergesMemo.of(spark, s"$d#bpe_merges_$n") {
      val tf = graft.Persisted.of(spark, s"$d#term_tf") {
        Tables.documents(spark, d)
          .select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
      }
      val base = graft.Persisted.of(spark, s"$d#bpe_vocab0") {
        tf.groupBy("w").agg(sum("tf").as("wn"))
      }
      // call_function keeps the merge pair a bound literal — markers are
      // private-use chars, so splicing them into SQL text would be fragile
      var wExpr = col("w")
      val merges = Seq.newBuilder[(Int, String, Long)]
      for (k <- 1 to n) {
        val t0 = System.nanoTime()
        val top = bpePairCounts(base.select(wExpr.as("w"), col("wn")), "w")
          .orderBy(col("n").desc, col("pair")).limit(1).collect()(0)
        merges += ((k, top.getString(0), top.getLong(1)))
        wExpr = call_function("replace", wExpr, lit(top.getString(0)),
          lit(bpeMarker(k)))
        onRound(k, (System.nanoTime() - t0) / 1e9)
      }
      merges.result()
    }

  /** The FULL BPE-training loop to a vocab budget: [[taBpePairs]]'s
    * count→argmax→merge round iterated [[bpeTrainRounds]] times, emitting
    * the learned merge table (iter, pair, corpus pair count). Loop state
    * follows the [[Clustering]] Lloyd pattern — the driver holds ONLY the
    * merge table (one 2-symbol pair per round, collected via a bounded
    * 1-row action), while the evolving vocabulary stays a distributed
    * relation, persisted per round so each iteration re-reads the merged
    * vocab instead of replaying the whole merge lineage. Later merges can
    * reference earlier merge symbols (private-use markers, see [[bpeMarker]]), which is
    * what makes this BPE rather than independent bigram picks; markers
    * render as `<Mk>` in the output.
    *
    * Scale shape: per round one vocab-sized partial-agg'd shuffle
    * (Heap's-law sublinear in corpus size) + a TakeOrdered(1) + a
    * map-only re-merge — the loop adds NO shuffle beyond taBpePairs x N.
    * The oracle is the same round unrolled [[bpeTrainRounds]] times in
    * SQL, generated from one template so engine and oracle can't drift. */
  val taBpeTrain: QueryDef = {
    val n = bpeTrainRounds
    val sql = {
      val render = (1 to n).foldLeft("pair")((acc, k) => s"replace($acc, ${bpeMarkerSql(k)}, '<M$k>')")
      s"WITH ${bpeTrainCtes(n)}" + (1 to n).map(k =>
        s"\nSELECT CAST($k AS INTEGER) AS iter, $render AS pair, CAST(n AS BIGINT) AS n FROM t$k")
        .mkString("", "\nUNION ALL", "")
    }
    QueryDef("ta_bpe_train", sql) { (spark, d) =>
      val rendered = bpeMerges(spark, d, n).map { case (k, pr, cnt) =>
        (k, (1 to n).foldLeft(pr)((s, j) => s.replace(bpeMarker(j), s"<M$j>")), cnt)
      }
      import spark.implicits._
      rendered.toDF("iter", "pair", "n")
    }
  }

  /** BPE ENCODING — the trained tokenizer APPLIED to the corpus: per-doc
    * word/char/BPE-token counts and the compression ratio, under the
    * [[taBpeTrain]] merge table. Each merge rewrites 2 symbols into 1
    * marker, so a word's token count is simply its merged length; the
    * ratio is chars/tokens in ppm via integer floor division (no double
    * ever formed).
    *
    * Scale shape — the reason this is a relational query at all: merges
    * are applied to the VOCABULARY (distinct words, a map-only replace
    * chain over the Heap's-law-sublinear vocab), never to token
    * occurrences; per-doc totals come from the persisted (doc, w, tf)
    * term store joined to the merged token lengths — one vocab-sized
    * broadcast/shuffle join + one doc-keyed partial-agg'd sum. A 100 TB
    * corpus pays the merge chain once per distinct word, exactly like the
    * signature stores. The oracle reuses the SAME generated training CTEs
    * as ta_bpe_train, so the two queries' merge tables cannot drift. */
  val taBpeEncode: QueryDef = {
    val n = bpeTrainRounds
    val chain = (1 to n).foldLeft("w")((acc, k) => s"replace($acc, t$k.pair, ${bpeMarkerSql(k)})")
    val crossT = (1 to n).map(k => s"CROSS JOIN t$k").mkString(" ")
    QueryDef("ta_bpe_encode",
      s"""WITH ${bpeTrainCtes(n)},
        |wd AS (SELECT doc_id, w, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS w FROM documents) t
        |  WHERE w <> '' GROUP BY doc_id, w),
        |e AS (SELECT w, length($chain) AS tl
        |      FROM (SELECT DISTINCT w FROM wd) vw $crossT)
        |SELECT doc_id,
        |  CAST(SUM(tf) AS BIGINT) AS n_words,
        |  CAST(SUM(tf * length(w)) AS BIGINT) AS n_chars,
        |  CAST(SUM(tf * tl) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(tf * length(w)) AS BIGINT) * 1000000 // CAST(SUM(tf * tl) AS BIGINT) AS ratio_ppm
        |FROM wd JOIN e USING (w) GROUP BY doc_id""".stripMargin) { (spark, d) =>
      val tf = graft.Persisted.of(spark, s"$d#term_tf") {
        Tables.documents(spark, d)
          .select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
      }.filter(col("w") =!= "")
      val merges = bpeMerges(spark, d, n)
      val vocab = tf.select("w").distinct()
      val mergedVocab = merges.foldLeft(vocab.withColumn("mw", col("w"))) {
        case (df, (k, pr, _)) =>
          df.withColumn("mw",
            call_function("replace", col("mw"), lit(pr), lit(bpeMarker(k))))
      }
      val tokLen = mergedVocab.select(col("w"), length(col("mw")).cast("long").as("tl"))
      tf.join(tokLen, "w")
        .groupBy("doc_id")
        .agg(sum("tf").cast("long").as("n_words"),
          sum(col("tf") * length(col("w"))).cast("long").as("n_chars"),
          sum(col("tf") * col("tl")).cast("long").as("bpe_tokens"))
        .select(col("doc_id"), col("n_words"), col("n_chars"), col("bpe_tokens"),
          expr("(n_chars * 1000000) div bpe_tokens").as("ratio_ppm"))
    }
  }

  /** Bigram-LM perplexity analogue — [[taRarity]]'s conditional cousin:
    * per-token surprise under the corpus BIGRAM model, the stronger LM
    * quality filter (CCNet ranks by LM perplexity; a bigram model catches
    * scrambled-word text that a unigram model scores as perfectly normal).
    * Per bigram the surprise is the INVERSE add-1-smoothed conditional
    * probability (c(w1·) + V) / (c(w1,w2) + 1) — likelihood ratio, not its
    * log, per the house transcendental ban — and the per-doc score is the
    * occurrence-weighted mean in integer micro-units via exact floor
    * division (never round(double, 6): the ta_rarity 6-dp-tie incident).
    *
    * Scale shape: bigrams are formed MAP-SIDE at the scan (zip_with over
    * the word array against its own tail — no window, no self-join, no
    * shuffle to pair consecutive tokens; a lag() window here would shuffle
    * the full token stream), then collapsed once to the per-doc
    * bigram-type store (doc, w1, w2, tf) — the Heap's-law-sublinear
    * relation everything downstream rides, persisted for its three
    * consumers. Corpus counts c12/c1 derive from THAT store (vocab²-sized,
    * partial-agg'd), never from token occurrences; the vocabulary scalar V
    * broadcast cross-joins from the shared session term store. Measured
    * linear per decade (sf1 → sf10). */
  /** Consecutive word pairs of a text column as array<struct<w1,w2>> —
    * heads = ws[0..n−2] zipped against tails = ws[1..n−1], entirely inside
    * the scan projection (no window, no positional self-join);
    * greatest(·, 0) keeps 0/1-token documents legal (empty array out). */
  def bigramPairs(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ws = split(normText(text), " ")
    zip_with(
      slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
      slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  /** Per-doc bigram-type store (doc_id, w1, w2, tf) — the Heap's-law-
    * sublinear relation the bigram family rides, formed map-side; sized on
    * (w1, w2) over an upper estimate of its rows (docs × ~40 types). */
  def bigramTfRelation(spark: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Persisted.sized(spark, s"$d#bigram_tf", "w1", "w2")(
        Dedup.corpusDocCount(spark, d) * 40) {
      Tables.documents(spark, d)
        .select(col("doc_id"), bigramPairs(col("text")).as("bg"))
        .select(col("doc_id"), explode(col("bg")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    }

  /** Corpus bigram counts MARGINAL-ANNOTATED at store build
    * (w1, w2, c12, c1, c2) — the count-annotated-store pattern (round 14,
    * same as the knn adjacency and kept-frames stores): the two marginal
    * aggregates + joins run once per session instead of once per consumer
    * action, and the collocation query becomes a pure filter+projection of
    * this relation. Vocabulary²-sized, exactly like `big` was. It takes
    * the width [[bigramTfRelation]] got, so taBigramLm's dbg ⋈ big join
    * reads two aligned in-memory stores and skips both of its exchanges
    * — the j3 aligned-IMR pattern. */
  def bigramCorpusRelation(spark: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.Persisted.atWidth(spark, s"$d#bigram_corpus", "w1", "w2")(
        graft.Persisted.widthOf(bigramTfRelation(spark, d))) {
      val big = bigramTfRelation(spark, d)
        .groupBy("w1", "w2").agg(sum("tf").as("c12"))
      val m1 = big.groupBy("w1").agg(sum("c12").as("c1"))
      val m2 = big.groupBy("w2").agg(sum("c12").as("c2"))
      big.join(m1, "w1").join(m2, "w2").select("w1", "w2", "c12", "c1", "c2")
    }

  val taBigramLm: QueryDef = QueryDef("ta_bigram_lm",
    """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws FROM documents),
      |w AS (SELECT doc_id, unnest(ws) AS w FROM t),
      |bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
      |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t) x),
      |dbg AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3),
      |big AS (SELECT w1, w2, SUM(tf) AS c12 FROM dbg GROUP BY 1, 2),
      |uni AS (SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1),
      |vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM w)
      |SELECT doc_id,
      |  CAST(SUM(tf) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(tf * ((c1 + v) * CAST(1000000 AS BIGINT) // (c12 + 1))) // SUM(tf) AS BIGINT) AS ppl_micro
      |FROM dbg JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vv
      |GROUP BY doc_id""".stripMargin) { (spark, d) =>
    val docs = Tables.documents(spark, d)
    val dbg = bigramTfRelation(spark, d)
    // corpus counts + first-position marginal ride the annotated store —
    // ONE join (on the bigram key) per action instead of three
    val big = bigramCorpusRelation(spark, d).select("w1", "w2", "c12", "c1")
    val tf = graft.Persisted.of(spark, s"$d#term_tf") {
      docs.select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
    }
    val vv = broadcast(tf.select("w").distinct()
      .agg(count(lit(1)).cast("long").as("v")))
    // overflow ceiling as ta_rarity: (c1+v)*1e6 in DECIMAL(38,0); operands
    // all positive so DuckDB floor `//` == Spark truncating `div`
    val surpriseMicro =
      expr("cast(c1 + v as decimal(38,0)) * 1000000 div (c12 + 1)")
    dbg.join(big, Seq("w1", "w2")).crossJoin(vv)
      .select(col("doc_id"), col("tf"), surpriseMicro.as("surprise_micro"))
      .groupBy("doc_id")
      .agg(sum("tf").cast("long").as("n_bigrams"),
        expr("sum(cast(tf as decimal(38,0)) * surprise_micro) div sum(tf)")
          .as("ppl_micro"))
  }

  /** Collocation mining — the phrase-discovery companion to
    * [[taBigramLm]]: bigrams that co-occur far above chance, scored by a
    * log-free PMI ratio in integer ppm — observed/expected =
    * c12·N·10^6 div (c1·c2) where c1/c2 are the marginal first/second-
    * position counts and N the bigram total. (log PMI is monotone in the
    * ratio, so ranking/thresholding semantics are identical and the
    * engines stay on exact integers — the ta_rarity house rule; the
    * numerator rides DECIMAL(38,0)/HUGEINT per the overflow ceiling.)
    * The c12 >= 5 support gate is standard collocation practice (PMI of
    * hapax pairs is noise) and keeps the output vocabulary-bounded.
    *
    * Scale shape: everything derives from the persisted bigram-type store
    * ([[taBigramLm]]'s `#bigram_tf`, formed map-side in the scan) — the
    * marginals and N are vocabulary-sized aggregates of it, broadcast
    * back by AQE. No token-stream shuffle anywhere. */
  val taCollocations: QueryDef = QueryDef("ta_collocations",
    """WITH t AS (SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws FROM documents),
      |bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
      |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM t) x),
      |big AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
      |m1 AS (SELECT w1, SUM(c12) AS c1 FROM big GROUP BY 1),
      |m2 AS (SELECT w2, SUM(c12) AS c2 FROM big GROUP BY 1),
      |nn AS (SELECT SUM(c12) AS n FROM big)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
      |  CAST(CAST(c12 AS HUGEINT) * n * 1000000 // (c1 * c2) AS BIGINT) AS pmi_ppm
      |FROM big JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN nn
      |WHERE c12 >= 5""".stripMargin) { (spark, d) =>
    // pure filter + projection of the marginal-annotated corpus store:
    // no per-action aggregate or join survives except the scalar N
    val big = bigramCorpusRelation(spark, d)
    val nn = broadcast(big.agg(sum("c12").cast("long").as("n")))
    big.filter(col("c12") >= 5).crossJoin(nn)
      .select(col("w1"), col("w2"), col("c12").cast("long").as("c12"),
        expr("cast(c12 as decimal(38,0)) * n * 1000000 div (c1 * c2)")
          .as("pmi_ppm"))
  }

  /** Fixed-length SEQUENCE packing — the pretraining-batch shape
    * [[taShardPack]] stops short of: the tokenized corpus is one
    * concatenated stream in doc_id order, cut every 512 tokens, and
    * documents SPAN sequence boundaries (no padding, no doc alignment —
    * the GPT-style packed-batch layout). Output per sequence: contributing
    * doc count, token count (512 except the tail), first/last doc.
    *
    * Scale shape: the global token offsets come from the shared two-level
    * prefix sum ([[tokenStarts]] — never a single-partition window); each
    * doc then explodes to the sequences its [st, st+n_tok) interval
    * intersects — a BOUNDED expansion of n_tok/512 + 1 rows per doc
    * (total ≈ corpus_tokens/512 + n_docs, corpus-linear), followed by one
    * partial-agg'd groupBy(seq_id). The oracle states the straight
    * global-window form, equal per-row by construction. */
  val taSeqPack: QueryDef = {
    val L = 512L
    QueryDef("ta_seq_pack",
      s"""WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (SELECT doc_id, n_tok,
        |    CAST(SUM(n_tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS BIGINT) AS st
        |  FROM t),
        |e AS (SELECT doc_id, st, st + n_tok AS fin,
        |    unnest(generate_series(st // $L, (st + n_tok - 1) // $L)) AS seq_id
        |  FROM s)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(LEAST(fin, (seq_id + 1) * $L) - GREATEST(st, seq_id * $L)) AS BIGINT) AS n_tokens,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        |  CAST(MAX(doc_id) AS BIGINT) AS last_doc
        |FROM e GROUP BY seq_id""".stripMargin) { (spark, d) =>
      tokenStarts(spark, d)
        .select(col("doc_id"), col("st"), (col("st") + col("n_tok")).as("fin"))
        .withColumn("seq_id",
          explode(sequence(expr(s"st div $L"), expr(s"(fin - 1) div $L"))))
        .groupBy("seq_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("fin"), (col("seq_id") + 1) * L) -
            greatest(col("st"), col("seq_id") * L)).cast("long").as("n_tokens"),
          min("doc_id").as("first_doc"),
          max("doc_id").as("last_doc"))
    }
  }

  /** Winnowing fingerprints (the MOSS algorithm): per document, hash every
    * 3-word gram, slide a 4-gram window, and keep each window's MINIMUM
    * hash — ties broken RIGHTMOST, the detail that makes winnowing's
    * fingerprint density guarantee (2/(w+1)) hold. The selected (position,
    * hash) set is the document's fingerprint: position-robust (an edit
    * perturbs only the windows it touches) where ta_fingerprint's global
    * rolling hash flips entirely — the local-similarity signal plagiarism
    * / near-dup span detection keys on.
    *
    * Argmin-with-rightmost-tie is ENCODED, not cased: v = h·2^20 − gpos is
    * order-isomorphic to (h asc, gpos desc) because the gram index is
    * bounded by the 2^20 words-per-document cap (shared by engine AND
    * oracle, so both stay structurally equivalent — the ta_bpe series-cap
    * lesson), and min(v) decodes back to (pos, h) exactly. Overflow-safe:
    * v < P·2^20 < 2^51.
    *
    * Scale shape: the whole selection runs INSIDE the scan — word-hash
    * array, gram-hash array, per-window array_min over a 4-slice, distinct
    * — zero shuffle, no window operator, no per-doc state beyond the row.
    * The oracle states the same semantics relationally (a ROWS 3 PRECEDING
    * frame over the gram sequence). Documents shorter than 3 words have no
    * grams; shorter than 6 words (< 4 grams) have no full window — both
    * emit nothing, winnowing's standard convention. */
  val taWinnow: QueryDef = {
    val M = 1048576L // 2^20: per-doc gram-position cap, shared with oracle
    val sql =
      s"""WITH w AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS w,
        |    generate_subscripts(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '), 1) AS pos
        |  FROM documents),
        |h AS (SELECT doc_id, pos, ${Dedup.wordHashSql} AS wh FROM w),
        |g AS (SELECT a.doc_id, a.pos - 1 AS gpos,
        |        ((a.wh + ${Dedup.K2}*b.wh + ${Dedup.K3}*c.wh) % ${Dedup.P}) * $M - (a.pos - 1) AS v
        |      FROM h a JOIN h b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |               JOIN h c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
        |m AS (SELECT doc_id, gpos,
        |        MIN(v) OVER (PARTITION BY doc_id ORDER BY gpos
        |          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mv
        |      FROM g),
        |s AS (SELECT DISTINCT doc_id, mv FROM m WHERE gpos >= 3)
        |SELECT doc_id,
        |  CAST((mv + ${M - 1}) // $M * $M - mv AS BIGINT) AS pos,
        |  CAST((mv + ${M - 1}) // $M AS BIGINT) AS wid
        |FROM s""".stripMargin
    QueryDef("ta_winnow", sql) { (spark, d) =>
      // The selection runs as ONE fused native pass in the scan stage
      // (graft.plans.WinnowSelect, whole-stage codegen): tokenize, word
      // hashes, encoded gram values, sliding-4 min, consecutive-dup
      // suppression — O(words) per doc. A declarative higher-order form
      // exists ([[winnowSelsDecl]], spec-matched) but is NOT the declared
      // path: the optimizer's inferred IsNotNull/size predicates re-inline
      // the whole interpreted transform chain into a Filter, re-deriving
      // word hashes per row (a measured 300+ s wedge at sf0.1 vs ~0.1 s
      // fused).
      Tables.documents(spark, d)
        .select(col("doc_id"),
          explode(graft.plans.winnowSelect(col("text"),
            Dedup.Coef.take(Dedup.WordHashWidth), Dedup.K2, Dedup.K3,
            Dedup.P, M)).as("mv"))
        .select(col("doc_id"),
          (expr(s"(mv + ${M - 1}) div $M") * M - col("mv")).as("pos"),
          expr(s"(mv + ${M - 1}) div $M").as("wid"))
    }
  }

  /** Declarative twin of the fused winnowing selection — (doc_id, mv)
    * encoded selections via staged higher-order expressions and a single
    * aggregate() fold (ring of the last 3 gram values + append-if-changed).
    * Kept OFF the declared path (see [[taWinnow]]'s plan note) and
    * cross-checked against the native expression in PlansSpec. */
  def winnowSelsDecl(docs: DataFrame, M: Long = 1048576L): DataFrame =
    docs
      .select(col("doc_id"), transform(Dedup.wordsOf(col("text")),
        w => Dedup.wordHash(w)).as("wh"))
      // encoded gram hashes: ((wh[i] + K2·wh[i+1] + K3·wh[i+2]) % P)·M − i
      .select(col("doc_id"), when(size(col("wh")) >= 3,
        transform(sequence(lit(0), size(col("wh")) - 3), i =>
          (element_at(col("wh"), i + 1) +
            lit(Dedup.K2) * element_at(col("wh"), i + 2) +
            lit(Dedup.K3) * element_at(col("wh"), i + 3)) % lit(Dedup.P) *
            lit(M) - i))
        .otherwise(array().cast("array<bigint>")).as("gv"))
      // ONE fold over the gram array: the accumulator carries the ring of
      // the last 3 encoded values and appends each full window's min. A
      // window's selection repeats only in CONSECUTIVE windows (once a
      // strictly smaller value enters, the old min can never win again,
      // and windows covering a position form an interval), so append-if-
      // changed IS the winnowing dedup.
      .select(col("doc_id"), expr(
        """CASE WHEN size(gv) >= 4 THEN aggregate(gv,
          |  named_struct('i', CAST(0 AS BIGINT),
          |               'r', CAST(array() AS ARRAY<BIGINT>),
          |               'o', CAST(array() AS ARRAY<BIGINT>)),
          |  (acc, x) -> named_struct(
          |    'i', acc.i + 1L,
          |    'r', CASE WHEN size(acc.r) < 3 THEN concat(acc.r, array(x))
          |              ELSE concat(slice(acc.r, 2, 2), array(x)) END,
          |    'o', CASE WHEN acc.i >= 3
          |                AND (size(acc.o) = 0
          |                     OR element_at(acc.o, -1) != least(x, array_min(acc.r)))
          |              THEN concat(acc.o, array(least(x, array_min(acc.r))))
          |              ELSE acc.o END),
          |  acc -> acc.o)
          |ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin).as("sels"))
      .select(col("doc_id"), explode(col("sels")).as("mv"))

  /** Corpus heavy hitters with a sketch-membership guarantee adjudicated by
    * the oracle (the approx_stats/dd_est_eval house pattern for
    * approximate operators): exact token counts gate the emitted rows —
    * words with cnt·K > W, i.e. above a 1/K frequency share — and
    * `in_sketch` probes each against a K-slot weighted Misra-Gries summary
    * ([[graft.plans.MisraGriesTopK]], a TypedImperativeAggregate). The MG
    * mergeable-summaries bound says every item with weight > W/(K+1) holds
    * a slot REGARDLESS of Spark's partial-aggregation merge order, so
    * `in_sketch` is deterministically TRUE for every emitted row — which
    * is exactly what the oracle asserts. The sketch's candidates BELOW the
    * guarantee are merge-order-dependent and never emitted.
    *
    * Scale shape: the sketch side aggregates the vocabulary-sized term
    * store into O(K) state per partition — K·16 bytes cross the wire per
    * partition, never the vocabulary — which is the 100 TB path (trust the
    * sketch, skip the exact join). The exact side here is the evaluation
    * harness, itself one vocabulary-sized partial-agg'd groupBy. Items
    * ride as xxhash64(word): a collision only ADDS weight to a wid, so the
    * guarantee direction (heavy => present) survives hashing. */
  val taHeavyHitters: QueryDef = {
    val K = 32
    QueryDef("ta_heavy_hitters",
      s"""WITH w AS (SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS w FROM documents),
        |c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM w GROUP BY w),
        |t AS (SELECT SUM(cnt) AS wt FROM c)
        |SELECT c.w AS w, c.cnt AS cnt, TRUE AS in_sketch
        |FROM c, t WHERE c.cnt * $K > t.wt""".stripMargin) { (spark, d) =>
      val tf = graft.Persisted.of(spark, s"$d#term_tf") {
        Tables.documents(spark, d)
          .select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
      }
      val sketch = tf
        .agg(graft.plans.mgTopK(xxhash64(col("w")), col("tf"), K).as("cand"))
      val counts = tf.groupBy("w").agg(sum("tf").as("cnt"))
      val tot = counts.agg(sum("cnt").as("wt"))
      counts.crossJoin(broadcast(tot))
        .filter(col("cnt") * K > col("wt"))
        .crossJoin(broadcast(sketch))
        .select(col("w"), col("cnt").cast("long").as("cnt"),
          array_contains(col("cand"), xxhash64(col("w"))).as("in_sketch"))
    }
  }

  val all: Seq[QueryDef] = Seq(
    taLangId, taQuality, taTokens, taFingerprint, taTermWeight, taSample,
    taKeepFilter, taScrub, taDecontam, taRepetition, taShardPack,
    taStratifiedSample, taCorpusShuffle, taChunk, taBm25, taMixture, taRarity,
    taBpePairs, taBpeMerge2, taBpeTrain, taBpeEncode, taBigramLm, taSeqPack,
    taWinnow, taHeavyHitters, taCollocations)
}
