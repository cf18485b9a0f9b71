package graft.operators

import graft.functions.Exprs._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Portfolio-company extraction (SURVEY.md §3.3): the reference's step-2
  * card-class classification + step-3 JSON-LD entity extraction, scoring,
  * ranking and dedup (step2_attempt1.py, step3_attempt1.py) as one
  * declarative Spark pipeline.
  *
  * Input: a page snapshot table `(firm_name, firm_url, html)` — page
  * acquisition is the connector layer's job (S4). Everything below is pure
  * column expressions + joins/windows: no UDFs, no DOM library. DOM-position
  * signals the reference reads from BeautifulSoup (e.g. "entity inside
  * card") are approximated from co-occurrence, noted inline.
  */
object PortCoPipeline {

  // ---- single scan of the page corpus (VERDICT r5 #4) ----

  /** ONE pass over the page corpus computing BOTH per-page element arrays —
    * the classed-element structs feeding [[cardsRelation]] and the
    * ld+json script bodies feeding [[entities]] — shared via
    * [[graft.Persisted]], so the
    * two relations are two explodes off the same materialized projection
    * instead of two independent scans of `html`. At 100 TB of HTML the scan
    * IS the pipeline cost; the join in [[scoredEntities]] previously paid
    * it twice. The projection itself is the fused native
    * `graft_html_page_scan` — one byte-walk per page produces both arrays,
    * where the unfused form (element scan + full-page script regex) walked
    * every page twice; [[ldJsonScripts]] stays as the spec-matched
    * declarative twin. Keyed by the pages plan's semantic hash, so distinct
    * page relations (different SF dirs, different fixtures) get distinct
    * artifact relations within a session; non-`html` columns pass through.
    *
    * Cache lifetime: entries live until the session stops (graft.Persisted
    * is session-scoped by design — same contract as the sketch/term
    * stores); a job cycling through MANY distinct page corpora in one
    * session should release between corpora via
    * `graft.Persisted.clear(spark, "portco_")` — the prefix covers this
    * relation AND the enriched card/entity stores derived from it
    * ([[cardsRelation]]/[[entitiesRelation]]). The 32-bit plan-hash
    * key means two semantically different corpora collide with ~2^-32
    * probability per pair — accepted, like Spark's own statistics-hash
    * shortcuts. */
  def pageArtifacts(pages: DataFrame): DataFrame = {
    val passthrough = pages.columns.filterNot(_ == "html").map(col).toSeq
    graft.Persisted.of(pages.sparkSession,
      "portco_pages#" + pages.queryExecution.analyzed.semanticHash()) {
      pages.select(passthrough :+ graft.plans.htmlPageScan(col("html")).as("ps"): _*)
        .select(passthrough :+ col("ps.els").as("els") :+ col("ps.scripts").as("scripts"): _*)
    }
  }

  // ---- step 2: candidate card classes (step2_attempt1.py:21-144) ----

  /** Ranked candidate card classes per firm: tokenize (X19), blacklist
    * (F11), rank A/B/C by word-subset match (X20), dedup + stable sort
    * (A6). Reads the persisted [[pageArtifacts]] relation, so a session
    * running step-2 AND the step-3 pipeline over the same pages pays the
    * page walk once, not twice. */
  def cardClasses(pages: DataFrame): DataFrame =
    pageArtifacts(pages)
      .select(col("firm_name"), explode(col("els")).as("e"))
      .select(col("firm_name"), normText(col("e.cls")).as("cls"))
      .select(col("firm_name"), col("cls"), words(col("cls")).as("tokens"))
      .filter(!classBlacklisted(col("tokens")))
      .withColumn("rank", classRank(col("tokens")))
      .filter(col("rank").isNotNull)
      .groupBy("firm_name", "rank", "cls")
      .agg(first("tokens").as("tokens"))

  /** Candidate card ELEMENTS with their signals — `_collect_cards`
    * (step3_attempt1.py:240-275): every class-attributed element whose
    * tokens rank (X20) and survive the blacklist (F11), carrying the
    * signals the reference reads off each card: first-anchor link domain,
    * first-img domain, and the X22 name hint (aria-label / img alt / h1-h4
    * / .title / .name / strong, first non-empty). Elements come from the
    * codegen'd graft_html_class_elements tag-balance scan, so nested cards
    * and card-internal wrappers survive (a flat regex would truncate or
    * swallow them), and the class value is the scanner's own attribute
    * extraction — quote-style agnostic like the reference's
    * soup.get("class") (ADVICE r5).
    *
    * Persisted ENRICHED card relation: the explode + rank/blacklist filters
    * + per-card signals (domains, X22 hint) materialized once per
    * (session, pages plan) — feature extraction is compute-once, the same
    * store design as the term/sketch relations. Consumers (scoring,
    * attempt2) reuse the extraction instead of re-deriving it, and their
    * own plans shrink to joins/aggregates over an InMemoryRelation. */
  def cardsRelation(pages: DataFrame): DataFrame =
    graft.Persisted.of(pages.sparkSession,
      "portco_cards#" + pages.queryExecution.analyzed.semanticHash()) {
      cardsFromArtifacts(pageArtifacts(pages))
    }

  private[operators] def cardsFromArtifacts(arts: DataFrame): DataFrame =
    arts.select(col("firm_name"), explode(col("els")).as("e"))
      .select(col("firm_name"), col("e.el").as("el"),
        normText(col("e.cls")).as("cls"))
      .withColumn("tokens", words(col("cls")))
      .filter(!classBlacklisted(col("tokens")))
      .withColumn("rank", classRank(col("tokens")))
      .filter(col("rank").isNotNull)
      .withColumn("link_domain", urlDomain(firstHref(col("el"))))
      .withColumn("img_domain", urlDomain(firstImgSrc(col("el"))))
      .withColumn("name_hint", nameHint(col("el")))
      // no dedup: the reference keeps every card instance, identical
      // duplicates cannot change the per-entity argmax, and skipping the
      // distinct saves a full shuffle of the card relation

  // ---- step 3: JSON-LD scripts -> entity nodes (X7, X9) ----

  /** ld+json script bodies. */
  def ldJsonScripts(html: Column): Column =
    regexp_extract_all(html, lit("(?si)<script[^>]*ld\\+json[^>]*>(.*?)</script>"), lit(1))

  /** X9 part 1: a script body -> array of raw node JSON strings
    * (@graph flattening; bare arrays; single objects). */
  def nodesOf(script: Column): Column = {
    val s = trim(script)
    val graph = get_json_object(s, "$['@graph']")
    when(graph.isNotNull, from_json(graph, ArrayType(StringType)))
      .when(s.startsWith("["), from_json(s, ArrayType(StringType)))
      .otherwise(array(s))
  }

  /** X9 part 2: ItemList expansion over pre-extracted raw fields — each
    * itemListElement contributes its `.item` if present, else itself
    * (ListItem synthesis, step3_attempt1.py:137-153). */
  def expandItemListRaw(node: Column, typeRaw: Column, ileRaw: Column): Column = {
    val elems = from_json(ileRaw, ArrayType(StringType))
    when(typeRaw.isNotNull && typeRaw.contains("ItemList") && elems.isNotNull,
      transform(elems, e => coalesce(get_json_object(e, "$.item"), e)))
      .otherwise(array(node))
  }

  /** X9 part 2 on a bare node (one extra parse; entities() uses the raw
    * form fed by json_tuple). */
  def expandItemList(node: Column): Column =
    expandItemListRaw(node, get_json_object(node, "$['@type']"),
      get_json_object(node, "$.itemListElement"))

  /** X12 input: string-or-list @type (raw json value) -> array<string>. */
  def typesFromRaw(raw: Column): Column =
    when(raw.startsWith("["), from_json(raw, ArrayType(StringType)))
      .when(raw.isNotNull, array(raw))
      .otherwise(array().cast("array<string>"))

  /** X10: logo union type (raw json value) — object with url/@id, or bare
    * string. */
  def logoFromRaw(raw: Column): Column =
    coalesce(
      get_json_object(raw, "$.url"),
      get_json_object(raw, "$['@id']"),
      when(!raw.startsWith("{"), raw))

  /** X11: sameAs string-or-list (raw json value) -> array<string>. */
  def sameAsFromRaw(raw: Column): Column =
    when(raw.startsWith("["), from_json(raw, ArrayType(StringType)))
      .when(raw.isNotNull, array(raw))
      .otherwise(array().cast("array<string>"))

  /** Entities per firm after F8 (type gate), F10 (non-empty name), F9
    * (self-exclusion) — step3_attempt1.py:364-382.
    *
    * json_tuple parses each node string ONCE per stage (one parse for the
    * ItemList probe, one for the five entity fields) instead of one
    * get_json_object parser per field — per-row parser construction is the
    * scan-stall hazard documented at graft.plans.JsonFieldUtil, and at
    * 100 TB the JSON decode is the dominant scan cost. The union-type
    * handling (string-or-list @type/sameAs, object-or-string logo) then
    * operates on the extracted raw values. */
  def entities(pages: DataFrame): DataFrame =
    entitiesFromArtifacts(pageArtifacts(pages))

  /** Persisted enriched entity relation (JSON-LD nodes expanded, fields
    * parsed, F8/F9/F10 applied) — the entity-side twin of
    * [[cardsRelation]]. */
  def entitiesRelation(pages: DataFrame): DataFrame =
    graft.Persisted.of(pages.sparkSession,
      "portco_entities#" + pages.queryExecution.analyzed.semanticHash()) {
      entitiesFromArtifacts(pageArtifacts(pages))
    }

  private[operators] def entitiesFromArtifacts(arts: DataFrame): DataFrame =
    arts
      .select(col("firm_name"), col("firm_url"),
        explode(col("scripts")).as("script"))
      // graft.plans.jsonLdNodes: ONE Generate pass does @graph/array
      // flattening + ItemList expansion (the declarative nodesOf ->
      // json_tuple -> expandItemListRaw chain is kept and spec-matched;
      // the generator parses each script once on a JVM-shared mapper).
      // The script body rides along: scoring's inside-card check needs it
      // (the reference's `el in script.find_parents()` provenance).
      .select(col("firm_name"), col("firm_url"), col("script"),
        graft.plans.jsonLdNodes(col("script")).as("node"))
      .select(col("firm_name"), col("firm_url"), col("script"), col("node"),
        json_tuple(col("node"), "@type", "name", "url", "logo", "sameAs")
          .as(Seq("t_raw", "name_raw", "url", "logo_raw", "sameas_raw")))
      .select(
        col("firm_name"), col("firm_url"), col("script"), col("node"),
        typesFromRaw(col("t_raw")).as("types"),
        normText(coalesce(col("name_raw"), lit(""))).as("name"),
        col("url"),
        logoFromRaw(col("logo_raw")).as("logo"),
        sameAsFromRaw(col("sameas_raw")).as("same_as"))
      .filter(typeAllowed(col("types")))                                   // F8
      .filter(length(col("name")) > 0)                                     // F10
      // F9 self-exclusion. The second conjunct is INTENTIONALLY redundant
      // (implied by !nameMatches): it mirrors the reference's own redundant
      // domain-AND-name condition at step3_attempt1.py:371-377 verbatim, so
      // a future behavioral diff against the reference stays term-by-term —
      // do not "simplify" it away. Costs nothing after CSE.
      .filter(!nameMatches(col("name"), col("firm_name")) &&               // F9
        !(urlDomain(col("url")) === urlDomain(col("firm_url")) &&
          nameMatches(col("name"), col("firm_name"))))
      .withColumn("jsonld_type", preferWhitelisted(col("types")))          // X12

  /** J1: score every entity against every candidate card of its firm (X14
    * weights, step3_attempt1.py:289-304), keep the best card per entity (W3
    * argmax). Signals are the reference's own: entity url domain vs the
    * card's first-anchor domain, logo domain vs the card's anchor/img
    * domains, nameMatches against the X22 name hint, and the inside-card
    * bonus from actual containment (the entity's script body occurring
    * inside the card's outer HTML — the regex-level analogue of
    * `el in script.find_parents()`). Empty-string domains never match
    * (the reference's `if entity["_url_domain"] and ...` falsy guard). */
  def scoredEntities(pages: DataFrame): DataFrame = {
    // both sides derive from the SAME persisted single-pass projection of
    // the page corpus — one scan of `html`, not two (VERDICT r5 #4) — and
    // are themselves persisted as enriched relations, so the scoring join
    // reads two InMemoryRelations instead of replaying the extraction
    val ents = entitiesRelation(pages)
    val cs = cardsRelation(pages)
    val joined = ents.join(cs, Seq("firm_name"), "left")
    val entDom = urlDomain(col("url"))
    val logoDom = urlDomain(col("logo"))
    val typeWl = typeWhitelisted(col("types"))
    val urlEq = length(entDom) > 0 && entDom === col("link_domain")
    val logoHit = length(logoDom) > 0 &&
      (logoDom === col("link_domain") || logoDom === col("img_domain"))
    val nameM = nameMatches(col("name"), col("name_hint"))
    val inside = col("el").contains(col("script"))
    val score = matchScore(typeWl, urlEq, logoHit, nameM, inside)
    // matched_by provenance (step3_attempt1.py:418-423), built codegen-side:
    // concat_ws skips the null (false) flags — no interpreted array lambda
    val reasonsCsv = concat_ws(",",
      when(typeWl, "type_whitelist"), when(urlEq, "url_domain_match"),
      when(logoHit, "logo_domain_match"), when(nameM, "name_match"),
      when(inside, "inside_card"))
    // per-entity argmax over cards as a partial aggregate (min_by on
    // (-score, cls, el)), not a ROW_NUMBER window: the shuffle carries one
    // row per entity instead of sorting every entity x card row — the same
    // measured win as w1/j1 (see PLANS.md "window replaced by aggregate").
    // Tie order matches the old window (score desc, cls asc, el asc);
    // null cls/el occur only in no-card singleton groups, so null placement
    // in the struct ordering can never decide a tie.
    joined.withColumn("sc", round(score, 3))
      .groupBy("firm_name", "name", "url")
      .agg(min_by(
        struct(col("jsonld_type"), col("logo"), col("same_as"), col("sc"),
          col("cls"), typeWl.as("type_wl"), reasonsCsv.as("reasons_csv")),
        struct((-col("sc")).as("nsc"), col("cls"), col("el"))).as("b"))
      .select(col("firm_name"), col("name"), col("url"), col("b.jsonld_type"),
        col("b.logo"), col("b.same_as"), col("b.sc").as("score"),
        col("b.cls").as("matched_class"),
        col("b.type_wl").as("type_wl"),
        col("b.cls").isNotNull.as("has_card"),
        col("b.reasons_csv").as("reasons_csv"))
  }

  /** Full step-3 result with the reference's four confidence ranks
    * (step3_attempt1.py:415-493): best-card score >= 1.8 -> "A", >= 1.2 ->
    * "B"; below threshold but org-like (whitelisted type) -> "C" keeping
    * the weak score; NO card on the page but org-like -> "D" at score 0.0.
    * Non-whitelisted entities below threshold drop. Then W2 dedup on
    * (lower(name), url domain) keeping the highest score, O1 ordering
    * (score desc, name asc). */
  def portcos(pages: DataFrame): DataFrame = {
    val ranked = scoredEntities(pages)
      .withColumn("rank",
        when(col("has_card") && col("score") >= graft.functions.Rubric.RankA, "A")
          .when(col("has_card") && col("score") >= graft.functions.Rubric.RankB, "B")
          .when(col("has_card") && col("type_wl"), "C")
          .when(!col("has_card") && col("type_wl"), "D"))
      .filter(col("rank").isNotNull)
      .withColumn("score", when(col("rank") === "D", lit(0.0)).otherwise(col("score")))
      // matched_by: computed provenance for threshold matches; the C/D
      // fallbacks record the fixed ["type_whitelist"] reason, as the
      // reference hardcodes (step3_attempt1.py:461,486)
      .withColumn("matched_by",
        when(col("rank").isin("A", "B"), split(col("reasons_csv"), ","))
          .otherwise(array(lit("type_whitelist"))))
      .drop("type_wl", "has_card", "reasons_csv")
    // W2 dedup as an aggregate argmax (same rationale as scoredEntities):
    // keep the best-scored row per (lower(name), url domain); ties break by
    // rank, matched_class, then (url, name) — the final pair makes the
    // choice TOTAL: two rank-D rows in one group (same domain, different
    // paths; score 0.0, matched_class null) would otherwise tie completely
    // and surface an arbitrary payload.
    ranked
      .groupBy(lower(col("name")).as("k_name"), urlDomain(col("url")).as("k_dom"))
      .agg(min_by(
        struct(ranked.columns.map(col): _*),
        struct((-col("score")).as("nsc"), col("rank"), col("matched_class"),
          col("url"), col("name"))).as("b"))
      .select(col("b.*"))
      .orderBy(col("score").desc, lower(col("name")))
  }

  /** step3_attempt2 (step3_attempt2.py:33-45): per-card name extraction by
    * the `<a>` inner-text -> `<img alt>` -> `<figcaption>` fallback chain.
    * The FIRST tag kind present in the card decides the method for the
    * whole card (the reference falls through only when NO tag of the prior
    * kind exists), every occurrence of that kind contributes a name, and
    * the extraction rank grades method x class confidence: A/B/C for
    * anchor/img/figcaption inside a step-2 class ranked A-B, D/E/F for the
    * same chain inside lower-ranked classes.
    *
    * Interpretation note: the reference spec says "if no `<a>` tags are
    * found, search `<img>`…" without fixing whether that fallback is
    * per-card or per-page, and its body was never implemented
    * (step3_attempt2.py:99-101). PER-CARD is chosen here — a page with an
    * anchor-bearing card AND an img-only card extracts via method 1 and
    * method 2 respectively (pinned by PortCoPipelineSpec) — because the
    * reference's sibling extractors all operate card-by-card. The per-page
    * reading (anchors anywhere on the page suppress the img fallback
    * everywhere) is the defensible alternative. */
  def attempt2(pages: DataFrame): DataFrame = {
    val anchors = regexp_extract_all(col("el"), lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1))
    // quote-style-agnostic alt extraction (same alternation as
    // Exprs.firstImgAlt): group 1 carries the token with its quotes,
    // stripped per element
    val imgAlts = transform(
      regexp_extract_all(col("el"),
        lit("""(?is)<img\b[^>]*\salt\s*=\s*("[^"]*"|'[^']*'|[^\s>"']+)"""), lit(1)),
      v => regexp_replace(v, "^[\"']|[\"']$", ""))
    val figs = regexp_extract_all(col("el"),
      lit("(?is)<figcaption\\b[^>]*>(.*?)</figcaption>"), lit(1))
    val method = when(size(anchors) > 0, 1)
      .when(size(imgAlts) > 0, 2)
      .when(size(figs) > 0, 3)
    val raw = when(col("step3_method") === 1, anchors)
      .when(col("step3_method") === 2, imgAlts)
      .otherwise(figs)
    val high = col("rank").isin("A", "B")
    cardsRelation(pages)
      .withColumn("step3_method", method)
      .filter(col("step3_method").isNotNull)
      .withColumn("extraction_rank",
        when(high && col("step3_method") === 1, "A")
          .when(high && col("step3_method") === 2, "B")
          .when(high && col("step3_method") === 3, "C")
          .when(col("step3_method") === 1, "D")
          .when(col("step3_method") === 2, "E")
          .otherwise("F"))
      .select(col("firm_name"), col("cls").as("class_used"), col("step3_method"),
        col("extraction_rank"), explode(raw).as("raw_name"))
      .select(col("firm_name"), col("class_used"), col("step3_method"),
        col("extraction_rank"),
        normText(regexp_replace(col("raw_name"), "<[^>]+>", " ")).as("name"))
      .filter(length(col("name")) > 0)
  }

  /** A4: nested per-firm document (main_portCo.py:113-122). */
  def nestedResult(pages: DataFrame): DataFrame =
    portcos(pages)
      .groupBy("firm_name")
      .agg(sort_array(collect_list(struct(
        col("name"), col("url"), col("jsonld_type"), col("score"), col("rank"))))
        .as("portcos"))
}
