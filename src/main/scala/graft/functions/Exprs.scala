package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar expression library — pure `Column`-returning functions covering the
  * reference's scalar-function surface (SURVEY.md §2.8, X1–X22).
  *
  * Everything here is a composition of built-in Spark SQL expressions, so the
  * whole library stays inside whole-stage codegen and is pushdown/pruning
  * friendly; no UDFs anywhere.
  *
  * Reference citations point into /root/reference (read-only study copy).
  */
object Exprs {

  // ---- regex constants (semantics from pipeline/founded_year.py:13-23) ----
  /** Years 1800..2099 (pipeline/founded_year.py:16). */
  val YearRe = "\\b(18\\d{2}|19\\d{2}|20\\d{2})\\b"
  /** Founding-anchor gate (pipeline/founded_year.py:17). */
  val AnchorRe =
    "(?i)\\b(founded|since|est\\.?|established|incorporated|dating|founding|©)\\b"
  /** Postcode-vs-year false-positive guard (pipeline/founded_year.py:20). */
  val AddressRe =
    "(?i)\\b(address|location|headquarters|hq|office|street|road|ave|avenue|blvd|boulevard|st\\.?|rd\\.?|suite|zip|postal|city|state|country)\\b"
  /** Date-stamp false-positive guard (pipeline/founded_year.py:23). */
  val DateRe =
    "(?i)\\b(january|february|march|april|may|june|july|august|september|october|november|december|mon|tue|wed|thu|fri|sat|sun|monday|tuesday|wednesday|thursday|friday|saturday|sunday)\\b"
  /** Noise-container class blacklist (step2_attempt1.py:55-58). */
  val ClassBlacklistRe =
    "(?i)(footer|header|nav|menu|cookie|subscribe|social|share|breadcrumb|search|hero|banner|modal|popup)"
  /** Non-HTML content extensions (helper_functions.py:91). */
  val BadContentTypeRe = "(?i)\\.(pdf|docx?|pptx?|xlsx?)$"

  /** JSON-LD @type whitelist/blacklist (step3_attempt1.py:72-73). */
  val TypeWhitelist: Seq[String] =
    Seq("Organization", "Corporation", "LocalBusiness", "Brand", "Company")
  val TypeBlacklist: Seq[String] =
    Seq("WebPage", "WebSite", "BreadcrumbList", "Article", "NewsArticle",
      "Person", "FAQPage", "HowTo", "BlogPosting")

  /** Pinned "current year" so F7 range filters are deterministic for the
    * oracle (SURVEY.md §7.3; reference uses datetime.now().year at
    * founded_year.py:83). */
  val PinnedCurrentYear = 2025

  // ---- X1: whitespace normalization (step3_attempt1.py:36-41) ----
  def normText(c: Column): Column = trim(regexp_replace(c, "\\s+", " "))

  /** DuckDB twin of [[normText]] over the SQL expression `c`. */
  def normTextSql(c: String): String = s"trim(regexp_replace($c, '\\s+', ' ', 'g'))"

  // ---- X19: a document's words (step3_attempt1.py:250-254) ----
  /** The pieces of [[normText]] split on the space: the one word list of
    * every tokenizing query, shingle and class-token rank. A blank string
    * yields one empty word, as `split("", " ")` does. The native passes in
    * `graft.plans.SketchUtil` tokenize to the same words. */
  def words(c: Column): Column = split(normText(c), " ")

  /** DuckDB twin of [[words]] over the column `text`:
    * `string_split(trim(regexp_replace(text, …)), ' ')`. RE2, the oracle's
    * regex engine, omits vertical tab 0x0B from `\s`, where Java's regex
    * (the Spark side and the native tokenizer) includes it; the parquet
    * testdata the oracle gate reads contains no 0x0B. */
  val wordsSql: String = s"string_split(${normTextSql("text")}, ' ')"

  // ---- X2: URL -> lowercased host sans leading www (step3_attempt1.py:43-57)
  /** Regex variant — identical semantics in DuckDB for the oracle. */
  def urlDomain(c: Column): Column =
    regexp_replace(lower(regexp_extract(c, "https?://([^/?#]+)", 1)), "^www\\.", "")

  // ---- X3/X4: year extraction (founded_year.py:79-91) ----
  def extractYears(c: Column): Column =
    transform(regexp_extract_all(c, lit(YearRe), lit(1)), y => y.cast("int"))
  def firstYear(c: Column): Column = {
    val y = regexp_extract(c, YearRe, 1)
    when(y =!= "", y.cast("int"))
  }

  // ---- F5/F6 + X3 + F7 composed: gated year extraction
  // (check_Anchors, founded_year.py:87-95) ----
  def anchorGatedYears(c: Column, curYear: Int = PinnedCurrentYear): Column =
    when(c.rlike(AnchorRe) && !c.rlike(AddressRe) && !c.rlike(DateRe),
      filter(extractYears(c), y => y.between(1800, curYear)))
      .otherwise(array().cast("array<int>"))

  // ---- F7: year range (founded_year.py:83,91) ----
  def yearInRange(y: Column, curYear: Int = PinnedCurrentYear): Column =
    y.between(1800, curYear)

  // ---- X12: @type normalization with whitelist preference
  // (step3_attempt1.py:211-214) ----
  def preferWhitelisted(types: Column): Column = {
    val wl = filter(types, t => t.isin(TypeWhitelist: _*))
    coalesce(get(wl, lit(0)), get(types, lit(0)))
  }

  // ---- F8: whitelist/blacklist set-overlap (step3_attempt1.py:156-173) ----
  def typeAllowed(types: Column): Column = {
    val bl = arrays_overlap(types, lit(TypeBlacklist.toArray))
    val wl = arrays_overlap(types, lit(TypeWhitelist.toArray))
    wl || !bl
  }
  def typeWhitelisted(types: Column): Column =
    arrays_overlap(types, lit(TypeWhitelist.toArray))

  // ---- X13/J3: fuzzy name match (step3_attempt1.py:277-287) ----
  /** Normalized case-insensitive equality OR >=3-char substring containment
    * in either direction (the 3-char guard applies to the contained side —
    * step3_attempt1.py:287). */
  def nameMatches(a: Column, b: Column): Column = {
    val aa = lower(normText(a))
    val bb = lower(normText(b))
    (aa === bb) ||
      (bb.contains(aa) && length(aa) >= 3) ||
      (aa.contains(bb) && length(bb) >= 3)
  }

  // ---- X22: per-card name-hint extraction (step3_attempt1.py:266-272) ----
  /** Element text: strip tags, join with spaces, normalize — the
    * `get_text(" ")` + `_norm` composition. */
  private def tagText(inner: Column): Column =
    normText(regexp_replace(inner, "<[^>]+>", " "))

  private def nonEmpty(c: Column): Column = when(length(c) > 0, c)

  /** Attribute-value regex fragment accepting `"v"`, `'v'`, or unquoted —
    * the quote-style-agnostic reading BeautifulSoup gives the reference
    * (same rationale as the scanner's class extraction, ADVICE r5; a
    * double-quote-only regex silently drops single-quoted/unquoted
    * values). Group 1 captures the raw token INCLUDING its quotes;
    * [[stripQuotes]] removes them — one alternation regex keeps "first
    * occurrence in document order" semantics across quote styles. The
    * required leading whitespace excludes `data-href`-style prefixed
    * attribute names. */
  private def attrRe(attr: String): String =
    s"""\\s$attr\\s*=\\s*("[^"]*"|'[^']*'|[^\\s>"']+)"""
  private def stripQuotes(c: Column): Column =
    regexp_replace(c, """^["']|["']$""", "")

  /** First anchor href / first img src in a card element (the reference's
    * `el.find("a", href=True)` / `el.find("img", src=True)` signals). */
  def firstHref(el: Column): Column =
    stripQuotes(regexp_extract(el, "(?is)<a\\b[^>]*" + attrRe("href"), 1))
  def firstImgSrc(el: Column): Column =
    stripQuotes(regexp_extract(el, "(?is)<img\\b[^>]*" + attrRe("src"), 1))
  /** First img alt (X22 + attempt2 signal). */
  def firstImgAlt(el: Column): Column =
    stripQuotes(regexp_extract(el, "(?is)<img\\b[^>]*" + attrRe("alt"), 1))

  /** Name hint: first NON-EMPTY (after normalization) of the reference's
    * selector chain ["[aria-label]","img[alt]","h1","h2","h3","h4",".title",
    * ".name","strong"] — each regex takes the first occurrence in the card
    * element, like `select_one`. Weak-confidence by design (the reference
    * note: alts/headings may not be the portCo name); feeds the X14
    * nameMatch term. */
  def nameHint(el: Column): Column = {
    // .title/.name matching stays double-quote-only: the word-inside-value
    // alternation with a closing-tag backreference isn't worth the regex
    // complexity for this below-headings fallback, and the authoritative
    // class value rides the scanner's quote-agnostic extraction already
    def byClass(word: String) = regexp_extract(el,
      s"""(?is)<(\\w+)[^>]*\\bclass\\s*=\\s*"[^"]*\\b$word\\b[^"]*"[^>]*>(.*?)</\\1>""", 2)
    def heading(h: Int) = regexp_extract(el, s"(?is)<h$h\\b[^>]*>(.*?)</h$h>", 1)
    coalesce(
      nonEmpty(normText(stripQuotes(regexp_extract(el, "(?is)" + attrRe("aria-label"), 1)))),
      nonEmpty(normText(firstImgAlt(el))),
      nonEmpty(tagText(heading(1))), nonEmpty(tagText(heading(2))),
      nonEmpty(tagText(heading(3))), nonEmpty(tagText(heading(4))),
      nonEmpty(tagText(byClass("title"))), nonEmpty(tagText(byClass("name"))),
      nonEmpty(tagText(regexp_extract(el, "(?is)<strong\\b[^>]*>(.*?)</strong>", 1))))
  }

  // ---- X14: entity<->card match score (step3_attempt1.py:289-304) ----
  /** typeWL + urlDomainEq + logoDomainHit + nameMatch + insideCard, each
    * weighted from the [[Rubric]] config module; fixed left-to-right double
    * addition so Spark and any oracle evaluate bit-identically. */
  def matchScore(typeWl: Column, urlDomEq: Column, logoDomHit: Column,
                 nameMatch: Column, inside: Column): Column =
    when(typeWl, Rubric.TypeWhitelistWeight).otherwise(0.0) +
      when(urlDomEq, Rubric.UrlDomainWeight).otherwise(0.0) +
      when(logoDomHit, Rubric.LogoDomainWeight).otherwise(0.0) +
      when(nameMatch, Rubric.NameMatchWeight).otherwise(0.0) +
      when(inside, Rubric.InsideCardWeight).otherwise(0.0)

  // ---- X15: uploads-path name extraction (step3_attempt3.py:32-68 spec) ----
  def srcPathName(src: Column): Column =
    regexp_replace(
      regexp_extract(src, "/uploads/(?:[^/]*/)*([A-Za-z][A-Za-z-]*?)(?:-\\d|[_.])", 1),
      "-", " ")

  // ---- X16: href slug extraction (step3_attempt4.py:32-61 spec) ----
  def hrefSlug(href: Column): Column =
    regexp_extract(href, "(?i)(?:investments|portfolio|companies|company|funds)/([^/?#]+)", 1)

  // ---- X20: has-all-words rank match (step2_attempt1.py:44-52,69-77) ----
  /** True iff every word in `words` is a substring of some token. */
  def hasAllWords(tokens: Column, words: Seq[String]): Column =
    words.map(w => exists(tokens, t => t.contains(w))).reduce(_ && _)

  /** Rank A/B/C per step2_attempt1.py RANK_SETS (sourced from the
    * [[Rubric]] config module), else null. */
  def classRank(tokens: Column): Column = {
    def anyOf(sets: Seq[Seq[String]]) = sets.map(hasAllWords(tokens, _)).reduce(_ || _)
    when(anyOf(Rubric.RankSetsA), "A")
      .when(anyOf(Rubric.RankSetsB), "B")
      .when(anyOf(Rubric.RankSetsC), "C")
  }

  // ---- F11: class blacklist (step2_attempt1.py:55-58,66-67) ----
  def classBlacklisted(tokens: Column): Column =
    exists(tokens, t => t.rlike(ClassBlacklistRe))

  // ---- F12: bad content type by extension (helper_functions.py:91-94) ----
  def badContentUrl(url: Column): Column = url.rlike(BadContentTypeRe)

  // ---- X17: dynamic key lookup — value whose key matches a pattern
  // (founded_year.py:72-74 iterates keys containing "found") ----
  def foundedValue(m: Column, keyPattern: String = "(?i)found"): Column =
    get(map_values(map_filter(m, (k, _) => k.rlike(keyPattern))), lit(0))
}
