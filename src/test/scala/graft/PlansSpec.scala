package graft

import graft.operators.Similarity
import graft.plans.DotProductQ
import org.apache.spark.sql.functions._

/** Native expression layer: SQL registration, codegen/interpreted parity
  * with the declarative form, rewrite-rule firing, null semantics. */
class PlansSpec extends SparkSpec {

  test("graft_dot_q SQL function matches declarative aggregate(zip_with)") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L, 9L), Seq(2L, 11L, -3L))).toDF("a", "b")
    df.createOrReplaceTempView("dotq_t")
    val native = spark.sql("SELECT graft_dot_q(a, b) AS d FROM dotq_t").collect().map(_.getLong(0))
    val decl = df.select(Similarity.dotQ(col("a"), col("b")).as("d")).collect().map(_.getLong(0))
    assert(native.toSeq === Seq(32L, -41L))
    assert(decl.toSeq === native.toSeq)
  }

  test("graft_dot_f accumulates float products in double") {
    import spark.implicits._
    val df = Seq((Seq(1.5f, 2.0f), Seq(2.0f, -0.5f))).toDF("a", "b")
    df.createOrReplaceTempView("dotf_t")
    val d = spark.sql("SELECT graft_dot_f(a, b) AS d FROM dotf_t").collect().head.getDouble(0)
    assert(math.abs(d - 2.0) < 1e-12)
  }

  test("length mismatch returns null (zip_with pad semantics)") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L), Seq(1L, 2L, 3L))).toDF("a", "b")
    df.createOrReplaceTempView("dotq_mismatch")
    val r = spark.sql("SELECT graft_dot_q(a, b) AS d FROM dotq_mismatch").collect().head
    assert(r.isNullAt(0))
    val decl = df.select(Similarity.dotQ(col("a"), col("b")).as("d")).collect().head
    assert(decl.isNullAt(0))
  }

  test("null elements yield null, matching the declarative fold") {
    import spark.implicits._
    val df = Seq(
      (Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](4L, 5L, 6L)),
      (Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](3L, 4L))).toDF("a", "b")
    df.createOrReplaceTempView("dotq_nulls")
    val native = spark.sql("SELECT graft_dot_q(a, b) AS d FROM dotq_nulls").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val decl = df.select(Similarity.dotQ(col("a"), col("b")).as("d")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(native.toSeq === Seq(None, Some(11L)))
    assert(decl.toSeq === native.toSeq)
  }

  test("RewriteDotProduct rewrites the declarative long form to DotProductQ") {
    // Must be a non-local source: over literal rows the optimizer constant-
    // folds the whole projection into a LocalRelation before we could look.
    val df = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), Similarity.qvec(col("embedding")).as("q"))
      .select(Similarity.dotQ(col("q"), col("q")).as("d"))
    val optimized = df.queryExecution.optimizedPlan
    val hasNative = optimized.expressions.exists(e =>
      e.collectFirst { case d: DotProductQ => d }.isDefined)
    assert(hasNative, s"expected DotProductQ in optimized plan:\n$optimized")
    assert(df.limit(5).collect().forall(r => r.getLong(0) > 0L))
  }

  test("rewrite preserves results on real embedding vectors (quantized path)") {
    val emb = Tables.embeddings(spark, sf0001).limit(50)
      .select(col("vec_id"), Similarity.qvec(col("embedding")).as("q"))
    val a = emb.select(col("vec_id").as("ida"), col("q").as("qa"))
    val b = emb.select(col("vec_id").as("idb"), col("q").as("qb"))
    // total order before the limit: the two executions below are separate
    // jobs, and an unordered limit is free to pick different rows per run
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
      .orderBy("ida", "idb").limit(500)
    val viaRule = pairs.select(Similarity.dotQ(col("qa"), col("qb")).as("d"))
      .agg(sum("d")).collect().head.getLong(0)
    // interpreted reference: collect and fold on the driver
    val rows = pairs.select(col("qa"), col("qb")).collect()
    val expected = rows.map { r =>
      val x = r.getSeq[Long](0); val y = r.getSeq[Long](1)
      x.zip(y).map { case (u, v) => u * v }.sum
    }.sum
    assert(viaRule === expected)
  }

  test("graft_json_long: flat-payload field probe semantics") {
    import spark.implicits._
    val df = Seq(
      """{"k": 87}""", """{"k":-5}""", """{"j": 1, "k": 42}""",
      """{"kk": 9}""", """{"k": 1.5}""", """{"k": "text"}""",
      """{"j": 2}""", "not json at all",
      """{"k": "12"}""",                     // quoted integer: accepted (= get_json_object+CAST)
      """{"k": "12x"}""",                    // quoted non-integer: null
      """{"k": 99999999999999999999}""",     // > Long.MaxValue: null, not a wrap
      """{"k": 9223372036854775807}""",
      """{"k": " 12 "}""",                   // CAST trims whitespace in quotes
      """{"k": "+12"}""",                    // CAST accepts a leading '+'
      """{"k": "+ 12"}""") .toDF("props")    // but not an inner space: null
    df.createOrReplaceTempView("jl_t")
    val got = spark.sql("SELECT graft_json_long(props, 'k') FROM jl_t").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq === Seq(Some(87L), Some(-5L), Some(42L), None, None, None, None, None,
      Some(12L), None, None, Some(Long.MaxValue), Some(12L), Some(12L), None))
    // Column-API path (no extension needed) agrees
    val viaCol = df.select(graft.plans.jsonLong(col("props"), "k")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(viaCol.toSeq === got.toSeq)
    // and the documented equivalence holds: get_json_object + try_cast
    // (ANSI mode: plain CAST throws on malformed input)
    val viaGjo = df.select(
      expr("try_cast(get_json_object(props, '$.k') AS long)")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(viaGjo.toSeq === got.toSeq)
  }

  test("graft_html_class_elements: tag-balance scan finds nested/void/raw-text classed elements") {
    import spark.implicits._
    val html =
      """<!DOCTYPE html><!-- <div class="ghost"> -->
        |<div class="outer grid"><div class="card"><div class="thumb"><img class="logo" src="x.png"></div><h3>Name</h3></div></div>
        |<script class="ld">var s = "<div class=\"fake\">";</script>
        |<span class="open">never closed""".stripMargin
    val rows = Seq(html).toDF("h")
      .select(graft.plans.htmlClassElements(col("h"))).collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    val els = rows.map(_.getString(0))
    // document order; commented-out "ghost" and the fake div inside the
    // script's raw text are NOT elements
    assert(els.length == 6, els.mkString("\n---\n"))
    assert(els(0).startsWith("<div class=\"outer grid\">") && els(0).endsWith("</div></div>"))
    assert(els(1).startsWith("<div class=\"card\">") && els(1).contains("<h3>Name</h3>")
      && !els(1).endsWith("</div></div>"))
    assert(els(2) == "<div class=\"thumb\"><img class=\"logo\" src=\"x.png\"></div>")
    assert(els(3) == "<img class=\"logo\" src=\"x.png\">")
    assert(els(4).startsWith("<script class=\"ld\">") && els(4).endsWith("</script>"))
    assert(els(5) == "<span class=\"open\">never closed")
    // the scanner extracts the class VALUE itself
    assert(rows.map(_.getString(1)) ==
      Seq("outer grid", "card", "thumb", "logo", "ld", "open"))
  }

  test("graft_html_class_elements: lxml-style recovery on unclosed children") {
    import spark.implicits._
    // <p> left open when the parent div closes: the child must end where the
    // parent's close tag begins, the parent keeps its full extent
    val html = """<div class="a"><p class="b">text</div><i class="c">t</i>"""
    val els = Seq(html).toDF("h")
      .select(graft.plans.htmlClassElements(col("h"))).collect().head
      .getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    assert(els.length == 3, els.mkString("\n---\n"))
    assert(els(0) == """<div class="a"><p class="b">text</div>""")
    assert(els(1) == """<p class="b">text""")
    assert(els(2) == """<i class="c">t</i>""")
    // attribute-name matching is case-insensitive, like an HTML parser's,
    // and " class =" inside a quoted attribute VALUE is not an attribute
    val up = Seq(
      """<div CLASS="x">u</div><span data-class="no">v</span>""" +
        """<p title="my class = y">w</p>""").toDF("h")
      .select(graft.plans.htmlClassElements(col("h"))).collect().head
      .getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    assert(up == Seq("""<div CLASS="x">u</div>"""))
  }

  test("graft_html_class_elements: class VALUE extraction is quote-style agnostic") {
    import spark.implicits._
    // the reference's soup.get("class") reads single-quoted and unquoted
    // attributes identically to double-quoted ones (ADVICE r5: a firm whose
    // site writes class='portfolio card' must not lose its cards)
    val html =
      """<div class='portfolio card'>sq</div>""" +
        """<div class=investment-item>uq</div>""" +
        """<div class = "spaced eq">dq</div>""" +
        """<section class="">empty</section>"""
    val rows = Seq(html).toDF("h")
      .select(graft.plans.htmlClassElements(col("h"))).collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(rows.map(_.getString(1)) ==
      Seq("portfolio card", "investment-item", "spaced eq", ""))
    // ADVICE r6 pathological markup: a stray quote char ends the unquoted
    // token, and '/' stays IN the value — both exactly the regex twins'
    // [^\s>"']+ behavior (and HTML5's attribute-value-unquoted state, which
    // keeps '/': <img class=thumb/> has class "thumb/")
    val patho =
      """<img class=thumb/>""" +
        """<img class=a"b" />""" +
        """<div class=x/y>slash-inside</div>"""
    val prows = Seq(patho).toDF("h")
      .select(graft.plans.htmlClassElements(col("h"))).collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(prows.map(_.getString(1)) == Seq("thumb/", "a", "x/y"))
    // byte-for-byte agreement with the declarative twin token on the same
    // pathological tags
    val twinTok = """class\s*=\s*[\"']?([^\s>\"']+)""".r
    val twinVals = twinTok.findAllMatchIn(patho).map(_.group(1)).toSeq
    assert(twinVals == Seq("thumb/", "a", "x/y"))
  }

  test("graft_html_page_scan: one walk yields the element structs AND the ld+json bodies") {
    import spark.implicits._
    val html =
      """<div class="portfolio card">x</div>
        |<script type="application/ld+json">{"@type":"Organization","name":"A"}</script>
        |<script>var fake = "<script type=x></script>";</script>
        |<SCRIPT TYPE='application/LD+JSON'>[1,2]</SCRIPT>
        |<script type="application/ld+json">{"unclosed":true}""".stripMargin
    val row = Seq(html).toDF("h")
      .select(graft.plans.htmlPageScan(col("h")).as("ps"))
      .select(col("ps.els"), col("ps.scripts")).collect().head
    val els = row.getSeq[org.apache.spark.sql.Row](0)
    assert(els.map(_.getString(1)) == Seq("portfolio card"))
    // ld+json bodies only, case-insensitive, unclosed script dropped —
    // exactly what the declarative regexp_extract_all twin returns
    val scripts = row.getSeq[String](1)
    assert(scripts == Seq("""{"@type":"Organization","name":"A"}""", "[1,2]"))
    val viaRegex = Seq(html).toDF("h")
      .select(graft.operators.PortCoPipeline.ldJsonScripts(col("h"))).collect()
      .head.getSeq[String](0)
    assert(scripts == viaRegex)
  }

  test("graft_html_page_scan: parser-correct where the regex twin misreads (documented divergences)") {
    import spark.implicits._
    def scriptsOf(html: String): Seq[String] =
      Seq(html).toDF("h").select(graft.plans.htmlPageScan(col("h")).as("ps"))
        .select(col("ps.scripts")).collect().head.getSeq[String](0)
    // a quoted '>' inside the opening tag: the regex's [^>]* stops at it
    // and misses the script; the quote-aware scanner collects it
    assert(scriptsOf(
      """<script data-x="a>b" type="application/ld+json">{"x":1}</script>""") ==
      Seq("""{"x":1}"""))
    // a self-closed ld+json script is bodyless here; the regex would
    // swallow the FOLLOWING plain script's body as the ld+json payload
    assert(scriptsOf(
      """<script type="application/ld+json"/><script>var x = 1</script>""") ==
      Seq.empty)
    // close tag with trailing junk is accepted (lxml-style recovery)
    assert(scriptsOf(
      """<script type="application/ld+json">{"y":2}</script foo>""") ==
      Seq("""{"y":2}"""))
    // a close tag TRUNCATED at EOF is not a close: nothing collected,
    // exactly like the regex twin (the documented unclosed-at-EOF contract)
    assert(scriptsOf(
      """<script type="application/ld+json">{"z":3}</script""") == Seq.empty)
    assert(scriptsOf(
      """<script type="application/ld+json">{"w":4}</script  """) == Seq.empty)
  }

  test("graft_json_key_long: first-matching-key probe semantics + declarative twin") {
    import spark.implicits._
    val df = Seq(
      """{"k": 87}""", """{"founded": 1999}""",
      """{"a": 1, "xkx": 42}""",              // contains-match, not equality
      """{"K_up": 7}""",                      // case-insensitive key match
      """{"a": "s", "b": [1,2], "kq": 3}""",  // skips string + array values...
      """{"c": {"k": 9}, "kz": 4}""",         // ...and nested objects (their "k" is not top-level)
      """{"j": 2}""", "not json at all",
      """{"k1": 1, "k2": 2}""",               // several int matches: FIRST wins
      """{"k": "12"}""",                      // matching key, quoted value: null
      """{"k": 1.5}""",                       // matching key, float value: null
      """{"kx": "str", "ky": 9}""",           // non-int match does NOT end the scan
      """{"founders": "Jane", "founded": 1990}""") // the reference loop's shape
      .toDF("props")
    df.createOrReplaceTempView("jkl_t")
    val got = spark.sql("SELECT graft_json_key_long(props, 'k') FROM jkl_t").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq === Seq(Some(87L), None, Some(42L), Some(7L), Some(3L),
      Some(4L), None, None, Some(1L), None, None, Some(9L), None))
    val viaCol = df.select(graft.plans.jsonKeyLong(col("props"), "k")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(viaCol.toSeq === got.toSeq)
    // "found" needle — the reference's actual use: founded_year.py:72-74
    // visits EVERY key, so the string-valued "founders" match must not
    // swallow the integer "founded" that follows it (ADVICE r5)
    val f = df.select(graft.plans.jsonKeyLong(col("props"), "found")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(f.toSeq === Seq(None, Some(1999L), None, None, None, None, None,
      None, None, None, None, None, Some(1990L)))
  }

  test("graft_json_key_long equals the from_json declarative twin on valid flat maps") {
    import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
    // events fixture: every props row is a valid flat integer object, so the
    // two forms must agree row-for-row
    val n = Tables.events(spark, sf0001).select(
      graft.plans.jsonKeyLong(col("props"), "k").cast("int").as("a"),
      graft.functions.Exprs.foundedValue(
        from_json(col("props"), MapType(StringType, IntegerType)), "(?i)k").as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(n === 0)
    // generated valid flat maps: multiple keys, negative values, no-match rows
    import spark.implicits._
    val gen = (0 until 200).map { i =>
      s"""{"a$i": ${i - 100}, "${if (i % 3 == 0) "key" else "zz"}$i": ${i * 7 - 400}, "b": $i}"""
    }.toDF("props")
    val m = gen.select(
      graft.plans.jsonKeyLong(col("props"), "k").cast("int").as("a"),
      graft.functions.Exprs.foundedValue(
        from_json(col("props"), MapType(StringType, IntegerType)), "(?i)k").as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(m === 0)
  }

  test("graft_json_long matches get_json_object on the events table") {
    val n = Tables.events(spark, sf0001).select(
      graft.plans.jsonLong(col("props"), "k").as("a"),
      get_json_object(col("props"), "$.k").cast("long").as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(n === 0)
  }

  test("DotProductF is registered and matches dotD on embeddings") {
    val emb = Tables.embeddings(spark, sf0001).limit(20)
    val a = emb.select(col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("idb"), col("embedding").as("eb"))
    val pairs = a.crossJoin(b).filter(col("ida") < col("idb"))
    val native = pairs.select(expr("graft_dot_f(ea, eb)").as("d"))
    val decl = pairs.select(Similarity.dotD(col("ea"), col("eb")).as("d"))
    val n = native.select(sum("d")).collect().head.getDouble(0)
    val dcl = decl.select(sum("d")).collect().head.getDouble(0)
    assert(math.abs(n - dcl) < 1e-6, s"native=$n declarative=$dcl")
  }

  test("graft_word_counts matches explode+groupBy twin incl. blank/multi-space/null docs") {
    import graft.functions.Exprs.normText
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat  sat on the   mat"),
      (2L, "  leading and trailing  "),
      (3L, ""),          // split("") -> [""]: one empty token
      (4L, " \t\n "),    // all-whitespace: same as blank after trim
      (5L, "solo"),
      (6L, null.asInstanceOf[String]), // null text drops the doc entirely
      (7L, "a a a b b")) // U+00A0 is NOT \s: "b b" is one token
      .toDF("doc_id", "text")
    val native = docs
      .select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
      .orderBy("doc_id", "w")
    val twin = {
      val tf = docs
        .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      tf.join(dl, "doc_id").select("doc_id", "w", "tf", "dl").orderBy("doc_id", "w")
    }
    assert(native.columns.toSeq === Seq("doc_id", "w", "tf", "dl"))
    assert(native.collect().toSeq === twin.collect().toSeq)
    // doc 1: "the" twice, dl 6; doc 7 keeps the NBSP token intact
    val m = native.collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(m((1L, "the")) === ((2L, 6L)))
    assert(m((3L, "")) === ((1L, 1L)))
    assert(m((7L, "b b")) === ((1L, 4L)))
    assert(!m.keySet.exists(_._1 == 6L))
  }

  test("graft_winnow equals the declarative fold on testdata + edge docs") {
    import graft.operators.{Dedup, TextAnalysis}
    import spark.implicits._
    val edge = Seq(
      (9001L, ""),                                  // no words
      (9002L, "one two three four five"),           // 5 words: 3 grams, no full window
      (9003L, "one two three four five six"),       // exactly one full window
      (9004L, "a a a a a a a a a a"),               // all-equal grams: one selection
      (9005L, null.asInstanceOf[String]),           // null text drops the doc
      (9006L, "  spaced \t out\n tokens  here by seven words  total "))
      .toDF("doc_id", "text")
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text").union(edge)
    def sels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val native = sels(docs.select(col("doc_id"),
      explode(graft.plans.winnowSelect(col("text"),
        Dedup.Coef.take(Dedup.WordHashWidth), Dedup.K2, Dedup.K3,
        Dedup.P, 1048576L)).as("mv")))
    val decl = sels(TextAnalysis.winnowSelsDecl(docs))
    assert(native === decl)
    assert(native.exists(_._1 == 9003L) && !native.exists(_._1 == 9002L))
    // all-equal grams: each window's rightmost min differs by position, but
    // consecutive-dup suppression still emits one selection per new min
    assert(native.count(_._1 == 9004L) >= 1)
  }

  test("graft_mg_topk: heavy items survive any partitioning; slots bounded by k") {
    import spark.implicits._
    val k = 8
    // skewed weighted stream: items 1..3 heavy (>= W/(k+1) each), long tail
    val rows = (Seq.fill(400)((1L, 5L)) ++ Seq.fill(300)((2L, 5L)) ++
      Seq.fill(250)((3L, 5L)) ++ (1 to 2000).map(i => (100L + i % 700, 1L)))
    val w = rows.map(_._2).sum
    for (parts <- Seq(1, 7, 32)) {
      val df = spark.sparkContext.parallelize(rows, parts).toDF("item", "wt")
      val cand = df.agg(graft.plans.mgTopK(col("item"), col("wt"), k).as("c"))
        .collect().head.getSeq[Long](0)
      assert(cand.length <= k, s"parts=$parts: more than k slots")
      for (heavy <- Seq(1L, 2L, 3L)) {
        val hw = rows.filter(_._1 == heavy).map(_._2).sum
        assert(hw * (k + 1) > w, "test construction: item must be guaranteed-heavy")
        assert(cand.contains(heavy), s"parts=$parts: guaranteed item $heavy missing")
      }
      assert(cand === cand.sorted)
    }
    // zero/negative weights and null items are ignored, empty input -> empty array
    val edge = Seq((Some(1L), 0L), (Some(2L), -5L), (None, 9L))
      .toDF("item", "wt")
    val ec = edge.agg(graft.plans.mgTopK(col("item"), col("wt"), k).as("c"))
      .collect().head.getSeq[Long](0)
    assert(ec.isEmpty)
  }

  test("the round's natives are SQL-callable via the extensions") {
    import spark.implicits._
    Seq((1L, "alpha beta gamma delta epsilon zeta eta"))
      .toDF("doc_id", "text").createOrReplaceTempView("winnow_docs")
    val sels = spark.sql(
      "SELECT size(graft_winnow(text)) AS n FROM winnow_docs")
      .collect().head.getInt(0)
    assert(sels >= 1) // 7 words -> 5 grams -> 2 full windows
    Seq((1L, 5L), (1L, 5L), (2L, 1L)).toDF("item", "wt")
      .createOrReplaceTempView("mg_rows")
    val cand = spark.sql("SELECT graft_mg_topk(item, wt, 4) AS c FROM mg_rows")
      .collect().head.getSeq[Long](0)
    assert(cand.contains(1L))
    Seq((1L, 9L, 100L), (1L, 3L, 101L), (1L, 7L, 102L)).toDF("k", "v", "id")
      .createOrReplaceTempView("tk_rows")
    val top = spark.sql(
      "SELECT graft_top_k(struct(v, id), 2) AS t FROM tk_rows GROUP BY k")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getLong(0)) === Seq(9L, 7L))
  }

  test("graft_top_k equals the sort reference under any partitioning; groups smaller than k") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // few keys, many ties on the rank field — the unique id must decide
    val rows = (1 to 3000).map(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(20).toLong, i.toLong)) ++
      Seq((99L, 5L, 9001L), (98L, 1L, 9002L), (98L, 2L, 9003L)) // tiny groups
    val want = rows.groupBy(_._1).flatMap { case (key, g) =>
      g.sortBy(t => (-t._2, -t._3)).take(4).zipWithIndex
        .map { case ((_, v, id), i) => (key, i + 1, v, id) }
    }.toSet
    for (parts <- Seq(1, 5, 32)) {
      val got = spark.sparkContext.parallelize(rows, parts).toDF("key", "v", "id")
        .groupBy("key")
        .agg(graft.plans.topK(struct(col("v"), col("id")), 4).as("top"))
        .select(col("key"), posexplode(col("top")))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1) + 1,
          r.getStruct(2).getLong(0), r.getStruct(2).getLong(1))).toSet
      assert(got === want, s"parts=$parts")
    }
  }

  test("graft_scrub_words equals the declarative filter/array_contains twin") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (1 to 60).map { i =>
      val n = rnd.nextInt(30)
      val ws = Seq.tabulate(n)(j => s"w${j}_$i")
      // covered positions: random subset incl. out-of-range values (the
      // expression must ignore positions past the word count, like
      // array_contains does), unsorted on purpose
      val cps = Seq.fill(rnd.nextInt(n + 3))(1 + rnd.nextInt(n + 4)).distinct
      (i.toLong, ws, cps)
    } ++ Seq(
      (1001L, Seq.empty[String], Seq.empty[Int]),          // empty doc
      (1002L, Seq("a", "b", "c"), Seq.empty[Int]),          // nothing covered
      (1003L, Seq("a", "b", "c"), Seq(1, 2, 3)),            // fully covered
      (1004L, Seq("a"), Seq(2, 5)))                         // all out of range
    val df = rows.toDF("doc_id", "ws", "cps").cache()
    val native = df.select(col("doc_id"),
        graft.plans.scrubWords(col("ws"), array_sort(col("cps"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val decl = df.select(col("doc_id"),
        expr("concat_ws(' ', filter(ws, (w, i) -> NOT array_contains(cps, i + 1)))").as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(native == decl)
    assert(native(1001L) == "" && native(1003L) == "" && native(1004L) == "a")
    df.unpersist()
  }

  test("graft_scrub_words is linear, not quadratic, in covered positions (smoke)") {
    // the VERDICT r15 watch item: a 10k-word fully-duplicated document.
    // This is a correctness smoke at that shape (timing belongs to
    // graft.Bench and perfbench); here we pin the result on a long doc.
    import spark.implicits._
    val n = 10000
    val ws = Seq.tabulate(n)(j => s"t$j")
    val cps = (1 to n).filter(_ % 5 != 0) // 80% covered
    val out = Seq((1L, ws, cps)).toDF("doc_id", "ws", "cps")
      .select(graft.plans.scrubWords(col("ws"), array_sort(col("cps"))).as("s"))
      .collect().head.getString(0)
    val expected = ws.zipWithIndex.collect {
      case (w, i) if (i + 1) % 5 == 0 => w
    }.mkString(" ")
    assert(out == expected)
  }

  test("graft_nearest_cells equals the declarative centDists chain, ties included") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val dim = 16
    def vec(): Array[Long] = Array.fill(dim)(rnd.nextInt(400000000).toLong - 200000000L)
    for (kc <- Seq(3, 8, 64)) {
      // id-sorted book (the invariant every trained/serialized book holds),
      // with a DUPLICATE centroid planted so distance ties actually occur:
      // first-position (= lowest id) must win, matching both
      // array_position-of-min and the oracle's ORDER BY d2, cell
      val base = Seq.tabulate(kc)(i => (i * 3 + 1, vec()))
      val cents = base.updated(kc - 1, (base.last._1, base(0)._2.clone()))
      val rows = (0L until 40L).map { i =>
        (i, if (i % 7 == 0) cents(rnd.nextInt(kc))._2.toSeq else vec().toSeq)
      }
      val df = rows.toDF("vec_id", "q").cache()
      val ids = cents.map(_._1).toArray
      val dists = graft.operators.Similarity.centDists(
        col("q"), graft.plans.dotQNative(col("q"), col("q")), cents)
      val declArgmin = df.select(col("vec_id"),
          element_at(lit(ids),
            array_position(array(dists: _*),
              array_min(array(dists: _*))).cast("int")).as("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val nativeArgmin = df.select(col("vec_id"),
          element_at(graft.plans.nearestCells(col("q"), cents, 1), 1).as("cell"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(nativeArgmin == declArgmin, s"kc=$kc argmin diverged")
      // top-3 vs the declarative sorted-struct slice ((d2, cell) order)
      val structs = dists.zip(cents.map(_._1)).map { case (d2, id) =>
        struct(d2.as("d2"), lit(id).as("cell")) }
      val declTop = df.select(col("vec_id"),
          slice(array_sort(array(structs: _*)), 1, 3).as("pcs"))
        .select(col("vec_id"), col("pcs.cell").as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      val nativeTop = df.select(col("vec_id"),
          graft.plans.nearestCells(col("q"), cents, 3).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      assert(nativeTop == declTop, s"kc=$kc top-3 diverged")
      df.unpersist()
    }
  }
}
