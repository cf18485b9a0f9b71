package graft

import graft.functions.Exprs._
import graft.operators.FoundedYear
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generated inputs, evaluated in one Spark batch per property
  * (SURVEY.md §5: property tests for consensus invariants, name-match
  * symmetry, norm idempotence). */
class GeneratedPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // Every char Java's `\s` collapses, plus chars it keeps inside a word:
  // 0x1C (Character.isWhitespace accepts it), non-breaking space, line
  // separator, and multibyte words (one outside the BMP).
  private val wsGen: Gen[String] = for {
    parts <- Gen.listOfN(6, Gen.oneOf("a", "bb", "c d", "", " ", "\t", "\n\n", "e  f",
      "\u000B", "\f", "\r\n", "g\u001Ch", "i\u00A0j", "k\u2028l", "über", "日本語",
      "x\uD83D\uDE00y"))
    sep <- Gen.oneOf(" ", "  ", "\t", "\n", "\u000B", "\f", "\r")
  } yield parts.mkString(sep)

  private val nameGen: Gen[String] = for {
    words <- Gen.choose(1, 3)
    w <- Gen.listOfN(words, Gen.oneOf("acme", "zen", "cap", "partners", "ab", "x"))
  } yield w.mkString(" ")

  test("Tables.tsUs: nanos-long and timestamp_ntz vintages agree on random post-epoch instants") {
    // the r9 regression class: a query hardcoding one vintage breaks when
    // the storage layer ships the other. Property: for any µs instant, a
    // column stored as raw nanos and one stored as TIMESTAMP_NTZ dispatch
    // to the SAME microsecond value (UTC-pinned session).
    val usGen: Gen[Long] = Gen.choose(0L, 4102444800000000L) // 1970..2100 in µs
    val us = sample(usGen, 200)
    val nanos = us.map(u => Tuple1(u * 1000L)).toDF("ts")
    val ntz = us.map(Tuple1(_)).toDF("us")
      .select(expr("cast(timestamp_micros(us) as timestamp_ntz)").as("ts"))
    val fromNanos = nanos.select(Tables.tsUs(nanos).as("v")).collect().map(_.getLong(0)).toSeq
    val fromNtz = ntz.select(Tables.tsUs(ntz).as("v")).collect().map(_.getLong(0)).toSeq
    assert(fromNanos === us, "nanos vintage must floor-divide to the exact µs")
    assert(fromNtz === us, "ntz vintage must unix_micros to the exact µs")
  }

  test("graft_html_class_elements equals the generator's own span ledger on random well-formed pages") {
    // Build random nested HTML while recording, for every class-attributed
    // element, its outer-HTML span as generated — then the scanner must
    // return exactly those substrings in document order. Covers nested
    // same-tag elements, void/self-closed tags, raw-text scripts containing
    // fake markup, comments, '>' inside quoted attributes, stray '<' in
    // text, and upper/lower-case tag and attribute names.
    def page(seed: Int): (String, Seq[(String, String)]) = {
      val rnd = new scala.util.Random(seed)
      val sb = new StringBuilder
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
      // random quote style: double, single, or (spaceless value) unquoted —
      // the scanner's attribute extraction must be quote-style agnostic
      def clsAttr(v: String): String = rnd.nextInt(3) match {
        case 0 => s"""class="$v""""
        case 1 => s"class='$v'"
        case _ => s"class=${v.replace(" ", "-")}"
      }
      def clsValOf(attr: String): String =
        attr.replaceAll("(?i)^class=", "").replaceAll("""^["']|["']$""", "")
      def node(depth: Int): Unit = rnd.nextInt(7) match {
        case 0 => sb.append(s"t${rnd.nextInt(100)} < ${rnd.nextInt(9)} ")
        case 1 => sb.append(s"""<!-- <div class="ghost${rnd.nextInt(9)}"> -->""")
        case 2 =>
          val cls = rnd.nextBoolean()
          val attr = clsAttr(s"logo c${rnd.nextInt(9)}")
          val start = sb.length
          sb.append(if (rnd.nextBoolean()) "<img" else "<IMG")
          if (cls) sb.append(" " + attr)
          sb.append(s""" src="x${rnd.nextInt(9)}.png"""")
          sb.append(if (rnd.nextBoolean()) "/>" else ">")
          if (cls) spans += ((start, sb.length, clsValOf(attr)))
        case 3 =>
          val cls = rnd.nextBoolean()
          val v = s"s${rnd.nextInt(9)}"
          val start = sb.length
          sb.append("<script")
          if (cls) sb.append(s""" CLASS="$v"""")
          sb.append(s""">var a = "<div class=\\"fake${rnd.nextInt(9)}\\">";</script>""")
          if (cls) spans += ((start, sb.length, v))
        case _ =>
          val tag = Seq("div", "span", "p", "section", "DIV")(rnd.nextInt(5))
          val cls = rnd.nextBoolean()
          val attr = clsAttr(s"c${rnd.nextInt(9)} item")
          val start = sb.length
          sb.append(s"<$tag")
          if (rnd.nextBoolean()) sb.append(s""" id="i${rnd.nextInt(99)}"""")
          if (cls) sb.append(s" ${if (rnd.nextBoolean()) attr else attr.capitalize}")
          if (rnd.nextBoolean()) sb.append(s""" data-x="a>b${rnd.nextInt(9)}"""")
          sb.append(">")
          if (depth < 3) (0 until rnd.nextInt(3)).foreach(_ => node(depth + 1))
          sb.append(s"</$tag>")
          if (cls) spans += ((start, sb.length, clsValOf(attr)))
      }
      (0 until 1 + rnd.nextInt(5)).foreach(_ => node(0))
      val html = sb.toString
      (html, spans.sortBy(_._1)
        .map { case (a, b, v) => (html.substring(a, b), v) }.toSeq)
    }
    val cases = (0 until 60).map(page)
    val got = cases.map(_._1).toDF("h")
      .select(graft.plans.htmlClassElements($"h")).collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getString(0), r.getString(1))))
    cases.zip(got).foreach { case ((html, expected), actual) =>
      assert(actual == expected, s"scanner mismatch on:\n$html")
    }
  }

  test("fused page scan equals element scan + ld+json regex twin on generated pages") {
    def page(seed: Int): String = {
      val rnd = new scala.util.Random(1000 + seed)
      val sb = new StringBuilder
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => sb.append(s"""<div class="c${rnd.nextInt(5)} item">t${rnd.nextInt(99)}</div>""")
          case 1 => sb.append(
            s"""<script type="application/ld+json">{"@type":"Organization","name":"N${rnd.nextInt(99)}"}</script>""")
          case 2 => sb.append(s"""<script TYPE='application/LD+JSON' class="ld"> [${rnd.nextInt(9)}] </script>""")
          case 3 => sb.append(s"""<script>var a = "<div class=\\"fake${rnd.nextInt(9)}\\">";</script>""")
          case 4 => sb.append(s"""<img class=logo-${rnd.nextInt(9)} src="x.png">""")
          case _ => sb.append(s"text ${rnd.nextInt(99)} < 5 ")
        }
      }
      sb.toString
    }
    val df = (0 until 80).map(page).toDF("h")
    val fused = df.select(graft.plans.htmlPageScan($"h").as("ps"))
      .select($"ps.els".as("els"), $"ps.scripts".as("scripts")).collect()
    val elsOnly = df.select(graft.plans.htmlClassElements($"h")).collect()
    val regexScripts = df.select(
      graft.operators.PortCoPipeline.ldJsonScripts($"h")).collect()
    fused.indices.foreach { i =>
      assert(fused(i).getSeq[org.apache.spark.sql.Row](0) ==
        elsOnly(i).getSeq[org.apache.spark.sql.Row](0),
        s"els mismatch on page $i")
      assert(fused(i).getSeq[String](1) == regexScripts(i).getSeq[String](0),
        s"scripts mismatch on page $i")
    }
  }

  test("normText idempotence over generated whitespace strings") {
    val df = sample(wsGen, 300).toDF("s")
    assert(df.filter(normText(normText($"s")) =!= normText($"s")).count() == 0)
  }

  test("nameMatches symmetry and reflexivity over generated names") {
    val names = sample(nameGen, 60)
    val pairs = (for (a <- names; b <- names) yield (a, b)).distinct.toDF("a", "b")
    assert(pairs.filter(nameMatches($"a", $"b") =!= nameMatches($"b", $"a")).count() == 0)
    val selfs = names.distinct.toDF("a")
    assert(selfs.filter(length(trim($"a")) > 0 && !nameMatches($"a", $"a")).count() == 0)
  }

  test("weighted vote winner always has google support plus another method") {
    val rowGen: Gen[(String, String, Int)] = for {
      site <- Gen.choose(1, 20).map(i => s"https://s$i")
      method <- Gen.oneOf("jsonld", "relevant", "homepage", "google")
      year <- Gen.choose(1900, 2020)
    } yield (site, method, year)
    val cand = sample(rowGen, 600).toDF("website", "method", "year").distinct()
    val winners = FoundedYear.weightedVote(cand).collect()
      .map(r => r.getString(0) -> r.getInt(1))
    val byKey = cand.collect().groupBy(r => (r.getString(0), r.getInt(2)))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    winners.foreach { case (site, y) =>
      val methods = byKey((site, y))
      assert(methods.contains("google") && methods.exists(_ != "google"),
        s"$site/$y won with methods $methods")
    }
  }

  test("native word-shingle pass equals the declarative pipeline on generated text") {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = sample(wsGen, 200).zipWithIndex
      .map { case (s, i) => (i.toLong, s + " alpha beta gamma " + s) }
      .toDF("doc_id", "text")
    def arrays[T](df: org.apache.spark.sql.DataFrame): Seq[Seq[T]] =
      df.orderBy("doc_id").collect().map(_.getSeq[T](1)).toSeq
    val native = arrays[Long](Dedup.docWidArrays(docs))
    assert(native === arrays[Long](Dedup.docWidArraysDecl(docs)))
    assert(arrays[String](docs.select($"doc_id", graft.plans.wordShingleStrings($"text"))) ===
      arrays[String](docs.select($"doc_id", Dedup.shinglesOf($"text"))))
    def sels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(sels(docs.select($"doc_id", explode(graft.plans.winnowSelect($"text",
      Dedup.Coef.take(Dedup.WordHashWidth), Dedup.K2, Dedup.K3, Dedup.P, 1048576L)))) ===
      sels(TextAnalysis.winnowSelsDecl(docs)))
    // the word/position alignment the scrub relies on: gram j of the
    // positional pass starts at word j+1 of `words`
    val pos = docs.select($"doc_id",
      graft.plans.wordShinglePos($"text", Dedup.Coef.take(Dedup.WordHashWidth),
        Dedup.K2, Dedup.K3, Dedup.P).as("wp"))
    assert(arrays[Long](pos.select($"doc_id", array_distinct($"wp"))) === native)
    assert(pos.join(docs, "doc_id")
      .filter(size($"wp") =!= greatest(size(words($"text")) - 2, lit(0))).count() == 0)
  }

  test("graft_word_counts equals the explode+groupBy twin over generated whitespace text") {
    // wsGen emits runs of mixed separators, empty parts, and blank strings —
    // the edges the byte-walk must match Java-\s split semantics on
    val docs = sample(wsGen, 300).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val native = docs
      .select(col("doc_id"), inline(graft.plans.wordCounts(col("text"))))
      .orderBy("doc_id", "w")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val twin = {
      val tf = docs
        .select(col("doc_id"), explode(words(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      tf.join(dl, "doc_id").select("doc_id", "w", "tf", "dl")
        .orderBy("doc_id", "w")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    }
    assert(native.toSeq === twin.toSeq)
  }

  test("graft_json_long equals get_json_object over generated flat payloads") {
    val payloadGen: Gen[String] = for {
      k <- Gen.choose(-1000000, 1000000)
      pad <- Gen.oneOf("", " ", "\t")
      extra <- Gen.oneOf("", "\"other\": 7, ", "\"kk\": 1, ")
      shape <- Gen.oneOf(0, 1, 2)
    } yield shape match {
      case 0 => s"""{$extra"k":$pad$k}"""
      case 1 => s"""{$extra"k": $k, "z": 2}"""
      case 2 => s"""{$extra"j": $k}""" // key absent
    }
    val df = sample(payloadGen, 400).toDF("props")
    val n = df.select(
      graft.plans.jsonLong(col("props"), "k").as("a"),
      get_json_object(col("props"), "$.k").cast("long").as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(n === 0)
  }

  test("fused dot product equals driver-side fold over generated vectors") {
    val vecGen: Gen[Seq[Long]] = Gen.listOfN(16, Gen.choose(-100000L, 100000L))
    val rows = sample(Gen.zip(vecGen, vecGen), 200).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(col("id"), graft.plans.dotQNative(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, a, b) =>
      assert(got(id) === a.zip(b).map { case (x, y) => x * y }.sum, s"id=$id")
    }
  }

  test("priority fallback always returns the min of the highest-priority non-empty method") {
    val rowGen: Gen[(String, String, Int)] = for {
      site <- Gen.choose(1, 25).map(i => s"https://p$i")
      method <- Gen.oneOf("jsonld", "relevant", "homepage", "google")
      year <- Gen.choose(1900, 2020)
    } yield (site, method, year)
    val cand = sample(rowGen, 400).toDF("website", "method", "year").distinct()
    val out = FoundedYear.priorityFallback(cand).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val rows = cand.collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val order = Seq("jsonld", "relevant", "homepage", "google")
    rows.groupBy(_._1).foreach { case (site, rs) =>
      val expected = order.iterator
        .map(m => rs.filter(_._2 == m).map(_._3))
        .find(_.nonEmpty).map(_.min)
      assert(expected.contains(out(site)), s"$site expected $expected got ${out.get(site)}")
    }
  }

  test("routed incremental ANN equals per-cell generic runs on random clustered vectors") {
    // routeCols semantics on arbitrary data, not just the fixture corpus:
    // routing the band join on a cell column must equal running the
    // UNROUTED incremental ANN independently inside each cell and
    // unioning — for any clustering, any batch split.
    import graft.operators.Similarity
    val rnd = new scala.util.Random(7)
    val rows = (0 until 120).map { i =>
      val cell = rnd.nextInt(4)
      val emb = Array.tabulate(64) { j =>
        (math.sin(cell * 17 + j * 3) + (rnd.nextDouble() - 0.5) * 0.3).toFloat
      }
      (i.toLong, cell, emb)
    }
    val df = rows.toDF("vec_id", "cell", "embedding")
    val routed = Similarity.lshAnnIncremental(
      Similarity.hyperBands(df.filter($"vec_id" % 4 =!= 0)),
      df.filter($"vec_id" % 4 === 0), k = 3, routeCols = Seq("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val perCell = (0 until 4).flatMap { c =>
      val sub = df.filter($"cell" === c).select("vec_id", "embedding")
      Similarity.lshAnnIncremental(
        Similarity.hyperBands(sub.filter($"vec_id" % 4 =!= 0)),
        sub.filter($"vec_id" % 4 === 0), k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.toSet
    assert(routed.nonEmpty)
    assert(routed === perCell)
  }

  test("stratified two-level rank equals the naive per-stratum window on adversarial strata") {
    import graft.operators.{Dedup, TextAnalysis}
    import org.apache.spark.sql.expressions.Window
    // strata deliberately include: empty pool members (never drawn),
    // singleton strata, one stratum holding almost everything, and doc_ids
    // spanning the full long range of the hash preimage
    val rnd = new scala.util.Random(11)
    val langs = Seq("en", "en", "en", "en", "zz", "s1", "s2")
    val docs = (0 until 500).map { i =>
      val id = if (i % 7 == 0) rnd.nextLong().abs % 1000000000000L else i.toLong * 13
      (id, langs(rnd.nextInt(langs.length)))
    }.distinct.toDF("doc_id", "lang")
    val quota = when($"lang" === "en", 30L).when($"lang" === "s1", 1L).otherwise(5L)
    val got = TextAnalysis.stratifiedSample(docs, quota)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val naive = docs
      .select($"doc_id", $"lang",
        Dedup.shingleIdChar(concat(lit("q"), $"doc_id".cast("string"))).as("hv"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy("hv", "doc_id")).cast("long"))
      .filter($"rk" <= quota)
      .select("doc_id", "lang", "rk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty && got === naive)
  }

  test("crossDocStats equals a brute-force shared-shingle count on random corpora") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(23)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    // docs of 0..12 words over a tiny vocabulary: heavy cross-doc shingle
    // sharing, many short docs below the 3-gram threshold (n_shingles = 0)
    val docs = (0L until 80L).map { i =>
      val n = rnd.nextInt(13)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val wid = Dedup.docWidArrays(docs)
    val got = Dedup.crossDocStats(wid)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // brute force over the engine's own wid arrays (the property targets
    // the dictionary/join/assembly logic, not the hash)
    val sets = wid.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(sets.values.exists(_.isEmpty) && sets.values.exists(_.nonEmpty))
    sets.foreach { case (id, s) =>
      val nDup = s.count(w => sets.exists { case (o, t) => o != id && t.contains(w) })
      val (gn, gd, gf) = got(id)
      assert(gn == s.size.toLong, s"doc $id n_shingles")
      assert(gd == nDup.toLong, s"doc $id n_dup")
      assert(gf == (if (s.isEmpty) 0.0 else nDup.toDouble / s.size), s"doc $id frac")
    }
  }
}
