package graft

import graft.functions.Exprs._

/** Unit tests for the scalar expression library (SURVEY.md §2.8). */
class ExprsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](df: org.apache.spark.sql.DataFrame): T =
    df.collect().head.getAs[T](0)

  test("card attribute signals are quote-style agnostic (href/src/alt/aria-label)") {
    val el =
      """<div class='portfolio card'><a href='https://pc.example/x'>go</a>""" +
        """<img src=logo.png alt='Port Co'></div>"""
    val df = Seq(el).toDF("el")
    assert(one[String](df.select(firstHref($"el"))) == "https://pc.example/x")
    assert(one[String](df.select(firstImgSrc($"el"))) == "logo.png")
    assert(one[String](df.select(firstImgAlt($"el"))) == "Port Co")
    assert(one[String](df.select(nameHint($"el"))) == "Port Co")
    // double-quoted still works; first-in-document-order across styles
    val mixed = Seq("""<a href='first'>a</a><a href="second">b</a>""").toDF("el")
    assert(one[String](mixed.select(firstHref($"el"))) == "first")
    // a prefixed attribute name (data-href) must not match
    assert(one[String](Seq("""<a data-href="no">x</a>""").toDF("el")
      .select(firstHref($"el"))) == "")
  }

  test("Rubric: expressions read the config module") {
    import graft.functions.Rubric
    // all five signals on -> the score is exactly the sum of the
    // configured weights, in rubric order (left-to-right double addition)
    val t = org.apache.spark.sql.functions.lit(true)
    val full = Seq(1).toDF("x").select(matchScore(t, t, t, t, t))
    val expected = Rubric.TypeWhitelistWeight + Rubric.UrlDomainWeight +
      Rubric.LogoDomainWeight + Rubric.NameMatchWeight + Rubric.InsideCardWeight
    assert(one[Double](full) == expected)
  }

  test("X1 normText collapses whitespace and trims") {
    val df = Seq("  a \t b\n c  ").toDF("s").select(normText($"s"))
    assert(one[String](df) == "a b c")
  }

  test("X1 normText is idempotent") {
    val df = Seq(" x   y ").toDF("s")
      .select(normText(normText($"s")) === normText($"s"))
    assert(one[Boolean](df))
  }

  test("X2 urlDomain lowercases host and strips www") {
    val df = Seq("https://WWW.Example.COM/path?q=1").toDF("u").select(urlDomain($"u"))
    assert(one[String](df) == "example.com")
    val df2 = Seq("https://sub.example.org/x").toDF("u").select(urlDomain($"u"))
    assert(one[String](df2) == "sub.example.org")
  }

  test("X3 extractYears finds all years 1800-2099") {
    val df = Seq("est. 1999, rebuilt 2004, zip 2600 no, 1776 no, 2099 yes")
      .toDF("s").select(extractYears($"s"))
    assert(df.collect().head.getSeq[Int](0) == Seq(1999, 2004, 2099))
  }

  test("F5/F6 anchorGatedYears: anchor required, address/date veto") {
    def run(s: String): Seq[Int] =
      Seq(s).toDF("s").select(anchorGatedYears($"s")).collect().head.getSeq[Int](0)
    assert(run("Founded in 1987") == Seq(1987))
    assert(run("the year 1987") == Seq.empty)               // no anchor
    assert(run("Founded 1987, office street 2600") == Seq.empty) // address veto
    assert(run("Founded January 1987") == Seq.empty)        // date veto
    // parity quirk: the reference's \b(…|©)\b can never match bare "©"
    // (no word boundary between space and ©) — we reproduce that faithfully
    assert(run("© 2024 Acme") == Seq.empty)
    assert(run("Est. 1887 and proud") == Seq(1887))
  }

  test("X13 nameMatches: equality, containment with 3-char guard") {
    def m(a: String, b: String): Boolean =
      Seq((a, b)).toDF("a", "b").select(nameMatches($"a", $"b"))
        .collect().head.getBoolean(0)
    assert(m("Acme Capital", "acme  capital"))   // norm+case equality
    assert(m("Acme", "Acme Capital Partners"))   // contained, len>=3
    assert(!m("AB", "AB Capital"))               // contained but len<3
    assert(m("Acme Capital Partners", "Acme"))   // containment is symmetric-ish
    assert(!m("Acme", "Zenith"))
  }

  test("X14 matchScore weights sum as reference (step3_attempt1.py:289-304)") {
    val df = Seq((true, true, false, true, false)).toDF("t", "u", "l", "n", "i")
      .select(matchScore($"t", $"u", $"l", $"n", $"i"))
    assert(math.abs(one[Double](df) - 2.6) < 1e-9)
  }

  test("X20 classRank A/B/C per step2_attempt1.py RANK_SETS") {
    def rank(cls: String): String =
      Seq(cls).toDF("c").select(classRank(words($"c")))
        .collect().head.getString(0)
    assert(rank("portfolio-card grid") == "A")
    assert(rank("investment item") == "A")
    assert(rank("portfolio grid") == "B")
    assert(rank("logo strip") == "C")
    assert(rank("plain div") == null)
  }

  test("F11 classBlacklisted rejects noise containers") {
    def bl(cls: String): Boolean =
      Seq(cls).toDF("c").select(classBlacklisted(words($"c")))
        .collect().head.getBoolean(0)
    assert(bl("site-footer dark"))
    assert(bl("cookieBanner"))
    assert(!bl("portfolio card"))
  }

  test("F12 badContentUrl flags document extensions") {
    def bad(u: String): Boolean =
      Seq(u).toDF("u").select(badContentUrl($"u")).collect().head.getBoolean(0)
    assert(bad("https://x.com/report.PDF"))
    assert(bad("https://x.com/a.docx"))
    assert(!bad("https://x.com/portfolio"))
  }

  test("X15 srcPathName extracts name from uploads path") {
    val df = Seq("https://x.com/wp-content/uploads/2021/03/Hygain-Holdings-412x412.jpg")
      .toDF("s").select(srcPathName($"s"))
    assert(one[String](df) == "Hygain Holdings")
  }

  test("X16 hrefSlug extracts portfolio slug") {
    val df = Seq("/investments/be-campbell").toDF("s").select(hrefSlug($"s"))
    assert(one[String](df) == "be-campbell")
  }

  test("X12 preferWhitelisted picks whitelisted type first") {
    val df = Seq(Seq("WebPage", "Organization"), Seq("Thing", "Blob"))
      .toDF("t").select(preferWhitelisted($"t"))
    val got = df.collect().map(_.getString(0)).toSeq
    assert(got == Seq("Organization", "Thing"))
  }
}
