package graft

import graft.operators.SeedPipeline
import graft.streaming.StreamingSeed
import org.apache.spark.sql.Row

/** Hermetic seed-pipeline coverage: `readLogs → members → peFirms →
  * seedProjection / detailedProjection` over a hand-written crawl log
  * (src/test/resources/seed/aic_responses_fixture.jsonl, shaped per
  * FIXTURES.md §1.1–1.3). The fixture's five lines:
  *  1. AIC member page: Alpha (PE, null Company), Banksia (VC),
  *     Coral ("private equity", empty Email);
  *  2. a licensing payload in the same `Items.$values` shell (no members);
  *  3. a member page on a 304 response (Dingo);
  *  4. a maps.googleapis.com response naming the AIC host (Harbour);
  *  5. AIC member page: Eucalypt (PE), a later Alpha duplicate, Fjord (PE
  *     outside Australia), Gum Tree ("private equity", null Company).
  * Expected rows were derived by hand and cross-checked in DuckDB
  * (first occurrence per FullName in line order wins). The streaming seed
  * path (`StreamingSeed.runToMemory`) is checked against the same rows. */
class SeedFixtureSpec extends SparkSpec {
  private lazy val logs = SeedPipeline.readLogs(spark,
    getClass.getResource("/seed/aic_responses_fixture.jsonl").getPath)

  test("members: response, status and payload-shape filters keep the 7 records of lines 1 and 5") {
    val names = SeedPipeline.members(logs).select("FullName").collect().map(_.getString(0)).toSeq
    assert(names.sorted == Seq("Alpha Capital Partners", "Alpha Capital Partners",
      "Banksia Ventures", "Coral Equity", "Eucalypt Growth Partners", "Fjord Equity",
      "Gum Tree Equity"))
  }

  private val seedRows = Set(
    ("Alpha Capital Partners", "https://alphacap.example.au"),
    ("Coral Equity", "https://coral.example.au"),
    ("Eucalypt Growth Partners", "https://eucalypt.example.au"),
    ("Gum Tree Equity", "https://gumtree.example.au"))

  test("seed projection: both member-type spellings, Australia only, first duplicate wins") {
    val got = SeedPipeline.seedProjection(SeedPipeline.peFirms(logs)).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == seedRows)
  }

  test("streaming seed: runToMemory over the fixture directory yields the seed projection's rows") {
    val q = StreamingSeed.runToMemory(spark, getClass.getResource("/seed").getPath,
      "seed_stream_fixture")
    try {
      val got = spark.table("seed_stream_fixture").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got.sorted == seedRows.toSeq.sorted) // one row per firm
    } finally q.stop()
  }

  test("detailed projection: the 7 columns of the expected rows, null Company kept") {
    val firms = SeedPipeline.peFirms(logs)
    val det = SeedPipeline.detailedProjection(firms)
    assert(det.columns.toSeq == Seq("FullName", "Website", "Phone", "Email",
      "Latitude", "Longitude", "LongLatAddress"))
    assert(det.collect().toSet == Set(
      Row("Alpha Capital Partners", "https://alphacap.example.au", "+61 2 9000 0000",
        "info@alphacap.example.au", -33.86, 151.21,
        "Level 5\r1 Martin Place\rSydney NSW 2000\rAustralia"),
      Row("Coral Equity", "https://coral.example.au", "+61 2 9000 0000", "",
        -27.47, 153.03, "8 Eagle Street\rBrisbane QLD 4000\rAustralia"),
      Row("Eucalypt Growth Partners", "https://eucalypt.example.au", "+61 2 9000 0000",
        "deals@eucalypt.example.au", -31.95, 115.86,
        "100 St Georges Terrace\rPerth WA 6000\rAustralia"),
      Row("Gum Tree Equity", "https://gumtree.example.au", "", "", -34.93, 138.6,
        "55 King William Street\rAdelaide SA 5000\rAustralia")))
    val nullCompany = firms.filter("Company IS NULL").select("FullName").collect()
      .map(_.getString(0)).toSet
    assert(nullCompany == Set("Alpha Capital Partners", "Gum Tree Equity"))
  }
}
