package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}

/** The store width rule ([[Persisted.width]]), the width alignment of the
  * stores joined IMR-to-IMR, and the declared-store invariant: a store
  * whose plan is a declared query's plan stays unsized, so that query
  * keeps reading it from the cache. */
class StoreSizingSpec extends SparkSpec {

  private def outerPlan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case p => p
  }

  /** Partition count of a store's cached blocks (the store must be built). */
  private def cachedParts(store: DataFrame): Int =
    store.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }
      .getOrElse(fail(s"not cached:\n${store.queryExecution.withCachedData}"))
      .cacheBuilder.cachedColumnBuffers.getNumPartitions

  test("store width: one partition per 256k rows, clamped to [4, 4096]") {
    assert(Persisted.width(0L) === 4)
    assert(Persisted.width(262143L) === 4)
    assert(Persisted.width(1048576L) === 5)
    assert(Persisted.width(4095L * 262144L) === 4096)
    assert(Persisted.width(4096L * 262144L) === 4096)
    assert(Persisted.width(Long.MaxValue) === 4096)
  }

  test("a sized store is partitioned at its width; widthOf reads it back") {
    import spark.implicits._
    val s = Persisted.sized(spark, "spec#sized", "k")(1048576L)(Seq(1, 2, 3).toDF("k"))
    assert(Persisted.widthOf(s) === 5)
    assert(s.count() === 3)
    assert(cachedParts(s) === 5)
    val again = Persisted.sized(spark, "spec#sized", "k")(fail("estimate evaluated on a hit"))(
      fail("built on a hit"))
    assert(again eq s)
    intercept[IllegalArgumentException](
      Persisted.widthOf(Persisted.of(spark, "spec#declared")(Seq(1).toDF("k"))))
    Persisted.clear(spark, "spec#")
  }

  test("IMR-to-IMR store pairs are cached at equal widths") {
    SparkEntry.queries("ta_bigram_lm")(spark, sf0001).count()
    val tf = operators.TextAnalysis.bigramTfRelation(spark, sf0001)
    val corpus = operators.TextAnalysis.bigramCorpusRelation(spark, sf0001)
    assert(cachedParts(tf) === cachedParts(corpus))
    SparkEntry.queries("j3_bucketed")(spark, sf0001).count()
    val (buckets, rarest) = operators.CoreQueries.j3Stores(spark, sf0001)
    assert(cachedParts(buckets) === cachedParts(rarest))
  }

  /** Every equi-join over two in-memory stores reads them with no shuffle
    * exchange in between. At sf0.001 the stores are small enough to
    * broadcast, so the plan is taken with broadcast joins off: that is the
    * shuffle join the store layout serves at scale. */
  private def assertStoreJoinWithoutExchange(name: String): Unit = {
    SparkEntry.queries(name)(spark, sf0001).count() // build the stores
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val root = try outerPlan(SparkEntry.queries(name)(spark, sf0001))
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    def scans(p: SparkPlan) = p.collect { case s: InMemoryTableScanExec => s }
    val storeJoins = root.collect {
      case j: BaseJoinExec if !j.isInstanceOf[BroadcastNestedLoopJoinExec] &&
          j.children.forall(c => scans(c).nonEmpty) => j
    }
    assert(storeJoins.nonEmpty, s"$name: no join over two stores:\n$root")
    storeJoins.foreach { j =>
      val ex = j.children.flatMap(_.collect { case e: ShuffleExchangeExec => e })
      assert(ex.isEmpty, s"$name: exchange below the store join:\n$j")
    }
  }

  test("ta_bigram_lm: the bigram store join has no exchange") {
    assertStoreJoinWithoutExchange("ta_bigram_lm")
  }

  test("j3_bucketed: the gram store join has no exchange") {
    assertStoreJoinWithoutExchange("j3_bucketed")
  }

  test("sim_knn_graph reads the declared knn edge store once it is built") {
    operators.Similarity.knnEdgesRelation(spark, sf0001).count()
    val root = outerPlan(SparkEntry.queries("sim_knn_graph")(spark, sf0001))
    assert(root.collect { case s: InMemoryTableScanExec => s }.nonEmpty &&
        root.collect { case j: BaseJoinExec => j }.isEmpty,
      s"sim_knn_graph must be a scan of the knn edge store:\n$root")
  }

  /** Order-independent digest of a result. */
  private def digest(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(rows.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("warm equals cold for the sized stores and their readers") {
    val names = Seq("j3_bucketed", "gr_pagerank", "gr_triangles", "gr_common_neighbors",
      "gr_local_clustering", "ta_bigram_lm", "ta_collocations", "mm_frame_overlap",
      "mm_frame_incremental", "sim_knn_graph")
    def run(): Seq[String] = names.map(n => digest(SparkEntry.queries(n)(spark, sf0001)))
    Persisted.clear(spark) // run 1 is cold
    val first = run()
    val second = run()
    Persisted.clear(spark)
    val rebuilt = run()
    names.indices.foreach { i =>
      assert(first(i) === second(i), s"${names(i)}: run 2 differs from run 1")
      assert(first(i) === rebuilt(i), s"${names(i)}: the run after clear differs from run 1")
    }
  }
}
