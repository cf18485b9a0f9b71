package graft

import org.apache.spark.storage.StorageLevel

/** The session-scoped persisted-relation cache that backs the sketch/band/
  * term-store relations (compute-once + bounded-memory join inputs). */
class PersistedSpec extends SparkSpec {
  import spark.implicits._

  test("same (session, key) returns the same cached relation instance") {
    var builds = 0
    def build = { builds += 1; Seq(1, 2, 3).toDF("x") }
    val a = Persisted.of(spark, "spec#identity")(build)
    val b = Persisted.of(spark, "spec#identity")(build)
    assert(a eq b)
    assert(builds == 1)
    assert(a.storageLevel != StorageLevel.NONE) // actually persisted
    assert(b.count() == 3)
    // a transient scope over a relation the caller cached reads that entry
    // and leaves it in place
    assert(Persisted.scoped(a)(a.count()) == 3)
    assert(a.storageLevel != StorageLevel.NONE, "scoped dropped the caller's entry")
  }

  test("different keys build independently") {
    val a = Persisted.of(spark, "spec#k1")(Seq(1).toDF("x"))
    val b = Persisted.of(spark, "spec#k2")(Seq(1, 2).toDF("x"))
    assert(!(a eq b))
    assert(a.count() == 1 && b.count() == 2)
  }

  test("clear releases matching entries and the next of() rebuilds") {
    var builds = 0
    def build = { builds += 1; Seq(1, 2).toDF("x") }
    val a = Persisted.of(spark, "spec#clear/one")(build)
    Persisted.of(spark, "spec#clear/two")(Seq(9).toDF("x"))
    Persisted.of(spark, "spec#keepme")(Seq(9).toDF("x"))
    assert(builds == 1)
    // prefix-scoped release: unpersists and forgets only matching keys
    assert(Persisted.clear(spark, "spec#clear/") == 2)
    assert(a.storageLevel == StorageLevel.NONE, "cleared entry must be unpersisted")
    val a2 = Persisted.of(spark, "spec#clear/one")(build)
    assert(builds == 2, "next of() after clear must rebuild")
    assert(!(a eq a2))
    // the untouched entry survived
    val keep = Persisted.of(spark, "spec#keepme")(Seq(0).toDF("x"))
    assert(keep.count() == 1)
  }

  test("clearExcept evicts other batches but keeps the named entry cached") {
    // the incremental-ingest eviction shape (ADVICE r6): re-submitting the
    // SAME batch must not unpersist the relation a pending result reads
    val a = Persisted.of(spark, "spec#batch/a")(Seq(1).toDF("x"))
    val b = Persisted.of(spark, "spec#batch/b")(Seq(2).toDF("x"))
    assert(Persisted.clearExcept(spark, "spec#batch/", "spec#batch/b") == 1)
    assert(a.storageLevel == StorageLevel.NONE, "other batch must be unpersisted")
    val b2 = Persisted.of(spark, "spec#batch/b")(Seq(2).toDF("x"))
    assert(b eq b2, "kept entry must survive as the same cached relation")
    assert(b2.storageLevel != StorageLevel.NONE)
    Persisted.clear(spark, "spec#batch/")
  }

  test("scoped caches an uncached input once and drops it on return and on throw") {
    val x = Seq(41, 42).toDF("scoped")
    def rdds = spark.sparkContext.getPersistentRDDs.keySet
    // the identity-gate shape: the second argument is the first
    val created = Persisted.scoped(x, x) {
      assert(x.storageLevel == StorageLevel.MEMORY_AND_DISK)
      val before = rdds
      assert(x.count() == 2)
      rdds -- before
    }
    assert(created.size == 1, s"one entry, one cached RDD: $created")
    assert(x.storageLevel == StorageLevel.NONE)
    assert(!rdds.contains(created.head), "the entry's cached RDD outlived the scope")
    val thrown = intercept[IllegalStateException] {
      Persisted.scoped(x) {
        assert(x.storageLevel != StorageLevel.NONE)
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage == "body failed")
    assert(x.storageLevel == StorageLevel.NONE, "a throwing body left its entry cached")
  }

  test("cached relation is shared across both sides of a self-join plan") {
    val r = Persisted.of(spark, "spec#selfjoin")(
      Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v"))
    r.count() // materialize
    val left = r.select($"k", $"v".as("va"))
    val right = r.select($"k", $"v".as("vb"))
    val joined = left.join(right, "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert("InMemoryTableScan".r.findAllMatchIn(plan).size >= 2,
      s"both sides should scan the cache:\n$plan")
    assert(joined.count() == 5) // 2x2 for k=1 + 1 for k=2
  }
}
