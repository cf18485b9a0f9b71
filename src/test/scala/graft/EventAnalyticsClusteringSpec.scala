package graft

import graft.operators.{Clustering, EventAnalytics, Similarity}
import org.apache.spark.sql.functions._

/** Structural invariants for the funnel/retention/window-agg analytics and
  * the k-means Lloyd step (the oracle gate pins exact values; these pin the
  * semantic shape on real testdata). */
class EventAnalyticsClusteringSpec extends SparkSpec {

  test("wa_funnel stages are strictly ordered and consistent with the log") {
    val f = EventAnalytics.waFunnel.fn(spark, sf0001).cache()
    val bad = f.filter(
      (col("t2").isNotNull && col("t2") <= col("t1")) ||
      (col("t3").isNotNull && col("t3") <= col("t2")) ||
      (col("t3").isNotNull && col("t2").isNull) ||
      (col("stage") === 3 && col("t3").isNull) ||
      (col("stage") === 2 && (col("t3").isNotNull || col("t2").isNull)) ||
      (col("stage") === 1 && col("t2").isNotNull)).count()
    assert(bad == 0)
    // every emitted user has a signup; no user appears twice
    val n = f.count()
    assert(n > 0)
    assert(f.select("user_id").distinct().count() == n)
    f.unpersist()
  }

  test("wa_retention: offset 0 cell equals cohort size, offsets non-negative") {
    val r = EventAnalytics.waRetention.fn(spark, sf0001).cache()
    assert(r.filter(col("day_offset") < 0).count() == 0)
    // day-0 users per cohort == number of users whose first day is that day
    val raw = Tables.events(spark, sf0001)
    val firstDay = raw.select(col("user_id"), Tables.tsUs(raw).as("ts_us"))
      .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
      .groupBy("user_id").agg(min("day").as("cohort_day"))
      .groupBy("cohort_day").agg(count(lit(1)).as("n"))
    val mismatch = r.filter(col("day_offset") === 0)
      .join(firstDay, "cohort_day")
      .filter(col("n_users") =!= col("n")).count()
    assert(mismatch == 0)
    r.unpersist()
  }

  test("st_window_agg partitions the event log exactly") {
    val w = EventAnalytics.stWindowAgg.fn(spark, sf0001).cache()
    val total = w.agg(sum("n")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf0001).count())
    // window starts are aligned to 5-minute boundaries
    assert(w.filter(col("w_start_us") % 300000000L =!= 0).count() == 0)
    w.unpersist()
  }

  test("sim_kmeans assignment covers every vector; seeds are their own centroid") {
    val a = Clustering.simKmeansAssign.fn(spark, sf0001).cache()
    val nVecs = Tables.embeddings(spark, sf0001).count()
    assert(a.count() == nVecs)
    assert(a.select("vec_id").distinct().count() == nVecs)
    // each seed vector sits in its own cluster at distance 0
    val seeds = a.filter(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(seeds.length == 8)
    seeds.foreach { case (vid, cid, dist) =>
      assert(cid == vid.toInt && dist == 0L, s"seed $vid -> cluster $cid dist $dist")
    }
    assert(a.filter(col("dist") < 0).count() == 0)
    a.unpersist()
  }

  test("sim_kmeans centroids: k clusters partitioning the corpus, dim kept") {
    val u = Clustering.centroids(spark, sf0001).cache()
    assert(u.count() == 8)
    val nVecs = Tables.embeddings(spark, sf0001).count()
    assert(u.agg(sum("n_members")).collect()(0).getLong(0) == nVecs)
    // centroids keep the embedding dimensionality and stay in value range
    val dims = u.select(size(col("centroid")).as("d")).distinct().collect()
    assert(dims.length == 1 && dims(0).getInt(0) == 64)
    val oob = u.select(explode(col("centroid")).as("x"))
      .filter(abs(col("x")) > 1.0).count()
    assert(oob == 0)
    // the serialized oracle form carries the same information: 64 CSV
    // fields per cluster, each Σq matching centroid*n*1e8 to rounding
    val s = Clustering.simKmeansUpdate.fn(spark, sf0001)
    assert(s.filter(size(split(col("qsums"), ",")) =!= 64).count() == 0)
    u.unpersist()
  }

  test("wa_outliers: counts bounded by Chebyshev, totals cover the log") {
    val o = EventAnalytics.waOutliers.fn(spark, sf0001).cache()
    val raw = Tables.events(spark, sf0001)
    assert(o.agg(sum("n")).collect()(0).getLong(0) == raw.count())
    // Chebyshev: P(|x-mu| > 3 sigma) <= 1/9 — per type, strictly
    val viol = o.filter(col("n_outliers") * 9 > col("n")).count()
    assert(viol == 0, "outlier fraction above the Chebyshev bound")
    o.unpersist()
  }

  test("dd_semdedup: keepers are component minima and members of the output") {
    val s = Clustering.ddSemdedup.fn(spark, sf0001).cache()
    assert(s.count() > 0, "expected at least one semantic dup group")
    assert(s.filter(col("keeper_id") > col("vec_id")).count() == 0,
      "keeper must be the component minimum")
    // every keeper id is itself in the output, kept by itself
    val orphan = s.select(col("keeper_id").as("vec_id"))
      .distinct()
      .join(s.filter(col("vec_id") === col("keeper_id")), Seq("vec_id"), "left_anti")
      .count()
    assert(orphan == 0, "every keeper must appear as its own row")
    s.unpersist()
  }

  test("kmeans update step does not increase total within-cluster distance") {
    // One Lloyd iteration must not increase the objective: recompute the
    // assignment distance against the UPDATED centroids and compare totals.
    val a = Clustering.simKmeansAssign.fn(spark, sf0001)
    val before = a.agg(sum(col("dist"))).collect()(0).getLong(0)
    val updated = Clustering.centroids(spark, sf0001)
      .select(col("cluster_id"), col("centroid"))
    val q = Similarity.qnormRelation(spark, sf0001)
      .join(a.select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id")), "vec_id")
      .join(updated, "cluster_id")
      .select(aggregate(
        zip_with(col("q"), col("centroid"),
          (x, c) => (x.cast("double") / 1e8 - c) * (x.cast("double") / 1e8 - c)),
        lit(0.0), (acc, v) => acc + v).as("d2"))
    val after = q.agg(sum(col("d2"))).collect()(0).getDouble(0)
    // `before` is in quantized units squared: rescale to compare
    assert(after <= before.toDouble / 1e16 + 1e-9)
  }
}
