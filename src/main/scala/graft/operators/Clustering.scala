package graft.operators

import graft.QueryDef
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd) over the embeddings table — the centroid
  * TRAINING step the IVF family consumes (sim_ivf_bucketed and the routed
  * incremental-ANN store treat the coarse cell id as given; this is where
  * those cells come from in a real vector pipeline).
  *
  * Exactness: vectors ride the shared 1e-8-quantized long store
  * ([[Similarity.qnormRelation]]), so squared L2 distances are EXACT long
  * arithmetic (|a|² + |b|² − 2a·b, three fused native dot products — max
  * |q| ≈ 5.8e7 at unit-ish norm, so k·Σdiff² ≤ 64·(1.2e8)² ≈ 9e17 < 2⁶³)
  * and the argmin is bit-identical on any engine. The UPDATE step's
  * oracle-facing output stays integral too (per-dim Σq serialized, mean
  * derivable); only the typed [[centroids]] API divides.
  *
  * Scale shape — the canonical distributed k-means iteration:
  *   - centroids live on the DRIVER (k·dim longs — k-means' defining
  *     property is that centroids fit anywhere even when data doesn't) and
  *     enter the plan as literal arrays: assignment is a ZERO-shuffle
  *     fused-codegen scan projection, never a join;
  *   - the update is one shuffle of (cluster, dim, Σq, n) partial
  *     aggregates — map-side combine collapses every partition to at most
  *     k·dim narrow rows regardless of row count, the classic
  *     reduceByKey-style centroid update;
  *   - a full Lloyd loop (`Similarity`'s book training) iterates this step
  *     driver-side, re-literalizing k·dim numbers per round — the only
  *     driver traffic an iteration pays.
  */
object Clustering {

  private val K = 8
  private val Scale = 1.0e8

  /** Seed centroids = the k smallest vec_ids' quantized vectors (a
    * deterministic, engine-stable init — k-means++ would add RNG the
    * oracle cannot replay). Driver-side by design: k rows, bounded. */
  private def seedCentroids(spark: SparkSession, d: String): Seq[(Int, Array[Long])] =
    Similarity.qnormRelation(spark, d)
      .filter(col("vec_id") < K).orderBy("vec_id")
      .select(col("vec_id"), col("q"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toArray))
      .toSeq

  /** (vec_id, q, cluster_id, dist): every vector tagged with its nearest
    * centroid, ties to the lowest-POSITION centroid (array_position finds
    * the FIRST minimum; `cents` must be sorted by id, ids = positions for
    * the seed round). One projection over the persisted store. */
  private def assignedTo(spark: SparkSession, d: String,
                         cents: Seq[(Int, Array[Long])]): DataFrame = {
    val qq = graft.plans.dotQNative(col("q"), col("q"))
    val dists: Seq[Column] = cents.map { case (_, cv) =>
      val bb = cv.map(v => v * v).sum
      col("qq") + lit(bb) - lit(2L) * graft.plans.dotQNative(col("q"), lit(cv))
    }
    val ids = cents.map(_._1).toArray
    Similarity.qnormRelation(spark, d)
      .select(col("vec_id"), col("q"), col("norm"), qq.as("qq"))
      .withColumn("darr", array(dists: _*))
      .select(col("vec_id"), col("q"), col("norm"),
        element_at(lit(ids),
          array_position(col("darr"), array_min(col("darr"))).cast("int"))
          .as("cluster_id"),
        array_min(col("darr")).as("dist"))
  }

  private def assigned(spark: SparkSession, d: String): DataFrame =
    assignedTo(spark, d, seedCentroids(spark, d))

  private val oracleCte =
    """q AS (SELECT vec_id, CAST(round(CAST(unnest(embedding) AS DOUBLE)*100000000.0) AS BIGINT) AS v,
      |      generate_subscripts(embedding, 1) AS i FROM embeddings),
      |c AS (SELECT vec_id AS cid, i, v FROM q WHERE vec_id < 8),
      |dd AS (SELECT q.vec_id, c.cid, SUM((q.v - c.v)*(q.v - c.v)) AS dist
      |       FROM q JOIN c ON q.i = c.i GROUP BY q.vec_id, c.cid),
      |a AS (SELECT vec_id, cid, dist FROM (
      |        SELECT vec_id, cid, dist,
      |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      |        FROM dd) t WHERE rn = 1)""".stripMargin

  /** Assignment step alone, oracle-checked end-to-end in exact longs. */
  val simKmeansAssign = QueryDef("sim_kmeans_assign",
    s"""WITH $oracleCte
      |SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id, CAST(dist AS BIGINT) AS dist
      |FROM a""".stripMargin) { (spark, d) =>
    assigned(spark, d).select("vec_id", "cluster_id", "dist")
  }

  /** Per-cluster per-dim integer sums — the shuffle of the update step:
    * (cluster, dim, Σq, n) partial aggregates, at most k·dim rows per map
    * partition after combine. */
  private def clusterDimSums(spark: SparkSession, d: String): DataFrame =
    assigned(spark, d)
      .select(col("cluster_id"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy("cluster_id", "dim")
      .agg(sum("qv").as("qsum"), count(lit(1)).as("n"))

  /** One full Lloyd iteration: assignment + centroid update, emitting the
    * k updated centroids with member counts. The oracle-facing shape stays
    * in EXACT integers end to end: the centroid is emitted as the per-dim
    * Σq CSV (mean = Σq / n / 1e8, derivable losslessly) — a float mean
    * would hash on engine-specific double formatting, and an array column
    * on comparer array support; the a4 string-serialization precedent
    * avoids both. [[centroids]] is the typed engine API over the same
    * aggregate. */
  val simKmeansUpdate = QueryDef("sim_kmeans_update",
    s"""WITH $oracleCte,
      |s AS (SELECT a.cid, q.i, SUM(q.v) AS qsum, COUNT(*) AS n
      |      FROM q JOIN a ON q.vec_id = a.vec_id GROUP BY a.cid, q.i)
      |SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(MAX(n) AS BIGINT) AS n_members,
      |  string_agg(CAST(qsum AS VARCHAR), ',' ORDER BY i) AS qsums
      |FROM s GROUP BY cid""".stripMargin) { (spark, d) =>
    clusterDimSums(spark, d)
      .groupBy("cluster_id")
      .agg(max("n").as("n_members"),
        sort_array(collect_list(struct(col("dim"), col("qsum")))).as("ds"))
      .select(col("cluster_id").cast("long").as("cluster_id"), col("n_members"),
        concat_ws(",", transform(col("ds"),
          s => s.getField("qsum").cast("string"))).as("qsums"))
  }

  private def centroidsOf(assignedDf: DataFrame): DataFrame =
    assignedDf
      .select(col("cluster_id"), posexplode(col("q")).as(Seq("dim", "qv")))
      .groupBy("cluster_id", "dim")
      .agg(sum("qv").as("qsum"), count(lit(1)).as("n"))
      .groupBy("cluster_id")
      .agg(max("n").as("n_members"),
        sort_array(collect_list(struct(col("dim"), col("qsum")))).as("ds"))
      .select(col("cluster_id").cast("long").as("cluster_id"), col("n_members"),
        transform(col("ds"),
          s => s.getField("qsum").cast("double") / col("n_members") / lit(Scale))
          .as("centroid"))

  /** Updated centroids as typed vectors (cluster_id, n_members,
    * array<double> centroid) — what the next Lloyd round or an IVF build
    * consumes. Same plan as [[simKmeansUpdate]] minus the serialization. */
  def centroids(spark: SparkSession, d: String): DataFrame =
    centroidsOf(assigned(spark, d))

  /** SemDeDup (Abbas et al.): semantic deduplication = cluster the
    * embedding space, prune near-duplicates WITHIN each cluster only.
    * Composes the pieces this module + the dedup family already check:
    * k-means cells (the coarse partition that makes within-cell all-pairs
    * affordable — cross-cell pairs are never formed), exact quantized
    * cosine >= 0.3 on the in-cell candidates (id window <= 200 standing in
    * for the LSH candidate set, the dd_embedding_neardup convention),
    * connected components, cluster-min keeper. Output rows = vectors that
    * BELONG to a semantic dup group, tagged with their keeper.
    *
    * Scale shape: the assignment relation is session-persisted (built once
    * per session, shared with every consumer of the cell partition), and
    * the id window RIDES THE JOIN KEY as a band (band = id div 200; a
    * forward pair within 200 lands in the same or next band, so the left
    * side explodes into two band keys — the aj_range_join construction).
    * With only k cells, an equi-join on the cell alone materializes
    * sum-of-squared-CELL-sizes intermediates with the window as a
    * post-join filter (measured 44 s at sf10 on the duplicate-skewed
    * inflated corpus); with (cell, band) as the key, candidate volume is
    * ∝ true window pairs (1.6 s — 28x). Components route through the
    * size-gated driver union-find with the distributed star-contraction
    * fallback ([[Dedup.labelPropagation]]). */
  val ddSemdedup: QueryDef = QueryDef("dd_semdedup",
    s"""WITH RECURSIVE $oracleCte,
      |norms AS (SELECT vec_id, sqrt(CAST(CAST(SUM(v * v) AS BIGINT) AS DOUBLE)) AS norm
      |          FROM q GROUP BY vec_id),
      |dots AS (SELECT a1.vec_id AS va, a2.vec_id AS vb,
      |    CAST(CAST(SUM(x.v * y.v) AS BIGINT) AS DOUBLE) AS dot
      |  FROM a a1 JOIN a a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
      |    AND a2.vec_id - a1.vec_id <= 200
      |  JOIN q x ON x.vec_id = a1.vec_id
      |  JOIN q y ON y.vec_id = a2.vec_id AND y.i = x.i
      |  GROUP BY a1.vec_id, a2.vec_id),
      |sed AS (SELECT va, vb FROM dots JOIN norms na ON na.vec_id = va
      |        JOIN norms nb ON nb.vec_id = vb
      |        WHERE round(dot / (na.norm * nb.norm), 6) >= 0.3),
      |${Dedup.keeperClosureSql("sed", "va", "vb", "vec_id", "keeper_id")}""".stripMargin) { (spark, d) =>
    val aRel = graft.Persisted.of(spark, s"$d#kmeans_assign") {
      assigned(spark, d).select("vec_id", "q", "norm", "cluster_id")
    }
    val x = aRel.select(col("cluster_id"), col("vec_id").as("va"),
      col("q").as("qa"), col("norm").as("na"))
      .withColumn("band", explode(array(expr("va div 200"), expr("va div 200 + 1"))))
    val y = aRel.select(col("cluster_id"), col("vec_id").as("vb"),
      col("q").as("qb"), col("norm").as("nb"))
      .withColumn("band", expr("vb div 200"))
    val pairs = x.join(y, Seq("cluster_id", "band"))
      .filter(col("va") < col("vb") && col("vb") - col("va") <= 200)
      .select(col("va"), col("vb"),
        round(graft.plans.dotQNative(col("qa"), col("qb")).cast("double") /
          (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= 0.3)
      .select(col("va"), col("vb"))
    Dedup.labelPropagation(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("keeper_id"))
  }

  /** Per-cluster inertia — the k-means quality/convergence metric (what
    * an elbow plot or a convergence monitor reads): member count and the
    * summed squared distance of members to their centroid, derived from
    * the SAME assignment relation the assign step emits (one extra
    * vocabulary-sized aggregate, no new scan). Exactness: per-vector
    * dist is an exact long (1e8-quantized components); the cluster SUM
    * can exceed int64 at corpus scale, so it accumulates in
    * DECIMAL/HUGEINT and emits floored 10^6-units (`inertia_m`) — both
    * engines floor the same positive value. */
  val simKmeansInertia = QueryDef("sim_kmeans_inertia",
    s"""WITH $oracleCte
      |SELECT CAST(cid AS BIGINT) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(dist AS HUGEINT)) // 1000000 AS BIGINT) AS inertia_m
      |FROM a GROUP BY cid""".stripMargin) { (spark, d) =>
    assigned(spark, d)
      .groupBy(col("cluster_id").cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("n"),
        expr("sum(cast(dist as decimal(38,0))) div 1000000").cast("long")
          .as("inertia_m"))
  }

  val all: Seq[QueryDef] = Seq(simKmeansAssign, simKmeansUpdate, ddSemdedup,
    simKmeansInertia)
}
