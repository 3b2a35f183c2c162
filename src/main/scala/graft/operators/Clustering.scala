package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Seeded Lloyd's k-means over embedding columns, in EXACT fixed-point
  * integer arithmetic — the clustering stage of cluster-based corpus
  * curation (SemDeDup-style cluster-then-dedup, cluster-balanced
  * sampling, per-cluster quality gates). Feed the assignment into
  * [[Dedup.clusterRepresentatives]] to keep the best-scoring members of
  * each semantic cluster.
  *
  * Reference scope: the reference pipeline
  * (dabsdamoon/ETL-pdf-pipepline) stores embeddings for retrieval only
  * (`src/vectordb/chroma_manager.py`); corpus-level semantic clustering
  * is a beyond-reference capability for training-data curation.
  *
  * Determinism/portability: embeddings are quantized once
  * (floor(x * quantScale) per element, BIGINT); distances are integer
  * sums of squared diffs; argmin ties break on the lower cluster id via
  * struct ordering; centroid updates are floor divisions
  * (`math.floorDiv`). Every operation is integer and
  * association-order-free, so assignments are bit-identical in any
  * engine, at any parallelism — the DuckDB oracle unrolls the same
  * iterations. Seeding is the k lowest-id rows (deterministic), cluster
  * ids 0..k-1 in that id order; an emptied cluster keeps its previous
  * centroid.
  *
  * Scale shape (100 TB): the canonical distributed k-means. Per
  * iteration: one NARROW pass computes k distances per row against the
  * broadcast centroid literals (k*dim longs — trivially broadcastable),
  * and one shuffle carries at most k*dim (cluster, pos, partial-sum)
  * rows per map task (map-side partial aggregation) to the driver-side
  * centroid rebuild — the same aggregate-collect loop MLlib's KMeans
  * runs. The quantized input is pinned once (reliable checkpoint when a
  * checkpoint dir is set) and re-scanned per iteration, never
  * recomputed.
  *
  * Overflow bounds (ANSI-safe): per-dim squared diff <=
  * (2 * quantScale * max|x|)^2, summed over dim — for unit-normalized
  * embeddings at quantScale=1000 that is ~4e6 * dim, far inside BIGINT.
  * Per-cluster per-dim sums stay exact in BIGINT for any real cluster
  * size (quantScale * n < 2^63).
  */
object Clustering {

  /** Quantized copy of the vector column: floor(x * quantScale) per
    * element as BIGINT (the engine-portable quantization used by the LSH
    * and MMR fixed-point twins).
    */
  private def quantized(vecCol: String, quantScale: Int): Column =
    expr(s"transform($vecCol, x -> cast(floor(cast(x as double) * $quantScale.0D) as bigint))")

  /** Integer squared L2 distance from the quantized row vector to one
    * centroid literal — the codegen'd
    * [[graft.functions.VectorFunctions.LongSqDist]] kernel (a tight
    * generated loop; the interpreted aggregate/zip_with fold computed
    * the identical sum ~3x slower).
    */
  private def distTo(c: Array[Long]): Column =
    graft.functions.VectorFunctions.longSqDistCol(col("_km_q"), typedLit(c.toSeq))

  /** Trained centroids — plain data, serializable, the unit of
    * incremental reuse: fit once at ingest, [[assignWith]] every later
    * batch against the FROZEN centroids in one narrow pass (O(batch), no
    * refit; re-fit = periodic compaction).
    */
  final case class KmeansModel(centroids: Array[Array[Long]], quantScale: Int) {
    def k: Int = centroids.length
    def dim: Int = centroids.head.length
  }

  /** Run the Lloyd's loop and return the trained model. The quantized
    * input is pinned for the duration of the fit ONLY — the model is
    * plain data, so the pin is released before returning (unlike
    * plan-shaped artifacts, nothing downstream references it).
    */
  def kmeansFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      quantScale: Int = 1000
  ): KmeansModel = {
    require(k >= 1, s"need k >= 1, got $k")
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(quantScale >= 1, s"need quantScale >= 1, got $quantScale")

    graft.util.Checkpoints.scoped(df.sparkSession) { scratch =>
      val q = scratch.pin(
        df.select(col(idCol).as("_km_id"), quantized(vecCol, quantScale).as("_km_q")))
      val seeds = q.orderBy("_km_id").limit(k).collect()
      require(seeds.length == k, s"need at least k=$k rows, got ${seeds.length}")
      var centroids: Array[Array[Long]] =
        seeds.map(_.getSeq[Long](1).toArray)
      val dim = centroids.head.length
      require(centroids.forall(_.length == dim), "all vectors must share one dimension")

      for (_ <- 1 to iters) {
        val packed = array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
          struct(distTo(c).as("d"), lit(i).as("c"))
        }: _*)
        val sums = q
          .withColumn("_km_c", array_min(packed).getField("c"))
          .select(col("_km_c"), posexplode(col("_km_q")).as(Seq("_km_p", "_km_v")))
          .groupBy("_km_c", "_km_p")
          .agg(sum("_km_v").as("s"), count(lit(1)).as("n"))
          .collect() // <= k*dim rows — the distributed-kmeans driver step
        val byCluster = sums.groupBy(_.getInt(0))
        centroids = centroids.zipWithIndex.map { case (old, c) =>
          byCluster.get(c) match {
            case Some(rows) =>
              val next = old.clone()
              rows.foreach { r =>
                next(r.getInt(1)) = math.floorDiv(r.getLong(2), r.getLong(3))
              }
              next
            case None => old // emptied cluster keeps its centroid
          }
        }
      }
      KmeansModel(centroids, quantScale)
    }
  }

  /** Assign rows to the nearest FROZEN model centroid: one narrow pass
    * (k distances per row against broadcast literals), no shuffle, no
    * driver action — the incremental-batch path. Returns the input +
    * `cluster` (BIGINT).
    */
  def assignWith(model: KmeansModel, df: DataFrame, vecCol: String): DataFrame = {
    require(!df.columns.contains("cluster"), "df must not contain reserved column cluster")
    // the scratch column would silently overwrite (then drop) a
    // caller-supplied column of the same name — same reserved-column
    // collision class as `cluster` above, so reject it the same way
    require(!df.columns.contains("_km_q"), "df must not contain reserved column _km_q")
    val packed = array(model.centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(distTo(c).as("d"), lit(i).as("c"))
    }: _*)
    df.withColumn("_km_q", quantized(vecCol, model.quantScale))
      .withColumn("cluster", array_min(packed).getField("c").cast("long"))
      .drop("_km_q")
  }

  /** The `n` model centroids nearest a raw query vector, as cluster ids
    * in probe order — the driver-side cell-probe selection of IVF-style
    * search (integer L2 on the MODEL's quantScale, ties to the lower
    * cid: the assignWith argmin, ranked). q_ivfpq probes through it, so
    * the query is always quantized at the scale the centroids were
    * trained at.
    */
  def nearestCentroids(model: KmeansModel, queryVec: Seq[Float], n: Int): Seq[Long] = {
    require(n >= 1, s"need n >= 1, got $n")
    val qq = queryVec.map(x => math.floor(x.toDouble * model.quantScale).toLong).toArray
    require(qq.length == model.dim, s"query dim ${qq.length} != model dim ${model.dim}")
    model.centroids.zipWithIndex.map { case (c, i) =>
      var d = 0L
      var j = 0
      while (j < c.length) { val t0 = c(j) - qq(j); d += t0 * t0; j += 1 }
      (d, i)
    }.sorted.take(n).map(_._2.toLong).toSeq
  }

  /** (input columns) + `cluster` (BIGINT in 0..k-1): the Lloyd's
    * assignment after `iters` rounds from the deterministic lowest-id
    * seeds — [[kmeansFit]] + [[assignWith]] in one call.
    */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      quantScale: Int = 1000
  ): DataFrame =
    assignWith(kmeansFit(df, idCol, vecCol, k, iters, quantScale), df, vecCol)

  /** SemDeDup candidate generation (Abbas et al. 2023): near-duplicate
    * pairs WITHIN each k-means cluster — the clustering blocks the
    * candidate space so the quadratic pair stage runs per cluster
    * (~n²/k for balanced clusters), never corpus-wide. Similarity is the
    * integer dot of normalized quantized vectors
    * (floor(x/||x||*normScale) per element — the oracle-portable
    * ~cosine*normScale² used by the MMR fixed twin); a pair qualifies
    * when dot >= simFp. Zero-norm vectors cannot be normalized and take
    * part in clustering but not in pairing.
    *
    * Returns (id_a, id_b, sim_fp, cluster) with id_a < id_b.
    *
    * Scale shape: one equi-join on the cluster key; each cluster's pairs
    * form independently. A pathologically dominant cluster re-creates
    * the all-pairs problem — raise k, or run the LSH-banded
    * [[VectorSearch]] pair generator inside the offending cluster.
    */
  def withinClusterNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      simFp: Long,
      quantScale: Int = 1000,
      normScale: Int = 10000
  ): DataFrame = {
    require(normScale >= 1, s"need normScale >= 1, got $normScale")
    // _sd_* scratch columns (and _km_q via kmeansAssign) would clobber
    // caller data of the same name — reject reserved names up front
    val reserved = df.columns.filter(c => c.startsWith("_sd_") || c == "_km_q")
    require(reserved.isEmpty,
      s"df must not contain reserved columns: ${reserved.mkString(", ")}")
    val assigned = kmeansAssign(df, idCol, vecCol, k, iters, quantScale)
      .select(col(idCol).as("_sd_id"), col("cluster"))
    // left-fold sum of squares over double-cast elements — matches the
    // oracle's explicit left-associated chain exactly (the MMR-twin
    // technique)
    val ss = aggregate(
      transform(col(vecCol), x => x.cast("double") * x.cast("double")),
      lit(0.0),
      (a, b) => a + b
    )
    val nv = df
      .withColumn("_sd_ss", ss)
      .where(col("_sd_ss") > 0)
      .select(
        col(idCol).as("_sd_id"),
        transform(
          col(vecCol),
          x => floor(x.cast("double") / sqrt(col("_sd_ss")) * lit(normScale.toDouble)).cast("long")
        ).as("_sd_v")
      )
    val members = assigned.join(nv, "_sd_id")
    val a = members.select(col("_sd_id").as("id_a"), col("cluster"), col("_sd_v").as("_sd_va"))
    val b = members.select(col("_sd_id").as("id_b"), col("cluster").as("_sd_cb"), col("_sd_v").as("_sd_vb"))
    a.join(b, col("cluster") === col("_sd_cb") && col("id_a") < col("id_b"))
      .withColumn(
        "sim_fp",
        graft.functions.VectorFunctions.longDotCol(col("_sd_va"), col("_sd_vb"))
      )
      .where(col("sim_fp") >= simFp)
      .select("id_a", "id_b", "sim_fp", "cluster")
  }

  /** Full SemDeDup pass: cluster, pair within clusters, close the pair
    * graph into duplicate groups, keep the `n` best-scoring members of
    * each group ([[Dedup.clusterRepresentatives]]). Documents in no
    * qualifying pair survive untouched (singleton groups).
    *
    * `k` is fixed: within-cluster pair work is ~size²/2 per cluster, so
    * a caller at scale derives k from the corpus size (k ∝ n keeps the
    * per-cluster work flat as the corpus grows).
    */
  def semanticRepresentatives(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scoreCol: String,
      k: Int,
      iters: Int,
      simFp: Long,
      n: Int = 1
  ): DataFrame = {
    val pairs = withinClusterNearDupPairs(df, idCol, vecCol, k, iters, simFp)
    val labels = Dedup.nearDupClusters(df.select(col(idCol)), idCol, pairs)
    Dedup.clusterRepresentatives(df, idCol, labels, scoreCol, n)
  }
}
