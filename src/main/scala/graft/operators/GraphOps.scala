package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph operators for corpus-level authority scoring.
  *
  * Large-scale curation pipelines score document sources by link-graph
  * authority (domain-level PageRank over the hyperlink graph is a standard
  * web-corpus quality prior). The reference has no graph surface; this is
  * part of the training-data extension mandated alongside SURVEY.md §2.13.
  *
  * Complements [[Dedup.nearDupClusters]] (min-label propagation): same
  * per-round shape — (node, value)-only shuffles, localCheckpoint per
  * round to cut lineage — but with rank mass instead of labels.
  */
object GraphOps {

  /** Rank fixed-point scale: ranks are BIGINTs in units of 1e-6. */
  val Scale: Long = 1000000L

  /** A ranking-ready graph: the degree-annotated edge table (src, dst,
    * outdeg — hash-partitioned on src, checkpointed) and the node table
    * (checkpointed, partitioned on node). This pair — not the raw edge
    * list — is the ingest-time artifact: every ranking query needs both,
    * and rebuilding them per query re-pays the extraction scans, the
    * degree window, and two materializations.
    */
  final case class PreparedGraph(withDeg: DataFrame, nodes: DataFrame)

  /** Materialize a [[PreparedGraph]] from an edge list. One corpus-sized
    * pass: out-degree rides a window over the same hash(src) partitioning
    * the per-round joins reuse (LogicalRDD keeps partitioning + ordering).
    */
  def prepare(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      edgesAreDistinct: Boolean = false
  ): PreparedGraph = {
    val e0 = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val e = if (edgesAreDistinct) e0 else e0.distinct()
    val srcWin = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val withDeg = graft.util.Checkpoints.pin(
      e.withColumn("outdeg", count(lit(1)).over(srcWin)))
    val nodes = graft.util.Checkpoints.pin(
      withDeg.select(col("src").as("node"))
        .unionByName(withDeg.select(col("dst").as("node")))
        .distinct())
    PreparedGraph(withDeg, nodes)
  }

  // Session-resident prepared graphs (graft.util.SessionIndices): graph
  // extraction + preparation is ingest-time ETL, built once and read by
  // every ranking query. The iterative ranking itself is never cached (it
  // IS the query).
  private val resident = graft.util.SessionIndices.namespace[PreparedGraph]("graph.prepared")

  /** Build-once [[PreparedGraph]] keyed by `key`. The entry hands over the
    * checkpoint RDD ids read directly off the two pinned DataFrames'
    * LogicalRDD plans — concurrent persist activity by other operators is
    * never attributed to this graph (ADVICE r4: a global before/after diff
    * of `getPersistentRDDs` could claim, and later release, blocks owned
    * by other session-resident indices).
    */
  def prepareCached(
      key: String,
      edges: => DataFrame,
      srcCol: String,
      dstCol: String,
      edgesAreDistinct: Boolean = false
  ): PreparedGraph =
    resident.getOrBuild(key) {
      val g = prepare(edges, srcCol, dstCol, edgesAreDistinct)
      graft.util.SessionIndices.Resident.pinning(g, g.withDeg, g.nodes)
    }

  /** Synchronous PageRank over an edge list, `iters` rounds, in FIXED-POINT
    * integer arithmetic — deliberately not floating point:
    *
    *   r_0(v)     = Scale                        (i.e. 1.0)
    *   r_{t+1}(v) = floor(0.15 * Scale)
    *              + (85 * sum over incoming u of (r_t(u) div outdeg(u))) div 100
    *
    * Every operation is integer (`div` = floor division on BIGINT), so the
    * per-node sum is an exact associative long addition: the result is
    * bit-identical across partitionings and re-runs, and reproducible in
    * any SQL engine — a floating-point PageRank's groupBy-sum order would
    * break both. Precision cost: each div truncates < 1e-6 of rank mass.
    *
    * Semantics notes (both mirrored exactly by the oracle):
    *   - duplicate edges are collapsed (DISTINCT) before degree counting
    *     (callers that can guarantee uniqueness pass `edgesAreDistinct =
    *     true` and skip that corpus-wide shuffle);
    *   - dangling-node mass (outdeg = 0) is dropped, not redistributed —
    *     ranks are a relative authority ordering, not a distribution;
    *   - nodes = src ∪ dst of the edge list.
    *
    * Scale shape: ONE materialization of the corpus-sized input — the
    * edge table, hash-partitioned on src with out-degree attached by a
    * same-partitioning window (no degree join, no second pass). The
    * checkpointed LogicalRDD keeps partitioning + ordering, so every
    * round's ranks join is already clustered on the edge side and the
    * only per-round corpus-sized exchange is the inherent contribution
    * groupBy(dst); ranks themselves are (node, rank)-only and
    * re-checkpointed per round so the loop does not grow lineage — the
    * same footprint as [[Dedup.nearDupClusters]]. Long overflow bound:
    * node in-mass is at most N * Scale * 85, safe below ~1e11 nodes;
    * shrink `Scale` beyond that.
    *
    * Returns (node, rank) — every node, rank in Scale units.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int = 3,
      edgesAreDistinct: Boolean = false
  ): DataFrame =
    pageRankOn(prepare(edges, srcCol, dstCol, edgesAreDistinct), iters)

  /** The iterative ranking over an already-prepared graph — the per-query
    * cost when the [[PreparedGraph]] is a reused ingest artifact
    * ([[prepareCached]]).
    *
    * `seeds` switches to PERSONALIZED PageRank: initial mass and the
    * per-round base term go only to the seed set (a one-column DataFrame
    * of node ids), so ranks measure graph proximity TO THE SEEDS — the
    * "documents related to this trusted set" retrieval prior — instead
    * of global authority. Same fixed-point arithmetic:
    *   r_0(v)     = Scale            if v ∈ seeds else 0
    *   base(v)    = floor(0.15 * Scale) if v ∈ seeds else 0
    * Seeds join the node table once (id-only broadcast-sized in the
    * typical trusted-set case); each round is otherwise identical.
    */
  def pageRankOn(
      g: PreparedGraph,
      iters: Int = 3,
      seeds: Option[DataFrame] = None
  ): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val withDeg = g.withDeg
    val base = (0.15 * Scale).toLong
    val nodes = seeds match {
      case None =>
        g.nodes.withColumn("is_seed", lit(true))
      case Some(sd) =>
        val seedIds = sd.select(col(sd.columns.head).as("node")).distinct()
          .withColumn("_s", lit(true))
        g.nodes.join(seedIds, Seq("node"), "left")
          .select(col("node"), coalesce(col("_s"), lit(false)).as("is_seed"))
    }
    val baseCol = when(col("is_seed"), lit(base)).otherwise(lit(0L))
    var ranks = nodes
      .withColumn("rank", when(col("is_seed"), lit(Scale)).otherwise(lit(0L)))
      .select("node", "rank", "is_seed")
    // per-round blocks superseded by the next round's pin (never the
    // prepared graph's own pins — those belong to the graph's lifecycle)
    var livePin = Set.empty[Int]
    for (i <- 1 to iters) {
      val contribs = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node")
        .agg(sum("c").as("s"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .select(
          col("node"),
          (baseCol + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("rank"),
          col("is_seed")
        )
      // per-round checkpoint: bounds lineage for deep iteration AND keeps
      // ranks' hash(node) partitioning visible to the next round's join
      // (measured equal-or-better than one deep pipelined plan even at
      // iters=3, where the uncheckpointed variant hides partitioning).
      // Mode via Checkpoints.pin: reliable when a checkpoint dir is set
      // (cluster durability), executor-local otherwise.
      if (i < iters) {
        ranks = graft.util.Checkpoints.pin(ranks)
        graft.util.Checkpoints.release(livePin, g.withDeg.sparkSession)
        livePin = graft.util.Checkpoints.pinnedRddIds(ranks)
      }
    }
    ranks.select("node", "rank")
  }

  /** Triangle enumeration with DEGREE ORDERING — the standard
    * O(m^{3/2}) distributed formulation (each edge oriented from its
    * lower-(degree, id) endpoint; wedges are generated only at each
    * node's out-neighbors, so a celebrity node of degree d contributes
    * O(d) oriented out-edges instead of O(d^2) wedges — THE skew guard
    * that makes triangle counting survive power-law graphs at 100 TB).
    *
    * Every triangle has exactly one out-degree-2 node under an acyclic
    * orientation, so each is emitted exactly once: wedge (x -> y, x -> z)
    * with ord(y) < ord(z), closed by the oriented edge (y -> z). All
    * joins are equi-joins on node ids (wedge: on x; closure: on (y, z));
    * the ord comparison is a post-join filter on broadcast-free columns.
    *
    * Input edges may be directed/duplicated; they are normalized to
    * distinct undirected pairs first. Returns (n1, n2, n3) — the
    * triangle's nodes in ascending id order.
    */
  def triangles(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      edgesAreDistinct: Boolean = false
  ): DataFrame = {
    val und0 = edges
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u") =!= col("v") && col("u").isNotNull && col("v").isNotNull)
    // callers whose edge list is already one row per undirected pair
    // (e.g. the output of a groupBy with u < v) pass edgesAreDistinct =
    // true and skip this corpus-wide shuffle — the prepare()/pageRank
    // convention (r18)
    val und = if (edgesAreDistinct) und0 else und0.distinct()
    val deg = und.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // orient low-ord -> high-ord, carrying the head's ord for the wedge
    // ordering; (deg, id) is a total order so the orientation is acyclic
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    // pinned: the oriented edge list is referenced THREE times (both
    // wedge sides + the closure probe) and everything upstream — the
    // caller's edge derivation, normalization, degree join — would
    // otherwise re-execute per reference (measured 5.9 s -> the edge
    // build dominating q_triangles; ReusedExchange does not cover the
    // differently-keyed subtrees). The pin is edge-count-sized; storage
    // follows the ContextCleaner lifecycle once the caller drops the
    // result.
    val oriented = graft.util.Checkpoints.pin(withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("t"), col("v").as("h"), col("dv").as("dh")))
        .otherwise(struct(col("v").as("t"), col("u").as("h"), col("du").as("dh")))
        .as("e"))
      .select(col("e.t").as("t"), col("e.h").as("h"), col("e.dh").as("dh")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.t") === col("e2.t") &&
          (col("e1.dh") < col("e2.dh") ||
            (col("e1.dh") === col("e2.dh") && col("e1.h") < col("e2.h"))))
      .select(col("e1.t").as("x"), col("e1.h").as("y"), col("e2.h").as("z"))
    wedges
      .join(oriented.select(col("t").as("y"), col("h").as("z")), Seq("y", "z"))
      .select(sort_array(array(col("x"), col("y"), col("z"))).as("tri"))
      .select(col("tri")(0).as("n1"), col("tri")(1).as("n2"), col("tri")(2).as("n3"))
  }
}
