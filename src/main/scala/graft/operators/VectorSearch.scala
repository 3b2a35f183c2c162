package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Vector similarity search over an `array<float>` embedding column.
  *
  * Exact brute-force top-k is the parity baseline — the reference's LanceDB
  * store also runs exact kNN until an ANN index is explicitly created
  * (reference: src/load/lancedb_store.py:127-152; no ANN index is ever
  * built). Spark plans `orderBy(desc).limit(k)` as TakeOrderedAndProject:
  * each partition keeps a k-heap and only k rows per partition move to the
  * driver — no global sort, scales to arbitrarily many partitions.
  *
  * The scale path is [[SimHashLsh]]-bucketed search: probe only buckets
  * within a Hamming radius of the query signature, then exact re-rank —
  * turning a full-corpus scan into a partition-pruned scan when the
  * corpus is bucketed/partitioned by signature prefix.
  */
object VectorSearch {

  /** Exact brute-force top-k. `tieBreak` makes the k-set deterministic
    * under score ties. `scorer` defaults to full cosine; pass
    * [[VectorFunctions.dotProduct]] when both sides are unit vectors
    * (same ranking, a third of the flops).
    */
  def topK(
      corpus: DataFrame,
      vecCol: String,
      queryVec: Array[Float],
      k: Int,
      tieBreak: Column,
      prefilter: Option[Column] = None,
      scorer: (Column, Column) => Column = VectorFunctions.cosineSim
  ): DataFrame = {
    val base = prefilter.map(corpus.where).getOrElse(corpus)
    base
      .withColumn("score", scorer(col(vecCol), typedLit(queryVec.toSeq)))
      .orderBy(desc("score"), tieBreak)
      .limit(k)
  }

  /** Int8 scalar quantization (SQ8) for embedding storage: per-vector
    * absolute-max scale, components mapped to `floor(x * 127 / mx)` in
    * [-127, 127]. The standard 4x storage/bandwidth cut for a 100 TB
    * vector corpus (float32 -> int8), with search running on EXACT
    * integer dot products over the quantized codes — associative,
    * partition-invariant, engine-portable (floor of an IEEE double
    * division is bit-stable; no round-half ambiguity).
    *
    * Returns (id, mx, qvec: array<bigint> with values in [-127, 127]).
    * Zero vectors quantize to all-zero codes.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("_v"))
      .withColumn("mx",
        aggregate(col("_v"), lit(0.0d), (a, x) => greatest(a, abs(x.cast("double")))))
      .withColumn("qvec",
        when(col("mx") === 0.0d, transform(col("_v"), _ => lit(0L)))
          .otherwise(transform(col("_v"),
            // clamp: for double inputs, (x * 127.0) / mx at x = -mx can
            // land at -127.000...01 (twice-rounded), whose floor is -128 —
            // outside the documented symmetric range (float inputs are
            // exact and never hit this)
            x => greatest(
              floor(x.cast("double") * 127.0d / col("mx")).cast("long"),
              lit(-127L)))))
      .select("id", "mx", "qvec")

  /** Exact integer dot product of two quantized code arrays. */
  def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Brute-force top-k over SQ8 codes. The integer dot `score_q` is
    * exact but scale-blind (each vector has its own quantization step),
    * so ranking uses the dequantized `score_dq = score_q * qmx * mx /
    * 127^2` — the approximate DOT product. For cosine retrieval,
    * L2-normalize vectors BEFORE [[quantizeInt8]] (cosine is the dot of
    * unit vectors); rescore the k winners in float32 if exactness
    * matters. `queryCodes`/`queryMx` come from the query's own
    * [[quantizeInt8]] row.
    */
  def topKInt8(
      quantized: DataFrame,
      queryCodes: Seq[Long],
      queryMx: Double,
      k: Int
  ): DataFrame =
    quantized
      .withColumn("score_q", intDot(col("qvec"), typedLit(queryCodes)))
      .withColumn("score_dq",
        round(col("score_q") * lit(queryMx) * col("mx") / lit(16129.0d), 6))
      .orderBy(desc("score_dq"), col("id"))
      .limit(k)
      .select("id", "score_q", "score_dq")

  /** Matryoshka (MRL) truncated-dimension retrieval: cosine top-k over
    * only the first `dims` components. MRL-trained embeddings keep most
    * of their signal in the prefix, so the coarse pass scans a `dims/d`
    * fraction of the bytes (e.g. 16 of 64 dims = 4x less IO) and the
    * full-dimension rescore runs only on the shortlist. Renormalization
    * is unnecessary — cosine normalizes both sides by construction.
    */
  def matryoshkaTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Array[Float],
      dims: Int,
      k: Int
  ): DataFrame = {
    require(dims >= 1, s"need dims >= 1, got $dims")
    corpus
      .withColumn("score",
        VectorFunctions.cosineSim(
          slice(col(vecCol), 1, dims), typedLit(queryVec.take(dims).toSeq)))
      .orderBy(desc("score"), col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** MMR (maximal marginal relevance) diversity re-rank: greedily pick
    * `k` of each query's candidates maximizing
    * `lambda * relevance - (1 - lambda) * max cosine to already-picked`,
    * so near-duplicate hits don't crowd the result page — the standard
    * fix for retrieval over a corpus with residual near-dups, and the
    * diversity knob for RAG context assembly.
    *
    * Scale shape: MMR is inherently sequential in k, so it runs AFTER
    * candidate generation over each query's BOUNDED top-N (pass ~5-10x k
    * candidates from [[topK]]/[[topKBatch]]/IVF). One shuffle groups
    * candidates by query; each group is an in-memory greedy loop over
    * <= N vectors (flatMapGroups: per-group bounded sequential logic,
    * never a corpus-wide loop). Deterministic: candidates are sorted (score desc,
    * id asc) before the loop and ties pick the smaller id, so the output
    * is partition-invariant.
    *
    * Returns (qid, id, mmr_rank, mmr_score) with mmr_rank = 1..k in pick
    * order; mmr_score is the marginal score at pick time (rank 1 keeps
    * pure relevance).
    */
  def mmrRerank(
      candidates: DataFrame,
      qidCol: String,
      idCol: String,
      vecCol: String,
      scoreCol: String,
      k: Int,
      lambda: Double = 0.7
  ): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    val spark = candidates.sparkSession
    import spark.implicits._
    val ds = candidates
      .select(
        col(qidCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"),
        col(scoreCol).cast("double").as("score")
      )
      .as[(Long, Long, Array[Float], Double)]
    ds.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Array[Float], Double)]) =>
        val cands = it.toArray.sortBy(c => (-c._4, c._2))
        val norms = cands.map(c => math.sqrt(c._3.foldLeft(0.0)((s, x) => s + x * x)))
        def cos(i: Int, j: Int): Double = {
          val (a, b) = (cands(i)._3, cands(j)._3)
          val denom = norms(i) * norms(j)
          if (denom == 0.0) 0.0
          else {
            var s = 0.0; var p = 0; val n = math.min(a.length, b.length)
            while (p < n) { s += a(p).toDouble * b(p).toDouble; p += 1 }
            s / denom
          }
        }
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        val pickedIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
        // maxSim(i) = max cosine from candidate i to the picked set so far;
        // updated incrementally after each pick (O(N) per round, O(Nk) total)
        val maxSim = Array.fill(cands.length)(Double.NegativeInfinity)
        val used = Array.fill(cands.length)(false)
        var rank = 1
        var exhausted = false
        while (!exhausted && rank <= k && rank <= cands.length) {
          var best = -1
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < cands.length) {
            if (!used(i)) {
              val marginal =
                if (pickedIdx.isEmpty) cands(i)._4
                else lambda * cands(i)._4 - (1 - lambda) * maxSim(i)
              // strict > plus score-desc/id-asc candidate order = ties
              // resolve to the higher relevance, then the smaller id
              if (marginal > bestScore) { bestScore = marginal; best = i }
            }
            i += 1
          }
          // every remaining marginal NaN (zero-vector candidates score
          // NaN from 0/0 cosine): nothing comparable is left to pick —
          // stop instead of dereferencing best = -1
          if (best == -1) exhausted = true
          else {
          used(best) = true
          pickedIdx += best
          picked += ((qid, cands(best)._2, bestScore))
          var j = 0
          while (j < cands.length) {
            if (!used(j)) maxSim(j) = math.max(maxSim(j), cos(j, best))
            j += 1
          }
          rank += 1
          }
        }
        picked.iterator.zipWithIndex.map { case ((q, id, s), idx) => (q, id, idx + 1L, s) }
      }
      .toDF("qid", "id", "mmr_rank", "mmr_score")
  }

  /** FIXED-POINT integer MMR — the exactly-portable twin of
    * [[mmrRerank]] (the [[GraphOps.pageRank]] precedent: scaled-long
    * marginals make the greedy loop bit-reproducible in any engine, so
    * the selection machinery is hash-checkable against a SQL oracle).
    *
    * Inputs are PRE-QUANTIZED: `vecCol` is `array<bigint>` (e.g.
    * floor(x/||x||*10000) per element — integer ~ cosine*1e8 dots) and
    * `scoreCol` is the integer query-candidate dot. All arithmetic is
    * Long: similarity is the integer dot product; with `lambdaTenths`=7
    * the marginal is `7*score - 3*maxSim` (the ×10-scaled 0.7/0.3 MMR),
    * rank 1 keeps pure relevance as `10*score`. Ties: higher marginal,
    * then higher score, then smaller id — total order, no FP drift.
    *
    * Same flatMapGroups shape as [[mmrRerank]]: one shuffle groups each
    * query's bounded candidate set; the greedy loop is per-group local.
    */
  def mmrRerankFixed(
      candidates: DataFrame,
      qidCol: String,
      idCol: String,
      vecCol: String,
      scoreCol: String,
      k: Int,
      lambdaTenths: Int = 7
  ): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(lambdaTenths >= 0 && lambdaTenths <= 10, s"lambdaTenths in [0,10], got $lambdaTenths")
    val spark = candidates.sparkSession
    import spark.implicits._
    val lam = lambdaTenths.toLong
    val ds = candidates
      .select(
        col(qidCol).cast("long").as("qid"),
        col(idCol).cast("long").as("id"),
        col(vecCol).as("vec"),
        col(scoreCol).cast("long").as("score")
      )
      .as[(Long, Long, Array[Long], Long)]
    ds.groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Array[Long], Long)]) =>
        val cands = it.toArray.sortBy(c => (-c._4, c._2))
        def dot(i: Int, j: Int): Long = {
          val (a, b) = (cands(i)._3, cands(j)._3)
          var s = 0L; var p = 0; val n = math.min(a.length, b.length)
          while (p < n) { s += a(p) * b(p); p += 1 }
          s
        }
        val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        val maxSim = Array.fill(cands.length)(Long.MinValue)
        val used = Array.fill(cands.length)(false)
        var nPicked = 0
        while (nPicked < k && nPicked < cands.length) {
          var best = -1
          var bestM = Long.MinValue
          var i = 0
          while (i < cands.length) {
            if (!used(i)) {
              val m =
                if (nPicked == 0) 10L * cands(i)._4
                else lam * cands(i)._4 - (10L - lam) * maxSim(i)
              // strict > over (score desc, id asc)-sorted candidates =
              // ties resolve to higher relevance then smaller id
              if (m > bestM) { bestM = m; best = i }
            }
            i += 1
          }
          used(best) = true
          picked += ((qid, cands(best)._2, bestM))
          var j = 0
          while (j < cands.length) {
            if (!used(j)) maxSim(j) = math.max(maxSim(j), dot(j, best))
            j += 1
          }
          nPicked += 1
        }
        picked.iterator.zipWithIndex.map { case ((q, id, m), idx) => (q, id, idx + 1L, m) }
      }
      .toDF("qid", "id", "mmr_rank", "mmr_score")
  }

  /** Batched multi-query top-k: one job answers MANY query vectors (the
    * training-pipeline shape: retrieve neighbors for every document of a
    * batch, e.g. for distillation or hard-negative mining). Built on the
    * [[graft.plans.TopKBy]] bounded-heap aggregate, so the grouped top-k
    * never sorts: each (partition, query) keeps a k-heap and the shuffle
    * carries <= k rows per query.
    *
    * `blockBits > 0` adds SimHash blocking: query x corpus pairs are
    * joined on matching signature prefixes instead of a full cross
    * product (recall/cost trade, exact when 0). Blocking mode requires an
    * explicit `blockDim` (the embedding dimension): the signature planes
    * must span the FULL vector, and the caller knows the corpus dimension
    * statically — inferring it here would cost a driver-side action on
    * the corpus (the operator path stays action-free).
    */
  def topKBatch(
      queries: DataFrame,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      k: Int,
      blockBits: Int = 0,
      blockDim: Int = 0
  ): DataFrame = {
    // TopKBy carries ids as longs through its heap buffer: a string id
    // would null-out (or ANSI-error) in the cast and silently empty the
    // results — fail loudly instead. Pre-map string ids to a numeric
    // surrogate before calling.
    corpus.schema(corpusIdCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case other =>
        throw new IllegalArgumentException(
          s"topKBatch: corpus id column '$corpusIdCol' must be numeric (got ${other.sql}); map string ids to a numeric surrogate first"
        )
    }
    require(blockBits <= 0 || blockDim > 0,
      s"topKBatch: blocking mode (blockBits=$blockBits) needs an explicit blockDim > 0 " +
        "(the embedding dimension) — planes shorter than the vectors silently truncate recall")
    val q = queries.select(col(queryIdCol).as("query_id"), col(queryVecCol).as("qv"))
    val c = corpus.select(col(corpusIdCol).as("corpus_id"), col(corpusVecCol).as("cv"))
    val paired =
      if (blockBits <= 0) q.crossJoin(c)
      else {
        val lsh = SimHashLsh(nBits = blockBits, dim = blockDim)
        val qs = lsh.withSignature(q, "qv").withColumnRenamed("sig", "qsig")
        val cs = lsh.withSignature(c, "cv").withColumnRenamed("sig", "csig")
        qs.join(cs, col("qsig") === col("csig")).drop("qsig", "csig")
      }
    paired
      .withColumn("score", VectorFunctions.cosineSim(col("qv"), col("cv")))
      .groupBy("query_id")
      .agg(graft.plans.TopKBy.topKBy(col("score"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), col("top"))
  }

  /** Hard-negative mining for contrastive retrieval training: for every
    * anchor, the `k` corpus vectors MOST similar by cosine whose label
    * differs from the anchor's — the "looks relevant but is not" training
    * signal (vs [[Sampling.negativePairs]]' uniform easy negatives).
    *
    * Same shape as [[topKBatch]]: the anchor batch broadcasts against a
    * single corpus scan, the label exclusion is a narrow post-join
    * filter, and per-anchor selection runs in [[graft.plans.TopKBy]]
    * bounded heaps (map-side partial, no per-anchor sort). Anchor
    * cardinality is query-batch-sized by contract.
    *
    * Returns (anchor_id, top) with top = [(score, id)] ranked best-first.
    */
  def hardNegatives(
      anchors: DataFrame,
      corpus: DataFrame,
      anchorIdCol: String,
      anchorVecCol: String,
      anchorLabelCol: String,
      corpusIdCol: String,
      corpusVecCol: String,
      corpusLabelCol: String,
      k: Int
  ): DataFrame = {
    val q = anchors.select(
      col(anchorIdCol).as("anchor_id"), col(anchorVecCol).as("qv"), col(anchorLabelCol).as("_hn_ql"))
    val c = corpus.select(
      col(corpusIdCol).as("corpus_id"), col(corpusVecCol).as("cv"), col(corpusLabelCol).as("_hn_cl"))
    q.crossJoin(c)
      .where(col("_hn_ql") =!= col("_hn_cl"))
      .withColumn("score", VectorFunctions.cosineSim(col("qv"), col("cv")))
      .groupBy("anchor_id")
      .agg(graft.plans.TopKBy.topKBy(col("score"), col("corpus_id"), k).as("top"))
      .select(col("anchor_id"), col("top"))
  }

  /** Random-hyperplane (SimHash) LSH for cosine distance.
    *
    * `nBits` hyperplanes with deterministic pseudo-random components give
    * each vector an `nBits`-bit signature; cosine-similar vectors agree on
    * most bits. ANN search probes candidates whose signature is within
    * `maxHamming` of the query's, then exact-reranks. At cluster scale the
    * corpus is written partitioned by a signature prefix so probing reads
    * only matching partitions.
    */
  final case class SimHashLsh(nBits: Int = 16, dim: Int = 64, seed: Long = 42L) {

    // derived once per signer: a banded index probes with the same L
    // signers on every query
    @transient private lazy val planes = VectorFunctions.simhashPlanes(nBits, dim, seed)

    def signatureOf(vec: Seq[Float]): Long = {
      // same fold order and widening as the executor kernel
      // (VectorFunctions.simhashSig)
      var sig = 0L
      var j = 0
      while (j < nBits) {
        val row = planes(j)
        var dot = 0.0
        var i = 0
        val n = math.min(dim, vec.length)
        while (i < n) { dot += vec(i) * row(i); i += 1 }
        if (dot >= 0) sig |= (1L << j)
        j += 1
      }
      sig
    }

    /** Attach a `sig` column — the codegen'd
      * [[graft.functions.VectorFunctions.SimHashSignature]] kernel (r19):
      * the Scala-UDF form deserialized every vector to Seq[Float] and
      * re-derived the plane matrix PER ROW; values are bit-identical
      * (same planes, same i-ascending double fold). Applied once at index
      * build time and persisted, not per query.
      */
    def withSignature(corpus: DataFrame, vecCol: String): DataFrame =
      corpus.withColumn("sig",
        VectorFunctions.simhashSigCol(col(vecCol), nBits, dim, seed))

    /** ANN top-k: Hamming-filter on signatures, exact cosine re-rank. */
    def annTopK(
        indexed: DataFrame,
        vecCol: String,
        queryVec: Array[Float],
        k: Int,
        tieBreak: Column,
        maxHamming: Int = 4
    ): DataFrame = {
      val qSig = signatureOf(queryVec.toIndexedSeq)
      val candidates = indexed.where(bit_count(col("sig").bitwiseXOR(lit(qSig))) <= maxHamming)
      topK(candidates, vecCol, queryVec, k, tieBreak)
    }
  }

  /** Persisted SimHash-LSH index: the corpus with its signature attached
    * ONCE at build time — the per-query signature pass over the whole
    * corpus (what [[SimHashLsh.withSignature]] costs when applied inside
    * each query) is exactly what this removes — plus an 8-bit signature
    * PREFIX column for storage partitioning. Lifecycle:
    * build → [[writeLsh]] (partitioned by prefix) →
    * [[loadLsh]] → [[extendLsh]] (incremental, O(batch), same planes).
    */
  final case class LshIndex(indexed: DataFrame, lsh: SimHashLsh, vecCol: String) {

    /** ANN top-k over the indexed corpus: Hamming-radius candidate filter
      * + exact cosine re-rank, with signature-PREFIX pruning in front.
      * Total Hamming <= `maxHamming` bounds prefix Hamming by the same
      * radius, so only prefixes within `maxHamming` of the query's can
      * hold candidates — against a [[writeLsh]]-partitioned corpus that
      * filter is parquet partition pruning (the IndexPersistenceSpec plan
      * assertion), shrinking the scan to matching directories.
      *
      * HOW MUCH it prunes is radius-dependent: the admitted fraction is
      * `sum_(i=0..min(r,p)) C(p,i) / 2^p` for prefix width p — with the
      * 8-bit prefix that is 14% at r=2, 64% at r=4, and **100% at r >=
      * 8**: at the recall-safe 16-bit/radius-8 operating point the
      * prefix filter admits EVERY partition and is skipped (the prefix
      * layout still clusters similar signatures into the same files for
      * row-group-level locality, but the query reads all directories).
      *
      * That no-op is FUNDAMENTAL to single-table Hamming probing, not a
      * tuning miss: SimHash Hamming distance concentrates at
      * nBits * angle / pi, so the radius needed for a target recall
      * GROWS with the signature length — r/p stays angle-determined and
      * wide for any useful recall. The 100 TB read-shrink path is the
      * multi-TABLE band-OR layout (L independent short signatures, one
      * EXACT-match bucket probe per table — the [[SimHashLsh]] band /
      * [[graft.operators.Dedup.minhashLshPairs]] structure applied to
      * the storage layout: L partition columns, L single-partition
      * probes unioned, recall tuned by L instead of a radius); this
      * single-prefix layout keeps the simpler lifecycle and relies on
      * the Hamming filter + locality, honest about reading every
      * directory at wide radii.
      */
    def annTopK(queryVec: Array[Float], k: Int, tieBreak: Column, maxHamming: Int = 4): DataFrame = {
      val qSig = lsh.signatureOf(queryVec.toIndexedSeq)
      val pb = LshIndex.prefixBits(lsh.nBits)
      val qPrefix = qSig >>> (lsh.nBits - pb)
      val allowed = (0 until (1 << pb))
        .filter(p => java.lang.Long.bitCount(p.toLong ^ qPrefix) <= maxHamming)
      val pruned =
        if (allowed.length == (1 << pb)) indexed
        else indexed.where(col("sig_prefix").isin(allowed.map(_.toLong): _*))
      topK(
        pruned.where(bit_count(col("sig").bitwiseXOR(lit(qSig))) <= maxHamming),
        vecCol, queryVec, k, tieBreak)
    }
  }

  object LshIndex {
    /** Partition-prefix width: 8 bits (256 directories) caps the
      * partition count at a filesystem-friendly size; narrower
      * signatures use their full width.
      */
    private[operators] def prefixBits(nBits: Int): Int = math.min(8, nBits)
  }

  /** Build an LSH index: sign every vector with `lsh`'s planes and attach
    * the partition prefix. One pass over the corpus, done at ingest time.
    */
  def buildLshIndex(corpus: DataFrame, vecCol: String, lsh: SimHashLsh = SimHashLsh()): LshIndex = {
    val pb = LshIndex.prefixBits(lsh.nBits)
    val indexed = lsh.withSignature(corpus, vecCol)
      .withColumn("sig_prefix",
        shiftrightunsigned(col("sig"), lsh.nBits - pb).cast("int"))
    LshIndex(indexed, lsh, vecCol)
  }

  /** Incrementally extend an LSH index with a batch WITHOUT touching
    * existing rows: the batch is signed with the index's OWN planes (a
    * fresh signer here would silently split the signature space) and
    * unioned — O(batch) work, existing rows never rewritten.
    * `newVectors` must carry the index's original corpus schema.
    */
  def extendLsh(index: LshIndex, newVectors: DataFrame): LshIndex = {
    val pb = LshIndex.prefixBits(index.lsh.nBits)
    val signed = index.lsh.withSignature(newVectors, index.vecCol)
      .withColumn("sig_prefix",
        shiftrightunsigned(col("sig"), index.lsh.nBits - pb).cast("int"))
    LshIndex(index.indexed.unionByName(signed), index.lsh, index.vecCol)
  }

  /** Persist an LSH index partitioned BY SIGNATURE PREFIX: probing
    * becomes parquet partition pruning. The plane parameters ride in a
    * params sidecar so [[loadLsh]] reconstructs the identical signer
    * (extending or probing a loaded index with different planes is
    * meaningless).
    */
  def writeLsh(index: LshIndex, path: String): Unit =
    // writer lease (r16 verdict #1): persisted-index writes have the same
    // concurrent-writer exposure as the shard store's verbs
    graft.sources.StoreLease.withRenewableLease(path, "write-lsh") { lease =>
    require(!index.vecCol.exists(c => c == '"' || c == '\\'),
      s"writeLsh: vecCol '${index.vecCol}' contains a quote or backslash, unsupported by the params sidecar")
    // cluster rows by prefix before the partitioned write: partitionBy
    // alone makes every input partition open a file per prefix it holds
    // (up to partitions x 256 tiny files — measured 5x the write time at
    // bench scale); after the repartition each prefix's rows sit in one
    // input partition, so each directory gets one file. The partition
    // COUNT is pinned to the prefix-value count (r18): a keys-only
    // repartition is AQE-coalescible, and with KB-scale shuffle input
    // AQE folded the whole write into ONE task that created all 2^pb
    // directories sequentially — measured 11.0 s of q_lsh_persisted's
    // 15.1 s wall. Pinning makes the write one task per prefix (the
    // layout itself is unchanged: hash-by-prefix keeps one file per
    // directory at any partition count).
    index.indexed
      .repartition(1 << LshIndex.prefixBits(index.lsh.nBits), col("sig_prefix"))
      .write.mode("overwrite").partitionBy("sig_prefix").parquet(s"$path/buckets")
    // heartbeat after the corpus-scale write: the sidecar + release stay
    // protected even when the bucket write alone outlives the ttl
    lease.renew()
    graft.util.Sidecar.write(
      index.indexed.sparkSession, s"$path/params.json",
      s"""{"nBits":${index.lsh.nBits},"dim":${index.lsh.dim},"seed":${index.lsh.seed},"vecCol":"${index.vecCol}"}""")
  }

  /** Load a persisted LSH index (inverse of [[writeLsh]]). */
  def loadLsh(spark: org.apache.spark.sql.SparkSession, path: String): LshIndex = {
    val where = s"$path/params.json"
    val json = graft.util.Sidecar.read(spark, where)
    def num(key: String): Long = graft.util.Sidecar.num(json, key, where)
    val vecCol = graft.util.Sidecar.str(json, "vecCol", where)
    val lsh = SimHashLsh(nBits = num("nBits").toInt, dim = num("dim").toInt, seed = num("seed"))
    LshIndex(spark.read.parquet(s"$path/buckets"), lsh, vecCol)
  }

  /** Multi-table band-OR LSH — the layout the [[LshIndex]] scaladoc
    * points to as the REAL 100 TB read-shrink path: `L` independent
    * short SimHash signatures ("bands", distinct plane seeds), the
    * corpus persisted ONCE PER TABLE partitioned by that table's band,
    * and a query probing exactly ONE partition per table (exact bucket
    * match, no Hamming radius) before the exact cosine rerank. Recall
    * is tuned by `L` (miss probability (1 - p^b)^L for per-plane
    * agreement p = 1 - angle/pi), not by a radius — so every probe is a
    * single-directory read at ANY recall target, the property
    * single-table Hamming probing fundamentally cannot have. Cost:
    * L x the index storage (the standard LSH trade).
    */
  final case class BandedLshIndex(
      tables: Seq[DataFrame],
      bands: Seq[SimHashLsh],
      idCol: String,
      vecCol: String,
      combined: Option[DataFrame] = None
  ) {
    require(tables.length == bands.length && tables.nonEmpty,
      s"BandedLshIndex: ${tables.length} tables vs ${bands.length} bands")

    /** Candidates = union of each table's exact-match bucket, deduped by
      * id (a vector can land in several tables' buckets), then exact
      * top-k. Over a [[writeBandedLsh]]-persisted index (`combined`
      * set) the L legs collapse into ONE scan whose OR-of-(tbl, band)
      * predicate is pure partition pruning — the whole probe reads
      * exactly L leaf directories in a single job.
      */
    def annTopK(queryVec: Array[Float], k: Int, tieBreak: Column): DataFrame = {
      val cands = combined match {
        case Some(c) =>
          val pred = bands.zipWithIndex
            .map { case (b, i) =>
              col("tbl") === lit(i) && col("band") === lit(b.signatureOf(queryVec.toIndexedSeq))
            }
            .reduce(_ || _)
          c.where(pred).drop("band", "tbl")
        case None =>
          tables.zip(bands)
            .map { case (t, b) =>
              t.where(col("band") === lit(b.signatureOf(queryVec.toIndexedSeq))).drop("band")
            }
            .reduce(_ unionByName _)
      }
      topK(cands.dropDuplicates(idCol), vecCol, queryVec, k, tieBreak)
    }
  }

  /** Build a banded LSH index: sign the corpus once per table with that
    * table's OWN planes. `dim` is explicit (the topKBatch precedent —
    * planes shorter than the vectors silently truncate recall).
    */
  def buildBandedLsh(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numTables: Int = 6,
      bandBits: Int = 8,
      seed: Long = 42L
  ): BandedLshIndex = {
    require(numTables >= 1 && bandBits >= 1,
      s"buildBandedLsh: need numTables >= 1 and bandBits >= 1, got $numTables/$bandBits")
    val bands = (0 until numTables)
      .map(i => SimHashLsh(nBits = bandBits, dim = dim, seed = seed + 7919L * i))
    val tables = bands.map(b =>
      b.withSignature(corpus, vecCol).withColumnRenamed("sig", "band"))
    BandedLshIndex(tables, bands, idCol, vecCol)
  }

  /** Choose the band-table count L that meets each recall target — the
    * banded-LSH sizing answer, measured per corpus instead of solved by
    * hand: expected recall@k is the mean over sampled (query,
    * true-neighbor) pairs of 1 - (1 - q_i)^L, where q_i = p_i^bandBits
    * is the pair's one-table bucket-collision probability and
    * p_i = 1 - theta_i/pi its per-plane agreement (the SimHash
    * collision identity). Returns, per target, the smallest L whose mean
    * clears the target PLUS the measured correlated-tables `slack`;
    * fails loudly past `maxL` (the target needs wider bands or brute
    * force, not more tables). The probe stage runs ONCE for all targets;
    * each target's L search is pure driver math over the same q_i
    * sample, so one call sizes a whole recall/cost menu.
    *
    * The per-pair averaging matters: f(q) = 1 - (1-q)^L is concave in
    * q, so the closed form ceil(log(1-target)/log(1-qbar)) over a mean
    * qbar OVERSTATES recall whenever pair difficulty varies (Jensen) —
    * hard neighbors near 90 degrees dominate the misses.
    *
    * `slack` (VERDICT r13 #5) is the model's measured optimism on real
    * corpora: the per-pair independence assumption ignores that the L
    * tables share the corpus geometry, so misses CORRELATE across tables
    * and measured recall lands a few points under the prediction (the
    * sf0.1 datasheet read 0.865 measured for a 0.90 solve). The solver
    * therefore inflates L until `model - slack >= target`, so the
    * returned index DELIVERS the target instead of predicting it; pass
    * `slack = 0` for the raw model answer. `target + slack` must stay
    * below 1 — past that, no table count can absorb the correlation
    * (widen the bands or use exact search).
    *
    * Cost: ONE batched exact top-k job over `sample` for the whole
    * query panel ([[topKBatch]] bounded heaps — r17 verdict #6; the
    * panel ids must be numeric, topKBatch's contract) + nQueries x k
    * driver rows of math. Run on a corpus SAMPLE; the q_i distribution
    * is a geometry property that stabilizes at modest sample sizes.
    */
  def calibrateBandedLMulti(
      sample: DataFrame,
      idCol: String,
      vecCol: String,
      bandBits: Int,
      recallTargets: Seq[Double],
      k: Int = 10,
      nQueries: Int = 20,
      maxL: Int = 64,
      slack: Double = 0.05
  ): Map[Double, Int] = {
    require(recallTargets.nonEmpty && recallTargets.forall(t => t > 0.0 && t < 1.0),
      s"calibrateBandedLMulti: recall targets must be in (0, 1), got ${recallTargets.mkString(",")}")
    require(slack >= 0.0, s"calibrateBandedLMulti: slack must be >= 0, got $slack")
    require(recallTargets.forall(_ + slack < 1.0),
      s"calibrateBandedLMulti: target + slack must stay below 1 (targets " +
        s"${recallTargets.mkString(",")} with slack $slack) — lower the slack, widen the " +
        "bands, or use exact search")
    require(nQueries >= 1 && k >= 1 && bandBits >= 1 && maxL >= 1,
      s"calibrateBandedLMulti: nQueries/k/bandBits/maxL must be positive")
    // deterministic query panel: the nQueries lowest ids — probed in ONE
    // batched [[topKBatch]] job (r17 verdict #6: the per-query topK loop
    // ran nQueries sequential driver-paced jobs for the same scores; the
    // bounded-heap aggregate answers the whole panel in one pass). Only
    // the per-pair SCORES feed the model, and a tie at any k-boundary
    // means equal scores, so the q_i sample is identical to the looped
    // form's. Non-integral ids ride on a deterministic xxhash64
    // surrogate (the looped form never constrained the id type, and the
    // scores are all that is read — review r18).
    def surrogate(c: Column): Column =
      if (isIntegral(sample.schema(idCol).dataType)) c.cast("long") else xxhash64(c)
    val panel = sample.orderBy(col(idCol)).limit(nQueries)
      .select(surrogate(col(idCol)).as("_cal_qid"), col(vecCol).as("_cal_qv"))
    val corpus = sample
      .select(surrogate(col(idCol)).as("_cal_id"), col(vecCol).as("_cal_vec"))
    val qs = topKBatch(panel, corpus, "_cal_qid", "_cal_qv", "_cal_id", "_cal_vec", k)
      .select(explode(col("top")).as("_t"))
      .select(col("_t.score").cast("double")).collect()
      .map { r =>
        val c = math.max(-1.0, math.min(1.0, r.getDouble(0)))
        val p = 1.0 - math.acos(c) / math.Pi
        math.pow(p, bandBits)
      }
    require(qs.nonEmpty, "calibrateBandedLMulti: empty sample")
    recallTargets.map { target =>
      target -> (1 to maxL).find { l =>
        qs.map(q => 1.0 - math.pow(1.0 - q, l)).sum / qs.length - slack >= target
      }.getOrElse(throw new IllegalArgumentException(
        f"calibrateBandedLMulti: recall $target%.2f (+ slack $slack%.2f) unreachable at " +
          f"bandBits=$bandBits even with L=$maxL tables — widen the sweep with fewer " +
          "bandBits or use exact search"))
    }.toMap
  }

  /** Persist the L tables as ONE dataset partitioned by (tbl, band) —
    * L x 2^bandBits leaf directories written in a single job (the
    * per-table-write form paid L job setups + commits for the same
    * directory count), and the probe's OR-of-(tbl, band) predicate
    * prunes to exactly L leaves in a single scan. Params sidecar
    * reconstructs the signers.
    *
    * The sidecar stores only the HEAD band's (seed, nBits, dim) and
    * [[loadBandedLsh]] re-derives band i as seed + 7919*i — the
    * [[buildBandedLsh]] derivation. An index whose bands were
    * constructed any other way would round-trip to DIFFERENT signers
    * and probe wrong buckets with silent recall collapse, so the write
    * validates the derivation and fails loudly instead.
    */
  def writeBandedLsh(index: BandedLshIndex, path: String): Unit =
    graft.sources.StoreLease.withRenewableLease(path, "write-banded-lsh") { lease =>
    val b0 = index.bands.head
    index.bands.zipWithIndex.foreach { case (b, i) =>
      require(b.nBits == b0.nBits && b.dim == b0.dim && b.seed == b0.seed + 7919L * i,
        s"writeBandedLsh: band $i (nBits=${b.nBits}, dim=${b.dim}, seed=${b.seed}) does not " +
          s"match the buildBandedLsh derivation (nBits=${b0.nBits}, dim=${b0.dim}, " +
          s"seed=${b0.seed + 7919L * i}); loadBandedLsh would reconstruct different signers")
    }
    // the regex-parsed sidecar cannot represent quotes/backslashes in
    // identifiers — reject rather than corrupt (loud-failure discipline)
    Seq("idCol" -> index.idCol, "vecCol" -> index.vecCol).foreach { case (name, v) =>
      require(!v.exists(c => c == '"' || c == '\\'),
        s"writeBandedLsh: $name '$v' contains a quote or backslash, unsupported by the params sidecar")
    }
    index.tables.zipWithIndex
      .map { case (t, i) => t.withColumn("tbl", lit(i)) }
      .reduce(_ unionByName _)
      // cluster rows by leaf before the partitioned write (the writeLsh
      // lesson: partitionBy alone opens a file per leaf per input
      // partition — up to partitions x L x 2^b tiny files). Partition
      // count pinned like writeLsh's (r18): keys-only repartition is
      // AQE-coalescible and the collapsed write created all L x 2^b
      // directories from 1-2 tasks; one task per leaf (capped — beyond
      // the cap leaves share tasks but each still lands in one file,
      // rows of a leaf never split) keeps directory creation parallel.
      .repartition(
        math.min(index.bands.length << b0.nBits, 4096),
        col("tbl"), col("band"))
      .write.mode("overwrite").partitionBy("tbl", "band").parquet(s"$path/buckets")
    lease.renew() // the L-table write is the long pole; protect the tail
    graft.util.Sidecar.write(
      index.tables.head.sparkSession, s"$path/params.json",
      s"""{"numTables":${index.bands.length},"bandBits":${b0.nBits},"dim":${b0.dim},"seed":${b0.seed},"idCol":"${index.idCol}","vecCol":"${index.vecCol}"}""")
  }

  /** Load a persisted banded LSH index (inverse of [[writeBandedLsh]]):
    * `combined` carries the single partitioned dataset (the one-scan
    * probe path); `tables` are per-tbl views of it for parity with the
    * in-memory form.
    */
  def loadBandedLsh(spark: org.apache.spark.sql.SparkSession, path: String): BandedLshIndex = {
    val where = s"$path/params.json"
    val json = graft.util.Sidecar.read(spark, where)
    def num(key: String): Long = graft.util.Sidecar.num(json, key, where)
    def str(key: String): String = graft.util.Sidecar.str(json, key, where)
    val (n, bits, dim, seed) =
      (num("numTables").toInt, num("bandBits").toInt, num("dim").toInt, num("seed"))
    val bands = (0 until n).map(i => SimHashLsh(nBits = bits, dim = dim, seed = seed + 7919L * i))
    val combined = spark.read.parquet(s"$path/buckets")
    val tables = (0 until n).map(i => combined.where(col("tbl") === i).drop("tbl"))
    BandedLshIndex(tables, bands, str("idCol"), str("vecCol"), combined = Some(combined))
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nLists` cells; a query probes only the `nProbe` cells
    * whose centroids are nearest, then exact-reranks within them. The
    * standard trade: recall vs the fraction of the corpus scanned
    * (nProbe/nLists). The product index is session-resident
    * ([[buildIvfCached]]): probing filters the persisted `indexed` frame
    * to the probed cells.
    */
  final case class IvfIndex(
      indexed: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Double]],
      vecCol: String
  ) {
    def annTopK(queryVec: Array[Float], k: Int, tieBreak: Column, nProbe: Int = 4): org.apache.spark.sql.DataFrame = {
      val q = queryVec.map(_.toDouble)
      val probes = centroids.zipWithIndex
        .map { case (c, i) =>
          var d = 0.0
          var j = 0
          val n = math.min(c.length, q.length)
          while (j < n) { val t = c(j) - q(j); d += t * t; j += 1 }
          (i, d)
        }
        .sortBy(_._2)
        .take(nProbe)
        .map(_._1)
      topK(indexed.where(col("ivf_cell").isin(probes.toSeq: _*)), vecCol, queryVec, k, tieBreak)
    }
  }

  /** Build an IVF index over an `array<float>` column with a seeded
    * k-means quantizer (deterministic).
    */
  def buildIvf(corpus: org.apache.spark.sql.DataFrame, vecCol: String, nLists: Int = 16, seed: Long = 42L, maxIter: Int = 5): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = corpus.withColumn("_v", array_to_vector(col(vecCol).cast("array<double>")))
    // a coarse quantizer only partitions space, so few iterations suffice —
    // but init quality is cheap recall: k-means|| seeding lifted measured
    // recall@10 from 0.625 to 0.755 at nLists=16/nProbe=4 on the sf0.01
    // corpus (VectorFunctionsSpec) for a constant extra init passes over
    // a SAMPLE of the corpus. Sizing guidance: recall is governed by how
    // cells align with corpus structure — over-partitioning (nLists >>
    // natural clusters) splits neighbor sets across cells; the spec
    // measures 0.91@nProbe=4 when nLists matches the structure vs 0.755
    // when 1.6x over-partitioned.
    val model = new KMeans()
      .setK(nLists)
      .setSeed(seed)
      .setMaxIter(maxIter)
      .setInitMode("k-means||")
      .setFeaturesCol("_v")
      .setPredictionCol("ivf_cell")
      .fit(withVec)
    val indexed = model.transform(withVec).drop("_v").persist()
    IvfIndex(indexed, model.clusterCenters.map(_.toArray), vecCol)
  }

  // Session-resident IVF indices (graft.util.SessionIndices): ingest-time
  // build, query-time read.
  private val resident = graft.util.SessionIndices.namespace[IvfIndex]("ivf")

  def buildIvfCached(key: String, corpus: => org.apache.spark.sql.DataFrame, vecCol: String,
      nLists: Int = 16, seed: Long = 42L): IvfIndex =
    // build params are part of the cache identity: the same key with a
    // different vector column, nLists, or seed must not serve the old
    // quantizer
    resident.getOrBuild(s"$key:$vecCol:$nLists:$seed") {
      val ivf = buildIvf(corpus, vecCol, nLists, seed)
      graft.util.SessionIndices.Resident(ivf, persisted = Seq(ivf.indexed))
    }

  // --------------------------------------------------------- product quantization

  /** Trained product-quantization codebook: `codebook(s)(c)` is centroid
    * `c` of subspace `s`, in the shared fixed-point quantization
    * (floor(x * quantScale), BIGINT — the [[Clustering]] convention).
    * Plain data: serializable, broadcast-size (nSub * k * subDim longs),
    * frozen after fit — encode later batches against it without refit,
    * the [[Clustering.KmeansModel]] lifecycle.
    */
  final case class PqModel(codebook: Array[Array[Array[Long]]], quantScale: Int) {
    def nSub: Int = codebook.length
    def k: Int = codebook.head.length
    def subDim: Int = codebook.head.head.length
    def dim: Int = nSub * subDim
    private[operators] def lit2 =
      typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
  }

  /** Integer squared L2 between two quantized code arrays. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Argmin centroid id of subspace `s` for subvector `sub` against the
    * 3D codebook literal — min of (dist, cid) structs, ties to the lower
    * cid (the shared k-means convention).
    */
  private def pqArgmin(cb: Column, k: Int, s: Column, sub: Column): Column =
    array_min(transform(sequence(lit(0), lit(k - 1)), c =>
      struct(
        sqDist(sub, element_at(element_at(cb, s + 1), c + 1)).as("d"),
        c.as("c")))).getField("c")

  /** Train a product-quantization codebook (Jegou, Douze, Schmid 2011,
    * "Product Quantization for Nearest Neighbor Search"): split each
    * `dim` vector into `nSub` contiguous subspaces of `dim / nSub`
    * components and run seeded Lloyd's k-means INDEPENDENTLY per
    * subspace — in exact fixed-point integers, so the codebook (and
    * everything encoded with it) is bit-identical at any parallelism and
    * in any engine.
    *
    * Scale shape: the grouped-Lloyd's loop — vectors are exploded ONCE
    * into (subspace, subvector) rows (same total bytes as the corpus,
    * pinned for the fit), and each iteration is ONE narrow assignment
    * pass over them (k distances per row against the broadcast 3D
    * codebook literal) plus ONE map-side-combined shuffle of at most
    * `nSub * k * subDim` (sub, cid, pos, partial-sum) rows per task to
    * the driver-side centroid rebuild. All `nSub` subspaces train in the
    * same jobs — per-subspace sequential fits would re-scan the corpus
    * `nSub` times per iteration. Seeding: subvectors of the k lowest-id
    * rows (cid 0..k-1 in id order, per subspace); emptied clusters keep
    * their previous centroid; centroid update is floorDiv — the
    * [[Clustering.kmeansFit]] determinism contract, subspace-grouped.
    */
  def pqFit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nSub: Int = 8,
      k: Int = 16,
      iters: Int = 2,
      quantScale: Int = 1000
  ): PqModel = {
    require(nSub >= 1, s"need nSub >= 1, got $nSub")
    require(k >= 1, s"need k >= 1, got $k")
    require(iters >= 0, s"need iters >= 0, got $iters")
    require(quantScale >= 1, s"need quantScale >= 1, got $quantScale")
    val qCol = expr(
      s"transform($vecCol, x -> cast(floor(cast(x as double) * $quantScale.0D) as bigint))")

    val seeds = df
      .select(col(idCol).as("_pq_id"), qCol.as("_pq_q"))
      .orderBy("_pq_id")
      .limit(k)
      .collect()
    require(seeds.length == k, s"need at least k=$k rows, got ${seeds.length}")
    val dim = seeds.head.getSeq[Long](1).length
    require(dim % nSub == 0, s"dim $dim not divisible by nSub=$nSub")
    val subDim = dim / nSub
    var codebook: Array[Array[Array[Long]]] = Array.tabulate(nSub) { s =>
      seeds.map(_.getSeq[Long](1).slice(s * subDim, (s + 1) * subDim).toArray)
    }
    if (iters == 0) return PqModel(codebook, quantScale)

    graft.util.Checkpoints.scoped(df.sparkSession) { scratch =>
      val exploded = scratch.pin(
        df.select(qCol.as("_pq_q"))
          .select(explode(transform(sequence(lit(0), lit(nSub - 1)), s =>
            struct(s.as("s"), slice(col("_pq_q"), s * subDim + 1, lit(subDim)).as("sub"))))
            .as("e"))
          .select(col("e.s").as("_pq_s"), col("e.sub").as("_pq_sub")))
      for (_ <- 1 to iters) {
        val cb = typedLit(codebook.map(_.map(_.toSeq).toSeq).toSeq)
        val sums = exploded
          .withColumn("_pq_c", pqArgmin(cb, k, col("_pq_s"), col("_pq_sub")))
          .select(col("_pq_s"), col("_pq_c"),
            posexplode(col("_pq_sub")).as(Seq("_pq_p", "_pq_v")))
          .groupBy("_pq_s", "_pq_c", "_pq_p")
          .agg(sum("_pq_v").as("sm"), count(lit(1)).as("n"))
          .collect() // <= nSub * k * subDim rows — the distributed-kmeans driver step
        val byKey = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
        codebook = Array.tabulate(nSub) { s =>
          Array.tabulate(k) { c =>
            byKey.get((s, c)) match {
              case Some(rows) =>
                val next = codebook(s)(c).clone()
                rows.foreach(r => next(r.getInt(2)) = math.floorDiv(r.getLong(3), r.getLong(4)))
                next
              case None => codebook(s)(c) // emptied cluster keeps its centroid
            }
          }
        }
      }
      PqModel(codebook, quantScale)
    }
  }

  /** Encode vectors against a FROZEN PQ codebook: per subspace, the id
    * of the nearest centroid (integer L2, ties to the lower cid).
    * Returns (id, pq_codes: array<int>, nSub entries in [0, k)) — at the
    * nSub=8/k=16 default that is 8 codes of 4 useful bits: 4 bytes where
    * the float32 vector took 256, a 64x shrink of what a 100 TB ANN scan
    * has to read. One narrow pass, no shuffle, no driver action — the
    * incremental-batch path (encode new shards against the shared
    * codebook forever; re-fit = periodic compaction). `keepCols` ride
    * through unchanged — pass the IVF cell id here and filter before
    * [[pqSearch]] for IVF-PQ (coarse-quantizer cell pruning + ADC over
    * codes, the canonical billion-vector layout: at 1000 executors the
    * probe reads nProbe/nLists of the directories AND 1/64th of the
    * bytes within them).
    */
  def pqEncode(
      model: PqModel,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      keepCols: Seq[String] = Nil
  ): DataFrame = {
    val subDim = model.subDim
    val cb = model.lit2
    val qCol = expr(
      s"transform($vecCol, x -> cast(floor(cast(x as double) * ${model.quantScale}.0D) as bigint))")
    df.select(col(idCol).as("id") +: qCol.as("_pq_q") +: keepCols.map(col): _*)
      .select(
        col("id") +:
          transform(sequence(lit(0), lit(model.nSub - 1)), s =>
            pqArgmin(cb, model.k, s, slice(col("_pq_q"), s * subDim + 1, lit(subDim)))
          ).as("pq_codes") +: keepCols.map(col): _*)
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes: the
    * query stays UNQUANTIZED-BY-CODEBOOK — its integer distance to every
    * centroid of every subspace is precomputed driver-side into the
    * `nSub x k` lookup table, and each corpus vector's approximate
    * squared L2 is then `sum over s of dt(s)(codes(s))`: nSub array
    * lookups + adds per row, never a float op, never a touch of the
    * original vectors. Returns (id, adc_score) ascending (ties to the
    * lower id), exact-rescore of the shortlist is the caller's float
    * pass ([[topK]] over a semi-join).
    *
    * Scale shape: one narrow scan of the (id, codes) table — nSub bytes
    * per row instead of 4*dim — into TakeOrderedAndProject; the lookup
    * table is a literal (nSub * k longs). Deterministic integer
    * arithmetic end to end: the fixed-codebook twin is oracle-exact.
    */
  def pqSearch(model: PqModel, codes: DataFrame, queryVec: Seq[Float], k: Int): DataFrame = {
    val subDim = model.subDim
    require(queryVec.length == model.dim,
      s"query dim ${queryVec.length} != codebook dim ${model.dim}")
    val qq = queryVec.map(x => math.floor(x.toDouble * model.quantScale).toLong)
    val dt: Seq[Seq[Long]] = (0 until model.nSub).map { s =>
      val qs = qq.slice(s * subDim, (s + 1) * subDim)
      (0 until model.k).map { c =>
        val cent = model.codebook(s)(c)
        qs.iterator.zip(cent.iterator).map { case (a, b) => (a - b) * (a - b) }.sum
      }
    }
    val dtLit = typedLit(dt)
    codes
      .withColumn("adc_score",
        aggregate(
          zip_with(sequence(lit(0), lit(model.nSub - 1)), col("pq_codes"),
            (s, c) => element_at(element_at(dtLit, s + 1), c + 1)),
          lit(0L), (acc, v) => acc + v))
      .orderBy(col("adc_score"), col("id"))
      .limit(k)
      .select("id", "adc_score")
  }

  /** True for id types that cast to a long LOSSLESSLY — the only types
    * the calibrators' surrogate may cast instead of hash (a fractional
    * or decimal id would truncate, colliding distinct ids onto one key
    * and silently corrupting a membership test).
    */
  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** Batched multi-query ADC: ONE job answers a whole query panel over
    * the PQ codes (the [[topKBatch]] shape for asymmetric distance).
    * Every query's `nSub x k` integer lookup table is precomputed
    * driver-side into one 3-level literal (panel x nSub x k longs —
    * tiny), the codes scan cross-joins the broadcast panel index, and
    * per-query selection runs in [[graft.plans.TopKBy]] bounded heaps.
    * Returns (qid, top) with top = [(score, id)] where score = -adc
    * (heaps keep the max), so best-first order IS ascending ADC with
    * ties to the lower id — each query's ids equal [[pqSearch]]'s
    * exactly. Panel cardinality is query-batch-sized by contract.
    */
  def pqSearchBatch(
      model: PqModel,
      codes: DataFrame,
      queries: Seq[(Long, Seq[Float])],
      k: Int
  ): DataFrame = {
    require(queries.nonEmpty, "pqSearchBatch: empty query panel")
    require(queries.map(_._1).distinct.length == queries.length,
      "pqSearchBatch: duplicate query ids in the panel")
    val subDim = model.subDim
    val dt3: Seq[Seq[Seq[Long]]] = queries.map { case (qid, qv) =>
      require(qv.length == model.dim,
        s"pqSearchBatch: query $qid dim ${qv.length} != codebook dim ${model.dim}")
      val qq = qv.map(x => math.floor(x.toDouble * model.quantScale).toLong)
      (0 until model.nSub).map { s =>
        val qs = qq.slice(s * subDim, (s + 1) * subDim)
        (0 until model.k).map { c =>
          val cent = model.codebook(s)(c)
          qs.iterator.zip(cent.iterator).map { case (a, b) => (a - b) * (a - b) }.sum
        }
      }
    }
    val dtLit = typedLit(dt3)
    val spark = codes.sparkSession
    val panel = broadcast(spark.createDataFrame(
      queries.map(_._1).zipWithIndex.map { case (q, i) => (q, i + 1) }).toDF("qid", "_qidx"))
    codes.crossJoin(panel)
      .withColumn("_adc",
        aggregate(
          zip_with(sequence(lit(0), lit(model.nSub - 1)), col("pq_codes"),
            (s, c) => element_at(element_at(element_at(dtLit, col("_qidx")), s + 1), c + 1)),
          lit(0L), (acc, v) => acc + v))
      .groupBy("qid")
      .agg(graft.plans.TopKBy.topKBy(-col("_adc"), col("id"), k).as("top"))
      .select(col("qid"), col("top"))
  }

  /** Choose the ADC shortlist size that meets a recall target — the
    * [[calibrateBandedLMulti]] treatment for the PQ-shortlist + exact-rescore
    * operating point (r17 verdict #5: `SearchMode.Adc` ran at a fixed
    * shortlist with its recall only known from a hand-measured
    * datasheet). MEASURED, not modeled: over a deterministic query panel
    * (the `nQueries` lowest ids of `sample`, self-match inclusive — the
    * calibration convention throughout), compute the exact cosine top-k
    * (one [[topKBatch]] job) and the full ADC ranking to `maxShortlist`
    * depth (one [[pqSearchBatch]] job), then take the smallest S whose
    * mean fraction of true neighbors inside ADC's top-S clears
    * `recallTarget + slack` — because the rescore stage is exact, a true
    * neighbor is retrieved iff the shortlist contains it, so that
    * fraction IS recall@k at shortlist S. Two Spark jobs total, then
    * driver math over nQueries x k ranks; loud when even `maxShortlist`
    * cannot clear the target (raise the codebook resolution or rescore
    * a larger corpus fraction).
    */
  def calibrateAdcShortlist(
      model: PqModel,
      codes: DataFrame,
      sample: DataFrame,
      idCol: String,
      vecCol: String,
      recallTarget: Double = 0.9,
      k: Int = 10,
      nQueries: Int = 20,
      maxShortlist: Int = 4096,
      slack: Double = 0.0
  ): Int = {
    require(recallTarget > 0.0 && recallTarget < 1.0,
      s"calibrateAdcShortlist: recall target must be in (0, 1), got $recallTarget")
    require(slack >= 0.0 && recallTarget + slack <= 1.0,
      s"calibrateAdcShortlist: need 0 <= slack and target + slack <= 1, got $slack")
    require(nQueries >= 1 && k >= 1 && maxShortlist >= k,
      s"calibrateAdcShortlist: need nQueries/k >= 1 and maxShortlist >= k")
    // non-integral ids (the chunk store's content-hash strings, but also
    // fractional/decimal numerics — cast('long') would collide 17.2 and
    // 17.9 onto one key, review r18) ride on a deterministic xxhash64
    // SURROGATE, applied identically to the sample and the codes — the
    // calibration only ever tests id-set membership, never maps back
    // (64-bit collisions are negligible at calibration sample sizes and
    // would only perturb one rank)
    def surrogate(c: Column): Column =
      if (isIntegral(sample.schema(idCol).dataType)) c.cast("long") else xxhash64(c)
    val sample2 = sample.select(surrogate(col(idCol)).as("_cal_id"), col(vecCol).as("_cal_vec"))
    val codes2 = codes.withColumn("id", surrogate(col("id")))
    val panel = sample.orderBy(col(idCol)).limit(nQueries)
      .select(surrogate(col(idCol)).as("_cal_qid"), col(vecCol).as("_cal_qv"))
    val panelRows = panel.collect()
    require(panelRows.nonEmpty, "calibrateAdcShortlist: empty sample")
    val queries = panelRows.map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    def topIds(df: DataFrame): Map[Long, Seq[Long]] =
      df.collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1))
      }.toMap
    val truth = topIds(
      topKBatch(panel, sample2, "_cal_qid", "_cal_qv", "_cal_id", "_cal_vec", k)
        .select(col("query_id").cast("long"), col("top")))
    val adc = topIds(pqSearchBatch(model, codes2, queries, maxShortlist))
    // 0-based ADC rank of every true neighbor (absent => never found)
    val ranks: Seq[Int] = truth.toSeq.flatMap { case (qid, ids) =>
      val pos = adc.getOrElse(qid, Seq.empty).zipWithIndex.toMap
      ids.map(id => pos.getOrElse(id, Int.MaxValue))
    }
    val n = ranks.length.toDouble
    (k to maxShortlist).find { s =>
      ranks.count(_ < s) / n - slack >= recallTarget
    }.getOrElse(throw new IllegalArgumentException(
      f"calibrateAdcShortlist: recall $recallTarget%.2f (+ slack $slack%.2f) unreachable " +
        f"even at shortlist=$maxShortlist — ${ranks.count(_ < maxShortlist) / n}%.3f measured; " +
        "raise the codebook resolution (nSub/k) or rescore a larger fraction"))
  }

  /** Persist a PQ index: the code table as parquet — partitioned by
    * `cellCol` when given, so an IVF-PQ probe becomes parquet partition
    * pruning (read nProbe of nLists directories) on top of the 8-64x
    * byte cut the codes already are — plus the codebook as flat JSON
    * metadata. The codes side is append-friendly: encode new batches
    * against the frozen codebook ([[pqEncode]]) and append to `codes/`.
    */
  def writePq(
      model: PqModel,
      codes: DataFrame,
      path: String,
      cellCol: Option[String] = None,
      numCells: Option[Int] = None
  ): Unit =
    graft.sources.StoreLease.withRenewableLease(path, "write-pq") { lease =>
    val writer = cellCol match {
      // one file per cell directory, not one per input-partition x cell
      // (the writeLsh rationale). Count pinned so AQE cannot fold the
      // partitioned write into one directory-creating task (writeLsh's
      // r18 lesson); `numCells` (the IVF list count — one write task per
      // leaf directory, the natural width at any scale) when the caller
      // knows it, session parallelism otherwise — cells sharing a task
      // still land in one file each.
      case Some(c) =>
        codes
          .repartition(
            numCells.getOrElse(
              math.max(codes.sparkSession.sparkContext.defaultParallelism, 16)), col(c))
          .write.mode("overwrite").partitionBy(c)
      case None => codes.write.mode("overwrite")
    }
    writer.parquet(s"$path/codes")
    lease.renew() // the codes write is the long pole; protect the tail
    val flat = model.codebook.flatMap(_.flatMap(_.toSeq))
    graft.util.Sidecar.write(
      codes.sparkSession, s"$path/codebook.json",
      s"""{"nSub":${model.nSub},"k":${model.k},"subDim":${model.subDim},""" +
        s""""quantScale":${model.quantScale},"flat":[${flat.mkString(",")}]}""")
  }

  /** Load the codebook sidecar of a persisted PQ artifact (inverse of
    * [[writePq]]'s codebook half) — the frozen-codebook consumer
    * ([[graft.pipeline.Retriever]]'s ADC mode) needs the model; the code
    * table is plain parquet under `codes/`.
    */
  def loadPqModel(spark: org.apache.spark.sql.SparkSession, path: String): PqModel = {
    val where = s"$path/codebook.json"
    val json = graft.util.Sidecar.read(spark, where)
    def num(key: String): Long = graft.util.Sidecar.num(json, key, where)
    val (nSub, k, subDim) = (num("nSub").toInt, num("k").toInt, num("subDim").toInt)
    val flat = """"flat":\[([^\]]*)\]""".r.findFirstMatchIn(json).get.group(1)
      .split(",").map(_.trim.toLong)
    require(flat.length == nSub * k * subDim,
      s"codebook.json carries ${flat.length} values, expected ${nSub * k * subDim}")
    val codebook = Array.tabulate(nSub, k)((s, c) =>
      flat.slice((s * k + c) * subDim, (s * k + c + 1) * subDim))
    PqModel(codebook, num("quantScale").toInt)
  }
}
