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
}
