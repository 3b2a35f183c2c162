package graft

/** DuckDB-equivalent SQL for every query of [[SparkEntry.registry]] that
  * declares its own statement. Each statement mirrors its Spark plan's value
  * semantics *exactly*: decimal casts for FP-exact aggregation, identical
  * expression association order, identical tokenization, deterministic
  * ORDER BY with unique tie-breaks, and BIGINT/DOUBLE output casts matching
  * Spark's output types.
  */
object OracleSql {

  /** Deterministic ±1 hyperplane signs shared by the Spark q_embed_neardup_lsh
    * query and its DuckDB twin: both sides embed the SAME literal matrix, so
    * the LSH bucketing (sign of an integer dot product) is bit-identical
    * across engines. Plain LCG — any fixed matrix works, portability comes
    * from embedding it as literals on both sides.
    */
  private[graft] def lshSigns(nBits: Int, dim: Int): IndexedSeq[IndexedSeq[Int]] = {
    var seed = 0x9e3779b97f4a7c15L
    IndexedSeq.fill(nBits)(IndexedSeq.fill(dim) {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      if (((seed >>> 32) & 1L) == 1L) 1 else -1
    })
  }

  /** Python-`str.split()` word list: whitespace split, empties dropped. */
  private val words =
    """list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0)"""

  /** FTS tokens: lowercase alphanumeric runs (mirrors TextFunctions.ftsTokens). */
  private val ftsToks =
    """list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)"""

  // quality-score building blocks (identical forms verified standalone in
  // q_quality_metrics / q_lang_id)
  private val awl =
    s"""(CAST(COALESCE(list_sum(list_transform($words, w -> len(w))), 0) AS DOUBLE) / GREATEST(len($words), 1))"""
  private val wsRatio =
    """(CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / GREATEST(length(text), 1))"""
  private val naRatio =
    """(CAST(length(regexp_replace(text, '[\x00-\x7F]', '', 'g')) AS DOUBLE) / GREATEST(length(text), 1))"""

  /** TextAnalysis.qualityScore mirror (same association order). */
  private val quality =
    s"""ROUND((((LEAST(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
       | + CASE WHEN $awl >= 2.0 AND $awl <= 15.0 THEN 1.0 ELSE 0.0 END)
       | + CASE WHEN $wsRatio > 0.05 AND $wsRatio < 0.5 THEN 1.0 ELSE 0.0 END)
       | + (1.0 - LEAST($naRatio / 0.15, 1.0))) / 4.0, 6)""".stripMargin.replace("\n", "")

  private def langHits(stops: String) =
    s"""len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
       |        w -> list_contains([$stops], w)))""".stripMargin.replace("\n", " ")

  /** TextAnalysis.langId mirror (en >= de >= fr >= es tie priority). */
  private val langCase = {
    val en = langHits("'the','and','of','to','in','is','that','for','with','are'")
    val de = langHits("'der','die','und','das','ist','nicht','mit','ein','den','von'")
    val fr = langHits("'le','la','les','et','des','est','dans','que','pour','une'")
    val es = langHits("'el','la','los','las','es','en','que','por','con','para'")
    s"""CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es AND $en > 0 THEN 'en'
       |     WHEN $de >= $fr AND $de >= $es AND $de > 0 THEN 'de'
       |     WHEN $fr >= $es AND $fr > 0 THEN 'fr'
       |     WHEN $es > 0 THEN 'es'
       |     ELSE 'und' END""".stripMargin
  }

  /** Curation CTE: enrich -> filter -> exact-dedup keep-min-id. */
  private val curationCte =
    s"""enriched AS (
       |  SELECT doc_id, text, $langCase AS pred_lang, $quality AS quality,
       |         CAST(FLOOR(CAST(len($words) AS DOUBLE) * 1.3) AS BIGINT) AS token_est
       |  FROM documents),
       |filtered AS (SELECT * FROM enriched
       |             WHERE quality >= 0.5 AND pred_lang IN ('en', 'de')),
       |curated AS (
       |  SELECT doc_id, pred_lang, quality, token_est FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
       |      ORDER BY doc_id) AS rn
       |    FROM filtered) WHERE rn = 1)""".stripMargin

  /** BM25 scoring CTE chain over `documents` for query terms
    * ('spark','query','data'), k1=1.2 b=0.75 — mirrors FtsIndex exactly,
    * including expression association.
    */
  private val bm25Ctes =
    s"""toks AS (SELECT doc_id, $ftsToks AS tokens FROM documents),
       |dl AS (SELECT doc_id, len(tokens) AS doc_len, tokens FROM toks),
       |tf AS (SELECT doc_id, doc_len, term, COUNT(*) AS tf
       |       FROM (SELECT doc_id, doc_len, UNNEST(tokens) AS term FROM dl)
       |       GROUP BY doc_id, doc_len, term),
       |stats AS (SELECT COUNT(*) AS n, AVG(doc_len) AS avgdl FROM dl),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |         SUM( ln(1.0 + ((CAST((SELECT n FROM stats) AS DOUBLE) - dfreq.df) + 0.5) / (dfreq.df + 0.5))
       |              * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * ((1.0 - 0.75) + (0.75 * tf.doc_len) / (SELECT avgdl FROM stats)))) ) AS score
       |  FROM tf JOIN dfreq USING (term)
       |  WHERE term IN ('spark','query','data')
       |  GROUP BY tf.doc_id),
       |bm AS (SELECT doc_id, ROUND(score, 6) AS score FROM scored
       |       ORDER BY ROUND(score, 6) DESC, doc_id LIMIT 20)""".stripMargin

  /** ANN CTE: brute-force cosine top-20 against vec_id=0's embedding. */
  private val annCte =
    """ann AS (
      |  SELECT vec_id,
      |         ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
      |               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
      |  FROM embeddings ORDER BY score DESC, vec_id LIMIT 20)""".stripMargin

  /** First `n` md5 nibbles of SQL expression `expr` as a BIGINT — the
    * single source of the ascii-nibble arithmetic mirrored by
    * `Sampling.hashBucket` (n=6, then % 100) and `Sketches.md5Hash32`
    * (n=8). Keep the Scala twins and this builder in lockstep.
    */
  /** BPE initial state: word histogram + all-single-char delimited
    * segmentation (shared by q_bpe_merges and q_bpe_encode — the two
    * surfaces of the same training loop).
    */
  private val bpeW0 =
    s"""w0 AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
       |         '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS seg
       |  FROM (SELECT UNNEST($ftsToks) AS word FROM documents)
       |  GROUP BY word)""".stripMargin

  /** The q_bpe_ids / q_pack_ids CTE chain: bounded-corpus (doc_id < 120)
    * word histogram, 3 unrolled BPE rounds, the STABLE vocab id table
    * (the TextAnalysis.tokenVocab numbering: sorted alphabet 1..A, merge
    * product of round r = A + r, MIN(id) per symbol = keep-first, then
    * a DENSE re-number over the deduped ids — ADVICE r14: tokenVocab
    * COMPACTS ids after its keep-first dedup, so in the degenerate
    * corner where two merges produce the same product string the oracle
    * must close the id gap too or every later id diverges), then
    * per-word id strings from the final segmentation and per-doc
    * reassembly in word order -> `docids(doc_id, n_tokens, input_ids)`.
    */
  private val bpeIdsCtes: String = {
    val w0b =
      s"""w0 AS (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         |         '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS seg
         |  FROM (SELECT UNNEST($ftsToks) AS word FROM documents WHERE doc_id < 120)
         |  GROUP BY word)""".stripMargin
    val rounds = (1 to 3).map(r => bpeRound(s"w${r - 1}", r)).mkString(",\n")
    s"""$w0b,
       |$rounds,
       |alpha AS (
       |  SELECT DISTINCT substr(word, CAST(i AS INTEGER), 1) AS sym
       |  FROM w0, UNNEST(range(1, len(word) + 1)) t(i)),
       |an AS (SELECT CAST(COUNT(*) AS BIGINT) AS a FROM alpha),
       |vocab0 AS (
       |  SELECT sym, MIN(id) AS id0 FROM (
       |    SELECT sym, ROW_NUMBER() OVER (ORDER BY sym) AS id FROM alpha
       |    UNION ALL SELECT pa || pb AS sym, (SELECT a FROM an) + 1 FROM b1
       |    UNION ALL SELECT pa || pb AS sym, (SELECT a FROM an) + 2 FROM b2
       |    UNION ALL SELECT pa || pb AS sym, (SELECT a FROM an) + 3 FROM b3)
       |  GROUP BY sym),
       |vocab AS (
       |  SELECT sym, ROW_NUMBER() OVER (ORDER BY id0) AS id FROM vocab0),
       |wpos AS (
       |  SELECT word, i AS spos, syms[i] AS sym
       |  FROM (SELECT word, list_filter(string_split(seg, '|'), x -> len(x) > 0) AS syms
       |        FROM w3), UNNEST(range(1, len(syms) + 1)) t(i)),
       |wids AS (
       |  SELECT p.word,
       |         string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY p.spos) AS ids_w,
       |         CAST(COUNT(*) AS BIGINT) AS ntok_w
       |  FROM wpos p JOIN vocab v ON p.sym = v.sym
       |  GROUP BY p.word),
       |tokp AS (
       |  SELECT doc_id, UNNEST(toks) AS word, UNNEST(range(1, len(toks) + 1)) AS pos
       |  FROM (SELECT doc_id, $ftsToks AS toks FROM documents WHERE doc_id < 120)),
       |docids AS (
       |  SELECT t.doc_id,
       |         CAST(SUM(w.ntok_w) AS BIGINT) AS n_tokens,
       |         string_agg(w.ids_w, ',' ORDER BY t.pos) AS input_ids
       |  FROM tokp t JOIN wids w USING (word)
       |  GROUP BY t.doc_id)""".stripMargin
  }

  /** The shared schedule base of the LoaderSchedule twins: the
    * q_pack_ids next-fit recurrence folded to per-bin token totals,
    * sharded bin_id % 4 (the exportShards layout the engine side
    * builds), each bin keyed by its 'ep1' epoch permutation digest.
    * Yields `sched(shard, bin_id, n_tokens, k)`. Requires `docids`
    * ([[bpeIdsCtes]]) in scope.
    */
  private val packBinsCtes: String =
    s"""d AS MATERIALIZED (
       |  SELECT n_tokens AS tok,
       |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
       |  FROM docids),
       |pack AS (
       |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.rn, d.tok,
       |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
       |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
       |  FROM pack p JOIN d ON d.rn = p.rn + 1),
       |bins AS (
       |  SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens
       |  FROM pack GROUP BY bin_id),
       |sched AS (
       |  SELECT bin_id % 4 AS shard, bin_id, n_tokens,
       |         md5('ep1:' || CAST(bin_id AS VARCHAR)) AS k
       |  FROM bins)""".stripMargin

  /** One unrolled BPE merge round (the TextAnalysis.trainBpeLocal twin —
    * the kmeansCtes recipe). Per round r: pair stats over the segmented
    * vocabulary (p_r), weighted argmax with lexicographic tie-break
    * (b_r), LEFT-TO-RIGHT GREEDY merge via a sequential list_reduce
    * fold over the delimiter-bounded segmentation (w_r — append each
    * symbol unless it equals pb and the accumulator ends with
    * boundary-delimited pa; a merged symbol can never re-equal pa, so
    * the fold is exactly the greedy apply), then the weighted symbol
    * count (ns_r). `word` rides through every round so the encode twin
    * can join the final segmentation back to documents.
    */
  private def bpeRound(prev: String, r: Int, likelihood: Boolean = false): String = {
    // likelihood mode (the TextAnalysis.wordPieceMerges twin): argmax by
    // count(ab) / (count(a) * count(b)) over per-symbol weighted counts
    // of the CURRENT segmentation — the identical two IEEE double ops
    // the engine runs, ties lexicographic
    val symCte =
      if (likelihood)
        s"""sc$r AS (
           |  SELECT sym, CAST(SUM(freq) AS BIGINT) AS c FROM (
           |    SELECT w.freq, UNNEST(list_filter(string_split(w.seg, '|'), x -> len(x) > 0)) AS sym
           |    FROM $prev w)
           |  GROUP BY sym),
           |""".stripMargin
      else ""
    val argmax =
      if (likelihood)
        s"""b$r AS (
           |  SELECT p.pa, p.pb, p.n FROM p$r p
           |  JOIN sc$r sa ON p.pa = sa.sym
           |  JOIN sc$r sb ON p.pb = sb.sym
           |  ORDER BY CAST(p.n AS DOUBLE) / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE)) DESC,
           |           p.pa, p.pb LIMIT 1),""".stripMargin
      else s"b$r AS (SELECT pa, pb, n FROM p$r ORDER BY n DESC, pa, pb LIMIT 1),"
    s"""${symCte}p$r AS (
       |  SELECT pa, pb, CAST(SUM(freq) AS BIGINT) AS n
       |  FROM (
       |    SELECT w.freq, w.syms[i] AS pa, w.syms[i + 1] AS pb
       |    FROM (SELECT freq, list_filter(string_split(seg, '|'), x -> len(x) > 0) AS syms
       |          FROM $prev) w,
       |         UNNEST(range(1, len(w.syms))) t(i))
       |  GROUP BY pa, pb),
       |$argmax
       |w$r AS (
       |  SELECT word, freq,
       |         list_reduce(list_prepend('|', list_filter(string_split(seg, '|'), x -> len(x) > 0)),
       |           (acc, x) -> CASE WHEN x = b.pb AND ends_with(acc, '|' || b.pa || '|')
       |                            THEN substr(acc, 1, len(acc) - len(b.pa) - 1) || b.pa || b.pb || '|'
       |                            ELSE acc || x || '|' END) AS seg
       |  FROM $prev CROSS JOIN b$r b),
       |ns$r AS (
       |  SELECT CAST(SUM(freq * len(list_filter(string_split(seg, '|'), x -> len(x) > 0))) AS BIGINT) AS n_symbols
       |  FROM w$r)""".stripMargin
  }

  /** QualityClassifier twin: hashed-unigram featurization (md5 nibbles
    * n=8 mod 256 — the Sketches.md5Hash32 oracle form), class sums over
    * the 1-in-5 labeled sample (teacher label n_chars >= 300), then the
    * cross-multiplied exact nearest-centroid rule in DECIMAL(38,0)
    * (Spark: the identical decimal(38,0) sign test). Ends with
    * `scored(doc_id, pred)` over ALL documents — token-less docs decided
    * by the pure centroid-norm term via the LEFT JOIN, mirroring
    * classify's left join.
    */
  private lazy val centroidCtes: String = {
    val fHash = s"${md5NibbleIntSql("tok", 8)} % 256"
    s"""feats AS MATERIALIZED (
       |  SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, $fHash AS f
       |    FROM (SELECT doc_id, UNNEST($ftsToks) AS tok FROM documents))
       |  GROUP BY doc_id, f),
       |lab AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END AS y
       |  FROM documents WHERE doc_id % 5 = 0),
       |n AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |             CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM lab),
       |cls AS MATERIALIZED (
       |  SELECT ft.f,
       |         CAST(SUM(CASE WHEN l.y = 1 THEN ft.cnt ELSE 0 END) AS BIGINT) AS sp,
       |         CAST(SUM(CASE WHEN l.y = -1 THEN ft.cnt ELSE 0 END) AS BIGINT) AS sn
       |  FROM feats ft JOIN lab l USING (doc_id) GROUP BY ft.f),
       |nrm AS (SELECT CAST(SUM(CAST(sp AS DECIMAL(38,0)) * sp) AS DECIMAL(38,0)) AS sp2,
       |               CAST(SUM(CAST(sn AS DECIMAL(38,0)) * sn) AS DECIMAL(38,0)) AS sn2 FROM cls),
       |dots AS (
       |  SELECT ft.doc_id,
       |         CAST(SUM(CAST(ft.cnt AS DECIMAL(38,0)) * c.sp) AS DECIMAL(38,0)) AS dp,
       |         CAST(SUM(CAST(ft.cnt AS DECIMAL(38,0)) * c.sn) AS DECIMAL(38,0)) AS dn
       |  FROM feats ft JOIN cls c ON c.f = ft.f GROUP BY ft.doc_id),
       |scored AS (
       |  SELECT d.doc_id,
       |         CASE WHEN (2 * COALESCE(t.dn, 0) * (SELECT nn FROM n) * (SELECT np * np FROM n)
       |                  - 2 * COALESCE(t.dp, 0) * (SELECT np FROM n) * (SELECT nn * nn FROM n)
       |                  + (SELECT sp2 FROM nrm) * (SELECT nn * nn FROM n)
       |                  - (SELECT sn2 FROM nrm) * (SELECT np * np FROM n)) < 0
       |              THEN 1 ELSE -1 END AS pred
       |  FROM documents d LEFT JOIN dots t USING (doc_id))""".stripMargin
  }

  /** TextAnalysis.bigramLmScore twin as a reusable CTE chain ending in
    * `lm_per_doc` (doc_id, n_toks, n_backoff, n_oov, lm_bits,
    * mean_lm_fp) — shared by q_bigram_lm and q_lm_buckets. LM = even
    * doc_ids; words and "prev cur" pair strings digested to the first 60
    * md5 bits exactly like the Spark side (wordGrams); stupid backoff =
    * +1 whole bit; OOV scores as cnt1 = 1. All-integer, hash-exact.
    */
  private lazy val bigramLmCtes: String = {
    val wk = md5NibbleIntSql("w[i]", 15)
    val prevk = md5NibbleIntSql("w[i-1]", 15)
    val pairk = md5NibbleIntSql("w[i-1] || ' ' || w[i]", 15)
    val unik = md5NibbleIntSql("vs", 15)
    s"""lm_norm AS (
      |  SELECT doc_id,
      |         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
      |                     x -> len(x) > 0) AS w
      |  FROM documents),
      |lm_uni AS (SELECT $unik AS wk, COUNT(*) AS cnt1
      |        FROM (SELECT UNNEST(w) AS vs FROM lm_norm WHERE doc_id % 2 = 0) GROUP BY 1),
      |lm_tot AS (SELECT CAST(SUM(cnt1) AS BIGINT) AS n_lm FROM lm_uni),
      |lm_bi AS (SELECT $unik AS pk, COUNT(*) AS cnt2
      |       FROM (SELECT UNNEST(CASE WHEN len(w) >= 2
      |                THEN list_transform(range(1, CAST(len(w) AS BIGINT)), i -> w[i] || ' ' || w[i+1])
      |                ELSE CAST([] AS VARCHAR[]) END) AS vs
      |             FROM lm_norm WHERE doc_id % 2 = 0) GROUP BY 1),
      |lm_toks AS (SELECT doc_id, $wk AS wk,
      |                CASE WHEN i > 1 THEN $prevk END AS prevk,
      |                CASE WHEN i > 1 THEN $pairk END AS pairk
      |         FROM (SELECT doc_id, UNNEST(range(1, CAST(len(w) AS BIGINT) + 1)) AS i, w
      |               FROM lm_norm)),
      |lm_scored AS (
      |  SELECT t.doc_id, t.pairk, b.cnt2, u.cnt1 AS cnt1_w,
      |         CASE WHEN b.cnt2 IS NOT NULL
      |              THEN len(bin(p.cnt1)) - len(bin(b.cnt2))
      |              ELSE (CASE WHEN t.pairk IS NULL THEN 0 ELSE 1 END)
      |                   + len(bin(lm_tot.n_lm))
      |                   - (CASE WHEN u.cnt1 IS NOT NULL THEN len(bin(u.cnt1)) ELSE 1 END)
      |         END AS score_bits
      |  FROM lm_toks t
      |  LEFT JOIN lm_uni u ON u.wk = t.wk
      |  LEFT JOIN lm_uni p ON p.wk = t.prevk
      |  LEFT JOIN lm_bi b ON b.pk = t.pairk
      |  CROSS JOIN lm_tot),
      |lm_per_doc AS (
      |  SELECT doc_id,
      |       CAST(COUNT(*) AS BIGINT) AS n_toks,
      |       CAST(SUM(CASE WHEN pairk IS NOT NULL AND cnt2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_backoff,
      |       CAST(SUM(CASE WHEN pairk IS NOT NULL AND cnt2 IS NULL AND cnt1_w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST(SUM(score_bits) AS BIGINT) AS lm_bits,
      |       (CAST(SUM(score_bits) AS BIGINT) * 10000) // CAST(COUNT(*) AS BIGINT) AS mean_lm_fp
      |  FROM lm_scored GROUP BY doc_id)""".stripMargin
  }

  private def md5NibbleIntSql(expr: String, n: Int): String =
    (1 to n)
      .map { k =>
        val c = s"ascii(substr(md5($expr), $k, 1))"
        s"(CASE WHEN $c >= 97 THEN $c - 87 ELSE $c - 48 END) * CAST(${1L << ((n - k) * 4)} AS BIGINT)"
      }
      .mkString("(", " + ", ")")

  /** Clustering.kmeansAssign twin, shared by q_kmeans and q_semdedup:
    * quantize floor(x*1000) -> BIGINT, seed with the 10 lowest vec_ids
    * (cid 0..9 in id order), 3 unrolled Lloyd's rounds, final assignment
    * `a4` with the fully-updated c3 (the MLlib "iters assign+update
    * cycles, then label" convention). dist = integer sum of squared
    * diffs; argmin ties break on lower cid; centroid update floor(s/n)
    * (floor-toward--inf = math.floorDiv — DuckDB's // truncates, so go
    * through DOUBLE, exact below 2^53); emptied clusters keep their
    * previous centroid via the LEFT JOIN. Everything MATERIALIZED —
    * DuckDB inlines plain CTEs and each a_i is referenced downstream.
    */
  private def kmeansCtes(srcWhere: String = ""): String = {
    def assignCte(name: String, prev: String, withQ: Boolean) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, ${if (withQ) "q, " else ""}cid FROM (
         |    SELECT p.vec_id, ${if (withQ) "p.q, " else ""}c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
         |             list_sum(list_transform(range(1, 65),
         |               i -> (p.q[i] - c.c[i]) * (p.q[i] - c.c[i]))), c.cid) AS rn
         |    FROM q p CROSS JOIN $prev c)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (1 to 3).map { i =>
      assignCte(s"a$i", s"c${i - 1}", withQ = true) + ",\n" +
        s"""s$i AS (
           |  SELECT cid, t.i AS i, SUM(q[t.i]) AS s, COUNT(*) AS n
           |  FROM a$i, range(1, 65) t(i) GROUP BY 1, 2),
           |c$i AS MATERIALIZED (
           |  SELECT p.cid, COALESCE(u.c, p.c) AS c
           |  FROM c${i - 1} p LEFT JOIN (
           |    SELECT cid, list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
           |    FROM s$i GROUP BY cid) u ON p.cid = u.cid)""".stripMargin
    }.mkString(",\n") + ",\n" + assignCte("a4", "c3", withQ = false)
    s"""q AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS q
       |  FROM embeddings$srcWhere),
       |c0 AS MATERIALIZED (
       |  SELECT rn - 1 AS cid, q AS c FROM (
       |    SELECT vec_id, q, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM q)
       |  WHERE rn <= 10),
       |$rounds""".stripMargin
  }

  /** VectorSearch.pqFit/pqEncode/pqSearch twin, shared by q_pq_fixed
    * (seed codebook, iters=0) and q_pq_trained (one Lloyd's round):
    * quantize floor(x*1000) -> BIGINT, 8 subspaces of 8 dims, seed
    * centroids = subvector slices of the 16 lowest vec_ids (cid in id
    * order). Assignment = per-(vec, subspace) argmin of integer squared
    * L2, ties to the lower cid; the trained round updates centroids with
    * floor(s/n) through DOUBLE (floor-toward--inf = math.floorDiv, exact
    * below 2^53) and emptied cells keep their seed via the LEFT JOIN —
    * the kmeansCtes conventions, subspace-grouped. Ends with `enc`
    * (vec_id, s, cid) and `dt` (the query's per-centroid ADC lookup
    * table) ready for the final SUM.
    */
  private def pqCtes(withTrain: Boolean, px: String = ""): String = {
    // `px` prefixes every CTE name so the chain composes with kmeansCtes
    // (whose q/a1/c1 would otherwise collide) in the q_ivfpq twin
    def assignCte(name: String, cb: String) =
      s"""$px$name AS MATERIALIZED (
         |  SELECT vec_id, s, cid FROM (
         |    SELECT p.vec_id, c.s, c.cid,
         |           ROW_NUMBER() OVER (PARTITION BY p.vec_id, c.s ORDER BY
         |             list_sum(list_transform(range(1, 9),
         |               i -> (p.qv[c.s * 8 + i] - c.cv[i])
         |                    * (p.qv[c.s * 8 + i] - c.cv[i]))), c.cid) AS rn
         |    FROM ${px}q p CROSS JOIN $cb c)
         |  WHERE rn = 1)""".stripMargin
    val base =
      s"""${px}q AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(FLOOR(x * 1000.0) AS BIGINT)) AS qv
         |  FROM embeddings),
         |${px}cents AS MATERIALIZED (
         |  SELECT t.s, c.cid, list_transform(range(1, 9), i -> c.qv[t.s * 8 + i]) AS cv
         |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, qv
         |        FROM (SELECT vec_id, qv FROM ${px}q ORDER BY vec_id LIMIT 16)) c
         |  CROSS JOIN range(0, 8) t(s))""".stripMargin
    val train =
      s"""${assignCte("a1", s"${px}cents")},
         |${px}u AS (SELECT a.s, a.cid, t.i, SUM(p.qv[a.s * 8 + t.i]) AS sm, COUNT(*) AS n
         |      FROM ${px}a1 a JOIN ${px}q p USING (vec_id) CROSS JOIN range(1, 9) t(i)
         |      GROUP BY 1, 2, 3),
         |${px}c1u AS (SELECT s, cid,
         |               list(CAST(FLOOR(CAST(sm AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cv
         |        FROM ${px}u GROUP BY 1, 2),
         |${px}c1 AS MATERIALIZED (
         |  SELECT c.s, c.cid, COALESCE(u.cv, c.cv) AS cv
         |  FROM ${px}cents c LEFT JOIN ${px}c1u u ON c.s = u.s AND c.cid = u.cid)""".stripMargin
    val cb = if (withTrain) s"${px}c1" else s"${px}cents"
    val tail =
      s"""${assignCte("enc", cb)},
         |${px}dt AS MATERIALIZED (
         |  SELECT c.s, c.cid,
         |         list_sum(list_transform(range(1, 9),
         |           i -> (v.qv[c.s * 8 + i] - c.cv[i]) * (v.qv[c.s * 8 + i] - c.cv[i]))) AS d
         |  FROM $cb c CROSS JOIN (SELECT qv FROM ${px}q WHERE vec_id = 0) v)""".stripMargin
    if (withTrain) s"$base,\n$train,\n$tail" else s"$base,\n$tail"
  }

  /** Recursive-CTE transitive closure of the portable simhash pair set —
    * the SQL twin of Spark's min-label propagation. Ends with the `reach`
    * CTE open so q_dedup_clusters (labels) and q_near_dedup (keepers)
    * both finish it.
    */
  private val dedupClustersCte: String = {
    def digit(k: Int) = s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)"
    val bitSums = (0 until 64).map { b =>
      val bit = s"((${digit(b / 4 + 1)} // ${1 << (b % 4)}) % 2)"
      s"SUM(CASE WHEN $bit = 1 THEN 1 ELSE -1 END) AS b$b"
    }.mkString(", ")
    val hexDigits = (0 until 16).map { nib =>
      val v = (0 until 4)
        .map(j => s"(CASE WHEN b${nib * 4 + j} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ")
      s"substr('0123456789abcdef', ($v) + 1, 1)"
    }.mkString(" || ")
    def nibVal(side: String, k: Int) =
      s"(strpos('0123456789abcdef', substr($side.sig, $k, 1)) - 1)"
    val hamming = (1 to 16)
      .map(k => s"bit_count(xor(${nibVal("a", k)}, ${nibVal("b", k)}))")
      .mkString(" + ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, md5(tok) AS h
       |  FROM (SELECT doc_id, UNNEST($ftsToks) AS tok
       |        FROM documents WHERE doc_id < 250)),
       |sums AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id),
       |sig AS (SELECT doc_id, $hexDigits AS sig FROM sums),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE ($hamming) <= 12),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM documents WHERE doc_id < 250
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src)""".stripMargin
  }

  /** Shared by q_decontaminate and q_decontaminate_bloom (the bloom
    * prefilter is exactness-preserving, so both paths answer to the same
    * oracle).
    */
  /** Dedup.shingles twin: per-doc DISTINCT word n-grams over the
    * normalized text (shared by the decontamination family).
    */
  private def shingleSql(src: String, n: Int): String = {
    val terms = (0 until n).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""SELECT doc_id, UNNEST(list_distinct(list_transform(
       |         range(1, CAST(GREATEST(len(w) - ${n - 1}, 0) AS BIGINT) + 1),
       |         i -> $terms))) AS gram
       |  FROM (SELECT doc_id,
       |          string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
       |        FROM $src)""".stripMargin
  }

  private val decontaminateSql: String =
    s"""WITH cg AS (${shingleSql("documents", 8)}),
       |eg AS (SELECT DISTINCT gram FROM (${shingleSql("(SELECT * FROM documents WHERE doc_id < 5)", 8)}))
       |SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (gram) ORDER BY doc_id""".stripMargin

  /** [[SparkEntry.oracleSql]] under its older name. */
  lazy val all: Map[String, String] = SparkEntry.oracleSql

  /** The statement of every query whose registry row declares its own
    * SQL (`SparkEntry.QuerySpec.OwnSql`), keyed by query name.
    */
  private[graft] lazy val base: Map[String, String] = Map(
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_join_revenue_by_region" ->
      """SELECT r_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1998-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q_window_topn_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
        |FROM orders WHERE o_custkey < 100
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_distinct_flags" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_union_segments" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        |ORDER BY c_custkey""".stripMargin,

    "q_status_histogram" ->
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_count_enrichment" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS order_count
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_point_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem WHERE l_orderkey = 1 ORDER BY l_linenumber""".stripMargin,

    "q_scalar_hash" ->
      """SELECT c_custkey, md5(c_name) AS name_md5,
        |       concat('sha256:', lower(sha256(c_name))) AS name_sha
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_title_clean" ->
      """SELECT p_partkey,
        |  trim(regexp_replace(regexp_replace(regexp_replace(p_name,
        |    '^[A-Z]{2,3}\d{2,4}\s*', ''), '[_\s]?\d{6}$', ''), '[_\s]?\d{4}$', '')) AS clean_title
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_token_estimate" ->
      s"""SELECT doc_id,
         |  CAST(FLOOR(CAST(len($words) AS DOUBLE) * 1.3) AS BIGINT) AS token_est
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_token_bpe" -> {
      // TextFunctions.bpeTokenCount twin: the SAME pattern constant, so
      // the two engines cannot drift (only SQL quote-escaping differs);
      // est_subword mirrors TextAnalysis.bpeTokenEstimate's per-word
      // 1 + max(floor((len-4)/4), 0) fold (empty word list -> 0, the
      // Spark aggregate's init value, via COALESCE)
      val pat = graft.functions.TextFunctions.BpeTokenPattern.replace("'", "''")
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(lower(text), '$pat')) AS BIGINT) AS bpe_tokens,
         |  CAST(len($words) AS BIGINT) AS ws_words,
         |  COALESCE(CAST(list_sum(list_transform($words,
         |    w -> 1 + GREATEST(CAST(FLOOR(CAST(len(w) - 4 AS DOUBLE) / 4.0) AS BIGINT), 0))) AS BIGINT), 0) AS est_subword
         |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin
    },

    "q_quality_metrics" ->
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS chars,
         |  CAST(len($words) AS BIGINT) AS words,
         |  CAST(COALESCE(list_sum(list_transform($words, w -> len(w))), 0) AS DOUBLE) / GREATEST(len($words), 1) AS avg_word_len,
         |  CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / GREATEST(length(text), 1) AS ws_ratio,
         |  CAST(length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS DOUBLE) / GREATEST(length(text), 1) AS non_ascii_ratio
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality_gate" ->
      s"""SELECT doc_id,
         |  CASE WHEN CAST(length(text) AS DOUBLE) / 1 < 100 THEN 'low_char_density'
         |       WHEN CAST(len($words) AS DOUBLE) / 1 < 20 THEN 'low_word_count'
         |       WHEN CAST(COALESCE(list_sum(list_transform($words, w -> len(w))), 0) AS DOUBLE) / GREATEST(len($words), 1) < 2.0 THEN 'short_words'
         |       WHEN CAST(COALESCE(list_sum(list_transform($words, w -> len(w))), 0) AS DOUBLE) / GREATEST(len($words), 1) > 15.0 THEN 'no_word_boundaries'
         |       WHEN CAST(length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS DOUBLE) / GREATEST(length(text), 1) > 0.15 THEN 'high_non_ascii'
         |       ELSE 'ok' END AS gate
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_like_filter" ->
      """SELECT doc_id, source FROM documents
        |WHERE text LIKE '%spark%' ORDER BY doc_id""".stripMargin,

    "q_date_histogram" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sort_multi" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |ORDER BY user_id, ts_us, event_id LIMIT 100""".stripMargin,

    "q_event_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q_hist_quantile_by" ->
      // grouped twin of q_hist_quantile: PARTITION BY event_type
      """WITH b AS (
        |  SELECT event_type,
        |         LEAST(CAST(FLOOR((value - 0.0) / 1.0) AS BIGINT), 499) AS bin,
        |         COUNT(*) AS c
        |  FROM events
        |  WHERE value >= 0.0 AND value < 500.0
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type, bin, c,
        |         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM b),
        |q(q) AS (VALUES (0.5), (0.95))
        |SELECT event_type, q, MAX(n) AS n, MIN(bin) AS bin,
        |       0.0 + (MIN(bin) + 0.5) * 1.0 AS estimate
        |FROM q JOIN cum ON CAST(cum AS DOUBLE) >= q * n
        |GROUP BY event_type, q ORDER BY event_type, q""".stripMargin,

    "q_countmin" -> {
      // Sketches.countMin twin: identical md5-derived row hashes rebuild
      // the exact counter matrix, then min-over-rows point queries
      val bHash = md5NibbleIntSql("CAST(t.r AS VARCHAR) || ':' || CAST(l_suppkey AS VARCHAR)", 8)
      val kHash = md5NibbleIntSql("CAST(t.r AS VARCHAR) || ':' || CAST(k.key AS VARCHAR)", 8)
      s"""WITH rows(r) AS (VALUES (0), (1), (2), (3)),
         |rb AS (SELECT t.r AS row, $bHash % 256 AS bucket
         |       FROM lineitem CROSS JOIN rows t WHERE l_suppkey IS NOT NULL),
         |sk AS (SELECT row, bucket, COUNT(*) AS cnt FROM rb GROUP BY 1, 2),
         |k AS (SELECT DISTINCT l_suppkey AS key FROM lineitem WHERE l_suppkey <= 10),
         |kq AS (SELECT k.key, t.r AS row, $kHash % 256 AS bucket
         |       FROM k CROSS JOIN rows t)
         |SELECT kq.key, MIN(COALESCE(sk.cnt, 0)) AS est
         |FROM kq LEFT JOIN sk ON sk.row = kq.row AND sk.bucket = kq.bucket
         |GROUP BY kq.key ORDER BY key""".stripMargin
    },

    "q_length_batches" ->
      // SequencePacking.lengthBucketBatches twin: exact-rank buckets and
      // batch cuts, rolled up to per-batch padding accounting
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CAST(FLOOR(CAST(len($words) AS DOUBLE) * 1.3) AS BIGINT) AS tokens
         |  FROM documents),
         |r AS (SELECT doc_id, tokens,
         |             CAST(ROW_NUMBER() OVER (ORDER BY tokens, doc_id) AS BIGINT) AS rk,
         |             CAST(COUNT(*) OVER () AS BIGINT) AS n
         |      FROM d),
         |b AS (SELECT doc_id, tokens, ((rk - 1) * 8) // n AS bucket FROM r),
         |bb AS (SELECT doc_id, tokens, bucket,
         |              (CAST(ROW_NUMBER() OVER (PARTITION BY bucket
         |                    ORDER BY tokens, doc_id) AS BIGINT) - 1) // 16 AS batch_id
         |       FROM b)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(batch_id AS BIGINT) AS batch_id,
         |       COUNT(*) AS n_docs, MAX(tokens) AS max_tokens,
         |       CAST(MAX(tokens) * COUNT(*) - SUM(tokens) AS BIGINT) AS padding_tokens
         |FROM bb GROUP BY 1, 2 ORDER BY bucket, batch_id""".stripMargin,

    "q_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
        |       COUNT(*) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 HAVING e.day - f.cohort_day <= 7
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(e.ts_us) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts_us > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(e.ts_us) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts_us > s2.t2 GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM s1) AS n_view,
        |       (SELECT COUNT(*) FROM s2) AS n_view_click,
        |       (SELECT COUNT(*) FROM s3) AS n_view_click_purchase""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE user_id < 50),
        |l AS (SELECT user_id, event_id, ts_us,
        |        lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e),
        |f AS (SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
        |sess AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |       MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us
        |FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(substr(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 30)) AS text_hash,
        |       COUNT(*) AS n_dups,
        |       array_to_string(LIST(doc_id ORDER BY doc_id), ',') AS ids
        |FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY text_hash""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |           FROM documents WHERE doc_id < 250),
        |w AS (SELECT doc_id, string_split(norm, ' ') AS wrds FROM d),
        |g AS (SELECT doc_id, list_distinct(list_transform(range(1, CAST(GREATEST(len(wrds) - 2, 0) AS BIGINT) + 1),
        |        i -> wrds[i] || ' ' || wrds[i+1] || ' ' || wrds[i+2])) AS sh FROM w),
        |gn AS (SELECT doc_id, sh, len(sh) AS n_sh FROM g WHERE len(sh) > 0),
        |e AS (SELECT doc_id, n_sh, UNNEST(sh) AS gram FROM gn),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS inter
        |      FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, ROUND(CAST(inter AS DOUBLE) / ((na + nb) - inter), 6) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / ((na + nb) - inter) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
        |        w -> list_contains(['the','and','of','to','in','is','that','for','with','are'], w))) AS en,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
        |        w -> list_contains(['der','die','und','das','ist','nicht','mit','ein','den','von'], w))) AS de,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
        |        w -> list_contains(['le','la','les','et','des','est','dans','que','pour','une'], w))) AS fr,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-zà-ÿ]+'),
        |        w -> list_contains(['el','la','los','las','es','en','que','por','con','para'], w))) AS es
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |       WHEN fr >= es AND fr > 0 THEN 'fr'
        |       WHEN es > 0 THEN 'es'
        |       ELSE 'und' END AS pred_lang,
        |  lang
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_ann_cosine" ->
      s"""WITH $annCte
         |SELECT vec_id, score FROM ann""".stripMargin,

    // q_lsh_persisted reassembles the FULL corpus through the persisted
    // index lifecycle (80% build -> write -> load -> 20% extend) and then
    // answers exactly, so its oracle is the same brute-force top-20 as
    // q_ann_cosine: any roundtrip corruption, dropped/duplicated batch
    // row, or plane mismatch breaks the hash.
    "q_lsh_persisted" ->
      s"""WITH $annCte
         |SELECT vec_id, score FROM ann""".stripMargin,

    // q_lsh_banded reassembles the corpus through the BANDED lifecycle
    // (build 4 tables x 6-bit bands -> writeBandedLsh -> load -> real probe self-check
    // -> union-dedup of all tables) and then answers exactly, so its
    // oracle is the same brute-force top-20: any per-table roundtrip
    // corruption, dedup slip, or signer drift breaks the hash (signer
    // drift via the probe require in SparkEntry.qLshBanded).
    "q_lsh_banded" ->
      s"""WITH $annCte
         |SELECT vec_id, score FROM ann""".stripMargin,

    "q_banded_fixed" -> {
      // SparkEntry.qBandedFixed twin: 4 tables x 8 portable planes
      // (md5-60-bit of 'blsh:t:j:i' % 2001 - 1000), quantized integer
      // dots -> per-table 8-bit signatures, candidates = EXACT bucket
      // match with vec_id=0's signature in >= 1 table (n_tabs counts
      // the matching tables), exact-cosine rerank rounded to 6dp
      val md560 = md5NibbleIntSql(
        "'blsh:' || CAST(tb AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 15)
      s"""WITH planes AS MATERIALIZED (
         |  SELECT tb, j, i, ($md560 % 2001) - 1000 AS p
         |  FROM range(0, 4) tt(tb) CROSS JOIN range(0, 8) t(j) CROSS JOIN range(1, 65) s(i)),
         |qs AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |dots AS (
         |  SELECT s.vec_id, pl.tb, pl.j, SUM(s.q[pl.i] * pl.p) AS dot
         |  FROM qs s CROSS JOIN planes pl GROUP BY 1, 2, 3),
         |sig AS MATERIALIZED (
         |  SELECT vec_id, tb,
         |         CAST(SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sig
         |  FROM dots GROUP BY 1, 2),
         |qsig AS (SELECT tb, sig FROM sig WHERE vec_id = 0),
         |cand AS (
         |  SELECT s.vec_id, CAST(COUNT(*) AS BIGINT) AS n_tabs
         |  FROM sig s JOIN qsig ON s.tb = qsig.tb AND s.sig = qsig.sig
         |  GROUP BY 1)
         |SELECT c.vec_id, c.n_tabs,
         |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
         |FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
         |ORDER BY score DESC, c.vec_id LIMIT 20""".stripMargin
    },

    "q_phrase" ->
      // token-array adjacency count with the SAME tokenization as
      // TextFunctions.ftsTokens; range(1, len) = 1-based indices with a
      // valid successor, so each list element tests one start position —
      // exactly the positional-join count (adjacent occurrences that
      // share a delimiter are both counted, unlike replace()-counting)
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(range(1, len(toks)),
        |                         i -> toks[i] = 'hash' AND toks[i+1] = 'join')) AS BIGINT) AS n_hits
        |  FROM t)
        |SELECT doc_id, n_hits FROM h WHERE n_hits > 0
        |ORDER BY n_hits DESC, doc_id LIMIT 20""".stripMargin,

    "q_proximity" ->
      // unnested (doc, pos) postings for the two terms, joined with the
      // identical ordered gap predicate 0 < posB - posA <= 5; parallel
      // UNNESTs zip token with its 1-based position
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, UNNEST(toks) AS tok,
        |         UNNEST(range(1, CAST(len(toks) AS BIGINT) + 1)) AS pos
        |  FROM t),
        |pa AS (SELECT doc_id, pos FROM p WHERE tok = 'filter'),
        |pb AS (SELECT doc_id, pos FROM p WHERE tok = 'scan'),
        |h AS (
        |  SELECT pa.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |  FROM pa JOIN pb ON pa.doc_id = pb.doc_id
        |                 AND pb.pos > pa.pos AND pb.pos - pa.pos <= 5
        |  GROUP BY pa.doc_id)
        |SELECT doc_id, n_pairs FROM h
        |ORDER BY n_pairs DESC, doc_id LIMIT 20""".stripMargin,

    "q_dsir" -> {
      // ImportanceSampling twin: bigrams digested to 60-bit md5 ints mod
      // 4096 buckets; exact BIGINT ratio weights with the identical two
      // floor divisions (K folded first); occurrence-weighted per-doc
      // sums. pos is referenced five times -> MATERIALIZED (DuckDB
      // would otherwise recompute the md5 digests per reference).
      val hash60 = md5NibbleIntSql("vs", 15)
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS w
        |  FROM documents),
        |g AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         CASE WHEN len(w) >= 2
        |              THEN list_transform(range(1, CAST(len(w) AS BIGINT)),
        |                     i -> w[i] || ' ' || w[i + 1])
        |              ELSE CAST([] AS VARCHAR[]) END AS grams
        |  FROM w),
        |pos AS MATERIALIZED (
        |  SELECT doc_id, lang, (HASH60) % 4096 AS b
        |  FROM (SELECT doc_id, lang, UNNEST(grams) AS vs FROM g)),
        |cr AS (SELECT b, COUNT(*) AS cr FROM pos GROUP BY 1),
        |ct AS (SELECT b, COUNT(*) AS ct FROM pos WHERE lang = 'en' GROUP BY 1),
        |nr AS (SELECT COUNT(*) AS nr FROM pos),
        |nt AS (SELECT COUNT(*) AS nt FROM pos WHERE lang = 'en'),
        |wt AS MATERIALIZED (
        |  SELECT cr.b,
        |         (10000 * (COALESCE(ct.ct, 0) + 1) *
        |          ((10000 * ((SELECT nr FROM nr) + 4096)) // ((SELECT nt FROM nt) + 4096)))
        |         // ((cr.cr + 1) * 10000) AS w
        |  FROM cr LEFT JOIN ct ON cr.b = ct.b),
        |sc AS (SELECT pos.doc_id, SUM(wt.w) AS score
        |       FROM pos JOIN wt ON pos.b = wt.b GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(sc.score, 0) AS BIGINT) AS score
        |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |ORDER BY score DESC, d.doc_id LIMIT 20""".stripMargin
        .replace("HASH60", hash60)
    },

    "q_kmeans" ->
      s"""WITH ${kmeansCtes()}
         |SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM a4 ORDER BY vec_id""".stripMargin,

    "q_ivf_fixed" ->
      // SparkEntry.qIvfFixed twin: probe the 4 cells of the SHARED
      // fixed-point quantizer (kmeansCtes — the q_kmeans centroids c3 /
      // assignment a4) nearest the quantized query (integer L2, ties to
      // the lower cid), exact-cosine rerank within them rounded to 6dp
      s"""WITH ${kmeansCtes()},
         |qv AS MATERIALIZED (SELECT q FROM q WHERE vec_id = 0),
         |probe AS MATERIALIZED (
         |  SELECT cid FROM (
         |    SELECT c.cid,
         |           list_sum(list_transform(range(1, 65),
         |             i -> (c.c[i] - v.q[i]) * (c.c[i] - v.q[i]))) AS d
         |    FROM c3 c CROSS JOIN qv v)
         |  ORDER BY d, cid LIMIT 4),
         |ann AS (
         |  SELECT e.vec_id, CAST(a.cid AS BIGINT) AS cell,
         |         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
         |  FROM a4 a JOIN embeddings e ON a.vec_id = e.vec_id
         |  WHERE a.cid IN (SELECT cid FROM probe))
         |SELECT vec_id, cell, score FROM ann ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,

    "q_pq_fixed" -> {
      // SparkEntry.qPqFixed twin: seed codebook = 8-dim subvector slices
      // of the 16 lowest vec_ids (cid = id order), encode = per-(vec,
      // subspace) argmin integer L2 (ties to the lower cid), ADC = sum
      // of the query's precomputed centroid distances over each vector's
      // codes — all fixed-point floor(x*1000) algebra
      s"""WITH ${pqCtes(withTrain = false)}
         |SELECT e.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_score
         |FROM enc e JOIN dt ON e.s = dt.s AND e.cid = dt.cid
         |GROUP BY e.vec_id ORDER BY adc_score, e.vec_id LIMIT 20""".stripMargin
    },

    "q_pq_trained" -> {
      // SparkEntry.qPqTrained twin: one unrolled Lloyd's round per
      // subspace on top of the q_pq_fixed seed codebook (assign a1 ->
      // floorDiv centroid update c1, emptied cells keep their seed via
      // the LEFT JOIN — the kmeansCtes conventions, subspace-grouped)
      s"""WITH ${pqCtes(withTrain = true)}
         |SELECT e.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_score
         |FROM enc e JOIN dt ON e.s = dt.s AND e.cid = dt.cid
         |GROUP BY e.vec_id ORDER BY adc_score, e.vec_id LIMIT 20""".stripMargin
    },

    "q_ivfpq" -> {
      // SparkEntry.qIvfPq twin: the q_ivf_fixed coarse quantizer
      // (kmeansCtes c3/a4, probe = 4 nearest cells) composed with the
      // q_pq_trained codebook (pqCtes prefixed "pq" to dodge the q/a1/c1
      // name collisions) — ADC scores ONLY the probed cells' members
      s"""WITH ${kmeansCtes()},
         |${pqCtes(withTrain = true, px = "pq")},
         |qv AS MATERIALIZED (SELECT q FROM q WHERE vec_id = 0),
         |probe AS MATERIALIZED (
         |  SELECT cid FROM (
         |    SELECT c.cid,
         |           list_sum(list_transform(range(1, 65),
         |             i -> (c.c[i] - v.q[i]) * (c.c[i] - v.q[i]))) AS d
         |    FROM c3 c CROSS JOIN qv v)
         |  ORDER BY d, cid LIMIT 4),
         |keep AS (SELECT vec_id FROM a4 WHERE cid IN (SELECT cid FROM probe))
         |SELECT e.vec_id, CAST(SUM(dt.d) AS BIGINT) AS adc_score
         |FROM pqenc e JOIN keep USING (vec_id) JOIN pqdt dt ON e.s = dt.s AND e.cid = dt.cid
         |GROUP BY e.vec_id ORDER BY adc_score, e.vec_id LIMIT 20""".stripMargin
    },

    "q_lsh_fixed" -> {
      // SparkEntry.qLshFixed twin: portable hyperplanes (md5-60-bit of
      // 'lsh:j:i' % 2001 - 1000), quantized integer dots -> 16-bit
      // signature (bit j set iff dot_j >= 0), Hamming<=6 candidate
      // filter against the vec_id=0 signature, exact-cosine rerank
      // rounded to 6dp
      val md560 = md5NibbleIntSql("'lsh:' || CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)", 15)
      s"""WITH planes AS MATERIALIZED (
         |  SELECT j, i, ($md560 % 2001) - 1000 AS p
         |  FROM range(0, 16) t(j) CROSS JOIN range(1, 65) s(i)),
         |qs AS MATERIALIZED (
         |  SELECT vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]),
         |           x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS q
         |  FROM embeddings),
         |dots AS (
         |  SELECT s.vec_id, pl.j, SUM(s.q[pl.i] * pl.p) AS dot
         |  FROM qs s CROSS JOIN planes pl GROUP BY 1, 2),
         |sig AS MATERIALIZED (
         |  SELECT vec_id,
         |         CAST(SUM(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS sig
         |  FROM dots GROUP BY 1),
         |qsig AS (SELECT sig FROM sig WHERE vec_id = 0),
         |cand AS (
         |  SELECT s.vec_id, s.sig FROM sig s, qsig
         |  WHERE bit_count(xor(s.sig, qsig.sig)) <= 6)
         |SELECT c.vec_id, c.sig,
         |       ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
         |FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
         |ORDER BY score DESC, c.vec_id LIMIT 20""".stripMargin
    },

    "q_semdedup" -> {
      // Clustering.withinClusterNearDupPairs twin: the shared k-means
      // assignment blocks candidates per cluster; similarity is the
      // integer dot of normalized quantized vectors (the MMR-twin
      // quantization: left-associated ss chain, floor(e/sqrt(ss)*1e4))
      val dim = 64
      val ssExpr = (1 to dim).map(j => s"e[$j]*e[$j]").mkString(" + ")
      val iqExpr = (1 to dim)
        .map(j => s"CAST(FLOOR(e[$j]/sqrt(ss)*10000) AS BIGINT)").mkString(", ")
      val dotAB = (1 to dim).map(j => s"va.v[$j]*vb.v[$j]").mkString(" + ")
      s"""WITH ${kmeansCtes(" WHERE vec_id < 2000")},
         |srcn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 2000),
         |nq AS (SELECT vec_id, e, ($ssExpr) AS ss FROM srcn),
         |nv AS MATERIALIZED (SELECT vec_id, [$iqExpr] AS v FROM nq WHERE ss > 0),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, ($dotAB) AS sim_fp,
         |         CAST(a.cid AS BIGINT) AS cluster
         |  FROM a4 a JOIN a4 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  JOIN nv va ON va.vec_id = a.vec_id
         |  JOIN nv vb ON vb.vec_id = b.vec_id)
         |SELECT id_a, id_b, sim_fp, cluster FROM pairs
         |WHERE sim_fp >= 35000000
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_snippet" ->
      // FtsIndex.snippets twin: same tokenization, list_position first
      // hit, inclusive list_slice window (both engines truncate slices
      // at the array bounds). Absent-term guard is pos > 0, NOT IS NOT
      // NULL — DuckDB's list_position returns 0 for a missing element,
      // matching Spark's array_position
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> len(x) > 0) AS toks
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, CAST(list_position(toks, 'window') AS BIGINT) AS pos, toks
        |  FROM t WHERE COALESCE(list_position(toks, 'window'), 0) > 0),
        |s AS (
        |  SELECT doc_id, pos,
        |         array_to_string(list_slice(toks, GREATEST(pos - 6, 1), pos + 6), ' ') AS snippet
        |  FROM h)
        |SELECT doc_id, pos, snippet FROM s ORDER BY doc_id LIMIT 50""".stripMargin,

    "q_temperature" -> {
      // Sampling.temperatureSample twin: keep iff hash32(id)^2 * n_s <
      // n_min * 2^64 — the squared form of hash/2^32 < sqrt(n_min/n_s),
      // HUGEINT here / decimal(38,0) in Spark, both exact
      val hash32 = md5NibbleIntSql("CAST(doc_id AS VARCHAR)", 8)
      s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
         |m AS (SELECT MIN(n) AS nmin FROM c),
         |h AS (SELECT doc_id, lang, $hash32 AS h FROM documents)
         |SELECT h.doc_id, h.lang FROM h JOIN c ON h.lang = c.lang
         |WHERE CAST(h.h AS HUGEINT) * h.h * c.n
         |      < CAST((SELECT nmin FROM m) AS HUGEINT) * CAST('18446744073709551616' AS HUGEINT)
         |ORDER BY h.doc_id""".stripMargin
    },

    "q_negatives" -> {
      // Sampling.negativePairs twin: 0-based rank in doc_id order,
      // hash60(anchor#j) mod (N-1), skip-self shift, join back by rank
      val hash60j = md5NibbleIntSql("CAST(anchor AS VARCHAR) || '#' || CAST(j AS VARCHAR)", 15)
      s"""WITH r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos FROM documents),
         |n AS (SELECT COUNT(*) AS n FROM documents),
         |d AS (SELECT r.doc_id AS anchor, r.pos AS apos, j.j
         |      FROM r CROSS JOIN (SELECT UNNEST(range(1, 3)) AS j) j),
         |t AS (SELECT anchor, apos, j, ($hash60j) % ((SELECT n FROM n) - 1) AS tr FROM d),
         |s AS (SELECT anchor, j, CASE WHEN tr >= apos THEN tr + 1 ELSE tr END AS tpos FROM t)
         |SELECT s.anchor, CAST(s.j AS BIGINT) AS j, r2.doc_id AS negative
         |FROM s JOIN r r2 ON s.tpos = r2.pos
         |ORDER BY s.anchor, s.j""".stripMargin
    },

    "q_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, score FROM bm""".stripMargin,

    "q_rrf_hybrid" ->
      s"""WITH $annCte,
         |$bm25Ctes,
         |ra AS (SELECT vec_id AS id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, vec_id) AS BIGINT) AS rank_vec FROM ann),
         |rb AS (SELECT doc_id AS id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_kw FROM bm),
         |fused AS (SELECT COALESCE(ra.id, rb.id) AS id, ra.rank_vec, rb.rank_kw,
         |            COALESCE(1.0 / (60 + ra.rank_vec), 0.0) + COALESCE(1.0 / (60 + rb.rank_kw), 0.0) AS raw
         |          FROM ra FULL OUTER JOIN rb ON ra.id = rb.id)
         |SELECT id, rank_vec, rank_kw, ROUND(raw, 8) AS rrf_score
         |FROM fused ORDER BY raw DESC, id LIMIT 10""".stripMargin,

    "q_context_budget" ->
      s"""WITH $bm25Ctes,
         |j AS (SELECT bm.doc_id, bm.score, d.text FROM bm JOIN documents d ON bm.doc_id = d.doc_id),
         |c AS (SELECT doc_id, score,
         |        CAST(len($words) AS DOUBLE) * 1.3 AS est FROM j),
         |cum AS (SELECT doc_id, score,
         |          SUM(est) OVER (ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
         |        FROM c),
         |flagged AS (SELECT doc_id, cum_tokens,
         |              MAX(CASE WHEN cum_tokens > 500 THEN 1 ELSE 0 END) OVER (
         |                ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS overflowed
         |            FROM cum)
         |SELECT doc_id, ROUND(cum_tokens, 4) AS cum_tokens FROM flagged
         |WHERE overflowed = 0 ORDER BY doc_id""".stripMargin,

    "q_cascade_delete" ->
      """SELECT COUNT(*) AS surviving_rows FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')""".stripMargin,

    "q_minhash_lsh" ->
      """WITH d AS (SELECT doc_id AS id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |           FROM documents WHERE doc_id < 250),
        |w AS (SELECT id, string_split(norm, ' ') AS wrds FROM d),
        |g0 AS (SELECT id, list_distinct(list_transform(range(1, CAST(GREATEST(len(wrds) - 2, 0) AS BIGINT) + 1),
        |         i -> wrds[i] || ' ' || wrds[i+1] || ' ' || wrds[i+2])) AS sh FROM w),
        |gn AS (SELECT id, sh, len(sh) AS n_sh FROM g0 WHERE len(sh) > 0),
        |grams AS (SELECT id, n_sh, UNNEST(sh) AS gram FROM gn),
        |mh AS (SELECT id, seed, MIN(md5(CAST(seed AS VARCHAR) || ':' || gram)) AS h
        |       FROM grams, UNNEST([0,1,2,3,4,5,6,7]) AS t(seed) GROUP BY id, seed),
        |sig AS (SELECT id,
        |          MAX(CASE WHEN seed=0 THEN h END) AS h0, MAX(CASE WHEN seed=1 THEN h END) AS h1,
        |          MAX(CASE WHEN seed=2 THEN h END) AS h2, MAX(CASE WHEN seed=3 THEN h END) AS h3,
        |          MAX(CASE WHEN seed=4 THEN h END) AS h4, MAX(CASE WHEN seed=5 THEN h END) AS h5,
        |          MAX(CASE WHEN seed=6 THEN h END) AS h6, MAX(CASE WHEN seed=7 THEN h END) AS h7
        |        FROM mh GROUP BY id),
        |bands AS (SELECT id, 0 AS b, md5(h0 || '|' || h1 || '|' || h2 || '|' || h3) AS bh FROM sig
        |          UNION ALL
        |          SELECT id, 1 AS b, md5(h4 || '|' || h5 || '|' || h6 || '|' || h7) AS bh FROM sig),
        |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |         FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.id < b.id),
        |inter AS (SELECT ga.id AS id_a, gb.id AS id_b, ga.n_sh AS na, gb.n_sh AS nb, COUNT(*) AS inter
        |          FROM grams ga JOIN grams gb ON ga.gram = gb.gram AND ga.id < gb.id
        |          GROUP BY 1, 2, 3, 4)
        |SELECT c.id_a, c.id_b, ROUND(CAST(inter AS DOUBLE) / ((na + nb) - inter), 6) AS jaccard
        |FROM cand c JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
        |WHERE CAST(inter AS DOUBLE) / ((na + nb) - inter) >= 0.8
        |ORDER BY c.id_a, c.id_b""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_span_dedup" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '[ \t\n\f\r]+'), x -> len(x) > 0) AS words
        |  FROM documents WHERE text IS NOT NULL),
        |segs AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
        |         array_to_string(words[((i-1)*8+1):(i*8)], ' ') AS seg
        |  FROM w, UNNEST(range(1, CAST(ceil(len(words)/8.0) AS BIGINT) + 1)) AS t(i)
        |  WHERE len(words) >= 1),
        |ranked AS (
        |  SELECT doc_id, seg_idx, seg,
        |         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        |  FROM segs)
        |SELECT doc_id,
        |       COALESCE(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx), '') AS clean_text,
        |       COUNT(*) AS n_spans,
        |       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |FROM ranked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS w
        |  FROM documents),
        |uni AS (SELECT UNNEST(w) AS word FROM toks),
        |uc AS (SELECT word, COUNT(*) AS cnt FROM uni GROUP BY word),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM uc),
        |top AS (SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rank
        |        FROM uc ORDER BY cnt DESC, word LIMIT 50)
        |SELECT rank, word, cnt,
        |       ROUND(CAST(SUM(cnt) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |               / CAST((SELECT n_total FROM tot) AS DOUBLE), 6) AS cum_frac
        |FROM top ORDER BY rank""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_full_outer" ->
      """WITH c AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |           FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey),
        |s AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |      FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
        |SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, c.n_cust, s.n_supp
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin,

    "q_embed_neardup" ->
      """WITH capped AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 512)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS score
        |FROM capped a JOIN capped b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    "q_embed_neardup_lsh" -> {
      // mirrors qEmbedNeardupLsh exactly: same literal sign matrix, same
      // integer quantization, same band keys, same cosine re-rank
      val nBits = 32; val nBands = 4; val bandSize = 8; val dim = 64
      val signs = lshSigns(nBits, dim)
      val bitExprs = (0 until nBits).map { i =>
        val dot = (0 until dim)
          .map(j => s"iq[${j + 1}] * (${signs(i)(j)})")
          .mkString(" + ")
        s"(CASE WHEN ($dot) >= 0 THEN 1 ELSE 0 END) AS bit$i"
      }.mkString(",\n         ")
      val bandKeys = (0 until nBands).map { bi =>
        val v = (0 until bandSize)
          .map(j => s"bit${bi * bandSize + j} * ${1 << j}")
          .mkString(" + ")
        s"($v + ${bi * (1 << bandSize)})"
      }.mkString(", ")
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT)) AS iq
         |  FROM embeddings),
         |sig AS (
         |  SELECT vec_id, $bitExprs
         |  FROM e),
         |banded AS (
         |  SELECT vec_id, UNNEST([$bandKeys]) AS band_key FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.vec_id < b.vec_id)
         |SELECT c.id_a, c.id_b,
         |  ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])), 6) AS score
         |FROM cand c
         |JOIN embeddings ea ON ea.vec_id = c.id_a
         |JOIN embeddings eb ON eb.vec_id = c.id_b
         |WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) >= 0.45
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_mmr_fixed" -> {
      // mirrors qMmrFixed exactly: normalized integer quantization with
      // explicit left-associated double chains (the LSH-twin technique),
      // integer dots, and the greedy MMR argmax unrolled as chained CTEs
      // with the same ties (marginal desc, score desc, id asc)
      val dim = 64; val k = 8
      val ssExpr = (1 to dim).map(j => s"e[$j]*e[$j]").mkString(" + ")
      val iqExpr = (1 to dim)
        .map(j => s"CAST(FLOOR(e[$j]/sqrt(ss)*10000) AS BIGINT)").mkString(", ")
      val dotQ = (1 to dim).map(j => s"iq.v[$j]*qv.v[$j]").mkString(" + ")
      val dotAB = (1 to dim).map(j => s"a.v[$j]*b.v[$j]").mkString(" + ")
      def prevIds(n: Int) =
        (1 until n).map(i => s"SELECT id FROM p$i").mkString(" UNION ALL ")
      // every pick is MATERIALIZED: DuckDB inlines plain CTEs, and p8
      // referencing p1..p7 (each twice) would blow up exponentially
      val picks = (2 to k).map { n =>
        s"""p$n AS MATERIALIZED (
           |  SELECT c.id, c.score,
           |    7*c.score - 3*(SELECT MAX(sim) FROM sims
           |                   WHERE ib = c.id AND ia IN (${prevIds(n)})) AS m
           |  FROM cands c WHERE c.id NOT IN (${prevIds(n)})
           |  ORDER BY m DESC, c.score DESC, c.id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val out = (1 to k)
        .map(n => s"SELECT CAST($n AS BIGINT) AS mmr_rank, CAST(id AS BIGINT) AS vec_id, m AS mmr_score FROM p$n")
        .mkString("\nUNION ALL ")
      s"""WITH src AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |nq AS (SELECT vec_id, e, ($ssExpr) AS ss FROM src),
         |iqt AS MATERIALIZED (SELECT vec_id, [$iqExpr] AS v FROM nq WHERE ss > 0),
         |qv AS (SELECT v FROM iqt WHERE vec_id = 0),
         |scored AS (SELECT iq.vec_id AS id, ($dotQ) AS score FROM iqt iq, qv),
         |cands AS MATERIALIZED (SELECT id, score FROM scored ORDER BY score DESC, id LIMIT 20),
         |sims AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib, ($dotAB) AS sim
         |  FROM iqt a, iqt b
         |  WHERE a.vec_id IN (SELECT id FROM cands) AND b.vec_id IN (SELECT id FROM cands)),
         |p1 AS MATERIALIZED (SELECT id, score, 10*score AS m FROM cands ORDER BY score DESC, id LIMIT 1),
         |$picks
         |$out
         |ORDER BY mmr_rank""".stripMargin
    },

    "q_ann_filtered" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id, label,
        |        list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)) AS raw
        |      FROM embeddings WHERE label < 5)
        |SELECT vec_id, label, ROUND(raw, 6) AS score FROM s
        |ORDER BY raw DESC, vec_id LIMIT 10""".stripMargin,

    "q_event_sliding" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value FROM events),
        |w AS (SELECT event_type, value,
        |        ((ts_us // 1800000000) * 1800000000 - k * 1800000000) AS ws_us
        |      FROM e, UNNEST([0, 1]) AS t(k))
        |SELECT strftime(make_timestamp(ws_us), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q_percentile" ->
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  ROUND(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_above_avg" ->
      // cross-multiplied decimal comparison == bal > avg, but exact (no
      // float summation-order sensitivity between the engines)
      """WITH a AS (SELECT c_nationkey AS nk,
        |                  SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
        |                  COUNT(*) AS n_cust
        |           FROM customer GROUP BY 1)
        |SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey
        |FROM customer JOIN a ON c_nationkey = nk
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_cust > bal_sum
        |ORDER BY c_custkey""".stripMargin,

    "q_minmax_dates" ->
      """SELECT l_returnflag,
        |  epoch_us(MIN(l_shipdate)) AS first_ship_us,
        |  epoch_us(MAX(l_shipdate)) AS last_ship_us,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_topk_per_group_agg" ->
      """SELECT o_custkey,
        |  array_to_string((LIST(o_orderkey ORDER BY o_totalprice DESC, o_orderkey))[1:3], ',') AS ids
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "q_fuzzy_match" ->
      """SELECT c_custkey, CAST(levenshtein(c_name, 'Customer#000000100') AS BIGINT) AS edit_dist
        |FROM customer WHERE levenshtein(c_name, 'Customer#000000100') <= 2
        |ORDER BY c_custkey""".stripMargin,

    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events),
        |a AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click' AND user_id < 100),
        |b AS (SELECT event_id, user_id, ts_us, value FROM e WHERE event_type = 'purchase')
        |SELECT a.event_id, a.user_id, a.ts_us,
        |       b.event_id AS asof_event_id, b.value AS asof_value
        |FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts_us >= b.ts_us
        |ORDER BY a.event_id""".stripMargin,

    "q_ann_batch" ->
      """SELECT a.vec_id AS query_id,
        |  array_to_string((LIST(b.vec_id ORDER BY
        |     list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC,
        |     b.vec_id))[1:3], ',') AS ids
        |FROM (SELECT * FROM embeddings WHERE vec_id < 5) a CROSS JOIN embeddings b
        |GROUP BY a.vec_id ORDER BY query_id""".stripMargin,

    "q_hard_negatives" ->
      // VectorSearch.hardNegatives twin: label-excluded cross join,
      // ranked exactly like q_ann_batch (cosine DESC, id ASC)
      """SELECT a.vec_id AS anchor_id,
        |  array_to_string((LIST(b.vec_id ORDER BY
        |     list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC,
        |     b.vec_id))[1:3], ',') AS ids
        |FROM (SELECT * FROM embeddings WHERE vec_id < 5) a
        |CROSS JOIN embeddings b
        |WHERE a.label <> b.label
        |GROUP BY a.vec_id ORDER BY anchor_id""".stripMargin,

    "q_curation" ->
      s"""WITH $curationCte
         |SELECT doc_id, pred_lang, quality, token_est FROM curated ORDER BY doc_id""".stripMargin,

    "q_curation_stats" ->
      s"""WITH $curationCte
         |SELECT pred_lang, COUNT(*) AS n_docs,
         |       CAST(SUM(token_est) AS BIGINT) AS total_tokens
         |FROM curated GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,

    "q_ntile" ->
      """SELECT c_custkey,
        |  CAST(NTILE(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS quartile
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_range_frame" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_hour_value
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "q_simhash_sig" -> {
      def digit(k: Int) = s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)"
      val bitSums = (0 until 64).map { b =>
        val bit = s"((${digit(b / 4 + 1)} // ${1 << (b % 4)}) % 2)"
        s"SUM(CASE WHEN $bit = 1 THEN 1 ELSE -1 END) AS b$b"
      }.mkString(", ")
      val hexDigits = (0 until 16).map { nib =>
        val v = (0 until 4)
          .map(j => s"(CASE WHEN b${nib * 4 + j} > 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"substr('0123456789abcdef', ($v) + 1, 1)"
      }.mkString(" || ")
      s"""WITH toks AS (
         |  SELECT doc_id, md5(tok) AS h
         |  FROM (SELECT doc_id, UNNEST($ftsToks) AS tok
         |        FROM documents WHERE doc_id < 250)),
         |sums AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id)
         |SELECT doc_id, $hexDigits AS simhash_hex FROM sums ORDER BY doc_id""".stripMargin
    },

    "q_blocklist" -> {
      // CorpusHygiene.blocklistHits twin over the shared demoBlocklist:
      // whole-word unigram + 2-word-phrase occurrence counts, distinct
      // matched terms, fixed-point density, 0/1 any-hit flag.
      val norm = graft.operators.CorpusHygiene.demoBlocklist
        .map(_.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
      def sqlList(n: Int): String =
        norm.filter(_.size == n).map(_.mkString(" ")).distinct
          .map(t => s"'$t'").mkString("[", ", ", "]")
      val (l1, l2) = (sqlList(1), sqlList(2))
      require(norm.forall(t => t.size == 1 || t.size == 2),
        "q_blocklist oracle mirrors only 1- and 2-word demo terms")
      s"""WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS w
        |  FROM documents),
        |g AS (SELECT doc_id, w,
        |             CASE WHEN len(w) >= 2
        |                  THEN list_transform(range(1, CAST(len(w) AS BIGINT)),
        |                         i -> w[i] || ' ' || w[i + 1])
        |                  ELSE CAST([] AS VARCHAR[]) END AS g2
        |      FROM w),
        |c AS (SELECT doc_id,
        |             CAST(len(w) AS BIGINT) AS n_words,
        |             CAST(len(list_filter(w, x -> list_contains($l1, x)))
        |                + len(list_filter(g2, x -> list_contains($l2, x))) AS BIGINT) AS hits,
        |             CAST(len(list_intersect(list_distinct(w), $l1))
        |                + len(list_intersect(list_distinct(g2), $l2)) AS BIGINT) AS matched_terms
        |      FROM g)
        |SELECT doc_id, n_words, hits, matched_terms,
        |       CAST(CASE WHEN n_words > 0 THEN (hits * 1000000) // n_words ELSE 0 END AS BIGINT) AS hit_frac_fp,
        |       CAST(CASE WHEN hits > 0 THEN 1 ELSE 0 END AS BIGINT) AS blocked
        |FROM c ORDER BY doc_id""".stripMargin
    },

    "q_pii_scrub" -> {
      // same patterns as CorpusHygiene; DuckDB needs the 'g' flag for
      // replace-all (Spark's regexp_replace is always global)
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "(?:\\+?[0-9]{1,3}[-. ])?\\(?[0-9]{3}\\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}"
      val ip = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
         |  md5(regexp_replace(regexp_replace(regexp_replace(text,
         |        '$email', '<EMAIL>', 'g'),
         |        '$phone', '<PHONE>', 'g'),
         |        '$ip', '<IP>', 'g')) AS clean_hash
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "q_gopher_repetition" ->
      """WITH l AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |                     x -> len(x) > 0) AS lines
        |  FROM documents)
        |SELECT doc_id,
        |  ROUND(CASE WHEN len(lines) <= 1 THEN 0.0
        |        ELSE CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
        |        END, 6) AS dup_line_frac
        |FROM l ORDER BY doc_id""".stripMargin,

    "q_embed_portable" -> {
      // mirrors qEmbedPortable: unigrams + '_'-joined bigrams, md5 bucket
      // (first 6 nibbles % 16) and sign (nibble 7 >= 8 -> -1)
      def nib(k: Int) = {
        val c = s"ascii(substr(h, $k, 1))"
        s"(CASE WHEN $c >= 97 THEN $c - 87 ELSE $c - 48 END)"
      }
      val bucket = (1 to 6).map(k => s"${nib(k)} * ${1 << ((6 - k) * 4)}").mkString("(", " + ", ") % 16")
      val sums = (0 until 16)
        .map(b => s"SUM(CASE WHEN bucket = $b THEN sgn ELSE 0 END) AS v$b")
        .mkString(", ")
      val vec = (0 until 16).map(b => s"CAST(v$b AS VARCHAR)").mkString(" || ',' || ")
      s"""WITH w AS (
         |  SELECT doc_id, $ftsToks AS w FROM documents WHERE doc_id < 250),
         |toks AS (
         |  SELECT doc_id, UNNEST(
         |    list_concat(w,
         |      list_filter(list_transform(range(1, CAST(GREATEST(len(w) - 1, 1) AS BIGINT) + 1),
         |        i -> CASE WHEN len(w) >= 2 AND i < len(w) THEN w[i] || '_' || w[i+1] END),
         |        x -> x IS NOT NULL))) AS tok
         |  FROM w),
         |hashed AS (
         |  SELECT doc_id, $bucket AS bucket,
         |         CASE WHEN ${nib(7)} >= 8 THEN -1 ELSE 1 END AS sgn
         |  FROM (SELECT doc_id, md5(tok) AS h FROM toks)),
         |sums AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id)
         |SELECT doc_id, $vec AS vec FROM sums ORDER BY doc_id""".stripMargin
    },

    "q_chunk_fixed" ->
      // mirrors qChunkFixed: size 256, overlap 32, stride 224
      """WITH e AS (
        |  SELECT doc_id, text,
        |         UNNEST(range(0, CAST(FLOOR(CAST(GREATEST(length(text) - 1, 0) AS DOUBLE) / 224) AS BIGINT) + 1)) AS i
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, i AS chunk_index,
        |       CAST(length(substr(text, CAST(i * 224 + 1 AS INT), 256)) AS BIGINT) AS chunk_len,
        |       md5(substr(text, CAST(i * 224 + 1 AS INT), 256)) AS chunk_hash
        |FROM e ORDER BY doc_id, chunk_index""".stripMargin,

    "q_top_ngram_frac" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         UNNEST(list_transform(range(1, CAST(GREATEST(len(w) - 1, 0) AS BIGINT) + 1),
        |                i -> w[i] || ' ' || w[i+1])) AS gram
        |  FROM w),
        |pg AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram),
        |pd AS (SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS f FROM pg GROUP BY doc_id)
        |SELECT d.doc_id, ROUND(COALESCE(pd.f, 0.0), 6) AS top_ngram_frac
        |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_decontaminate" -> decontaminateSql,

    "q_contamination_frac" ->
      // CorpusHygiene.contaminationFraction twin: per-doc distinct-gram
      // count, hit count against the distinct eval grams, double-divided
      // fraction rounded 6dp; zero-shingle docs surface as (0, 0, 0.0)
      s"""WITH src AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         |cg AS (${shingleSql("src", 8)}),
         |eg AS (SELECT DISTINCT gram FROM (${shingleSql("(SELECT * FROM src WHERE doc_id < 5)", 8)})),
         |cnt AS (SELECT doc_id, COUNT(*) AS n_grams FROM cg GROUP BY 1),
         |hits AS (SELECT cg.doc_id, COUNT(*) AS n_hits FROM cg JOIN eg USING (gram) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(COALESCE(cnt.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
         |  ROUND(CASE WHEN COALESCE(cnt.n_grams, 0) > 0
         |        THEN CAST(COALESCE(hits.n_hits, 0) AS DOUBLE) / cnt.n_grams
         |        ELSE 0.0 END, 6) AS frac
         |FROM src d
         |LEFT JOIN cnt USING (doc_id) LEFT JOIN hits USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // the bloom prefilter is exactness-preserving by construction (confirm
    // join erases false positives; blooms have no false negatives), so the
    // scale path shares the exact path's oracle verbatim
    "q_decontaminate_bloom" -> decontaminateSql,

    "q_seq_pack" ->
      // concat-then-chunk: seq_index = floor(start_offset / 2048) where
      // start_offset is the running token sum before the doc (id order
      // within source) — mirrors SequencePacking.assignSequences
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(FLOOR(CAST(len($words) AS DOUBLE) * 1.3) AS BIGINT) AS tok
         |  FROM documents),
         |o AS (
         |  SELECT source, tok,
         |         SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS start_offset
         |  FROM d)
         |SELECT source, CAST(FLOOR(CAST(start_offset AS DOUBLE) / 2048) AS BIGINT) AS seq_index,
         |       COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS seq_tokens
         |FROM o GROUP BY source, seq_index ORDER BY source, seq_index""".stripMargin,

    "q_seq_pack_tok" -> {
      // packGreedy over REAL 3-round-BPE token counts at the one-range
      // operating point: the same 3 unrolled training rounds as
      // q_bpe_encode give per-doc n_tokens; the strict-budget NEXT-fit
      // recurrence (fresh bin when bin_tokens + tok > 2048; an oversized
      // doc sits alone) walks doc_id order one row per recursive step —
      // bin ids 0-based like packGreedy's (partition 0 << 32 | idx)
      val rounds = (1 to 3).map(r => bpeRound(s"w${r - 1}", r)).mkString(",\n")
      s"""WITH RECURSIVE $bpeW0,
         |$rounds,
         |segv AS (
         |  SELECT word,
         |         CAST(len(list_filter(string_split(seg, '|'), x -> len(x) > 0)) AS BIGINT) AS n_tokens_w
         |  FROM w3),
         |toks AS (
         |  SELECT t.doc_id, CAST(SUM(s.n_tokens_w) AS BIGINT) AS tok
         |  FROM (SELECT doc_id, UNNEST($ftsToks) AS word FROM documents) t
         |  JOIN segv s ON t.word = s.word
         |  GROUP BY t.doc_id),
         |d AS MATERIALIZED (
         |  SELECT tok, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn FROM toks),
         |pack AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM pack p JOIN d ON d.rn = p.rn + 1)
         |SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(tok) AS BIGINT) AS bin_tokens
         |FROM pack GROUP BY bin_id ORDER BY bin_id""".stripMargin
    },

    "q_bpe_ids" ->
      // TextAnalysis.bpeEncodeIds twin: 3 unrolled training rounds on the
      // bounded corpus; stable vocab ids (sorted alphabet 1..A by
      // row_number, merge products A+round, MIN(id) + dense re-number on
      // the two-merges-one-product corner = tokenVocab's keep-first
      // COMPACTING dedupe, ADVICE r14); per-word id
      // strings from the FINAL segmentation (train == apply, so replay ==
      // training segmentation), reassembled per doc in word order
      s"""WITH $bpeIdsCtes
         |SELECT doc_id, n_tokens, input_ids FROM docids ORDER BY doc_id""".stripMargin,

    "q_pack_ids" ->
      // SequencePacking.packSequences twin: the q_seq_pack_tok next-fit
      // recurrence over the q_bpe_ids per-doc (n_tokens, input_ids),
      // then each bin's id strings concatenated in pack (= id) order
      s"""WITH RECURSIVE $bpeIdsCtes,
         |d AS MATERIALIZED (
         |  SELECT n_tokens AS tok, input_ids,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids),
         |pack AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM pack p JOIN d ON d.rn = p.rn + 1)
         |SELECT p.bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(p.tok) AS BIGINT) AS bin_tokens,
         |       string_agg(d.input_ids, ',' ORDER BY p.rn) AS input_ids
         |FROM pack p JOIN d USING (rn)
         |GROUP BY p.bin_id ORDER BY bin_id""".stripMargin,

    "q_pack_bounds" ->
      // SequencePacking.packSequences doc_ids/doc_lens twin: the same
      // next-fit recurrence, but each bin aggregates its documents' ids
      // and per-doc segment lengths (== the encoder's n_tokens) in pack
      // (= id) order
      s"""WITH RECURSIVE $bpeIdsCtes,
         |d AS MATERIALIZED (
         |  SELECT doc_id, n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids),
         |pack AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM pack p JOIN d ON d.rn = p.rn + 1)
         |SELECT p.bin_id,
         |       string_agg(CAST(d.doc_id AS VARCHAR), ',' ORDER BY p.rn) AS doc_ids,
         |       string_agg(CAST(p.tok AS VARCHAR), ',' ORDER BY p.rn) AS doc_lens
         |FROM pack p JOIN d USING (rn)
         |GROUP BY p.bin_id ORDER BY bin_id""".stripMargin,

    "q_pack_positions" ->
      // SequencePacking.positionIds twin: per bin, each document
      // contributes 0..tok-1 (a DuckDB range unnest rendered as a csv),
      // concatenated in pack (= id) order — positions reset at every
      // document boundary
      s"""WITH RECURSIVE $bpeIdsCtes,
         |d AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids),
         |pack AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM pack p JOIN d ON d.rn = p.rn + 1)
         |SELECT p.bin_id,
         |       string_agg(
         |         array_to_string(list_transform(range(CAST(p.tok AS INTEGER)),
         |                                        x -> CAST(x AS VARCHAR)), ','),
         |         ',' ORDER BY p.rn) AS position_ids
         |FROM pack p
         |GROUP BY p.bin_id ORDER BY bin_id""".stripMargin,

    "q_shard_retract" ->
      // SequencePacking.retractFromShards twin: bin boundaries come from
      // the ORIGINAL pack recurrence over all docs; the retraction then
      // removes exactly the victim's row from each bin's aggregation
      // (doc 1's segment sliced out, counts shrunk, empty bins dropped
      // by the GROUP BY itself)
      s"""WITH RECURSIVE $bpeIdsCtes,
         |d AS MATERIALIZED (
         |  SELECT doc_id, n_tokens AS tok, input_ids,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids),
         |pack AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM pack p JOIN d ON d.rn = p.rn + 1)
         |SELECT p.bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(p.tok) AS BIGINT) AS bin_tokens,
         |       string_agg(CAST(d.doc_id AS VARCHAR), ',' ORDER BY p.rn) AS doc_ids,
         |       string_agg(d.input_ids, ',' ORDER BY p.rn) AS input_ids
         |FROM pack p JOIN d USING (rn)
         |WHERE d.doc_id <> 1
         |GROUP BY p.bin_id ORDER BY bin_id""".stripMargin,

    "q_shard_manifest" -> {
      // SequencePacking.exportShards twin: bins from the q_pack_ids
      // recurrence, shard = bin_id % 4, per-shard counts/token totals
      // plus the summed 32-bit md5-nibble digest of each bin's
      // 'bin_id:ids_csv' content — certifying the engine's written-
      // and-read-back shard files byte-for-byte
      val dig = md5NibbleIntSql("CAST(b.bin_id AS VARCHAR) || ':' || b.ids", 8)
      s"""WITH RECURSIVE $bpeIdsCtes,
         |d AS MATERIALIZED (
         |  SELECT n_tokens AS tok, input_ids,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids),
         |pack AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM pack p JOIN d ON d.rn = p.rn + 1),
         |bins AS (
         |  SELECT p.bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(p.tok) AS BIGINT) AS bin_tokens,
         |         string_agg(d.input_ids, ',' ORDER BY p.rn) AS ids
         |  FROM pack p JOIN d USING (rn) GROUP BY p.bin_id)
         |SELECT b.bin_id % 4 AS shard,
         |       CAST(COUNT(*) AS BIGINT) AS n_bins,
         |       CAST(SUM(b.n_docs) AS BIGINT) AS n_docs,
         |       CAST(SUM(b.bin_tokens) AS BIGINT) AS n_tokens,
         |       CAST(SUM($dig) AS BIGINT) AS digest
         |FROM bins b GROUP BY 1 ORDER BY shard""".stripMargin
    },

    "q_pack_sep" ->
      // SequencePacking.packSequences sepId twin (VERDICT r14 #4): the
      // same next-fit recurrence, but every document walks at
      // n_tokens + 1 (the separator bills against the budget), each
      // doc's id string gains a trailing ',0' (the separator id), and
      // doc_lens carries the +1 — stream, boundaries, and token totals
      // must all move together
      s"""WITH RECURSIVE $bpeIdsCtes,
         |d AS MATERIALIZED (
         |  SELECT n_tokens + 1 AS tok, input_ids || ',0' AS input_ids,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids),
         |pack AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM pack p JOIN d ON d.rn = p.rn + 1)
         |SELECT p.bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(p.tok) AS BIGINT) AS bin_tokens,
         |       string_agg(d.input_ids, ',' ORDER BY p.rn) AS input_ids,
         |       string_agg(CAST(p.tok AS VARCHAR), ',' ORDER BY p.rn) AS doc_lens
         |FROM pack p JOIN d USING (rn)
         |GROUP BY p.bin_id ORDER BY bin_id""".stripMargin,

    "q_shard_append" -> {
      // SequencePacking.appendShards twin (VERDICT r14 #1): the even
      // docs' pack recurrence is the exported store, the odd docs' is
      // the appended batch REBASED by the even bin count (appendShards'
      // deterministic renumbering off the meta ledger); the per-shard
      // manifest over the union — counts, token totals, content digests
      // — must equal what the incremental path spliced together
      val dig = md5NibbleIntSql("CAST(b.bin_id AS VARCHAR) || ':' || b.ids", 8)
      s"""WITH RECURSIVE $bpeIdsCtes,
         |de AS MATERIALIZED (
         |  SELECT n_tokens AS tok, input_ids,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 0),
         |packe AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM de WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packe p JOIN de d ON d.rn = p.rn + 1),
         |dd AS MATERIALIZED (
         |  SELECT n_tokens AS tok, input_ids,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 1),
         |packo AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packo p JOIN dd d ON d.rn = p.rn + 1),
         |ne AS (SELECT MAX(bin_id) + 1 AS n FROM packe),
         |bins AS (
         |  SELECT p.bin_id AS bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(SUM(p.tok) AS BIGINT) AS bin_tokens,
         |         string_agg(d.input_ids, ',' ORDER BY p.rn) AS ids
         |  FROM packe p JOIN de d USING (rn) GROUP BY p.bin_id
         |  UNION ALL
         |  SELECT p.bin_id + (SELECT n FROM ne), CAST(COUNT(*) AS BIGINT),
         |         CAST(SUM(p.tok) AS BIGINT),
         |         string_agg(d.input_ids, ',' ORDER BY p.rn)
         |  FROM packo p JOIN dd d USING (rn) GROUP BY p.bin_id)
         |SELECT b.bin_id % 4 AS shard,
         |       CAST(COUNT(*) AS BIGINT) AS n_bins,
         |       CAST(SUM(b.n_docs) AS BIGINT) AS n_docs,
         |       CAST(SUM(b.bin_tokens) AS BIGINT) AS n_tokens,
         |       CAST(SUM($dig) AS BIGINT) AS digest
         |FROM bins b GROUP BY 1 ORDER BY shard""".stripMargin
    },

    "q_read_shard" ->
      // SequencePacking.readShard twin (VERDICT r14 #6): the certified
      // read of shard 2 must serve exactly that shard's slice of the
      // pack recurrence (bin_id % 4 = 2), bit-for-bit — the engine side
      // recomputes the manifest row from the files before returning any
      // of these rows
      s"""WITH RECURSIVE $bpeIdsCtes,
         |d AS MATERIALIZED (
         |  SELECT n_tokens AS tok, input_ids,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids),
         |pack AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM pack p JOIN d ON d.rn = p.rn + 1)
         |SELECT p.bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(p.tok) AS BIGINT) AS bin_tokens,
         |       string_agg(d.input_ids, ',' ORDER BY p.rn) AS input_ids
         |FROM pack p JOIN d USING (rn)
         |WHERE p.bin_id % 4 = 2
         |GROUP BY p.bin_id ORDER BY bin_id""".stripMargin,

    "q_epoch_schedule" ->
      // LoaderSchedule.epochSchedule twin: bins from the q_pack_ids
      // recurrence, permuted by md5('ep1:' || bin_id) (Spark and DuckDB
      // agree on the lowercase hex and on binary string ordering), with
      // the exact inclusive running token total — the epoch consumption
      // order and the checkpoint cursor, re-derived independently
      s"""WITH RECURSIVE $bpeIdsCtes,
         |$packBinsCtes
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY s.k, s.bin_id) AS BIGINT) AS ord,
         |       s.shard, s.bin_id, s.n_tokens,
         |       CAST(SUM(s.n_tokens) OVER (ORDER BY s.k, s.bin_id
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |FROM sched s ORDER BY ord""".stripMargin,

    "q_epoch_resume" ->
      // LoaderSchedule.resumeFrom twin: the epoch schedule filtered to
      // cum_tokens past half the store's total (integer-truncated on
      // both sides) — the unconsumed tail after a mid-epoch checkpoint,
      // in unchanged epoch order
      s"""WITH RECURSIVE $bpeIdsCtes,
         |$packBinsCtes,
         |sched2 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY s.k, s.bin_id) AS BIGINT) AS ord,
         |         s.shard, s.bin_id, s.n_tokens,
         |         CAST(SUM(s.n_tokens) OVER (ORDER BY s.k, s.bin_id
         |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM sched s)
         |SELECT ord, shard, bin_id, n_tokens, cum_tokens FROM sched2
         |WHERE cum_tokens > (SELECT MAX(cum_tokens) // 2 FROM sched2)
         |ORDER BY ord""".stripMargin,

    "q_epoch_plan" ->
      // LoaderSchedule.epochPlan twin: two independent epoch
      // permutations of the same bins (keys 'pl/1:', 'pl/2:'),
      // concatenated with globally continuing ord (+n_bins) and
      // cum_tokens (+total) — a multi-pass trainer's checkpoint
      // coordinates, re-derived offset-exact
      s"""WITH RECURSIVE $bpeIdsCtes,
         |$packBinsCtes,
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |              CAST(SUM(n_tokens) AS BIGINT) AS tot FROM bins),
         |e1 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY k, bin_id) AS BIGINT) AS ord,
         |         CAST(1 AS BIGINT) AS epoch, shard, bin_id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (ORDER BY k, bin_id
         |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM (SELECT bin_id % 4 AS shard, bin_id, n_tokens,
         |               md5('pl/1:' || CAST(bin_id AS VARCHAR)) AS k FROM bins)),
         |e2 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY k, bin_id) AS BIGINT)
         |           + (SELECT n FROM nb) AS ord,
         |         CAST(2 AS BIGINT) AS epoch, shard, bin_id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (ORDER BY k, bin_id
         |                ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |           + (SELECT tot FROM nb) AS cum_tokens
         |  FROM (SELECT bin_id % 4 AS shard, bin_id, n_tokens,
         |               md5('pl/2:' || CAST(bin_id AS VARCHAR)) AS k FROM bins))
         |SELECT ord, epoch, shard, bin_id, n_tokens, cum_tokens
         |FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
         |ORDER BY ord""".stripMargin,

    "q_worker_slices" ->
      // LoaderSchedule.workerSlices twin: the epoch schedule dealt
      // round-robin on ord to 3 workers — per worker the bin count,
      // token total, and the bin membership csv IN EPOCH ORDER, pinning
      // both the balance and the deal
      s"""WITH RECURSIVE $bpeIdsCtes,
         |$packBinsCtes,
         |sched2 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY s.k, s.bin_id) AS BIGINT) AS ord,
         |         s.bin_id, s.n_tokens
         |  FROM sched s)
         |SELECT CAST((ord - 1) % 3 AS BIGINT) AS worker,
         |       CAST(COUNT(*) AS BIGINT) AS n_bins,
         |       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |       string_agg(CAST(bin_id AS VARCHAR), ',' ORDER BY ord) AS bin_ids
         |FROM sched2 GROUP BY 1 ORDER BY worker""".stripMargin,

    "q_mixture_schedule" ->
      // LoaderSchedule.mixtureSchedule twin: the even docs' store at
      // weight 3 and the odd docs' at weight 1, each domain ranked by
      // its own md5-keyed epoch order, interleaved by integer virtual
      // time k * lcm/w (even: k*1, odd: k*3), ties (domain, k) — the
      // weighted-fair-queuing interleave with its combined running
      // token total, re-derived to the bit
      s"""WITH RECURSIVE $bpeIdsCtes,
         |de AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 0),
         |packe AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM de WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packe p JOIN de d ON d.rn = p.rn + 1),
         |dd AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 1),
         |packo AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packo p JOIN dd d ON d.rn = p.rn + 1),
         |ke AS (
         |  SELECT 'even' AS domain, b.bin_id % 4 AS shard, b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (
         |           ORDER BY md5('mix1:even:' || CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT) AS krank
         |  FROM (SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens
         |        FROM packe GROUP BY bin_id) b),
         |ko AS (
         |  SELECT 'odd' AS domain, b.bin_id % 4 AS shard, b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (
         |           ORDER BY md5('mix1:odd:' || CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT) AS krank
         |  FROM (SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens
         |        FROM packo GROUP BY bin_id) b),
         |u AS (
         |  SELECT domain, shard, bin_id, n_tokens, krank,
         |         krank * CASE WHEN domain = 'even' THEN 1 ELSE 3 END AS vt
         |  FROM (SELECT * FROM ke UNION ALL SELECT * FROM ko))
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, domain, krank) AS BIGINT) AS ord,
         |       domain, shard, bin_id, n_tokens,
         |       CAST(SUM(n_tokens) OVER (ORDER BY vt, domain, krank
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |FROM u ORDER BY ord""".stripMargin,

    "q_token_budget_plan" ->
      // LoaderSchedule.planForTokens twin: T = 3*total//2 → two epochs
      // (seeds tb/1, tb/2, the q_epoch_plan offset shape), keeping the
      // bins whose segment STARTS before T (cum - n_tokens < T) — the
      // last kept bin crosses the budget, coordinates stay the
      // untruncated plan's
      s"""WITH RECURSIVE $bpeIdsCtes,
         |$packBinsCtes,
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |              CAST(SUM(n_tokens) AS BIGINT) AS tot FROM bins),
         |tgt AS (SELECT 3 * CAST(SUM(n_tokens) AS BIGINT) // 2 AS t FROM bins),
         |e1 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY k, bin_id) AS BIGINT) AS ord,
         |         CAST(1 AS BIGINT) AS epoch, shard, bin_id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (ORDER BY k, bin_id
         |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM (SELECT bin_id % 4 AS shard, bin_id, n_tokens,
         |               md5('tb/1:' || CAST(bin_id AS VARCHAR)) AS k FROM bins)),
         |e2 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY k, bin_id) AS BIGINT)
         |           + (SELECT n FROM nb) AS ord,
         |         CAST(2 AS BIGINT) AS epoch, shard, bin_id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (ORDER BY k, bin_id
         |                ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |           + (SELECT tot FROM nb) AS cum_tokens
         |  FROM (SELECT bin_id % 4 AS shard, bin_id, n_tokens,
         |               md5('tb/2:' || CAST(bin_id AS VARCHAR)) AS k FROM bins))
         |SELECT ord, epoch, shard, bin_id, n_tokens, cum_tokens
         |FROM (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
         |WHERE cum_tokens - n_tokens < (SELECT t FROM tgt)
         |ORDER BY ord""".stripMargin,

    "q_mixture_plan" ->
      // LoaderSchedule.mixturePlan twin (r15 verdict #4): even store at
      // weight 3 x 1 epoch, odd store at weight 1 x 2 epochs. Each
      // (domain, epoch) is its own md5-keyed permutation (seeds
      // mixp:even/1, mixp:odd/1, mixp:odd/2); odd's epoch-2 stream
      // positions continue past epoch 1 (kpos = nBins + rank), and the
      // WFQ interleave runs on kpos * lcm/w (even: k*1, odd: k*3) with
      // ties on (domain, kpos) — re-derived to the bit, running token
      // total included
      s"""WITH RECURSIVE $bpeIdsCtes,
         |de AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 0),
         |packe AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM de WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packe p JOIN de d ON d.rn = p.rn + 1),
         |dd AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 1),
         |packo AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packo p JOIN dd d ON d.rn = p.rn + 1),
         |be AS (SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens FROM packe GROUP BY bin_id),
         |bo AS (SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens FROM packo GROUP BY bin_id),
         |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM bo),
         |ke AS (
         |  SELECT 'even' AS domain, CAST(1 AS BIGINT) AS epoch, b.bin_id % 4 AS shard,
         |         b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (
         |           ORDER BY md5('mixp:even/1:' || CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT) AS kpos
         |  FROM be b),
         |ko1 AS (
         |  SELECT 'odd' AS domain, CAST(1 AS BIGINT) AS epoch, b.bin_id % 4 AS shard,
         |         b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (
         |           ORDER BY md5('mixp:odd/1:' || CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT) AS kpos
         |  FROM bo b),
         |ko2 AS (
         |  SELECT 'odd' AS domain, CAST(2 AS BIGINT) AS epoch, b.bin_id % 4 AS shard,
         |         b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (
         |           ORDER BY md5('mixp:odd/2:' || CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT)
         |           + (SELECT n FROM nb) AS kpos
         |  FROM bo b),
         |u AS (
         |  SELECT domain, epoch, shard, bin_id, n_tokens, kpos,
         |         kpos * CASE WHEN domain = 'even' THEN 1 ELSE 3 END AS vt
         |  FROM (SELECT * FROM ke UNION ALL SELECT * FROM ko1 UNION ALL SELECT * FROM ko2))
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, domain, kpos) AS BIGINT) AS ord,
         |       domain, epoch, shard, bin_id, n_tokens,
         |       CAST(SUM(n_tokens) OVER (ORDER BY vt, domain, kpos
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |FROM u ORDER BY ord""".stripMargin,

    "q_mixture_plan_reps" ->
      // mixturePlan at a nontrivial repeat factor (r18): even x2 epochs,
      // odd x25 — the in-frame epoch expansion's own shape re-derived
      // independently: each domain's bins cross-join an epoch range,
      // kpos = within-epoch md5 rank + (epoch-1)*nBins, WFQ interleave
      // on kpos * lcm/w (even: 1, odd: 3), ties on (domain, kpos)
      s"""WITH RECURSIVE $bpeIdsCtes,
         |de AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 0),
         |packe AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM de WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packe p JOIN de d ON d.rn = p.rn + 1),
         |dd AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 1),
         |packo AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packo p JOIN dd d ON d.rn = p.rn + 1),
         |be AS (SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens FROM packe GROUP BY bin_id),
         |bo AS (SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens FROM packo GROUP BY bin_id),
         |ke AS (
         |  SELECT 'even' AS domain, CAST(e.epoch AS BIGINT) AS epoch,
         |         b.bin_id % 4 AS shard, b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY e.epoch
         |           ORDER BY md5('mixr:even/' || CAST(e.epoch AS VARCHAR) || ':' ||
         |                        CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT)
         |           + (CAST(e.epoch AS BIGINT) - 1) * (SELECT COUNT(*) FROM be) AS kpos
         |  FROM be b CROSS JOIN
         |       (SELECT UNNEST(range(1, 3)) AS epoch) e),
         |ko AS (
         |  SELECT 'odd' AS domain, CAST(e.epoch AS BIGINT) AS epoch,
         |         b.bin_id % 4 AS shard, b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY e.epoch
         |           ORDER BY md5('mixr:odd/' || CAST(e.epoch AS VARCHAR) || ':' ||
         |                        CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT)
         |           + (CAST(e.epoch AS BIGINT) - 1) * (SELECT COUNT(*) FROM bo) AS kpos
         |  FROM bo b CROSS JOIN
         |       (SELECT UNNEST(range(1, 26)) AS epoch) e),
         |u AS (
         |  SELECT domain, epoch, shard, bin_id, n_tokens, kpos,
         |         kpos * CASE WHEN domain = 'even' THEN 1 ELSE 3 END AS vt
         |  FROM (SELECT * FROM ke UNION ALL SELECT * FROM ko))
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, domain, kpos) AS BIGINT) AS ord,
         |       domain, epoch, shard, bin_id, n_tokens,
         |       CAST(SUM(n_tokens) OVER (ORDER BY vt, domain, kpos
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |FROM u ORDER BY ord""".stripMargin,

    "q_token_budget_mixture" ->
      // LoaderSchedule.planForTokensMixture twin (r16 verdict #5): even
      // store at weight 3, odd at weight 1, budget T = 3*(totE+totO)//2.
      // The oracle re-derives the repeat factors from the documented
      // integer formulas — share_d = ceil(T*w_d/W) = (T*w_d + W-1)//W,
      // epochs_d = ceil(share_d/total_d) — expands each domain's epochs
      // (kpos continues across them: rank within epoch + (e-1)*nBins),
      // interleaves on kpos * lcm/w (even: 1, odd: 3) with ties on
      // (domain, kpos), and keeps the bins whose segment STARTS before T
      // (cum - n_tokens < T) — the q_token_budget_plan boundary over the
      // q_mixture_plan machinery
      s"""WITH RECURSIVE $bpeIdsCtes,
         |de AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 0),
         |packe AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM de WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packe p JOIN de d ON d.rn = p.rn + 1),
         |dd AS MATERIALIZED (
         |  SELECT n_tokens AS tok,
         |         ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
         |  FROM docids WHERE doc_id % 2 = 1),
         |packo AS (
         |  SELECT rn, tok, CAST(0 AS BIGINT) AS bin_id, tok AS bin_run FROM dd WHERE rn = 1
         |  UNION ALL
         |  SELECT d.rn, d.tok,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN p.bin_id + 1 ELSE p.bin_id END,
         |         CASE WHEN p.bin_run + d.tok > 2048 THEN d.tok ELSE p.bin_run + d.tok END
         |  FROM packo p JOIN dd d ON d.rn = p.rn + 1),
         |be AS (SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens FROM packe GROUP BY bin_id),
         |bo AS (SELECT bin_id, CAST(SUM(tok) AS BIGINT) AS n_tokens FROM packo GROUP BY bin_id),
         |tote AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS v FROM be),
         |toto AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS v FROM bo),
         |tgt AS (SELECT 3 * ((SELECT v FROM tote) + (SELECT v FROM toto)) // 2 AS t),
         |eps AS (SELECT
         |  CAST((((SELECT t FROM tgt) * 3 + 3) // 4 + (SELECT v FROM tote) - 1)
         |         // (SELECT v FROM tote) AS BIGINT) AS ea,
         |  CAST((((SELECT t FROM tgt) * 1 + 3) // 4 + (SELECT v FROM toto) - 1)
         |         // (SELECT v FROM toto) AS BIGINT) AS eb),
         |ke AS (
         |  SELECT 'even' AS domain, CAST(e.epoch AS BIGINT) AS epoch,
         |         b.bin_id % 4 AS shard, b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY e.epoch
         |           ORDER BY md5('tbm:even/' || CAST(e.epoch AS VARCHAR) || ':' ||
         |                        CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT)
         |           + (CAST(e.epoch AS BIGINT) - 1) * (SELECT COUNT(*) FROM be) AS kpos
         |  FROM be b CROSS JOIN
         |       (SELECT UNNEST(range(1, (SELECT ea FROM eps) + 1)) AS epoch) e),
         |ko AS (
         |  SELECT 'odd' AS domain, CAST(e.epoch AS BIGINT) AS epoch,
         |         b.bin_id % 4 AS shard, b.bin_id, b.n_tokens,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY e.epoch
         |           ORDER BY md5('tbm:odd/' || CAST(e.epoch AS VARCHAR) || ':' ||
         |                        CAST(b.bin_id AS VARCHAR)), b.bin_id) AS BIGINT)
         |           + (CAST(e.epoch AS BIGINT) - 1) * (SELECT COUNT(*) FROM bo) AS kpos
         |  FROM bo b CROSS JOIN
         |       (SELECT UNNEST(range(1, (SELECT eb FROM eps) + 1)) AS epoch) e),
         |u AS (
         |  SELECT domain, epoch, shard, bin_id, n_tokens, kpos,
         |         kpos * CASE WHEN domain = 'even' THEN 1 ELSE 3 END AS vt
         |  FROM (SELECT * FROM ke UNION ALL SELECT * FROM ko))
         |SELECT ord, domain, epoch, shard, bin_id, n_tokens, cum_tokens FROM (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vt, domain, kpos) AS BIGINT) AS ord,
         |         domain, epoch, shard, bin_id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (ORDER BY vt, domain, kpos
         |                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM u)
         |WHERE cum_tokens - n_tokens < (SELECT t FROM tgt)
         |ORDER BY ord""".stripMargin,

    "q_stratified_sample" -> {
      // mirrors Sampling.hashBucket: first 6 md5 nibbles as int, mod 100
      val bucket = s"(${md5NibbleIntSql("CAST(doc_id AS VARCHAR)", 6)} % 100)"
      s"""SELECT doc_id, lang FROM documents
         |WHERE $bucket < (CASE WHEN lang = 'en' THEN 50.0 WHEN lang = 'de' THEN 30.0 ELSE 10.0 END)
         |ORDER BY doc_id""".stripMargin
    },

    "q_train_split" -> {
      val bucket = s"(${md5NibbleIntSql("CAST(doc_id AS VARCHAR)", 6)} % 100)"
      s"""SELECT (CASE WHEN $bucket < 80 THEN 'train'
         |             WHEN $bucket < 90 THEN 'val'
         |             ELSE 'test' END) AS split,
         |       COUNT(*) AS n
         |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
    },

    "q_fingerprint" ->
      // mirrors TextAnalysis.fingerprintPortable(k=8, keep=4): md5 char
      // 8-gram hashes over normalized text, lexicographic min-4, md5 of
      // the concatenation
      """WITH d AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, GREATEST(length(norm) - 7, 1) + 1),
        |                        i -> md5(substr(norm, CAST(i AS INT), 8))) AS hs
        |  FROM d)
        |SELECT doc_id, md5(array_to_string(list_sort(hs)[1:4], '')) AS fp
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_simhash_pairs" -> {
      // brute-force twin of the banded Spark query: 13 bands over 16
      // nibbles give complete pigeonhole recall at maxHamming = 12, so
      // banded == brute force and the pair sets must match exactly
      def digit(k: Int) = s"(strpos('0123456789abcdef', substr(h, $k, 1)) - 1)"
      val bitSums = (0 until 64).map { b =>
        val bit = s"((${digit(b / 4 + 1)} // ${1 << (b % 4)}) % 2)"
        s"SUM(CASE WHEN $bit = 1 THEN 1 ELSE -1 END) AS b$b"
      }.mkString(", ")
      val hexDigits = (0 until 16).map { nib =>
        val v = (0 until 4)
          .map(j => s"(CASE WHEN b${nib * 4 + j} > 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"substr('0123456789abcdef', ($v) + 1, 1)"
      }.mkString(" || ")
      def nibVal(side: String, k: Int) =
        s"(strpos('0123456789abcdef', substr($side.sig, $k, 1)) - 1)"
      val hamming = (1 to 16)
        .map(k => s"bit_count(xor(${nibVal("a", k)}, ${nibVal("b", k)}))")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, md5(tok) AS h
         |  FROM (SELECT doc_id, UNNEST($ftsToks) AS tok
         |        FROM documents WHERE doc_id < 250)),
         |sums AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id),
         |sig AS (SELECT doc_id, $hexDigits AS sig FROM sums)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST($hamming AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE ($hamming) <= 12
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_dedup_clusters" ->
      s"""$dedupClustersCte
         |SELECT id AS doc_id, MIN(r) AS cluster
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    // keep-the-representative composition of the same closure: a doc
    // survives iff it IS its cluster's min id
    "q_near_dedup" ->
      s"""$dedupClustersCte,
         |lab AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id)
         |SELECT id AS doc_id FROM lab WHERE id = cluster ORDER BY doc_id""".stripMargin,

    // quality-aware thinning of the same closure: each cluster keeps its
    // highest-word-count member (score desc, id asc — total order)
    "q_cluster_reps" ->
      s"""$dedupClustersCte,
         |lab AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
         |scored AS (
         |  SELECT d.doc_id, lab.cluster, CAST(len($words) AS BIGINT) AS wc
         |  FROM documents d JOIN lab ON d.doc_id = lab.id
         |  WHERE d.doc_id < 250),
         |rr AS (SELECT doc_id, cluster, wc,
         |              ROW_NUMBER() OVER (PARTITION BY cluster
         |                                 ORDER BY wc DESC, doc_id) AS rn
         |       FROM scored)
         |SELECT doc_id, cluster, wc FROM rr WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_snapshot_diff" ->
      // Curation.snapshotDiff twin: digest compare across two derived
      // snapshots (old = id < 400; new = id >= 100 with [150,200) edited)
      """WITH o AS (
        |  SELECT doc_id AS id,
        |         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS d_old
        |  FROM documents WHERE doc_id < 400),
        |n AS (
        |  SELECT doc_id AS id,
        |         md5(trim(regexp_replace(lower(
        |           CASE WHEN doc_id >= 150 AND doc_id < 200
        |                THEN text || ' edited v2' ELSE text END), '\s+', ' ', 'g'))) AS d_new
        |  FROM documents WHERE doc_id >= 100)
        |SELECT COALESCE(o.id, n.id) AS id,
        |       CASE WHEN n.d_new IS NULL THEN 'removed'
        |            WHEN o.d_old IS NULL THEN 'added'
        |            WHEN o.d_old <> n.d_new THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.id = n.id
        |WHERE (CASE WHEN n.d_new IS NULL THEN 'removed'
        |            WHEN o.d_old IS NULL THEN 'added'
        |            WHEN o.d_old <> n.d_new THEN 'changed'
        |            ELSE 'unchanged' END) <> 'unchanged'
        |ORDER BY id""".stripMargin,

    "q_range_join" ->
      """WITH bands(lo, hi, band) AS (VALUES
        |  (900.0, 925.0, 'b1_low'), (925.0, 950.0, 'b2_midlow'),
        |  (950.0, 975.0, 'b3_midhigh'), (975.0, 1000.0, 'b4_high'))
        |SELECT band, COUNT(*) AS n_parts,
        |       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q_pivot" ->
      """SELECT l_returnflag,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'F') AS cnt_f,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
        |  COUNT(*) FILTER (WHERE l_linestatus = 'O') AS cnt_o,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_cube" ->
      """SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
        |       COALESCE(l_linestatus, '(all)') AS linestatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q_lag_delta" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |       - LAG(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w AS DOUBLE) AS delta_prev,
        |  CAST(LEAD(CAST(o_totalprice AS DECIMAL(18,2)), 1) OVER w
        |       - CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS delta_next
        |FROM orders WHERE o_custkey < 300
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_kmv_distinct" -> {
      // mirrors Sketches.md5Hash32: first 8 md5 nibbles as a 32-bit int
      val hash32 = md5NibbleIntSql("CAST(l_partkey AS VARCHAR)", 8)
      s"""WITH h AS (SELECT DISTINCT $hash32 AS h
         |           FROM lineitem WHERE l_partkey IS NOT NULL),
         |k AS (SELECT h FROM h ORDER BY h LIMIT 64)
         |SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
         |       CAST(MAX(h) AS BIGINT) AS kth_hash,
         |       CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
         |            ELSE 63.0 * 4294967296.0 / MAX(h) END AS kmv_estimate
         |FROM k""".stripMargin
    },

    "q_skew_agg" ->
      """SELECT l_returnflag,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS value_sum,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_weighted_sample" -> {
      // mirrors Sketches.md5Hash32 (first 8 md5 nibbles as 32-bit int);
      // HUGEINT threshold mirrors the Spark side's decimal(38,0) exactness
      val hash32 = md5NibbleIntSql("CAST(doc_id AS VARCHAR)", 8)
      s"""WITH d AS (SELECT doc_id,
         |  CAST(FLOOR(CAST(len($words) AS DOUBLE) * 1.3) AS BIGINT) AS tok
         |  FROM documents)
         |SELECT doc_id, tok FROM d
         |WHERE CAST($hash32 AS HUGEINT) * 400 < CAST(tok AS HUGEINT) * 1 * 4294967296
         |ORDER BY doc_id""".stripMargin
    },

    "q_bigram_lift" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS w
        |  FROM documents),
        |uni AS (SELECT UNNEST(w) AS word FROM toks),
        |uc AS (SELECT word, COUNT(*) AS c FROM uni GROUP BY word),
        |tot AS (SELECT COUNT(*) AS n FROM uni),
        |bi AS (SELECT UNNEST(list_transform(range(1, CAST(len(w) AS BIGINT)),
        |                     i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS g
        |       FROM toks WHERE len(w) >= 2),
        |bc AS (SELECT g.w1 AS w1, g.w2 AS w2, COUNT(*) AS c_ab
        |       FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        |SELECT bc.w1, bc.w2, bc.c_ab,
        |       CAST(bc.c_ab * (SELECT n FROM tot) AS DOUBLE)
        |         / CAST(uc1.c * uc2.c AS DOUBLE) AS lift
        |FROM bc
        |JOIN uc uc1 ON bc.w1 = uc1.word
        |JOIN uc uc2 ON bc.w2 = uc2.word
        |ORDER BY lift DESC, bc.w1, bc.w2 LIMIT 20""".stripMargin,

    "q_kmv_by_group" -> {
      val hash32 = md5NibbleIntSql("CAST(l_partkey AS VARCHAR)", 8)
      s"""WITH h AS (SELECT DISTINCT l_returnflag, $hash32 AS h
         |           FROM lineitem WHERE l_partkey IS NOT NULL),
         |r AS (SELECT l_returnflag, h,
         |             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
         |      FROM h),
         |k AS (SELECT l_returnflag, MAX(h) AS kth_hash, COUNT(*) AS k_used
         |      FROM r WHERE rn <= 64 GROUP BY 1)
         |SELECT l_returnflag, CAST(k_used AS BIGINT) AS k_used, kth_hash,
         |       CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
         |            ELSE 63.0 * 4294967296.0 / kth_hash END AS kmv_estimate
         |FROM k ORDER BY l_returnflag""".stripMargin
    },

    "q_hll_distinct" -> {
      // mirrors Sketches.hllRegisters/hllEstimate at p=7: top 7 bits of
      // the 60-bit md5 hash pick the register, rank = 54 - bitlen of the
      // 53-bit remainder (55 when the remainder is 0); the estimate is
      // ONE IEEE division of the shared alpha-numerator literal by the
      // integer register sum
      val h60 = md5NibbleIntSql("CAST(l_partkey AS VARCHAR)", 15)
      val alpha = graft.operators.Sketches.hllAlphaNumerator(7)
      s"""WITH h AS (SELECT $h60 AS h FROM lineitem WHERE l_partkey IS NOT NULL),
         |regs AS (
         |  SELECT h >> 53 AS idx,
         |         MAX(CASE WHEN h % 9007199254740992 = 0 THEN 54
         |                  ELSE 54 - len(bin(h % 9007199254740992)) END) AS r
         |  FROM h GROUP BY 1),
         |agg AS (SELECT COUNT(*) AS touched,
         |               CAST(SUM(CAST(1 AS BIGINT) << CAST(54 - r AS INTEGER)) AS BIGINT)
         |                 AS sum_touched
         |        FROM regs)
         |SELECT CAST(128 - touched AS BIGINT) AS n_zero,
         |       CAST(sum_touched + (128 - touched) * (CAST(1 AS BIGINT) << 54) AS BIGINT)
         |         AS sum_scaled,
         |       $alpha / (sum_touched + (128 - touched) * (CAST(1 AS BIGINT) << 54))
         |         AS hll_estimate
         |FROM agg""".stripMargin
    },

    "q_hll_by" -> {
      val h60 = md5NibbleIntSql("CAST(l_partkey AS VARCHAR)", 15)
      val alpha = graft.operators.Sketches.hllAlphaNumerator(7)
      s"""WITH h AS (SELECT l_returnflag, $h60 AS h
         |           FROM lineitem WHERE l_partkey IS NOT NULL),
         |regs AS (
         |  SELECT l_returnflag, h >> 53 AS idx,
         |         MAX(CASE WHEN h % 9007199254740992 = 0 THEN 54
         |                  ELSE 54 - len(bin(h % 9007199254740992)) END) AS r
         |  FROM h GROUP BY 1, 2),
         |agg AS (SELECT l_returnflag, COUNT(*) AS touched,
         |               CAST(SUM(CAST(1 AS BIGINT) << CAST(54 - r AS INTEGER)) AS BIGINT)
         |                 AS sum_touched
         |        FROM regs GROUP BY 1)
         |SELECT l_returnflag,
         |       CAST(128 - touched AS BIGINT) AS n_zero,
         |       CAST(sum_touched + (128 - touched) * (CAST(1 AS BIGINT) << 54) AS BIGINT)
         |         AS sum_scaled,
         |       $alpha / (sum_touched + (128 - touched) * (CAST(1 AS BIGINT) << 54))
         |         AS hll_estimate
         |FROM agg ORDER BY l_returnflag""".stripMargin
    },

    "q_event_hll" -> {
      // EventStreams.windowedHllRegisters/windowedHllEstimate twin at
      // p=7 over weekly epoch-aligned tumbling windows (the q_window_drift
      // modulo convention) — same register math as q_hll_distinct,
      // grouped by window
      val h60 = md5NibbleIntSql("CAST(user_id AS VARCHAR)", 15)
      val alpha = graft.operators.Sketches.hllAlphaNumerator(7)
      s"""WITH h AS (
         |  SELECT epoch_us(ts) - (epoch_us(ts) % 604800000000) AS ws, $h60 AS h
         |  FROM events WHERE user_id IS NOT NULL),
         |regs AS (
         |  SELECT ws, h >> 53 AS idx,
         |         MAX(CASE WHEN h % 9007199254740992 = 0 THEN 54
         |                  ELSE 54 - len(bin(h % 9007199254740992)) END) AS r
         |  FROM h GROUP BY 1, 2),
         |agg AS (SELECT ws, COUNT(*) AS touched,
         |               CAST(SUM(CAST(1 AS BIGINT) << CAST(54 - r AS INTEGER)) AS BIGINT)
         |                 AS sum_touched
         |        FROM regs GROUP BY 1)
         |SELECT CAST(ws AS BIGINT) AS window_start_us,
         |       CAST(128 - touched AS BIGINT) AS n_zero,
         |       CAST(sum_touched + (128 - touched) * (CAST(1 AS BIGINT) << 54) AS BIGINT)
         |         AS sum_scaled,
         |       $alpha / (sum_touched + (128 - touched) * (CAST(1 AS BIGINT) << 54))
         |         AS hll_estimate
         |FROM agg ORDER BY window_start_us""".stripMargin
    },

    "q_hist_quantile" ->
      """WITH b AS (
        |  SELECT LEAST(CAST(FLOOR((l_extendedprice - 0.0) / 100.0) AS BIGINT), 999) AS bin,
        |         COUNT(*) AS c
        |  FROM lineitem
        |  WHERE l_extendedprice >= 0.0 AND l_extendedprice < 100000.0
        |  GROUP BY 1),
        |cum AS (
        |  SELECT bin, c,
        |         CAST(SUM(c) OVER (ORDER BY bin) AS BIGINT) AS cum,
        |         CAST(SUM(c) OVER () AS BIGINT) AS n
        |  FROM b),
        |q(q) AS (VALUES (0.5), (0.9), (0.99))
        |SELECT q, MAX(n) AS n, MIN(bin) AS bin,
        |       0.0 + (MIN(bin) + 0.5) * 100.0 AS estimate
        |FROM q JOIN cum ON CAST(cum AS DOUBLE) >= q * n
        |GROUP BY q ORDER BY q""".stripMargin,

    "q_pagerank" -> {
      // 3 unrolled PageRank rounds (DuckDB's recursive CTEs forbid the
      // grouped aggregate each round needs). Arithmetic mirrors
      // GraphOps.pageRank EXACTLY: BIGINT fixed-point (Scale = 1e6),
      // floor division (`//` here, `div` in Spark), dangling mass dropped.
      val rounds = (1 to 3).map { i =>
        s"""s$i AS (SELECT e.dst AS node, SUM(r.rank // d.outdeg) AS s
           |     FROM e JOIN deg d ON e.src = d.src
           |     JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |     CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
           |     FROM nodes n LEFT JOIN s$i s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s, c FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM e
         |          UNION SELECT DISTINCT dst AS node FROM e),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |$rounds
         |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin
    },

    "q_tfidf" ->
      // fixed-point TF-IDF twin of TextAnalysis.tfidfTopTerms: same
      // tokenizer as q_bigram_lift, integer floor-division score
      """WITH toks AS (
        |  SELECT doc_id,
        |         UNNEST(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                x -> len(x) > 0)) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_total FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word, tf.tf,
        |         CAST((tf.tf * (SELECT n_total FROM n) * 1000000) // df.df AS BIGINT) AS score_fp
        |  FROM tf JOIN df ON tf.word = df.word),
        |r AS (SELECT doc_id, word, tf, score_fp,
        |             ROW_NUMBER() OVER (PARTITION BY doc_id
        |                                ORDER BY score_fp DESC, word) AS rn
        |      FROM scored)
        |SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, score_fp, CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,

    "q_boilerplate" -> {
      // TextAnalysis.boilerplateCoverage twin: 3-grams digested to the
      // first 60 md5 bits (15 nibbles -> BIGINT), df >= 5 distinct docs,
      // fixed-point coverage. range(1, L-1) is exclusive-end = positions
      // 1..L-2 = L-(n-1) grams for n=3.
      val hash60 = md5NibbleIntSql("vs", 15)
      s"""WITH w AS (
        |  SELECT doc_id,
        |         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS w
        |  FROM documents),
        |g AS (SELECT doc_id,
        |             CASE WHEN len(w) >= 3
        |                  THEN list_transform(range(1, CAST(len(w) AS BIGINT) - 1),
        |                         i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
        |                  ELSE CAST([] AS VARCHAR[]) END AS grams
        |      FROM w),
        |pos AS (SELECT doc_id, $hash60 AS g
        |        FROM (SELECT doc_id, UNNEST(grams) AS vs FROM g)),
        |dfg AS (SELECT g, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, g FROM pos) GROUP BY g),
        |boiler AS (SELECT g FROM dfg WHERE df >= 5),
        |cov AS (SELECT doc_id, COUNT(*) AS boiler_grams FROM pos
        |        WHERE g IN (SELECT g FROM boiler) GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(len(grams) AS BIGINT) AS total_grams FROM g)
        |SELECT t.doc_id, t.total_grams,
        |       CAST(COALESCE(c.boiler_grams, 0) AS BIGINT) AS boiler_grams,
        |       CAST(CASE WHEN t.total_grams > 0
        |                 THEN (COALESCE(c.boiler_grams, 0) * 1000000) // t.total_grams
        |                 ELSE 0 END AS BIGINT) AS coverage_fp
        |FROM tot t LEFT JOIN cov c ON t.doc_id = c.doc_id
        |WHERE COALESCE(c.boiler_grams, 0) > 0
        |ORDER BY t.doc_id""".stripMargin
    },

    "q_kmv_overlap" -> {
      // Sketches.kmvOverlap twin: per-source k-min sketches over the
      // 60-bit-digested 3-grams (same gram builder as q_boilerplate),
      // then |k-min(A ∪ B) ∩ A ∩ B| / k per source pair.
      val hash60 = md5NibbleIntSql("vs", 15)
      val hash32 = md5NibbleIntSql("CAST(v AS VARCHAR)", 8)
      s"""WITH w AS (
         |  SELECT source,
         |         list_filter(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
         |                     x -> len(x) > 0) AS w
         |  FROM documents),
         |g AS (SELECT source,
         |             CASE WHEN len(w) >= 3
         |                  THEN list_transform(range(1, CAST(len(w) AS BIGINT) - 1),
         |                         i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])
         |                  ELSE CAST([] AS VARCHAR[]) END AS grams
         |      FROM w),
         |pos AS (SELECT source, $hash60 AS v
         |        FROM (SELECT source, UNNEST(grams) AS vs FROM g)),
         |h AS (SELECT DISTINCT source AS gg, $hash32 AS h FROM pos),
         |r AS (SELECT gg, h, ROW_NUMBER() OVER (PARTITION BY gg ORDER BY h) AS rn FROM h),
         |sk AS (SELECT gg, h FROM r WHERE rn <= 64),
         |gs AS (SELECT DISTINCT gg FROM sk),
         |p AS (SELECT a.gg AS ga, b.gg AS gb FROM gs a JOIN gs b ON a.gg < b.gg),
         |uh AS (SELECT p.ga, p.gb, s.h FROM p JOIN sk s ON s.gg = p.ga OR s.gg = p.gb
         |       GROUP BY 1, 2, 3),
         |ur AS (SELECT ga, gb, h,
         |              ROW_NUMBER() OVER (PARTITION BY ga, gb ORDER BY h) AS rn FROM uh),
         |uk AS (SELECT ga, gb, h FROM ur WHERE rn <= 64),
         |cnt AS (SELECT uk.ga, uk.gb, COUNT(*) AS k_used,
         |               COUNT(*) FILTER (WHERE sa.h IS NOT NULL AND sb.h IS NOT NULL) AS inter_cnt
         |        FROM uk
         |        LEFT JOIN sk sa ON sa.gg = uk.ga AND sa.h = uk.h
         |        LEFT JOIN sk sb ON sb.gg = uk.gb AND sb.h = uk.h
         |        GROUP BY 1, 2)
         |SELECT ga AS g_a, gb AS g_b, CAST(k_used AS BIGINT) AS k_used,
         |       CAST(inter_cnt AS BIGINT) AS inter_cnt,
         |       CAST((inter_cnt * 1000000) // k_used AS BIGINT) AS jaccard_fp
         |FROM cnt ORDER BY g_a, g_b""".stripMargin
    },

    "q_quality_percentile" ->
      // CorpusHygiene.percentileGate twin: per-language percent_rank over
      // (word count, doc_id) — integer ranks, so the doubles agree exactly
      s"""WITH d AS (SELECT doc_id, lang, CAST(len($words) AS BIGINT) AS wc FROM documents),
         |r AS (SELECT doc_id, lang, wc,
         |             PERCENT_RANK() OVER (PARTITION BY lang ORDER BY wc, doc_id) AS pct
         |      FROM d)
         |SELECT doc_id, lang, wc, pct FROM r WHERE pct >= 0.9
         |ORDER BY lang, doc_id""".stripMargin,

    "q_mixture_balance" -> {
      // Sampling.balanceStrata twin: 20 smallest (hash32(id), id) per source
      val hash32 = md5NibbleIntSql("CAST(doc_id AS VARCHAR)", 8)
      s"""WITH r AS (
         |  SELECT doc_id, source,
         |         ROW_NUMBER() OVER (PARTITION BY source
         |                            ORDER BY $hash32, doc_id) AS rn
         |  FROM documents)
         |SELECT doc_id, source FROM r WHERE rn <= 20
         |ORDER BY source, doc_id""".stripMargin
    },

    "q_ppr_seeded" -> {
      // personalized twin of q_pagerank: r0 and the per-round base are
      // seed-gated (nation-1 customers); otherwise the identical
      // fixed-point rounds
      val rounds = (1 to 3).map { i =>
        s"""s$i AS (SELECT e.dst AS node, SUM(r.rank // d.outdeg) AS s
           |     FROM e JOIN deg d ON e.src = d.src
           |     JOIN r${i - 1} r ON e.src = r.node GROUP BY e.dst),
           |r$i AS (SELECT n.node,
           |     CAST(CASE WHEN n.node IN (SELECT node FROM seeds) THEN 150000 ELSE 0 END
           |          + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS rank
           |     FROM nodes n LEFT JOIN s$i s ON n.node = s.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM pairs
         |      UNION ALL SELECT s, c FROM pairs),
         |nodes AS (SELECT DISTINCT src AS node FROM e
         |          UNION SELECT DISTINCT dst AS node FROM e),
         |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
         |seeds AS (SELECT DISTINCT 'c' || c_custkey AS node FROM customer
         |          WHERE c_nationkey = 1),
         |r0 AS (SELECT node,
         |       CAST(CASE WHEN node IN (SELECT node FROM seeds)
         |                 THEN 1000000 ELSE 0 END AS BIGINT) AS rank FROM nodes),
         |$rounds
         |SELECT node, rank FROM r3 WHERE rank > 0
         |ORDER BY rank DESC, node LIMIT 20""".stripMargin
    },

    "q_overlap_join" ->
      """WITH o AS (
        |  SELECT o_orderkey AS okey,
        |         datediff('day', DATE '1970-01-01', o_orderdate) AS lo,
        |         datediff('day', DATE '1970-01-01', o_orderdate) + 30 AS hi
        |  FROM orders WHERE o_custkey < 50)
        |SELECT a.okey AS okey_a, b.okey AS okey_b, a.lo AS lo_a, b.lo AS lo_b
        |FROM o a JOIN o b
        |  ON GREATEST(a.lo, b.lo) < LEAST(a.hi, b.hi) AND a.okey < b.okey
        |ORDER BY okey_a, okey_b""".stripMargin,

    "q_train_order" ->
      """WITH ranked AS (
        |  SELECT doc_id,
        |         ROW_NUMBER() OVER (ORDER BY md5('r5:' || CAST(doc_id AS VARCHAR)),
        |                            CAST(doc_id AS VARCHAR)) AS pos
        |  FROM documents)
        |SELECT doc_id, pos, (pos - 1) % 4 AS shard
        |FROM ranked ORDER BY pos""".stripMargin,

    "q_zorder" -> {
      // 16-bit -> 32-bit Morton bit-spread, unrolled magic-mask ladder;
      // BIGINT from the first step (the final <<1 overflows INT32)
      def zspread(e: String): String = {
        val x0 = s"((CAST(($e) AS BIGINT)) & 65535)"
        val x1 = s"((($x0 | ($x0 << 8)) & 16711935))"
        val x2 = s"((($x1 | ($x1 << 4)) & 252645135))"
        val x3 = s"((($x2 | ($x2 << 2)) & 858993459))"
        s"((($x3 | ($x3 << 1)) & 1431655765))"
      }
      s"""SELECT o_orderkey,
         |  (${zspread("o_custkey")} | (${zspread("o_orderkey")} << 1)) AS zval
         |FROM orders ORDER BY zval, o_orderkey LIMIT 50""".stripMargin
    },

    "q_unigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         UNNEST(list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                            x -> len(x) > 0)) AS word
        |  FROM documents),
        |counts AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM counts),
        |per_doc AS (
        |  SELECT doc_id, COUNT(*) AS n_toks,
        |         CAST(SUM(len(bin(n_total)) - len(bin(cnt))) AS BIGINT) AS surprisal_bits
        |  FROM toks JOIN counts USING (word), tot
        |  GROUP BY doc_id)
        |SELECT doc_id, n_toks, surprisal_bits,
        |       (surprisal_bits * 10000) // n_toks AS mean_surprisal_fp
        |FROM per_doc ORDER BY doc_id""".stripMargin,

    "q_bigram_lm" ->
      s"""WITH $bigramLmCtes
        |SELECT doc_id, n_toks, n_backoff, n_oov, lm_bits, mean_lm_fp
        |FROM lm_per_doc ORDER BY doc_id""".stripMargin,

    "q_lm_buckets" ->
      // TextAnalysis.lmBuckets twin: thirds of the (mean_lm_fp, doc_id)
      // total order, bucket = ((rank-1)*3) // n — the CCNet
      // head/middle/tail split over the bigram-LM score.
      s"""WITH $bigramLmCtes,
        |r AS (SELECT doc_id, mean_lm_fp,
        |             ROW_NUMBER() OVER (ORDER BY mean_lm_fp, doc_id) AS rk,
        |             COUNT(*) OVER () AS n
        |      FROM lm_per_doc)
        |SELECT doc_id, mean_lm_fp,
        |       CAST(((rk - 1) * 3) // n AS BIGINT) AS bucket,
        |       CASE ((rk - 1) * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |            ELSE 'tail' END AS tier
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_incremental_lsh" ->
      """WITH d AS (SELECT doc_id AS id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |           FROM documents WHERE doc_id < 300),
        |w AS (SELECT id, string_split(norm, ' ') AS wrds FROM d),
        |g0 AS (SELECT id, list_distinct(list_transform(range(1, CAST(GREATEST(len(wrds) - 2, 0) AS BIGINT) + 1),
        |         i -> wrds[i] || ' ' || wrds[i+1] || ' ' || wrds[i+2])) AS sh FROM w),
        |grams AS (SELECT id, UNNEST(sh) AS gram FROM g0 WHERE len(sh) > 0),
        |mh AS (SELECT id, seed, MIN(md5(CAST(seed AS VARCHAR) || ':' || gram)) AS h
        |       FROM grams, UNNEST([0,1,2,3,4,5,6,7]) AS t(seed) GROUP BY id, seed),
        |sig AS (SELECT id,
        |          MAX(CASE WHEN seed=0 THEN h END) AS h0, MAX(CASE WHEN seed=1 THEN h END) AS h1,
        |          MAX(CASE WHEN seed=2 THEN h END) AS h2, MAX(CASE WHEN seed=3 THEN h END) AS h3,
        |          MAX(CASE WHEN seed=4 THEN h END) AS h4, MAX(CASE WHEN seed=5 THEN h END) AS h5,
        |          MAX(CASE WHEN seed=6 THEN h END) AS h6, MAX(CASE WHEN seed=7 THEN h END) AS h7
        |        FROM mh GROUP BY id),
        |bands AS (SELECT id, 0 AS b, h0 || '|' || h1 || '|' || h2 || '|' || h3 AS bk FROM sig
        |          UNION ALL
        |          SELECT id, 1 AS b, h4 || '|' || h5 || '|' || h6 || '|' || h7 AS bk FROM sig),
        |cand AS (SELECT DISTINCT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b
        |         FROM bands a JOIN bands b
        |           ON a.b = b.b AND a.bk = b.bk AND a.id <> b.id AND b.id >= 150),
        |est AS (SELECT c.id_a, c.id_b,
        |          ((CASE WHEN sa.h0=sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1=sb.h1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN sa.h2=sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3=sb.h3 THEN 1 ELSE 0 END)
        |         + (CASE WHEN sa.h4=sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5=sb.h5 THEN 1 ELSE 0 END)
        |         + (CASE WHEN sa.h6=sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7=sb.h7 THEN 1 ELSE 0 END)) AS matches
        |        FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b)
        |SELECT id_a, id_b, CAST(matches AS DOUBLE) / 8 AS est_jaccard
        |FROM est WHERE CAST(matches AS DOUBLE) / 8 >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q_sq8_ann" ->
      // SQ8 codes: floor((x * 127.0) / maxabs) — floor of an IEEE double
      // division is bit-stable across engines; score_q is pure-integer,
      // score_dq mirrors Spark's ((score_q * qmx) * mx) / 127^2 association
      """WITH v AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS ve,
        |         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS mx
        |  FROM embeddings),
        |qc AS (
        |  SELECT id, mx,
        |         CASE WHEN mx = 0 THEN list_transform(ve, x -> CAST(0 AS BIGINT))
        |              ELSE list_transform(ve, x -> GREATEST(CAST(floor((x * 127.0) / mx) AS BIGINT), -127)) END AS qvec
        |  FROM v),
        |q0 AS (SELECT qvec AS qv, mx AS qmx FROM qc WHERE id = 0),
        |sc AS (
        |  SELECT qc.id AS vec_id, qc.mx AS mx, q0.qmx AS qmx,
        |         CAST(list_sum(list_transform(range(1, len(qc.qvec) + 1),
        |                                      i -> qc.qvec[i] * q0.qv[i])) AS BIGINT) AS score_q
        |  FROM qc, q0)
        |SELECT vec_id, score_q,
        |       ROUND(((score_q * qmx) * mx) / 16129.0, 6) AS score_dq
        |FROM sc ORDER BY score_dq DESC, vec_id LIMIT 20""".stripMargin,

    "q_mrl" ->
      """SELECT vec_id,
        |       ROUND(list_cosine_similarity(CAST(embedding[1:16] AS DOUBLE[]),
        |             (SELECT CAST(embedding[1:16] AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS score
        |FROM embeddings ORDER BY score DESC, vec_id LIMIT 20""".stripMargin,

    "q_epochs" -> {
      // mirrors Sampling.epochRepeat: per-mille factors, whole copies +
      // exact-integer fractional Bernoulli on md5Hash32(id)
      val hash32 = md5NibbleIntSql("CAST(doc_id AS VARCHAR)", 8)
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CASE source WHEN 'src0' THEN 2400 WHEN 'src1' THEN 500
         |                     WHEN 'src2' THEN 0 ELSE 1000 END AS f,
         |         $hash32 AS h32
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source,
         |         (f // 1000) + (CASE WHEN h32 * 1000 < (f % 1000) * 4294967296 THEN 1 ELSE 0 END) AS copies
         |  FROM d)
         |SELECT doc_id, source, CAST(UNNEST(range(0, copies)) AS BIGINT) AS epoch
         |FROM c ORDER BY doc_id, epoch""".stripMargin
    },

    "q_triangles" -> {
      // id-ordered 3-way join twin of the degree-ordered Spark operator:
      // both enumerate the same set {a<b<c : (a,b),(b,c),(a,c) edges}.
      // The per-part degree cap (16 customers by md5-hash32 rank, ties on
      // c) mirrors the Spark skew guard exactly.
      val h32c = md5NibbleIntSql("CAST(c AS VARCHAR)", 8)
      s"""WITH cp AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
         |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |capped AS (SELECT c, p FROM (
         |           SELECT c, p, ROW_NUMBER() OVER (PARTITION BY p ORDER BY $h32c, c) AS r FROM cp)
         |           WHERE r <= 16),
         |e0 AS (SELECT a.c AS u, b.c AS v FROM capped a JOIN capped b ON a.p = b.p AND a.c < b.c
         |       GROUP BY 1, 2 HAVING COUNT(*) >= 3)
         |SELECT e1.u AS n1, e1.v AS n2, e2.v AS n3
         |FROM e0 e1 JOIN e0 e2 ON e1.v = e2.u JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v
         |ORDER BY n1, n2, n3 LIMIT 1000""".stripMargin
    },

    "q_gap_fill" ->
      """WITH b AS (SELECT epoch_us(ts) - (epoch_us(ts) % 3600000000) AS bin_start_us FROM events),
        |c AS (SELECT bin_start_us, COUNT(*) AS n FROM b GROUP BY 1),
        |bounds AS (SELECT MIN(bin_start_us) AS lo, MAX(bin_start_us) AS hi FROM c),
        |spine AS (SELECT UNNEST(range(lo, hi + 1, 3600000000)) AS bin_start_us FROM bounds)
        |SELECT s.bin_start_us, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |FROM spine s LEFT JOIN c USING (bin_start_us)
        |ORDER BY bin_start_us""".stripMargin,

    "q_transitions" ->
      """WITH seq AS (
        |  SELECT event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events)
        |SELECT prev AS from_type, event_type AS to_type, COUNT(*) AS n
        |FROM seq WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    "q_retrieval_eval" ->
      // RetrievalEval.summary twin: MRL-16 prefix system vs full-dim
      // nearest-neighbor truth; ranking by (round(cos,6) DESC, id) on
      // both sides (the q_mrl idiom), metrics integer-exact with
      // lcm(1..10)=2520-scaled reciprocal ranks and three final divisions
      // written in the same association as the Spark plan
      """WITH q AS (
        |  SELECT vec_id AS query_id,
        |         CAST(embedding[1:16] AS DOUBLE[]) AS qpre,
        |         CAST(embedding AS DOUBLE[]) AS qfull
        |  FROM embeddings WHERE vec_id < 20),
        |ranked AS (
        |  SELECT q.query_id, b.vec_id AS doc_id,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY q.query_id
        |           ORDER BY ROUND(list_cosine_similarity(CAST(b.embedding[1:16] AS DOUBLE[]), q.qpre), 6) DESC,
        |                    b.vec_id) AS rnk
        |  FROM q JOIN embeddings b ON b.vec_id <> q.query_id),
        |sys AS (SELECT query_id, doc_id, rnk FROM ranked WHERE rnk <= 10),
        |truth AS (
        |  SELECT q.query_id,
        |         (LIST(b.vec_id ORDER BY
        |            ROUND(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]), q.qfull), 6) DESC,
        |            b.vec_id))[1] AS rel_id
        |  FROM q JOIN embeddings b ON b.vec_id <> q.query_id
        |  GROUP BY q.query_id),
        |pq AS (
        |  SELECT t.query_id,
        |         COUNT(t.rel_id) AS n_rel,
        |         COUNT(s.rnk) AS n_found,
        |         MIN(s.rnk) AS first_rank
        |  FROM truth t LEFT JOIN sys s
        |    ON s.query_id = t.query_id AND s.doc_id = t.rel_id
        |  GROUP BY t.query_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(SUM(n_rel) AS BIGINT) AS n_rel,
        |       CAST(SUM(n_found) AS BIGINT) AS n_found,
        |       CAST(SUM(n_found) AS DOUBLE) / CAST(SUM(n_rel) AS BIGINT) AS recall_at_k,
        |       CAST(SUM(CASE WHEN n_found > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
        |       CAST(SUM(CASE WHEN n_found > 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS success_at_k,
        |       CAST(SUM(COALESCE(2520 // first_rank, 0)) AS BIGINT) AS mrr_num,
        |       CAST(SUM(COALESCE(2520 // first_rank, 0)) AS BIGINT) / (2520.0 * CAST(COUNT(*) AS BIGINT)) AS mrr_at_k
        |FROM pq""".stripMargin,

    "q_bm25_eval" ->
      // FtsIndex.searchMany + RetrievalEval.summary twin: known-item
      // search (query = first 6 tokens of doc i, relevant = doc i).
      // BM25 identical to the q_bm25 CTEs; per-(query,doc) term scores
      // sum as DECIMAL(18,9) (order-free exactness, mirroring the Spark
      // plan), ranking by (round(score,6) DESC, doc_id); metrics as in
      // q_retrieval_eval
      s"""WITH toks AS (SELECT doc_id, $ftsToks AS tokens FROM documents),
         |dl AS (SELECT doc_id, len(tokens) AS doc_len, tokens FROM toks),
         |tf AS (SELECT doc_id, doc_len, term, COUNT(*) AS tf
         |       FROM (SELECT doc_id, doc_len, UNNEST(tokens) AS term FROM dl)
         |       GROUP BY doc_id, doc_len, term),
         |stats AS (SELECT COUNT(*) AS n, AVG(doc_len) AS avgdl FROM dl),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |qt AS (SELECT DISTINCT doc_id AS query_id, UNNEST(tokens[1:6]) AS term
         |       FROM dl WHERE doc_id < 30),
         |cand AS (
         |  SELECT qt.query_id, tf.doc_id,
         |         ROUND(CAST(SUM(CAST(
         |           ln(1.0 + ((CAST((SELECT n FROM stats) AS DOUBLE) - dfreq.df) + 0.5) / (dfreq.df + 0.5))
         |           * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * ((1.0 - 0.75) + (0.75 * tf.doc_len) / (SELECT avgdl FROM stats))))
         |         AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
         |  FROM tf JOIN dfreq USING (term) JOIN qt USING (term)
         |  GROUP BY qt.query_id, tf.doc_id),
         |ranked AS (
         |  SELECT query_id, doc_id,
         |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
         |  FROM cand),
         |sys AS (SELECT query_id, doc_id, rnk FROM ranked WHERE rnk <= 10),
         |q AS (SELECT doc_id AS query_id, doc_id AS rel_id FROM dl WHERE doc_id < 30),
         |pq AS (
         |  SELECT t.query_id,
         |         COUNT(t.rel_id) AS n_rel,
         |         COUNT(s.rnk) AS n_found,
         |         MIN(s.rnk) AS first_rank
         |  FROM q t LEFT JOIN sys s
         |    ON s.query_id = t.query_id AND s.doc_id = t.rel_id
         |  GROUP BY t.query_id)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
         |       CAST(SUM(n_rel) AS BIGINT) AS n_rel,
         |       CAST(SUM(n_found) AS BIGINT) AS n_found,
         |       CAST(SUM(n_found) AS DOUBLE) / CAST(SUM(n_rel) AS BIGINT) AS recall_at_k,
         |       CAST(SUM(CASE WHEN n_found > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits_at_k,
         |       CAST(SUM(CASE WHEN n_found > 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS success_at_k,
         |       CAST(SUM(COALESCE(2520 // first_rank, 0)) AS BIGINT) AS mrr_num,
         |       CAST(SUM(COALESCE(2520 // first_rank, 0)) AS BIGINT) / (2520.0 * CAST(COUNT(*) AS BIGINT)) AS mrr_at_k
         |FROM pq""".stripMargin,

    "q_bpe_pairs" ->
      // TextAnalysis.bpePairStats twin: word histogram over the shared
      // tokenization, then adjacent 2-char substrings of each distinct
      // word weighted by frequency — word-internal pairs only
      s"""WITH w AS (
         |  SELECT word, COUNT(*) AS freq
         |  FROM (SELECT UNNEST($ftsToks) AS word FROM documents)
         |  GROUP BY word),
         |pairs AS (
         |  SELECT w.freq, substring(w.word, CAST(i AS INTEGER), 2) AS pair
         |  FROM w, UNNEST(range(1, len(w.word))) AS t(i)
         |  WHERE len(w.word) >= 2)
         |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
         |FROM pairs GROUP BY pair
         |ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_bpe_merges" -> {
      val rounds = (1 to 4).map(r => bpeRound(s"w${r - 1}", r)).mkString(",\n")
      val sel = (1 to 4)
        .map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, b$r.pa AS pair_a, b$r.pb AS pair_b, b$r.n, ns$r.n_symbols FROM b$r, ns$r")
        .mkString("\nUNION ALL\n")
      s"""WITH $bpeW0,
         |$rounds
         |$sel
         |ORDER BY round""".stripMargin
    },

    // maintained-histogram lifecycle: a faithful write→append→replay→load
    // makes training identical to the full corpus, so the oracle is the
    // q_bpe_merges rounds trimmed to the merge list the artifact carries
    "q_bpe_hist" -> {
      val rounds = (1 to 4).map(r => bpeRound(s"w${r - 1}", r)).mkString(",\n")
      val sel = (1 to 4)
        .map(r => s"SELECT CAST($r AS BIGINT) AS round, b$r.pa AS pair_a, b$r.pb AS pair_b FROM b$r")
        .mkString("\nUNION ALL\n")
      s"""WITH $bpeW0,
         |$rounds
         |$sel
         |ORDER BY round""".stripMargin
    },

    "q_bpe_encode" -> {
      // TextAnalysis.bpeTokenCounts twin: the same 3 unrolled training
      // rounds, then ENCODE — every doc's words joined to the final
      // segmented vocabulary, per-doc word/char/token sums, top 20 by
      // token count
      val rounds = (1 to 3).map(r => bpeRound(s"w${r - 1}", r)).mkString(",\n")
      s"""WITH $bpeW0,
         |$rounds,
         |segv AS (
         |  SELECT word, CAST(len(word) AS BIGINT) AS n_chars_w,
         |         CAST(len(list_filter(string_split(seg, '|'), x -> len(x) > 0)) AS BIGINT) AS n_tokens_w
         |  FROM w3),
         |tok AS (SELECT doc_id, UNNEST($ftsToks) AS word FROM documents)
         |SELECT t.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(s.n_chars_w) AS BIGINT) AS n_chars,
         |       CAST(SUM(s.n_tokens_w) AS BIGINT) AS n_tokens
         |FROM tok t JOIN segv s ON t.word = s.word
         |GROUP BY t.doc_id
         |ORDER BY n_tokens DESC, t.doc_id LIMIT 20""".stripMargin
    },

    "q_bpe_encode_oov" -> {
      // TextAnalysis.bpeEncode twin: 4 training rounds unrolled on the
      // EVEN doc_ids only, then the odd half's DISTINCT words replay
      // merges b1..b4 IN TRAINING ORDER via the same list_reduce greedy
      // fold (provably equal to the engine's lowest-rank replay: a merge
      // only creates pairs over its new symbol, whose trained ranks are
      // later). Per-doc sums over the odd half, top 20 by token count.
      val trainW0 =
        s"""w0 AS (
           |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
           |         '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS seg
           |  FROM (SELECT UNNEST($ftsToks) AS word FROM documents WHERE doc_id % 2 = 0)
           |  GROUP BY word)""".stripMargin
      val rounds = (1 to 4).map(r => bpeRound(s"w${r - 1}", r)).mkString(",\n")
      val applyRounds = (1 to 4).map { r =>
        s"""a$r AS (
           |  SELECT word,
           |         list_reduce(list_prepend('|', list_filter(string_split(seg, '|'), x -> len(x) > 0)),
           |           (acc, x) -> CASE WHEN x = b.pb AND ends_with(acc, '|' || b.pa || '|')
           |                            THEN substr(acc, 1, len(acc) - len(b.pa) - 1) || b.pa || b.pb || '|'
           |                            ELSE acc || x || '|' END) AS seg
           |  FROM a${r - 1} CROSS JOIN b$r b)""".stripMargin
      }.mkString(",\n")
      s"""WITH $trainW0,
         |$rounds,
         |a0 AS (
         |  SELECT word, '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS seg
         |  FROM (SELECT DISTINCT UNNEST($ftsToks) AS word
         |        FROM documents WHERE doc_id % 2 = 1)),
         |$applyRounds,
         |segv AS (
         |  SELECT word, CAST(len(word) AS BIGINT) AS n_chars_w,
         |         CAST(len(list_filter(string_split(seg, '|'), x -> len(x) > 0)) AS BIGINT) AS n_tokens_w
         |  FROM a4),
         |tok AS (SELECT doc_id, UNNEST($ftsToks) AS word FROM documents WHERE doc_id % 2 = 1)
         |SELECT t.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(s.n_chars_w) AS BIGINT) AS n_chars,
         |       CAST(SUM(s.n_tokens_w) AS BIGINT) AS n_tokens
         |FROM tok t JOIN segv s ON t.word = s.word
         |GROUP BY t.doc_id
         |ORDER BY n_tokens DESC, t.doc_id LIMIT 20""".stripMargin
    },

    "q_wordpiece_infer" -> {
      // TextAnalysis.wordPieceEncode twin: 4 likelihood training rounds
      // on the EVEN doc_ids; vocabulary = training alphabet + merge
      // products b1..b4; the odd half's DISTINCT words walk a recursive
      // CTE that consumes the LONGEST matching vocabulary symbol at each
      // position (the per-(word, pos) MAX precomputed in `best`); a word
      // whose walk never reaches len+1 is one whole-word [UNK]
      val trainW0 =
        s"""w0 AS (
           |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
           |         '|' || regexp_replace(word, '(.)', '\\1|', 'g') AS seg
           |  FROM (SELECT UNNEST($ftsToks) AS word FROM documents WHERE doc_id % 2 = 0)
           |  GROUP BY word)""".stripMargin
      val rounds = (1 to 4).map(r => bpeRound(s"w${r - 1}", r, likelihood = true)).mkString(",\n")
      s"""WITH RECURSIVE $trainW0,
         |$rounds,
         |vocabt AS (
         |  SELECT DISTINCT sym FROM (
         |    SELECT substr(word, CAST(i AS INTEGER), 1) AS sym
         |    FROM w0, UNNEST(range(1, len(word) + 1)) t(i)
         |    UNION ALL SELECT pa || pb FROM b1
         |    UNION ALL SELECT pa || pb FROM b2
         |    UNION ALL SELECT pa || pb FROM b3
         |    UNION ALL SELECT pa || pb FROM b4)),
         |aw AS (SELECT DISTINCT UNNEST($ftsToks) AS word
         |       FROM documents WHERE doc_id % 2 = 1),
         |best AS (
         |  SELECT p.word, p.pos, MAX(len(v.sym)) AS mlen
         |  FROM (SELECT word, i AS pos FROM aw, UNNEST(range(1, len(word) + 1)) t(i)) p
         |  JOIN vocabt v ON substr(p.word, CAST(p.pos AS INTEGER), CAST(len(v.sym) AS INTEGER)) = v.sym
         |  GROUP BY 1, 2),
         |walk(word, pos, toks) AS (
         |  SELECT word, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM aw
         |  UNION ALL
         |  SELECT w.word, w.pos + b.mlen, w.toks + 1
         |  FROM walk w JOIN best b ON w.word = b.word AND w.pos = b.pos
         |  WHERE w.pos <= len(w.word)),
         |done AS (
         |  SELECT word, MAX(CASE WHEN pos = len(word) + 1 THEN toks END) AS toks
         |  FROM walk GROUP BY word),
         |segv AS (
         |  SELECT word, COALESCE(toks, 1) AS n_tokens_w,
         |         CASE WHEN toks IS NULL THEN 1 ELSE 0 END AS unk_w
         |  FROM done),
         |tok AS (SELECT doc_id, UNNEST($ftsToks) AS word FROM documents WHERE doc_id % 2 = 1)
         |SELECT t.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(s.n_tokens_w) AS BIGINT) AS n_tokens,
         |       CAST(SUM(s.unk_w) AS BIGINT) AS n_unk
         |FROM tok t JOIN segv s ON t.word = s.word
         |GROUP BY t.doc_id
         |ORDER BY n_tokens DESC, t.doc_id LIMIT 20""".stripMargin
    },

    "q_unigram_tok" -> {
      // TextAnalysis.unigramTokenCounts twin (emRounds = 0): weighted
      // overlapping substring counts (len 1..4), vocabulary = alphabet +
      // top-200 (cnt >= 2, ties by symbol), whole-bit costs
      // bits(N) - bits(cnt), then the Viterbi DP UNROLLED 16 positions —
      // per position j, min over token lengths t of b_{j-t} + packed
      // cost (cost*64 + 1: the lexicographic (cost, ntoks) minimum as
      // one integer). Words longer than 16 chars (none in this corpus)
      // fall back to one bits(N)-cost token via the LEFT JOIN COALESCE.
      val totBits = "len(bin((SELECT n FROM tot)))"
      val dp = (1 to 16).map { j =>
        val branches = (1 to math.min(4, j)).map { t =>
          s"""    SELECT b.word, b.c + v.pc AS cand
             |    FROM b${j - t} b JOIN vocabc v
             |      ON substr(b.word, ${j - t + 1}, $t) = v.sym
             |    WHERE len(b.word) >= $j""".stripMargin
        }.mkString("\n    UNION ALL\n")
        s"""b$j AS MATERIALIZED (
           |  SELECT word, MIN(cand) AS c FROM (
           |$branches) GROUP BY word)""".stripMargin
      }.mkString(",\n")
      val doneu = (1 to 16)
        .map(j => s"SELECT word, c FROM b$j WHERE len(word) = $j")
        .mkString("\nUNION ALL\n")
      s"""WITH w0 AS MATERIALIZED (
         |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT UNNEST($ftsToks) AS word FROM documents)
         |  GROUP BY word),
         |subs AS MATERIALIZED (
         |  SELECT substr(word, CAST(i AS INTEGER), CAST(t AS INTEGER)) AS sym,
         |         CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM w0, range(1, 5) tt(t), UNNEST(range(1, len(word) - t + 2)) u(i)
         |  WHERE len(word) >= t
         |  GROUP BY 1),
         |vocab AS MATERIALIZED (
         |  SELECT sym, cnt FROM subs WHERE len(sym) = 1
         |  UNION ALL
         |  SELECT sym, cnt FROM (
         |    SELECT sym, cnt FROM subs WHERE len(sym) >= 2 AND cnt >= 2
         |    ORDER BY cnt DESC, sym LIMIT 200)),
         |tot AS MATERIALIZED (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM vocab),
         |vocabc AS MATERIALIZED (
         |  SELECT sym, ($totBits - len(bin(cnt))) * 64 + 1 AS pc FROM vocab),
         |aw AS MATERIALIZED (SELECT DISTINCT UNNEST($ftsToks) AS word FROM documents),
         |b0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS c FROM aw),
         |$dp,
         |doneu AS MATERIALIZED (
         |$doneu),
         |segv AS MATERIALIZED (
         |  SELECT a.word,
         |         CAST(COALESCE(d.c, $totBits * 64 + 1) % 64 AS BIGINT) AS n_tokens_w,
         |         CAST(COALESCE(d.c, $totBits * 64 + 1) // 64 AS BIGINT) AS cost_w
         |  FROM aw a LEFT JOIN doneu d USING (word)),
         |tok AS (SELECT doc_id, UNNEST($ftsToks) AS word FROM documents)
         |SELECT t.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(s.n_tokens_w) AS BIGINT) AS n_tokens,
         |       CAST(SUM(s.cost_w) AS BIGINT) AS cost_bits
         |FROM tok t JOIN segv s ON t.word = s.word
         |GROUP BY t.doc_id
         |ORDER BY cost_bits DESC, t.doc_id LIMIT 20""".stripMargin
    },

    "q_wordpiece_merges" -> {
      // TextAnalysis.wordPieceMerges twin: the q_bpe_merges rounds with
      // the likelihood argmax (bpeRound(likelihood = true))
      val rounds = (1 to 4).map(r => bpeRound(s"w${r - 1}", r, likelihood = true)).mkString(",\n")
      val sel = (1 to 4)
        .map(r =>
          s"SELECT CAST($r AS BIGINT) AS round, b$r.pa AS pair_a, b$r.pb AS pair_b, b$r.n, ns$r.n_symbols FROM b$r, ns$r")
        .mkString("\nUNION ALL\n")
      s"""WITH $bpeW0,
         |$rounds
         |$sel
         |ORDER BY round""".stripMargin
    },

    "q_wordpiece_encode" -> {
      // TextAnalysis.wordPieceTokenCounts twin: 3 likelihood-scored
      // training rounds, then the q_bpe_encode apply join
      val rounds = (1 to 3).map(r => bpeRound(s"w${r - 1}", r, likelihood = true)).mkString(",\n")
      s"""WITH $bpeW0,
         |$rounds,
         |segv AS (
         |  SELECT word, CAST(len(word) AS BIGINT) AS n_chars_w,
         |         CAST(len(list_filter(string_split(seg, '|'), x -> len(x) > 0)) AS BIGINT) AS n_tokens_w
         |  FROM w3),
         |tok AS (SELECT doc_id, UNNEST($ftsToks) AS word FROM documents)
         |SELECT t.doc_id,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(s.n_chars_w) AS BIGINT) AS n_chars,
         |       CAST(SUM(s.n_tokens_w) AS BIGINT) AS n_tokens
         |FROM tok t JOIN segv s ON t.word = s.word
         |GROUP BY t.doc_id
         |ORDER BY n_tokens DESC, t.doc_id LIMIT 20""".stripMargin
    },

    "q_drift" ->
      // DriftMonitor.categoricalDrift twin: integer-exact ppm
      // proportions (floor division), chi-square contributions x 1e9 in
      // HUGEINT (Spark: decimal(38,0)) via the folded two-sample
      // identity chi2_i = D^2 / ((cnt_a+cnt_b)*tot_a*tot_b),
      // D = cnt_a*tot_b - cnt_b*tot_a
      """WITH e AS (
        |  SELECT event_type AS category,
        |         CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END AS in_a
        |  FROM events),
        |pc AS (
        |  SELECT category,
        |         CAST(SUM(in_a) AS BIGINT) AS cnt_a,
        |         CAST(SUM(1 - in_a) AS BIGINT) AS cnt_b
        |  FROM e GROUP BY category),
        |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS tot_a, CAST(SUM(cnt_b) AS BIGINT) AS tot_b FROM pc),
        |d AS (SELECT category, cnt_a, cnt_b, tot_a, tot_b,
        |             CAST(cnt_a AS HUGEINT) * tot_b - CAST(cnt_b AS HUGEINT) * tot_a AS dd,
        |             CAST(cnt_a + cnt_b AS HUGEINT) * tot_a * tot_b AS denom
        |      FROM pc, t)
        |SELECT category, cnt_a, cnt_b,
        |       CAST(cnt_a * 1000000 // tot_a AS BIGINT) AS ppm_a,
        |       CAST(cnt_b * 1000000 // tot_b AS BIGINT) AS ppm_b,
        |       ABS(CAST(cnt_a * 1000000 // tot_a AS BIGINT) - CAST(cnt_b * 1000000 // tot_b AS BIGINT)) AS abs_ppm_diff,
        |       CAST((dd * dd // denom) * 1000000000
        |            + ((dd * dd % denom) * 1000000000) // denom AS BIGINT) AS chi2_ppb
        |FROM d ORDER BY category""".stripMargin,

    "q_window_drift" ->
      // EventStreams.windowDrift twin: weekly tumbling event-type mixes
      // vs the whole-corpus reference mix; integer ppm floor divisions,
      // per-window TVD sum — hash-gates the streaming readout arithmetic
      """WITH e AS (SELECT event_type AS category, epoch_us(ts) AS ts_us FROM events),
        |counts AS (
        |  SELECT ts_us - (ts_us % 604800000000) AS window_start, category, COUNT(*) AS n
        |  FROM e GROUP BY 1, 2),
        |ref AS (SELECT category, COUNT(*) AS ref_n FROM e GROUP BY category),
        |wins AS (SELECT DISTINCT window_start FROM counts),
        |grid AS (SELECT w.window_start, r.category, r.ref_n FROM wins w CROSS JOIN ref r),
        |fj AS (
        |  SELECT COALESCE(g.window_start, c.window_start) AS window_start,
        |         COALESCE(g.category, c.category) AS category,
        |         CAST(COALESCE(c.n, 0) AS BIGINT) AS n,
        |         CAST(COALESCE(g.ref_n, 0) AS BIGINT) AS ref_n
        |  FROM grid g FULL OUTER JOIN counts c
        |    ON g.window_start = c.window_start AND g.category = c.category),
        |tots AS (
        |  SELECT *, SUM(n) OVER (PARTITION BY window_start) AS tot_n,
        |         SUM(ref_n) OVER (PARTITION BY window_start) AS ref_tot
        |  FROM fj),
        |ppms AS (
        |  SELECT window_start, category, n, ref_n,
        |         CAST(n * 1000000 // tot_n AS BIGINT) AS ppm_obs,
        |         CAST(ref_n * 1000000 // ref_tot AS BIGINT) AS ppm_ref,
        |         ABS(CAST(n * 1000000 // tot_n AS BIGINT) - CAST(ref_n * 1000000 // ref_tot AS BIGINT)) AS abs_ppm_diff
        |  FROM tots)
        |SELECT window_start, category, n, ref_n, ppm_obs, ppm_ref, abs_ppm_diff,
        |       CAST(SUM(abs_ppm_diff) OVER (PARTITION BY window_start) AS BIGINT) AS tvd2_ppm
        |FROM ppms ORDER BY window_start, category""".stripMargin,

    "q_vector_window_drift" ->
      // EventStreams.windowedVectorSums -> vectorWindowDrift twin:
      // synthetic ts = 2024-01-01 + vec_id hours in micros, 7-day
      // tumbling alignment by modulo, floor(x*1000) quantization, exact
      // per-(window, dim) integer sums, reference = corpus-wide sums,
      // shift via the q_embed_drift HUGEINT expression
      """WITH v AS (
        |  SELECT vec_id,
        |         list_transform(CAST(embedding AS DOUBLE[]),
        |                        x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qvec
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> isnan(x) OR isinf(x))) = 0),
        |w AS (
        |  SELECT (1704067200000000 + vec_id * 3600000000)
        |           - ((1704067200000000 + vec_id * 3600000000) % 604800000000) AS window_start_us,
        |         qvec
        |  FROM v),
        |comp AS (
        |  SELECT w.window_start_us, CAST(d.dim AS BIGINT) AS dim, w.qvec[d.dim] AS qv
        |  FROM w, (SELECT UNNEST(range(1, 65)) AS dim) d),
        |sums AS (
        |  SELECT window_start_us, dim,
        |         CAST(COUNT(*) AS BIGINT) AS cnt_a,
        |         CAST(SUM(qv) AS BIGINT) AS sum_a
        |  FROM comp GROUP BY 1, 2),
        |ref AS (
        |  SELECT dim,
        |         CAST(COUNT(*) AS BIGINT) AS cnt_b,
        |         CAST(SUM(qv) AS BIGINT) AS sum_b
        |  FROM comp GROUP BY 1)
        |SELECT s.window_start_us, s.dim, s.cnt_a, r.cnt_b, s.sum_a, r.sum_b,
        |       CAST((CAST(s.sum_a AS HUGEINT) * r.cnt_b - CAST(r.sum_b AS HUGEINT) * s.cnt_a)
        |            * 1000 // (CAST(s.cnt_a AS HUGEINT) * r.cnt_b) AS BIGINT) AS shift_milliq,
        |       ABS(CAST((CAST(s.sum_a AS HUGEINT) * r.cnt_b - CAST(r.sum_b AS HUGEINT) * s.cnt_a)
        |            * 1000 // (CAST(s.cnt_a AS HUGEINT) * r.cnt_b) AS BIGINT)) AS abs_shift_milliq
        |FROM sums s JOIN ref r ON s.dim = r.dim
        |ORDER BY s.window_start_us, s.dim""".stripMargin,

    "q_embed_drift" ->
      // DriftMonitor.embeddingDrift twin: floor(x*1000) quantization,
      // exact per-dim integer sums (64-row cross join enumerates dims),
      // truncating integer division for the milli-quantized shift
      // (DuckDB // and Spark DIV both truncate toward zero)
      """WITH v AS (
        |  SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS in_a,
        |         list_transform(CAST(embedding AS DOUBLE[]),
        |                        x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qvec
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL
        |    AND len(list_filter(CAST(embedding AS DOUBLE[]), x -> isnan(x) OR isinf(x))) = 0),
        |comp AS (
        |  SELECT CAST(d.dim AS BIGINT) AS dim, v.in_a, v.qvec[d.dim] AS qv
        |  FROM v, (SELECT UNNEST(range(1, 65)) AS dim) d),
        |agg AS (
        |  SELECT dim,
        |         CAST(SUM(in_a) AS BIGINT) AS cnt_a,
        |         CAST(SUM(1 - in_a) AS BIGINT) AS cnt_b,
        |         CAST(SUM(qv * in_a) AS BIGINT) AS sum_a,
        |         CAST(SUM(qv * (1 - in_a)) AS BIGINT) AS sum_b
        |  FROM comp GROUP BY dim)
        |SELECT dim, cnt_a, cnt_b, sum_a, sum_b,
        |       CAST((CAST(sum_a AS HUGEINT) * cnt_b - CAST(sum_b AS HUGEINT) * cnt_a)
        |            * 1000 // (CAST(cnt_a AS HUGEINT) * cnt_b) AS BIGINT) AS shift_milliq,
        |       ABS(CAST((CAST(sum_a AS HUGEINT) * cnt_b - CAST(sum_b AS HUGEINT) * cnt_a)
        |            * 1000 // (CAST(cnt_a AS HUGEINT) * cnt_b) AS BIGINT)) AS abs_shift_milliq
        |FROM agg ORDER BY dim""".stripMargin,

    "q_drift_value" ->
      // DriftMonitor.numericDrift twin: fixed 20-bin equal-width binning
      // on [0, 600) — floor of the identical IEEE expression, clamped —
      // then the categoricalDrift machinery over bins
      """WITH e AS (
        |  SELECT CASE WHEN value IS NULL OR isnan(CAST(value AS DOUBLE)) OR isinf(CAST(value AS DOUBLE)) THEN -1
        |              ELSE LEAST(GREATEST(CAST(floor((CAST(value AS DOUBLE) - 0.0) * 20.0 / 600.0) AS BIGINT), 0), 19) END AS bin,
        |         CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END AS in_a
        |  FROM events),
        |pc AS (
        |  SELECT bin,
        |         CAST(SUM(in_a) AS BIGINT) AS cnt_a,
        |         CAST(SUM(1 - in_a) AS BIGINT) AS cnt_b
        |  FROM e GROUP BY bin),
        |t AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS tot_a, CAST(SUM(cnt_b) AS BIGINT) AS tot_b FROM pc),
        |d AS (SELECT bin, cnt_a, cnt_b, tot_a, tot_b,
        |             CAST(cnt_a AS HUGEINT) * tot_b - CAST(cnt_b AS HUGEINT) * tot_a AS dd,
        |             CAST(cnt_a + cnt_b AS HUGEINT) * tot_a * tot_b AS denom
        |      FROM pc, t)
        |SELECT bin, cnt_a, cnt_b,
        |       CAST(cnt_a * 1000000 // tot_a AS BIGINT) AS ppm_a,
        |       CAST(cnt_b * 1000000 // tot_b AS BIGINT) AS ppm_b,
        |       ABS(CAST(cnt_a * 1000000 // tot_a AS BIGINT) - CAST(cnt_b * 1000000 // tot_b AS BIGINT)) AS abs_ppm_diff,
        |       CAST((dd * dd // denom) * 1000000000
        |            + ((dd * dd % denom) * 1000000000) // denom AS BIGINT) AS chi2_ppb
        |FROM d ORDER BY bin""".stripMargin,

    "q_classifier_centroid" ->
      // QualityClassifier.fitClassify twin: confusion matrix of the
      // distilled model against the teacher signal over ALL documents
      s"""WITH $centroidCtes
         |SELECT CASE WHEN d.n_chars >= 300 THEN 1 ELSE -1 END AS y, s.pred,
         |       CAST(COUNT(*) AS BIGINT) AS n
         |FROM documents d JOIN scored s USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_model_filter_rate" ->
      // per-source keep rates of the same model (ppm floor division —
      // the drift-monitor convention)
      s"""WITH $centroidCtes
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS total,
         |       CAST(SUM(CASE WHEN s.pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
         |       CAST(SUM(CASE WHEN s.pred = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS kept_ppm
         |FROM documents d JOIN scored s USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cluster_balance" ->
      // Clustering.kmeansAssign + Sampling.balanceStrata twin: cap each
      // shared-k-means cluster at 30 by md5-hash order; kept_id_sum
      // checksums WHICH rows survived, gating the hash-order selection
      s"""WITH ${kmeansCtes()},
         |rnk AS (
         |  SELECT vec_id, cid,
         |         ROW_NUMBER() OVER (PARTITION BY cid
         |           ORDER BY ${md5NibbleIntSql("CAST(vec_id AS VARCHAR)", 8)}, vec_id) AS rn
         |  FROM a4)
         |SELECT CAST(cid AS BIGINT) AS cluster, CAST(COUNT(*) AS BIGINT) AS total,
         |       CAST(SUM(CASE WHEN rn <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
         |       CAST(SUM(CASE WHEN rn <= 30 THEN vec_id ELSE 0 END) AS BIGINT) AS kept_id_sum
         |FROM rnk GROUP BY cid ORDER BY cluster""".stripMargin,

    "q_datasheet" ->
      // Curation.datasheet twin: per-doc enrichment (lang, fixed-point
      // quality, token estimate, normalized digest), corpus-wide
      // keep-min-id duplicate rank, then the bounded per-(source, lang)
      // roll-up — all integer except the per-doc quality double, which
      // enters as floor(q * 1e6) on identical per-doc values
      s"""WITH enriched AS (
         |  SELECT doc_id, source, $langCase AS pred_lang,
         |         CAST(FLOOR($quality * 1000000) AS BIGINT) AS q_fp,
         |         CAST(FLOOR(CAST(len($words) AS DOUBLE) * 1.3) AS BIGINT) AS tok,
         |         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS digest
         |  FROM documents),
         |rnk AS (
         |  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
         |  FROM enriched)
         |SELECT e.source, e.pred_lang,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(e.tok) AS BIGINT) AS total_tokens,
         |       CAST(SUM(CASE WHEN r.rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |       CAST(SUM(CASE WHEN e.tok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
         |       CAST(0 AS BIGINT) AS n_untokenized,
         |       CAST(SUM(e.q_fp) AS BIGINT) AS quality_fp_sum
         |FROM enriched e JOIN rnk r USING (doc_id)
         |GROUP BY 1, 2 ORDER BY source, pred_lang""".stripMargin,

    "q_curation_audit" ->
      s"""WITH $auditCtes
         |SELECT doc_id, pred_lang, quality, drop_reason
         |FROM reasons ORDER BY doc_id""".stripMargin,

    "q_audit_stats" ->
      // gate-loss accounting: the audit rolled up to docs + estimated
      // tokens per drop reason (null reason folded to 'kept')
      s"""WITH $auditCtes
         |SELECT COALESCE(drop_reason, 'kept') AS reason,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(token_est) AS BIGINT) AS total_tokens
         |FROM reasons GROUP BY 1 ORDER BY reason""".stripMargin,

    "q_domain_classify" ->
      s"""WITH $domainCtes
         |SELECT CASE WHEN d.n_chars < 250 THEN 'short'
         |            WHEN d.n_chars < 350 THEN 'mid'
         |            ELSE 'long' END AS y,
         |       s.pred_class, CAST(COUNT(*) AS BIGINT) AS n
         |FROM documents d JOIN scored s USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_domain_balance" ->
      // classifyK + Sampling.balanceStrata over the PREDICTED domain:
      // the route-then-rebalance mixture recipe; kept_id_sum checksums
      // which rows survived the md5-hash-order cap
      s"""WITH $domainCtes,
         |rnk AS (
         |  SELECT doc_id, pred_class,
         |         ROW_NUMBER() OVER (PARTITION BY pred_class
         |           ORDER BY ${md5NibbleIntSql("CAST(doc_id AS VARCHAR)", 8)}, doc_id) AS rn
         |  FROM scored)
         |SELECT pred_class, CAST(COUNT(*) AS BIGINT) AS total,
         |       CAST(SUM(CASE WHEN rn <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
         |       CAST(SUM(CASE WHEN rn <= 120 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
         |FROM rnk GROUP BY pred_class ORDER BY pred_class""".stripMargin
  )

  /** Curation.audit twin (shared by q_curation_audit and
    * q_audit_stats): first-failing-gate per doc in curate's stage
    * order; the duplicate rank runs ONLY over prior-gate survivors
    * (curate's dedup-last order), keep-min-id per normalized digest.
    * Ends with `reasons(doc_id, pred_lang, quality, token_est,
    * drop_reason)`.
    */
  private lazy val auditCtes: String =
    s"""enriched AS (
       |  SELECT doc_id, text, $langCase AS pred_lang, $quality AS quality,
       |         CAST(FLOOR(CAST(len($words) AS DOUBLE) * 1.3) AS BIGINT) AS token_est
       |  FROM documents),
       |flags AS (
       |  SELECT doc_id, pred_lang, quality, token_est, text,
       |         CASE WHEN pred_lang IN ('en', 'de') THEN 1 ELSE 0 END AS lang_ok,
       |         CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END AS qual_ok
       |  FROM enriched),
       |dup AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (
       |      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
       |      ORDER BY doc_id) AS rn
       |  FROM flags WHERE lang_ok = 1 AND qual_ok = 1),
       |reasons AS (
       |  SELECT f.doc_id, f.pred_lang, f.quality, f.token_est,
       |         CASE WHEN f.lang_ok = 0 THEN 'lang'
       |              WHEN f.qual_ok = 0 THEN 'quality'
       |              WHEN d.rn > 1 THEN 'duplicate' END AS drop_reason
       |  FROM flags f LEFT JOIN dup d USING (doc_id))""".stripMargin

  /** QualityClassifier.fitCentroidK/classifyK twin (shared by
    * q_domain_classify and q_domain_balance): 3 length-tercile classes,
    * DENSE per-class dot rows over the labeled feature set,
    * normalized-distance score (norm2_c - 2*n_c*dot)*1e9 // n_c^2
    * (DuckDB // truncates like Spark DIV — the drift precedent), ties
    * to the smaller label; docs with no labeled-vocabulary overlap fall
    * to the zero-vector constant argmin. Ends with
    * `scored(doc_id, pred_class)` over ALL documents.
    */
  private lazy val domainCtes: String =
    s"""feats AS MATERIALIZED (
       |  SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
       |    SELECT doc_id, ${md5NibbleIntSql("tok", 8)} % 256 AS f
       |    FROM (SELECT doc_id, UNNEST($ftsToks) AS tok FROM documents))
       |  GROUP BY doc_id, f),
       |lab AS MATERIALIZED (
       |  SELECT doc_id, CASE WHEN n_chars < 250 THEN 'short'
       |                      WHEN n_chars < 350 THEN 'mid'
       |                      ELSE 'long' END AS y
       |  FROM documents WHERE doc_id % 5 = 0),
       |clsn AS (SELECT y, CAST(COUNT(*) AS DECIMAL(38,0)) AS n_c FROM lab GROUP BY y),
       |raw AS MATERIALIZED (
       |  SELECT l.y, ft.f, CAST(SUM(ft.cnt) AS BIGINT) AS s
       |  FROM feats ft JOIN lab l USING (doc_id) GROUP BY l.y, ft.f),
       |fset AS (SELECT DISTINCT f FROM raw),
       |clssum AS MATERIALIZED (
       |  SELECT n.y, fs.f, COALESCE(r.s, 0) AS s
       |  FROM clsn n CROSS JOIN fset fs
       |  LEFT JOIN raw r ON r.y = n.y AND r.f = fs.f),
       |clsinfo AS MATERIALIZED (
       |  SELECT c.y, n.n_c,
       |         CAST(SUM(CAST(c.s AS DECIMAL(38,0)) * c.s) AS DECIMAL(38,0)) AS norm2_c
       |  FROM clssum c JOIN clsn n ON n.y = c.y GROUP BY c.y, n.n_c),
       |dots AS (
       |  SELECT ft.doc_id, c.y,
       |         CAST(SUM(CAST(ft.cnt AS DECIMAL(38,0)) * c.s) AS DECIMAL(38,0)) AS dot
       |  FROM feats ft JOIN clssum c ON c.f = ft.f GROUP BY ft.doc_id, c.y),
       |g AS (
       |  -- the // MUST run on HUGEINT: DuckDB types DECIMAL // DECIMAL as
       |  -- DOUBLE (plain division), so the outer CAST would ROUND and lose
       |  -- precision past 2^53 — HUGEINT // HUGEINT truncates toward zero
       |  -- exactly like Spark DIV (the DriftMonitor precedent); every
       |  -- DECIMAL(38,0) value fits int128
       |  SELECT d.doc_id, d.y,
       |         CAST((i.norm2_c - 2 * i.n_c * d.dot) AS HUGEINT) * 1000000000
       |           // CAST(i.n_c * i.n_c AS HUGEINT) AS g
       |  FROM dots d JOIN clsinfo i ON d.y = i.y),
       |best AS (
       |  SELECT doc_id, y AS pred_class FROM (
       |    SELECT doc_id, y, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY g, y) AS rn
       |    FROM g) WHERE rn = 1),
       |czero AS (
       |  SELECT y FROM clsinfo
       |  ORDER BY CAST(norm2_c AS HUGEINT) * 1000000000 // CAST(n_c * n_c AS HUGEINT), y
       |  LIMIT 1),
       |scored AS (
       |  SELECT d.doc_id, COALESCE(b.pred_class, (SELECT y FROM czero)) AS pred_class
       |  FROM documents d LEFT JOIN best b USING (doc_id))""".stripMargin
}
