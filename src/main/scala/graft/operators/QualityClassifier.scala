package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based quality filtering: train a cheap linear classifier on a
  * small labeled sample, then score the whole corpus with it — the
  * "distill an expensive quality signal into a hashed linear model"
  * step of modern pre-training curation (a teacher labels thousands of
  * documents; the distilled model filters billions).
  *
  * The model is a NEAREST-CENTROID (Rocchio) classifier over hashed
  * unigram counts. It is CLOSED-FORM — one aggregation pass over the
  * labeled sample, no iteration, no learning rate — and every
  * comparison is EXACT INTEGER arithmetic: the Euclidean rule
  *
  *   ||x − S⁺/n⁺||² < ||x − S⁻/n⁻||²
  *
  * is evaluated with both sides multiplied through by n⁺²·n⁻² > 0, so
  * the decision reduces to a sign test on
  *
  *   gap = 2·(x·S⁻)·n⁻·n⁺² − 2·(x·S⁺)·n⁺·n⁻² + ‖S⁺‖²·n⁻² − ‖S⁻‖²·n⁺²
  *
  * (predict +1 iff gap < 0; ties → −1) in decimal(38,0) — no sqrt, no
  * division, no floating point, hence engine-portable and retry-safe.
  * The midpoint term (the ‖S‖² correction) is what makes this a real
  * discriminant rather than a raw dot-product vote: without it the
  * longer class centroid wins every comparison.
  *
  * Exactness bound: |gap| ≤ 4·D·n³ where n = labeled rows and
  * D = max doc·centroid-sum dot ≤ (tokens per doc)·(labeled-corpus
  * tokens). Distillation samples are small by design (10⁵–10⁶ labeled
  * rows, ≤10⁹ label-corpus tokens), so gap stays ≤ ~10³⁰ — inside
  * decimal(38,0) with eight orders of headroom. The CORPUS being
  * classified is unbounded; only the labeled sample enters the bound.
  * Beyond the bound the engines also diverge in FAILURE MODE (Spark
  * nulls an overflowing decimal(38,0) product — a null gap classifies
  * −1 — where DuckDB raises), one more reason the bound is a contract,
  * not advice.
  *
  * Scale shape (the reason this beats iterative training at 100 TB):
  * fit aggregates the labeled sample to `nFeatures` rows (bounded
  * shuffle, map-side combine) and collects the bounded model into the
  * driver — the k-means-centroid convention, ≤ nFeatures rows of model
  * state, never corpus data. classify broadcasts that model, so the
  * corpus-sized work is one scan + one (id)-keyed aggregation whose
  * shuffle payload is (id, dp, dn) — text never crosses an exchange.
  */
object QualityClassifier {

  /** Hashed unigram count features: one row per (id, feature) with the
    * occurrence count. Tokenization is [[graft.functions.TextFunctions.ftsTokens]]
    * (shared with the FTS index, so the filter and the index agree on
    * what a word is); feature id = md5-derived 32-bit hash mod
    * `nFeatures` ([[Sketches.md5Hash32]] — oracle twin
    * OracleSql.md5NibbleIntSql n=8). Documents with no tokens produce
    * no rows; [[classify]] handles them via its left join.
    */
  def featurize(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      nFeatures: Int
  ): DataFrame = {
    require(nFeatures >= 2, s"need nFeatures >= 2, got $nFeatures")
    docs
      .select(
        col(idCol),
        explode(graft.functions.TextFunctions.ftsTokens(col(textCol))).as("_tok"))
      .select(col(idCol), pmod(Sketches.md5Hash32(col("_tok")), lit(nFeatures)).as("feature"))
      .groupBy(col(idCol), col("feature"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The fitted model: bounded driver-side state (≤ nFeatures entries
    * per class), exactly the k-means-centroid precedent. `normPos2` /
    * `normNeg2` are ‖S⁺‖² / ‖S⁻‖² as BigInt (sums of squared longs can
    * pass 2⁶³ long before the decimal(38,0) gap bound is at risk).
    */
  final case class CentroidModel(
      nFeatures: Int,
      nPos: Long,
      nNeg: Long,
      sumPos: Map[Int, Long],
      sumNeg: Map[Int, Long]
  ) {
    val normPos2: BigInt = sumPos.values.map(v => BigInt(v) * v).sum
    val normNeg2: BigInt = sumNeg.values.map(v => BigInt(v) * v).sum
  }

  /** Fit on a labeled sample. `label` must evaluate to +1 or −1 for
    * every row of `labeled` — anything else (including null) fails
    * loudly rather than silently skewing a centroid, and an empty
    * class fails too (the discriminant needs both centroids).
    */
  def fitCentroid(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      label: Column,
      nFeatures: Int = 256
  ): CentroidModel = {
    val lab = labeled.select(col(idCol), label.as("y"))
    val counts = lab
      .agg(
        count(lit(1)).as("total"),
        count(when(col("y") === 1, 1)).as("np"),
        count(when(col("y") === -1, 1)).as("nn"))
      .collect()(0)
    val (total, np, nn) = (counts.getLong(0), counts.getLong(1), counts.getLong(2))
    require(
      np + nn == total,
      s"fitCentroid: label must be +1/-1 on every row; ${total - np - nn} of $total rows are neither")
    require(np > 0 && nn > 0, s"fitCentroid: need both classes, got +1:$np -1:$nn")

    // bounded aggregation: nFeatures rows of (f, sp, sn) model state
    val sums = featurize(labeled, idCol, textCol, nFeatures)
      .join(lab, idCol)
      .groupBy("feature")
      .agg(
        sum(when(col("y") === 1, col("cnt")).otherwise(0L)).as("sp"),
        sum(when(col("y") === -1, col("cnt")).otherwise(0L)).as("sn"))
      .collect()
    val m = CentroidModel(
      nFeatures = nFeatures,
      nPos = np,
      nNeg = nn,
      sumPos = sums.map(r => r.getLong(0).toInt -> r.getLong(1)).toMap,
      sumNeg = sums.map(r => r.getLong(0).toInt -> r.getLong(2)).toMap)
    requireGapHeadroom(m, "fitCentroid")
    m
  }

  /** Score every document: adds `pred` (+1 keep / −1 drop) and `gap`
    * (the signed decimal(38,0) discriminant — negative ⇒ nearer the
    * positive centroid; useful as a confidence proxy for threshold
    * sweeps). Token-less documents get dp = dn = 0 via the left join
    * and are decided by the pure centroid-norm term — the same answer
    * the algebra gives an all-zero feature vector, not a dropped row.
    *
    * Plan shape: model broadcast-joined to the feature rows (the model
    * side is ≤ nFeatures rows — Spark's own size estimate makes it a
    * BroadcastHashJoin), one (id)-keyed aggregation, then a left join
    * back to `docs` on id. No corpus-sized state, no second scan of
    * `text`.
    */
  def classify(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: CentroidModel
  ): DataFrame = {
    val spark = docs.sparkSession
    import scala.jdk.CollectionConverters._
    val modelRows = (0 until model.nFeatures)
      .filter(f => model.sumPos.contains(f) || model.sumNeg.contains(f))
      .map(f =>
        org.apache.spark.sql.Row(
          f.toLong,
          model.sumPos.getOrElse(f, 0L),
          model.sumNeg.getOrElse(f, 0L)))
    val modelDf = spark.createDataFrame(
      modelRows.asJava,
      org.apache.spark.sql.types.StructType(
        Seq(
          org.apache.spark.sql.types.StructField("feature", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("sp", org.apache.spark.sql.types.LongType, nullable = false),
          org.apache.spark.sql.types.StructField("sn", org.apache.spark.sql.types.LongType, nullable = false))))

    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val dots = featurize(docs, idCol, textCol, model.nFeatures)
      .join(broadcast(modelDf), "feature")
      .groupBy(idCol)
      .agg(
        sum(col("cnt").cast(dec) * col("sp")).cast(dec).as("dp"),
        sum(col("cnt").cast(dec) * col("sn")).cast(dec).as("dn"))

    val np = lit(BigDecimal(model.nPos)).cast(dec)
    val nn = lit(BigDecimal(model.nNeg)).cast(dec)
    val sp2 = lit(BigDecimal(model.normPos2)).cast(dec)
    val sn2 = lit(BigDecimal(model.normNeg2)).cast(dec)
    val gap =
      (lit(2).cast(dec) * coalesce(col("dn"), lit(0).cast(dec)) * nn * np * np
        - lit(2).cast(dec) * coalesce(col("dp"), lit(0).cast(dec)) * np * nn * nn
        + sp2 * nn * nn
        - sn2 * np * np).cast(dec)
    // Every gap input is non-null (dp/dn coalesced, constants literal),
    // so gap IS NULL means exactly one thing: a decimal(38,0) product
    // overflowed past the documented 4·D·n³ bound — and without a guard
    // `gap < 0` is false-for-null, silently classifying every such doc
    // −1 (a labeled sample past the bound would drop the whole corpus).
    // classifyK raise_errors on its DIV wrap; the 2-class sign test
    // gets the same loud failure. The guard lives inside `gap` itself
    // (load-bearing in `pred`), so it provably evaluates per row.
    val gapGuarded = when(gap.isNotNull, gap).otherwise(
      raise_error(lit(
        "classify: decimal(38,0) overflow in gap - the labeled sample exceeded " +
          "the documented 4*D*n^3 bound; shrink the labeled sample or nFeatures"))
        .cast(dec))
    docs
      .join(dots, Seq(idCol), "left")
      .withColumn("gap", gapGuarded)
      .withColumn("pred", when(col("gap") < 0, 1).otherwise(-1))
      .drop("dp", "dn")
  }

  /** The two model-constant gap terms (‖S⁺‖²·n⁻², ‖S⁻‖²·n⁺²) must fit
    * decimal(38,0) for [[classify]]'s arithmetic to stay exact; the
    * dot terms depend on the corpus and are covered by the runtime
    * raise_error guard instead. Checked at fit AND load time.
    */
  private def requireGapHeadroom(m: CentroidModel, where: String): Unit = {
    val lim = BigInt(10).pow(38)
    val tPos = m.normPos2 * BigInt(m.nNeg) * BigInt(m.nNeg)
    val tNeg = m.normNeg2 * BigInt(m.nPos) * BigInt(m.nPos)
    require(
      tPos < lim && tNeg < lim,
      s"$where: centroid-norm gap terms exceed decimal(38,0) " +
        s"(|S+|^2*nNeg^2 has ${tPos.toString.length} digits, " +
        s"|S-|^2*nPos^2 has ${tNeg.toString.length}; limit 38) - " +
        "shrink the labeled sample or nFeatures")
  }

  /** K-class centroid model: one class-sum table per label — bounded
    * driver-side state (≤ k·nFeatures entries), the multi-class
    * generalization of [[CentroidModel]] for DOMAIN classification
    * (news / code / forum / …) feeding mixture balancing.
    */
  final case class CentroidKModel(
      nFeatures: Int,
      classes: Seq[CentroidKModel.ClassStats]
  ) {
    require(classes.nonEmpty, "CentroidKModel needs at least one class")
    require(
      classes.map(_.label).distinct.size == classes.size,
      "duplicate class labels in CentroidKModel")
  }
  object CentroidKModel {
    final case class ClassStats(label: String, n: Long, sums: Map[Int, Long]) {
      require(n > 0, s"class '$label' has no labeled rows")
      val norm2: BigInt = sums.values.map(v => BigInt(v) * v).sum
    }
  }

  /** Fit one centroid per distinct label value (string labels; nulls
    * fail loudly). Same bounded aggregation as [[fitCentroid]], one
    * (feature, label)-keyed class-sum table.
    */
  def fitCentroidK(
      labeled: DataFrame,
      idCol: String,
      textCol: String,
      label: Column,
      nFeatures: Int = 256
  ): CentroidKModel = {
    val lab = labeled.select(col(idCol), label.as("y"))
    // the per-class counts aggregation sees a null group key, so the
    // null-label guard rides the same single job instead of its own pass
    val countRows = lab.groupBy("y").agg(count(lit(1)).as("n")).collect()
    val nullCount = countRows.filter(_.isNullAt(0)).map(_.getLong(1)).sum
    require(nullCount == 0, s"fitCentroidK: $nullCount rows have a null label")
    val counts = countRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val sums = featurize(labeled, idCol, textCol, nFeatures)
      .join(lab, idCol)
      .groupBy("y", "feature")
      .agg(sum(col("cnt")).as("s"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (y, rows) =>
        y -> rows.map(r => r.getLong(1).toInt -> r.getLong(2)).toMap
      }
    CentroidKModel(
      nFeatures,
      counts.toSeq.sortBy(_._1).map { case (y, n) =>
        CentroidKModel.ClassStats(y, n, sums.getOrElse(y, Map.empty))
      })
  }

  /** Assign every document to its nearest class centroid. The argmin is
    * over the class-independent-free part of the normalized Euclidean
    * distance, ‖x − S_c/n_c‖² − ‖x‖² = (‖S_c‖² − 2·n_c·(x·S_c)) / n_c²,
    * evaluated as a ×10⁹ truncating integer division (`DIV` — the
    * drift-monitor convention, identical truncation on any engine) so k
    * fractions with different denominators compare in one pass without
    * floating point; exact-quotient ties break on the lexicographically
    * smaller label. Token-less documents get the model-constant argmin
    * (the zero-vector answer, computed driver-side) instead of being
    * dropped.
    *
    * Plan shape: the (feature, label, s) model table is ≤ k·nFeatures
    * rows — broadcast; corpus work is one featurize scan, a
    * (id, label)-keyed dot aggregation, and an (id)-keyed argmin — both
    * shuffles carry bounded-width integer rows.
    */
  def classifyK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: CentroidKModel
  ): DataFrame = {
    val spark = docs.sparkSession
    import scala.jdk.CollectionConverters._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val jbd = (v: BigInt) => new java.math.BigDecimal(v.bigInteger)

    // DENSE over the labeled feature set: every labeled feature carries a
    // row for EVERY class (s = 0 where the class never saw it), so a doc
    // overlapping the labeled vocabulary at all gets a dot row for all k
    // classes — a sparse table would silently exclude zero-overlap
    // classes from that doc's argmin. Docs with NO labeled-vocabulary
    // overlap have dot 0 against every class, and the zero-vector
    // constant below IS their exact argmin, so the left-join fallback is
    // semantically right, not an approximation.
    val labeledFeats = model.classes.flatMap(_.sums.keys).distinct.sorted
    val modelRows = labeledFeats.flatMap(f =>
      model.classes.map(c =>
        org.apache.spark.sql.Row(f.toLong, c.label, c.sums.getOrElse(f, 0L))))
    import org.apache.spark.sql.{types => st}
    val modelDf = spark.createDataFrame(
      modelRows.asJava,
      st.StructType(Seq(
        st.StructField("feature", st.LongType, nullable = false),
        st.StructField("y", st.StringType, nullable = false),
        st.StructField("s", st.LongType, nullable = false))))
    val classDf = spark.createDataFrame(
      model.classes.map(c =>
        org.apache.spark.sql.Row(c.label, jbd(BigInt(c.n)), jbd(c.norm2))).asJava,
      st.StructType(Seq(
        st.StructField("y", st.StringType, nullable = false),
        st.StructField("n_c", dec, nullable = false),
        st.StructField("norm2_c", dec, nullable = false))))

    // g(c) = (norm2_c - 2*n_c*dot) * 1e9 DIV n_c^2 — the comparable score.
    // Spark DIV yields BIGINT and a quotient past 2^63 WRAPS SILENTLY to
    // a garbage long (measured: 1.6e28 DIV 1 = -2.1e17 — not null, not an
    // error), which would hand every argmin to the degenerate class. The
    // quotient bound |g| <= (norm2_c + 2·n_c·D)·1e9 / n_c² < 2^63 is
    // therefore ENFORCED per row: the truncating-division identity
    // num = g·den + rem with |rem| < den and rem carrying num's sign is
    // decimal-exact and fails exactly when DIV wrapped — assert_true
    // turns the wrap into a loud task failure instead of a silent
    // misrouting. At distillation sample sizes g is orders below the
    // bound and the check never fires.
    val scoredPerClass = featurize(docs, idCol, textCol, model.nFeatures)
      .join(broadcast(modelDf), "feature")
      .groupBy(col(idCol), col("y"))
      .agg(sum(col("cnt").cast(dec) * col("s")).cast(dec).as("dot"))
      .join(broadcast(classDf), "y")
      .withColumn("_num", expr("CAST((norm2_c - 2 * n_c * dot) * 1000000000 AS DECIMAL(38,0))"))
      .withColumn("_den", expr("CAST(n_c * n_c AS DECIMAL(38,0))"))
      .withColumn("_q", expr("CAST(_num DIV _den AS DECIMAL(38,0))"))
      // the guard lives INSIDE g (not a side column an optimizer could
      // prune): g is load-bearing in the argmin, so the identity check
      // provably evaluates for every (doc, class) row
      .withColumn(
        "g",
        expr(
          """CASE WHEN _q IS NOT NULL AND abs(_num - _q * _den) < _den
            |          AND (_num - _q * _den = 0 OR sign(_num - _q * _den) = sign(_num))
            |     THEN _q
            |     ELSE CAST(raise_error(concat(
            |            'classifyK: DIV quotient overflow for class ', y,
            |            ' - the normalized-distance score left the exact range; ',
            |            'shrink the labeled sample or nFeatures')) AS DECIMAL(38,0)) END""".stripMargin))
    val assigned = scoredPerClass
      .groupBy(idCol)
      .agg(min(struct(col("g"), col("y"))).as("_best"))
      .select(col(idCol), col("_best.y").as("pred_class"))

    // the zero-vector argmin, a model constant: min over classes of
    // norm2_c * 1e9 DIV n_c^2, ties to the smaller label
    val emptyPred = model.classes
      .map(c => ((c.norm2 * BigInt(1000000000)) / (BigInt(c.n) * BigInt(c.n)), c.label))
      .min._2
    docs
      .join(assigned, Seq(idCol), "left")
      .withColumn("pred_class", coalesce(col("pred_class"), lit(emptyPred)))
  }

  /** fit + classify in one call: train on the rows of `docs` matched by
    * `labeledWhere` (the labeled sample), score everything.
    */
  def fitClassify(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      label: Column,
      labeledWhere: Column,
      nFeatures: Int = 256
  ): DataFrame =
    classify(
      docs,
      idCol,
      textCol,
      fitCentroid(docs.where(labeledWhere), idCol, textCol, label, nFeatures))
}
