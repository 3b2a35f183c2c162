package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * (default sf0.1) and prints one JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  * A warm-up action first so JIT/classloading isn't billed to the first
  * query; queries run in sorted name order for stable comparisons.
  */
object Bench {

  /** Fixed headline set: the "value" metric sums ONLY these, so the
    * recorded number stays comparable across rounds even as the query
    * inventory grows. Chosen to span scan/filter, shuffle agg, broadcast
    * join, window, top-k, text, dedup, and the retrieval composites.
    */
  val Headline: Seq[String] = SparkEntry.tagged(SparkEntry.QuerySpec.Headline)

  /** Steady-state re-measure: these queries bill one-time index builds /
    * first-touch caches (FTS postings, IVF cells) to their first run. A
    * second run with indexes warm is the honest per-query latency;
    * headline_total keeps the FIRST-run numbers so the metric stays
    * comparable across rounds (the build cost is real ingest work).
    */
  private[graft] val Steady: Seq[String] = SparkEntry.tagged(SparkEntry.QuerySpec.Steady)

  /** The engine's only remaining unpartitioned windows run over BOUNDED
    * inputs (<= k-row top-k lists in HybridSearch.rrf / ContextAssembly;
    * audited round 2 — the unbounded case, global NTILE, is a two-pass
    * distributed rank now). WindowExec's single-partition warning is a
    * false alarm for those, so the driver mains drop that one logger to
    * ERROR; library users keep the warning for their own queries.
    */
  private[graft] def silenceBoundedWindowWarning(): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR
    )
    // iterative operators RELEASE superseded localCheckpoint rounds on
    // purpose (Checkpoints.release); Spark warns per released RDD that
    // its truncated lineage cannot recompute — true and intended, the
    // round is never referenced again
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR
    )
  }

  /** The noise-canary probe: a FIXED-WORK job — 200M-row arithmetic sum
    * over a pinned 32-partition range, no IO, no data dependence. ONE
    * definition behind the bench's in-artifact `calibration_sec`, which is
    * also what the BASELINE.md load-normalization band is recalibrated
    * from, so the band can never be re-measured against a silently
    * different workload.
    */
  private[graft] def calProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200000000L, 1L, 32).selectExpr("sum(id % 97)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The bench session. Probe wall-time depends on executor thread
    * count, so the calibration probe and the queries it calibrates run in
    * this one session; the default is 32 — the configuration every
    * BASELINE.md band and bench artifact was recorded under
    * (`local[32]`).
    */
  private[graft] def benchSession(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = benchSession("graft-bench")
    silenceBoundedWindowWarning()

    // warm-up: JIT, codegen, parquet footer caches
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()

    // Noise canary (VERDICT r8 #1): a FIXED-WORK job — 200M-row arithmetic
    // sum over a pinned 32-partition range, no IO, no data dependence —
    // timed 3x after warm-up, median emitted as `calibration_sec`. The
    // work is identical every round and every environment, so cross-round
    // comparison can normalize container load out of the artifact itself:
    // a per-query delta only counts as a regression if it exceeds the
    // calibration ratio between the two runs (BASELINE.md records the
    // quiet-band calibration this compares against). Three of the last
    // four driver-side benches ran ~1.5x hot vs the builder's quiet band
    // on identical code; this field makes that visible in-artifact.
    def calProbe(): Double = Bench.calProbe(spark)
    val calibration = Seq(calProbe(), calProbe(), calProbe()).sorted.apply(1)
    // Interleaved samples (VERDICT r9 #1): the single start-of-run
    // median cannot see a MID-run load spike — round 9's one unexplained
    // number (q_semdedup 8.2 s vs a 3.2 s quiet band under a quiet start
    // calibration) is exactly the blind spot. One probe lands after each
    // timing pass; a sample far above the start value marks the passes
    // it brackets as load-suspect.
    val calSamples = scala.collection.mutable.ArrayBuffer[(String, Double)]("start" -> calibration)

    // failures record -1.0, never elapsed-to-failure (which would read as
    // a plausible fast run in the JSON)
    def timeQuery(tag: String, name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); name -> (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $tag $name failed: ${e.getMessage}")
          name -> -1.0
      }
    }

    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val results = sorted.map { case (name, fn) => timeQuery("query", name, fn) }
    calSamples += "after_first_pass" -> calProbe()
    // Median-of-3: two more passes, then the per-query median across all
    // three. Run 1 stays the recorded "queries"/"headline_total" (it bills
    // one-time index builds — real ingest work — and is comparable with
    // earlier rounds); the medians are the noise-resistant per-query
    // numbers for round-over-round comparison (container-load swings of
    // 2-4x on sub-second queries made single-run diffs archaeology).
    val rerunA = sorted.map { case (name, fn) => timeQuery("rerunA", name, fn) }.toMap
    calSamples += "after_rerun_a" -> calProbe()
    val rerunB = sorted.map { case (name, fn) => timeQuery("rerunB", name, fn) }.toMap
    calSamples += "after_rerun_b" -> calProbe()
    // median over the successful runs; -1 only if every run failed
    val medians = results.map { case (name, first) =>
      val ok = Seq(first, rerunA(name), rerunB(name)).filter(_ >= 0).sorted
      name -> (if (ok.isEmpty) -1.0 else ok(ok.length / 2))
    }
    val steady = Steady.map(name => timeQuery("steady", name, SparkEntry.queries(name)))
    def jmap(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    // End-of-run retime of the heaviest queries (VERDICT r9 #1): each
    // retime is BRACKETED by calibration probes, so a median that ran
    // hot mid-pass gets one load-attributable second reading — if the
    // bracketing probes sit in the quiet band and the retime matches
    // the builder's quiet number, the pass-time median was load; if the
    // retime stays high under quiet probes, the regression is real.
    val retimes = medians.sortBy(-_._2).take(2).map { case (name, med) =>
      val before = calProbe()
      val (_, rt) = timeQuery("retime", name, SparkEntry.queries(name))
      val after = calProbe()
      name -> f"""{"median":$med%.3f,"retime":$rt%.3f,"cal_before":$before%.3f,"cal_after":$after%.3f}"""
    }
    val retimeJson = retimes.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val calSamplesJson = jmap(calSamples.toSeq)
    val qs = jmap(results)
    val steadyJson = jmap(steady)
    val mediansJson = jmap(medians)
    // exclude failure sentinels from the sums (a failed query must make
    // the totals look suspicious-high via the driver's correctness gate,
    // not quietly shrink them)
    val headline = results.filter(r => Headline.contains(r._1) && r._2 >= 0).map(_._2).sum
    val headlineMedian = medians.filter(r => Headline.contains(r._1) && r._2 >= 0).map(_._2).sum
    val total = results.filter(_._2 >= 0).map(_._2).sum
    val scalars =
      f""""metric":"headline_total","value":$headline%.3f,"unit":"sec","headline_median":$headlineMedian%.3f,"all_queries_total":$total%.3f,"n_queries":${results.length},"calibration_sec":$calibration%.3f,"calibration_samples":$calSamplesJson,"retime":$retimeJson,"sf":"$sfDir""""
    // Full artifact (first-run + median + steady maps) goes to a FILE —
    // the r4 stdout capture truncated a ~7KB line, cutting the first ~20
    // queries (VERDICT r4 #8). Round-5 evidence (BENCH_r05.json "tail"):
    // the driver keeps the LAST ~2.2 KB of stdout, so the printed line is
    // truncated from the FRONT — the only way `parsed` comes back non-null
    // is a line SHORT enough to survive whole. Print scalars + the
    // 20-query headline median map (~1 KB); the full 100+-query maps live
    // only in the file.
    val fullPath = "BENCH_FULL.json"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullPath),
      s"""{$scalars,"queries":$qs,"queries_median":$mediansJson,"steady":$steadyJson}\n"""
    )
    val headlineMedians = jmap(medians.filter(m => Headline.contains(m._1)))
    println(
      s"""{$scalars,"queries":$headlineMedians,"queries_kind":"median_of_3_headline_subset","steady":$steadyJson,"full":"$fullPath"}"""
    )
    spark.stop()
  }
}
