package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.{GraftConfig, RestServer}
import graft.operators.{Chunker, ContextAssembly, Embedder, FtsIndex, HybridSearch, VectorSearch}
import graft.pipeline.{Pipeline, Retriever, SearchMode}
import graft.sources.Catalog
import graft.sources.pdf.{PdfParser, PdfText}

import Main.{Result, deleteTree, dirBytes, mapper, median, nowMs, percentile}

/** The workloads, and the layer decomposition that a traced run adds to
  * each of them.
  */
object Workloads {

  // Input sizes, fixed so that every seed does the same amount of work.
  private val IngestColdDocs = 100
  private val IngestBatches = 2
  private val BatchDocs = 10
  private val SearchColdDocs = 50
  private val Modes = Seq("vector", "keyword", "hybrid", "context")
  // Measured cycles per run, at the least. Later cycles run warmer, so the
  // count must not follow the machine's speed of the moment: two cycles
  // outlast any --seconds up to twice the cycle time (9-17 s on 4 cores).
  // A traced run needs two to trace every position once.
  private val MinCycles = 2

  def config(wh: Path): GraftConfig = GraftConfig(warehouseDir = wh.toString)

  /** CPU time of every thread of this JVM: Spark's tasks, the driver,
    * the JIT compiler and the garbage collector. Time the host takes the
    * CPUs away (steal) is not billed to it, so it grows less than wall
    * time when the host is busy.
    */
  private def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  private def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum.toDouble

  // ------------------------------------------------------------- corpus

  /** Files offered to the cold ingest and to each incremental batch. A
    * batch mixes new files (about 5% hostile), two already-ingested files
    * under new names and one previously failed file under a new name.
    */
  final case class Plan(gen: Corpus.Generator, cold: Seq[Corpus.Doc], batches: Seq[Seq[Corpus.Doc]],
      needles: Seq[Corpus.Doc]) {
    def valid: Seq[Corpus.Doc] = (cold ++ batches.flatten).filter(_.kind == "valid")
  }

  private val HostileKinds = Seq("encrypted", "truncated", "notpdf", "duplicate")

  def plan(seed: Long, nCold: Int, nBatches: Int, batchNew: Int): Plan = {
    val g = new Corpus.Generator(seed)
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val valid = mutable.ArrayBuffer.empty[Corpus.Doc]
    val failedPool = mutable.ArrayBuffer.empty[Corpus.Doc]
    var nextValid = 0
    var nextHostile = 0
    var offered = 0
    def fresh(n: Int): Seq[Corpus.Doc] = (0 until n).map { _ =>
      offered += 1
      if (offered % 20 == 10) {
        val kind = HostileKinds(nextHostile % HostileKinds.size)
        nextHostile += 1
        val d = g.hostileDoc(nextHostile, kind, valid(rnd.nextInt(valid.size)))
        if (Corpus.mustFail(kind)) failedPool += d
        d
      } else {
        val d = g.validDoc(nextValid)
        nextValid += 1
        valid += d
        d
      }
    }
    val cold = fresh(nCold)
    val needles = mutable.ArrayBuffer.empty[Corpus.Doc]
    val batches = (0 until nBatches).map { b =>
      val before = valid.toIndexedSeq
      val news = fresh(batchNew)
      val newValid = news.filter(_.kind == "valid")
      needles += newValid(rnd.nextInt(newValid.size))
      val again = Seq.fill(2)(before(rnd.nextInt(before.size)))
        .map(d => d.copy(name = s"r$b-${rnd.nextInt(1000)}-${d.name}", kind = "duplicate"))
      val failedAgain = failedPool.headOption.toSeq.map(d => d.copy(name = s"f$b-${d.name}"))
      news ++ again.distinctBy(_.name) ++ failedAgain
    }
    Plan(g, cold, batches, needles.toSeq)
  }

  /** Writes the plan's files: cold/ and batch-N/ under `dir`. */
  private def writePlan(pl: Plan, dir: Path): Plan = {
    Corpus.write(dir.resolve("cold"), pl.cold)
    pl.batches.zipWithIndex.foreach { case (b, i) => Corpus.write(dir.resolve(s"batch-$i"), b) }
    pl
  }

  /** A seeded query of 2-4 terms drawn from the corpus vocabulary. */
  private def queryText(g: Corpus.Generator, rnd: java.util.SplittableRandom): String =
    g.words(rnd, 2 + rnd.nextInt(3)).mkString(" ")

  private def histogram(p: Pipeline): Map[String, Long] =
    p.stats().collect().map(r => r.getAs[String]("status") -> r.getAs[Long]("n")).toMap

  private def uniqueBytes(files: Seq[Corpus.Doc]): Long =
    Corpus.distinctContent(files).map(_.bytes.length.toLong).sum

  // ------------------------------------------------------------- ingest

  /** One measured operation: its position in the cycle, its kind (the
    * ingest step, search mode or battery query), its time and whether it
    * was traced.
    */
  final case class Op(pos: Int, kind: String, ms: Double, traced: Boolean)

  /** The operations of one ingest cycle (position 0 is the cold ingest,
    * position 1 + b incremental batch b) and the warehouse's bytes per
    * distinct input byte after it.
    */
  final case class Cycle(ops: Seq[Op], storeRatio: Double)

  /** One cold `processDirectory` into the empty warehouse `wh`, then every
    * incremental batch into it, each batch timed from the
    * `processDirectory` call until its needle search returns. Checks each
    * needle and, at the end, the status histogram against the manifest.
    */
  private def ingestCycle(spark: SparkSession, trace: Trace, res: Result, pl: Plan, corpus: Path,
      wh: Path, tracedOp: Int => Boolean): Cycle = {
    val cfg = config(wh)
    val p = new Pipeline(spark, cfg)
    val r = new Retriever(spark, p, cfg)
    val cold = res.attempt("cold ingest") {
      trace.setEnabled(tracedOp(0))
      val c0 = nowMs
      trace.op("ingest.cold", "pipeline")(p.processDirectory(corpus.resolve("cold").toString))
      Op(0, "cold", nowMs - c0, tracedOp(0))
    }
    val batches = pl.batches.indices.flatMap { b =>
      val needle = pl.needles(b).needle.get
      res.attempt(s"incremental batch $b") {
        trace.setEnabled(tracedOp(1 + b))
        val b0 = nowMs
        val hits = trace.op("ingest.batch", "pipeline") {
          p.processDirectory(corpus.resolve(s"batch-$b").toString)
          r.keywordSearch(needle, 5).collect()
        }
        val op = Op(1 + b, "batch", nowMs - b0, tracedOp(1 + b))
        res.check(hits.nonEmpty && hits.head.getAs[String]("text").contains(needle),
          s"needle $needle not ranked first after batch $b")
        op
      }
    }
    trace.setEnabled(false)
    val offered = pl.cold ++ pl.batches.flatten
    val expected = Corpus.expectedStatus(offered)
    val hist = histogram(p)
    res.check(hist == expected, s"documents status histogram $hist != manifest $expected")
    Cycle(cold.toSeq ++ batches, dirBytes(wh)._1.toDouble / uniqueBytes(offered))
  }

  private def dropWarehouse(spark: SparkSession, wh: Path): Unit = {
    new Pipeline(spark, config(wh)).flush()
    deleteTree(wh)
  }

  /** Operation `pos` of measured cycle `cycle` is traced in a traced run
    * when their sum is odd: operations alternate within a cycle, and every
    * position is traced in one of two consecutive cycles and untraced in
    * the other, so both sides of `trace.overhead_ratio` are equally warm.
    */
  private def tracedOp(traced: Boolean, cycle: Int, pos: Int): Boolean = traced && (cycle + pos) % 2 == 1

  /** Geometric mean over operation positions of the traced over the
    * untraced median time at that position.
    */
  private def overheadRatio(ops: Seq[Op]): Double = {
    val logs = ops.groupBy(_.pos).values.toSeq.flatMap { at =>
      val (t, u) = at.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some(math.log(median(t.map(_.ms)) / median(u.map(_.ms))))
    }
    math.exp(logs.sum / logs.size)
  }

  /** An untimed warm-up cycle in set-up, then measured cycles of the same
    * corpus until the time is up, whole cycles only and at least
    * `MinCycles`.
    */
  def ingest(spark: SparkSession, trace: Trace, res: Result, work: Path, seed: Long,
      seconds: Double, traced: Boolean, tables: Option[String]): Unit = {
    val corpus = work.resolve("corpus")
    val pl = res.setupStep("corpus")(writePlan(plan(seed, IngestColdDocs, IngestBatches, BatchDocs), corpus))
    // the warm-up cycle pays JIT compilation and code generation
    val warmWh = work.resolve("wh-warm")
    val warm = res.setupStep("warm-up") {
      val c = ingestCycle(spark, trace, res, pl, corpus, warmWh, _ => false)
      dropWarehouse(spark, warmWh)
      c
    }
    res.setupEndMs = System.currentTimeMillis().toDouble

    val cycles = mutable.ArrayBuffer.empty[Cycle]
    val gc0 = gcMs()
    val cpu0 = cpuMs()
    val start = nowMs
    var wh: Path = null
    while ((nowMs - start) / 1000 < seconds || cycles.size < MinCycles) {
      if (wh != null) dropWarehouse(spark, wh)
      wh = work.resolve(s"wh-${cycles.size}")
      val c = cycles.size
      cycles += ingestCycle(spark, trace, res, pl, corpus, wh, tracedOp(traced, c, _))
    }
    val ops = cycles.flatMap(_.ops).toSeq
    val cpuPerOp = (cpuMs() - cpu0) / ops.size
    val gcPerOp = (gcMs() - gc0) / ops.size
    res.info("ingest_corpus") = s"${pl.cold.size} cold files (${uniqueBytes(pl.cold)} bytes), " +
      s"$IngestBatches batches of ${pl.batches.head.size} files, ${cycles.size} cycles after 1 warm-up"
    // cold / batch times of the warm-up cycle, then of each measured one
    // (a * marks a traced operation)
    res.info("ingest_ms") = (warm +: cycles).map(_.ops.map(o => f"${o.ms}%.0f" + (if (o.traced) "*" else ""))
      .mkString(" ")).mkString("; ")

    if (!traced) {
      val batchMs = ops.filter(_.kind == "batch").map(_.ms)
      val coldMs = ops.filter(_.kind == "cold").map(_.ms)
      val offered = pl.cold.size + pl.batches.map(_.size).sum
      res.metric("latency_p50_ms", median(batchMs), "ms")
      // files offered per second of ingest time over whole cycles: the cold
      // ingest and its incremental batches together
      res.metric("throughput_per_s", cycles.size * offered / (ops.map(_.ms).sum / 1000), "1/s")
      res.metric("ingest_docs_per_s", pl.cold.size / (median(coldMs) / 1000), "docs/s")
      res.metric("ingest_incremental_s", median(batchMs) / 1000, "s")
      res.metric("store_bytes_per_input_byte", median(cycles.map(_.storeRatio).toSeq), "ratio")
      res.metric("cpu_ms_per_op", cpuPerOp, "ms")
    } else {
      res.metric("trace.overhead_ratio", overheadRatio(ops), "ratio")
      spanStats(trace, res, _.startsWith("ingest."), gcPerOp)
      layers(spark, trace, res, work, corpus.resolve("cold"), config(wh), pl.gen, seed, tables)
    }
    dropWarehouse(spark, wh)
  }

  // ------------------------------------------------------------- search

  final case class Req(mode: String, query: String, titleFilter: Option[String],
      needle: Option[String], selfId: Option[String], maxTokens: Int) {
    def body: String = {
      val n = mapper.createObjectNode()
      n.put("query", query)
      if (mode == "context") n.put("max_tokens", maxTokens)
      else {
        n.put("mode", mode); n.put("limit", 10)
        titleFilter.foreach(n.put("title_filter", _))
      }
      n.toString
    }
    def path: String = if (mode == "context") "/search/context" else "/search"
  }

  /** A single-connection HTTP client on loopback. */
  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def post(r: Req): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
  }

  private def terms(s: String): Array[String] = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Checks one response to `r`, recording every wrong answer. */
  private def checkResponse(res: Result, r: Req, body: String): Unit = {
    val node = mapper.readTree(body)
    if (r.mode == "context") {
      val ctx = node.path("context").asText("")
      // blocks after the document list are "[Source: title]\ntext"
      val blocks = ctx.split("\n\n---\n\n").drop(1)
      val tokens = blocks.map(b => b.dropWhile(_ != '\n').split("\\s+").count(_.nonEmpty) * 1.3).sum
      res.check(ctx.startsWith("Documents referenced:") && tokens <= r.maxTokens,
        f"context for '${r.query}' holds $tokens%.1f tokens > max_tokens ${r.maxTokens}")
    } else {
      val hits = node.elements().asScala.toSeq
      def text(i: Int) = hits(i).path("text").asText
      res.check(hits.size <= 10, s"${r.mode} '${r.query}' returned ${hits.size} > 10 hits")
      r.titleFilter.foreach { t =>
        res.check(hits.forall(_.path("document_title").asText.toLowerCase.contains(t)),
          s"${r.mode} '${r.query}' title_filter=$t returned a hit outside the filter")
      }
      (r.mode, r.needle) match {
        case ("keyword", Some(nd)) =>
          res.check(hits.nonEmpty && text(0).contains(nd), s"keyword needle $nd not ranked first")
        case (_, Some(nd)) =>
          res.check(hits.indices.exists(i => text(i).contains(nd)), s"${r.mode} needle $nd not returned")
        case ("keyword", None) =>
          val qs = terms(r.query).toSet
          res.check(hits.indices.forall(i => terms(text(i)).exists(qs)),
            s"keyword '${r.query}' returned a chunk with none of its terms")
        case _ =>
      }
      r.selfId.foreach { id =>
        res.check(hits.nonEmpty && hits.head.path("id").asText == id,
          s"vector self-retrieval of chunk $id returned ${hits.headOption.map(_.path("id").asText)}")
      }
      if (r.mode == "vector" && r.titleFilter.isEmpty)
        res.check(hits.size == 10, s"vector '${r.query}' returned ${hits.size} hits, expected 10")
    }
  }

  private val MixSize = 8

  /** Geometric mean of the per-mode median latencies, so that a change
    * to any one mode moves it, the fast vector mode included.
    */
  private def mixP50(ops: Seq[Op]): Double =
    math.exp(Modes.map(m => math.log(median(ops.filter(_.kind == m).map(_.ms)))).sum / Modes.size)

  /** The request sequence: a fixed cycle of eight request shapes, so
    * every run sends the same mix (a quarter of it with a title filter);
    * the query terms, needles and chunks are seeded draws.
    */
  private def requests(pl: Plan, chunks: IndexedSeq[(String, String)], seed: Long, n: Int): IndexedSeq[Req] = {
    val rnd = new java.util.SplittableRandom(seed * 31 + 7)
    val docs = pl.valid.toIndexedSeq
    def q = pl.gen.words(rnd, 3).mkString(" ")
    def topic = Some(Corpus.Topics(rnd.nextInt(Corpus.Topics.size)))
    def needle = docs(rnd.nextInt(docs.size)).needle.get
    (0 until n).map { i =>
      i % MixSize match {
        case 0 => Req("vector", q, topic, None, None, 0)
        case 1 => Req("keyword", q, topic, None, None, 0)
        case 2 => Req("hybrid", q, None, None, None, 0)
        case 3 => Req("context", q, None, None, None, 600)
        case 4 =>
          val (id, text) = chunks(rnd.nextInt(chunks.size))
          Req("vector", text, None, None, Some(id), 0)
        case 5 => val nd = needle; Req("keyword", nd, None, Some(nd), None, 0)
        case 6 => val nd = needle; Req("hybrid", nd, None, Some(nd), None, 0)
        case _ => Req("context", q, None, None, None, 1200)
      }
    }
  }

  /** Builds a warehouse from `pl` (files under `dir`) in one cold ingest
    * plus every batch.
    */
  private def buildWarehouse(spark: SparkSession, pl: Plan, dir: Path, wh: Path): Unit = {
    val p = new Pipeline(spark, config(wh))
    p.processDirectory(dir.resolve("cold").toString)
    pl.batches.indices.foreach(i => p.processDirectory(dir.resolve(s"batch-$i").toString))
  }

  /** A closed loop of one client sending the request mix to an in-process
    * `RestServer` over a read-only warehouse built in set-up.
    */
  def search(spark: SparkSession, trace: Trace, res: Result, work: Path, seed: Long,
      seconds: Double, traced: Boolean, tables: Option[String]): Unit = {
    val corpus = work.resolve("corpus")
    val pl = res.setupStep("corpus")(writePlan(plan(seed, SearchColdDocs, 1, BatchDocs), corpus))
    val wh = work.resolve("wh")
    res.setupStep("warehouse")(buildWarehouse(spark, pl, corpus, wh))
    val cfg = config(wh)
    val expected = Corpus.expectedStatus(pl.cold ++ pl.batches.flatten)
    val hist = histogram(new Pipeline(spark, cfg))
    res.check(hist == expected, s"documents status histogram $hist != manifest $expected")
    val chunks = new Catalog(spark, wh.toString).read("chunks").select("id", "text").orderBy("id")
      .collect().map(r => r.getString(0) -> r.getString(1)).toIndexedSeq
    val server = new RestServer(spark, cfg).start(0)
    try {
      val client = new Client(server.getAddress.getPort)
      val reqs = requests(pl, chunks, seed, 2000)
      // the warm-up sends the mix's first request of each mode
      val warmup = Modes.size
      res.setupStep("warm-up")(reqs.take(warmup).foreach(client.post))
      res.setupEndMs = System.currentTimeMillis().toDouble

      val lat = mutable.ArrayBuffer.empty[Op]
      val gc0 = gcMs()
      val cpu0 = cpuMs()
      val start = nowMs
      var i = warmup
      // whole cycles of the mix only, at least MinCycles
      def cycle = (i - warmup) / MixSize
      while ((nowMs - start) / 1000 < seconds || (i - warmup) % MixSize != 0 || cycle < MinCycles) {
        val r = reqs(i)
        val pos = i % MixSize
        val isTraced = tracedOp(traced, cycle, pos)
        trace.setEnabled(isTraced)
        res.attempt(s"${r.mode} request") {
          val r0 = nowMs
          val (code, body) = trace.op(s"rest.${r.mode}", "rest")(client.post(r))
          val ms = nowMs - r0
          if (code != 200) {
            res.failed += 1
            res.check(ok = false, s"${r.mode} '${r.query}' -> HTTP $code ${body.take(200)}")
          } else {
            lat += Op(pos, r.mode, ms, isTraced)
            checkResponse(res, r, body)
          }
        }
        i += 1
      }
      trace.setEnabled(false)
      val elapsed = (nowMs - start) / 1000
      val cpuPerOp = (cpuMs() - cpu0) / (i - warmup)
      val gcPerOp = (gcMs() - gc0) / (i - warmup)
      res.info("search_warehouse") = s"${chunks.size} chunks from ${pl.cold.size} cold + " +
        s"${pl.batches.map(_.size).sum} incremental files; ${lat.size} requests after $warmup warm-up"
      if (!traced) {
        val ops = lat.toSeq
        res.metric("latency_p50_ms", mixP50(ops), "ms")
        res.metric("throughput_per_s", ops.size / elapsed, "1/s")
        Modes.foreach(m => res.metric(s"${m}_p50_ms", median(ops.filter(_.kind == m).map(_.ms)), "ms"))
        res.metric("search_p90_ms", percentile(ops.map(_.ms), 0.9), "ms")
        res.metric("store_bytes_per_input_byte",
          dirBytes(wh)._1.toDouble / uniqueBytes(pl.cold ++ pl.batches.flatten), "ratio")
        res.metric("cpu_ms_per_op", cpuPerOp, "ms")
      } else {
        res.metric("trace.overhead_ratio", overheadRatio(lat.toSeq), "ratio")
        spanStats(trace, res, _.startsWith("rest."), gcPerOp)
        layers(spark, trace, res, work, corpus.resolve("cold"), cfg, pl.gen, seed, tables)
      }
    } finally server.stop(0)
  }

  // ------------------------------------------------------------- battery

  /** One pass of the 20 `Bench.Headline` queries in the given order, each
    * timed with `.count()`; an operation's position is its query's index
    * in `Bench.Headline`. Traced queries are split into the call of their
    * `SparkEntry` function (build), planning and execution.
    */
  private def batteryPass(spark: SparkSession, trace: Trace, res: Result, tables: String,
      order: Seq[String], traced: String => Boolean): Seq[(Op, Long)] = {
    val out = order.flatMap { n =>
      val fn = graft.SparkEntry.queries(n)
      val isTraced = traced(n)
      res.attempt(n) {
        trace.setEnabled(isTraced)
        val q0 = nowMs
        val c = trace.op(s"battery.$n", "sparkentry") {
          if (!isTraced) fn(spark, tables).count()
          else {
            val counted = trace.span("sparkentry.build", "sparkentry")(fn(spark, tables)).groupBy().count()
            trace.span("spark.plan", "spark")(counted.queryExecution.executedPlan)
            trace.span("spark.exec", "spark")(counted.collect().head.getLong(0))
          }
        }
        (Op(graft.Bench.Headline.indexOf(n), n, nowMs - q0, isTraced), c)
      }
    }
    trace.setEnabled(false)
    out
  }

  /** Row counts per query, and the DuckDB oracle SQL for the ones that
    * have an entry, for the caller to compare.
    */
  private def recordCounts(res: Result, counts: Map[String, Long]): Unit = {
    val got = mapper.createObjectNode()
    counts.foreach { case (n, c) => got.put(n, c) }
    val sql = mapper.createObjectNode()
    counts.keys.toSeq.sorted.foreach(n => graft.OracleSql.all.get(n).foreach(sql.put(n, _)))
    res.extra("battery_counts") = got
    res.extra("oracle_sql") = sql
  }

  /** The 20 headline `SparkEntry` queries over seeded tables: an untimed
    * warm-up pass, then passes in a seeded order until the time is up.
    */
  def battery(spark: SparkSession, trace: Trace, res: Result, work: Path, seed: Long,
      seconds: Double, traced: Boolean, tablesDir: Option[String]): Unit = {
    val tables = tablesDir.getOrElse(throw new IllegalArgumentException("battery needs --tables"))
    val names = graft.Bench.Headline
    val warm = batteryPass(spark, trace, res, tables, names, _ => false)
    res.setupEndMs = System.currentTimeMillis().toDouble

    val passes = mutable.ArrayBuffer.empty[Seq[(Op, Long)]]
    val gc0 = gcMs()
    val cpu0 = cpuMs()
    val start = nowMs
    while ((nowMs - start) / 1000 < seconds || passes.size < MinCycles) {
      val c = passes.size
      val order = new scala.util.Random(seed * 1009 + c).shuffle(names)
      passes += batteryPass(spark, trace, res, tables, order, n => tracedOp(traced, c, names.indexOf(n)))
    }
    val ops = passes.flatten.map(_._1).toSeq
    val cpuPerOp = (cpuMs() - cpu0) / ops.size
    val gcPerOp = (gcMs() - gc0) / ops.size
    val counts = warm.map { case (op, c) => op.kind -> c }.toMap
    passes.flatten.foreach { case (op, c) =>
      res.check(counts.get(op.kind).contains(c),
        s"${op.kind} row count $c differs from the warm-up pass's ${counts.get(op.kind)}")
    }
    recordCounts(res, counts)
    res.info("battery") = s"${names.size} queries x ${passes.size} passes"
    if (!traced) {
      val totals = passes.map(_.map(_._1.ms).sum).toSeq
      res.metric("latency_p50_ms", median(ops.map(_.ms)), "ms")
      res.metric("throughput_per_s", ops.size / (totals.sum / 1000), "1/s")
      res.metric("battery_total_s", median(totals) / 1000, "s")
      res.metric("cpu_ms_per_op", cpuPerOp, "ms")
    } else {
      val tracedMs = names.map(n => median(ops.filter(o => o.traced && o.kind == n).map(_.ms)))
      names.zip(tracedMs).foreach { case (n, ms) => res.metric(s"battery.${n}_ms", ms, "ms") }
      val rep = trace.report()
      // one whole pass: every query at its traced median
      res.metric("sparkentry.battery_ms", tracedMs.sum, "ms")
      res.metric("sparkentry.battery_jobs",
        rep.ops.filter(_.name.startsWith("battery.")).map(_.jobs).sum.toDouble * names.size / ops.count(_.traced),
        "count")
      res.metric("trace.overhead_ratio", overheadRatio(ops), "ratio")
      spanStats(trace, res, _.startsWith("battery."), gcPerOp)
      // here build is the SparkEntry function call (analysis plus eager
      // jobs), plan is executedPlan and exec the counting action
      val nOps = math.max(1, rep.ops.count(_.name.startsWith("battery.")))
      Seq("driver.build_ms_per_op" -> "sparkentry.build", "driver.plan_ms_per_op" -> "spark.plan",
        "driver.exec_ms_per_op" -> "spark.exec").foreach { case (metric, span) =>
        res.metric(metric, rep.spans.filter(_.name == span).map(_.ms).sum / nOps, "ms")
      }
      // the layer probe: a small seeded corpus and warehouse of its own
      val corpus = work.resolve("corpus")
      val pl = writePlan(plan(seed, 40, 1, 10), corpus)
      val wh = work.resolve("probe-wh")
      buildWarehouse(spark, pl, corpus, wh)
      layers(spark, trace, res, work, corpus.resolve("cold"), config(wh), pl.gen, seed, None)
    }
  }

  // ------------------------------------------------------------- layers

  /** Per-operation engine statistics of the workload's own traced ops:
    * build is driver time outside Spark jobs and planning, plan is
    * Catalyst optimization and physical planning, exec is time with a
    * Spark job running.
    */
  private def spanStats(trace: Trace, res: Result, isOp: String => Boolean, gcPerOp: Double): Unit = {
    val ops = trace.report().ops.filter(o => isOp(o.name))
    val n = math.max(1, ops.size).toDouble
    def per(f: Trace.OpStats => Double) = ops.map(f).sum / n
    res.metric("driver.build_ms_per_op", per(_.buildMs), "ms")
    res.metric("driver.plan_ms_per_op", per(_.planMs), "ms")
    res.metric("driver.exec_ms_per_op", per(_.execMs), "ms")
    res.metric("spark.jobs_per_op", per(_.jobs), "count")
    res.metric("spark.stages_per_op", per(_.stages), "count")
    res.metric("spark.tasks_per_op", per(_.tasks), "count")
    res.metric("spark.executor_run_ms_per_op", per(_.runMs), "ms")
    res.metric("spark.executor_cpu_ms_per_op", per(_.cpuMs), "ms")
    val cores = Runtime.getRuntime.availableProcessors()
    res.metric("spark.executor_busy_ratio", per(_.runMs) / (per(_.wallMs) * cores), "ratio")
    res.metric("spark.shuffle_bytes_per_op", per(_.shuffleBytes), "bytes")
    res.metric("spark.spill_bytes_per_op", per(_.spillBytes), "bytes")
    res.metric("spark.gc_ms_per_op", gcPerOp, "ms")
  }

  /** Decomposes ingest and search into direct calls to each module's
    * public functions, with a span around each call: PDF parse and
    * extract, chunking, embedding, catalog append and read, FTS build and
    * search, vector top-k, RRF fusion, context selection, each
    * `Retriever` mode, and the REST overhead over `Retriever` for the
    * same request. With `tables`, one traced pass of the headline
    * `SparkEntry` queries (JIT and one-time index builds included)
    * measures that layer too.
    */
  private def layers(spark: SparkSession, trace: Trace, res: Result, work: Path, pdfDir: Path,
      cfg: GraftConfig, gen: Corpus.Generator, seed: Long, tables: Option[String]): Unit = {
    import spark.implicits._
    val files = Files.list(pdfDir).iterator().asScala.toSeq.sortBy(_.toString)
    val ms = mutable.Map.empty[String, Double]
    def timed[T](name: String, layer: String)(body: => T): T = {
      val t0 = nowMs
      val v = trace.span(name, layer)(body)
      ms(name) = ms.getOrElse(name, 0.0) + (nowMs - t0)
      v
    }
    def total(n: String) = ms.getOrElse(n, 0.0)
    trace.setEnabled(true)

    // ingest side
    var bytes = 0L
    val docs = mutable.ArrayBuffer.empty[(String, String)]
    var rejected = 0
    val scratch = work.resolve("layers-wh")
    trace.op("layers.ingest", "bench") {
      files.foreach { f =>
        val b = Files.readAllBytes(f)
        bytes += b.length
        val md = timed("sources.pdf.parse", "sources") {
          try Some(PdfText.extractMarkdown(PdfParser.parse(b)))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        md.filter(_.trim.nonEmpty) match {
          case Some(m) => docs += (f.getFileName.toString -> m)
          case None => rejected += 1
        }
      }
      val chunks = docs.toSeq.flatMap { case (id, m) =>
        timed("operators.chunker", "operators")(Chunker.chunk(m, cfg.chunking))
          .map(c => (s"$id-${c.chunkIndex}", id, c.text))
      }
      val df = chunks.toDF("id", "document_id", "text")
      val embedded = timed("operators.embedder", "operators") {
        Embedder.withEmbedding(df, "text", "embedding", cfg.embedding).localCheckpoint()
      }
      val catalog = new Catalog(spark, scratch.toString)
      timed("sources.catalog.append", "sources")(catalog.append(embedded, "chunks"))
      val (bw, fw) = dirBytes(scratch.resolve("chunks"))
      res.metric("sources.catalog.bytes_written", bw.toDouble, "bytes")
      res.metric("sources.catalog.files_written", fw.toDouble, "count")
      val idx = timed("operators.fts.build", "operators") {
        FtsIndex.build(catalog.read("chunks"), "id", "text")
      }
      res.metric("operators.fts.postings_rows", idx.postings.count().toDouble, "count")
      idx.postings.unpersist()
      res.metric("operators.chunker.chunks_per_doc", chunks.size.toDouble / math.max(1, docs.size), "count")
      res.metric("operators.embedder.rows", chunks.size.toDouble, "count")
    }
    deleteTree(scratch)
    res.metric("sources.pdf.parse_ms", total("sources.pdf.parse") / math.max(1, files.size), "ms")
    res.metric("sources.pdf.mb_per_s", bytes / 1e6 / (total("sources.pdf.parse") / 1000), "MB/s")
    res.metric("sources.extract.valid_ratio", docs.size.toDouble / math.max(1, files.size), "ratio")
    res.metric("sources.extract.rejected", rejected.toDouble, "count")
    res.metric("operators.chunker.ms", total("operators.chunker") / math.max(1, docs.size), "ms")
    res.metric("operators.embedder.ms", total("operators.embedder"), "ms")
    res.metric("sources.catalog.append_ms", total("sources.catalog.append"), "ms")
    res.metric("operators.fts.build_ms", total("operators.fts.build"), "ms")

    // search side
    val pipeline = new Pipeline(spark, cfg)
    val retriever = new Retriever(spark, pipeline, cfg)
    val embedder = Embedder.provider(cfg.embedding)
    val server = new RestServer(spark, cfg).start(0)
    val client = new Client(server.getAddress.getPort)
    val rnd = new java.util.SplittableRandom(seed * 131 + 3)
    val modes = Seq("vector" -> SearchMode.Vector, "keyword" -> SearchMode.Keyword,
      "hybrid" -> SearchMode.Hybrid, "context" -> SearchMode.Hybrid)
    var overhead = 0.0
    var candidates = 0.0
    var scanned = 0.0
    try {
      // one unrecorded request per mode pays the one-time costs (JIT,
      // index builds) on a workload that has not served searches yet
      val q0 = queryText(gen, rnd)
      modes.foreach { case (name, _) => client.post(Req(name, q0, None, None, None, 4000)) }
      val q = queryText(gen, rnd)
      trace.op("layers.search", "bench") {
        modes.foreach { case (name, mode) =>
          val r0 = nowMs
          client.post(Req(name, q, None, None, None, 4000))
          val restMs = nowMs - r0
          val r1 = nowMs
          timed(s"pipeline.retriever.$name", "pipeline") {
            if (name == "context") retriever.getContext(q, 4000)
            else retriever.search(q, mode, 10).collect()
          }
          overhead += (restMs - (nowMs - r1)) / modes.size
        }
        val chunks = timed("sources.catalog.read", "sources")(pipeline.catalog.read("chunks"))
        val qv = timed("operators.embedder.embed_one", "operators")(embedder.embedOne(q))
        val top = timed("operators.vector.topk", "operators") {
          VectorSearch.topK(chunks, "embedding", qv, 10, col("id"), Some(col("embedding").isNotNull),
            scorer = graft.functions.VectorFunctions.dotProduct).select("id", "score").collect()
        }
        scanned = chunks.where(col("embedding").isNotNull).count().toDouble / math.max(1, top.length)
        val idx = pipeline.ftsIndex
        val kw = timed("operators.fts.search", "operators")(FtsIndex.search(spark, idx, q, 40).collect())
        candidates = FtsIndex.scoreAll(spark, idx, q).count().toDouble
        val vDf = top.map(r => (r.getString(0), r.getDouble(1))).toSeq.toDF("id", "score")
        val kDf = kw.map(r => (r.getAs[String]("doc_id"), r.getAs[Double]("score"))).toSeq.toDF("id", "score")
        timed("operators.hybrid.rrf", "operators")(HybridSearch.rrf(vDf, kDf, "id", "score", 10).collect())
        val hits = retriever.search(q, SearchMode.Hybrid, 20).localCheckpoint()
        timed("operators.context.select", "operators") {
          ContextAssembly.selectWithinBudget(hits, "score", "id", 4000).collect()
        }
      }
    } finally server.stop(0)
    Modes.foreach(m => res.metric(s"pipeline.retriever.${m}_ms", total(s"pipeline.retriever.$m"), "ms"))
    // mean over the four modes
    res.metric("rest.overhead_ms", overhead, "ms")
    res.metric("sources.catalog.read_ms", total("sources.catalog.read"), "ms")
    res.metric("operators.embedder.embed_one_us", total("operators.embedder.embed_one") * 1000, "us")
    res.metric("operators.vector.topk_ms", total("operators.vector.topk"), "ms")
    res.metric("operators.vector.rows_scanned_per_result", scanned, "count")
    res.metric("operators.fts.search_ms", total("operators.fts.search"), "ms")
    res.metric("operators.fts.candidates_per_query", candidates, "count")
    res.metric("operators.hybrid.rrf_ms", total("operators.hybrid.rrf"), "ms")
    res.metric("operators.context.select_ms", total("operators.context.select"), "ms")

    tables.foreach { t =>
      val names = graft.Bench.Headline
      val order = new scala.util.Random(seed * 1009).shuffle(names)
      val pass = batteryPass(spark, trace, res, t, order, _ => true)
      pass.foreach { case (op, _) => res.metric(s"battery.${op.kind}_ms", op.ms, "ms") }
      recordCounts(res, pass.map { case (op, c) => op.kind -> c }.toMap)
      val ops = trace.report().ops.filter(_.name.startsWith("battery.")).takeRight(names.size)
      res.metric("sparkentry.battery_ms", pass.map(_._1.ms).sum, "ms")
      res.metric("sparkentry.battery_jobs", ops.map(_.jobs).sum.toDouble, "count")
    }
    trace.setEnabled(false)
  }
}
