package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark harness: one JVM runs one workload for one seed and writes
  * its metrics, checks and per-layer table as JSON (see perfbench/run.py,
  * which builds this, launches it and prints the result line).
  *
  * Arguments: --workload ingest|search|battery --seed N --seconds S
  * --trace 0|1 --work DIR --out FILE [--tables DIR] [--trace-out FILE]
  */
object Main {

  /** Everything one run reports. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    val extra = mutable.LinkedHashMap.empty[String, JsonNode]
    var attempted = 0L
    var failed = 0L
    var setupEndMs = 0.0

    def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

    /** Runs one step of set-up, adding its time to the `setup_ms` info line. */
    def setupStep[T](name: String)(body: => T): T = {
      val t0 = nowMs
      try body
      finally info("setup_ms") = (info.get("setup_ms").toSeq :+ f"$name ${nowMs - t0}%.0f").mkString(", ")
    }
    def check(ok: Boolean, what: => String): Unit =
      if (!ok && failures.size < 50) failures += what
      else if (!ok) failures(49) = s"(more failures) $what"

    /** Run one operation, counting it; a throw counts as failed. */
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          check(ok = false, s"$what threw ${e.toString.take(300)}")
          None
      }
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (q in [0, 1]). */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def nowMs: Double = System.nanoTime() / 1e6

  def dirBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try {
        val files = s.filter(f => Files.isRegularFile(f)).toArray.map(_.asInstanceOf[Path])
        val data = files.filterNot(f => { val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") })
        (data.map(f => Files.size(f)).sum, data.length)
      } finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  def session(work: Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val out = Paths.get(opts("out"))
    val tables = opts.get("tables")
    val cpus = Runtime.getRuntime.availableProcessors()
    val res = new Result
    res.info("nproc") = cpus.toString
    res.info("jvm") = System.getProperty("java.vm.name") + " " + System.getProperty("java.version")
    res.info("heap_max_mb") = (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString
    res.info("master") = s"local[$cpus]"

    Files.createDirectories(work)
    val spark = res.setupStep("spark")(session(work, cpus))
    res.info("spark") = spark.version
    val trace = new Trace(spark)
    try {
      workload match {
        case "ingest"  => Workloads.ingest(spark, trace, res, work, seed, seconds, traced, tables)
        case "search"  => Workloads.search(spark, trace, res, work, seed, seconds, traced, tables)
        case "battery" => Workloads.battery(spark, trace, res, work, seed, seconds, traced, tables)
        case other     => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        res.check(ok = false, s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      trace.setEnabled(false)
    }
    if (traced) {
      val rep = trace.report()
      trace.selfTimes().groupBy(_._1.layer).toSeq.sortBy(_._1).foreach { case (layer, ss) =>
        res.metric(s"self.$layer.ms", ss.map(_._2).sum, "ms")
      }
      opts.get("trace-out").foreach(p => mapper.writeValue(Paths.get(p).toFile, trace.toJson(rep)))
    }
    mapper.writeValue(out.toFile, toJson(res))
    spark.stop()
  }

  val mapper = new ObjectMapper()

  def toJson(r: Result): JsonNode = {
    val root = mapper.createObjectNode()
    val ms = root.putObject("metrics")
    r.metrics.foreach { case (k, (v, u)) =>
      val m = ms.putObject(k)
      if (v.isNaN || v.isInfinite) m.putNull("value") else m.put("value", v)
      m.put("unit", u)
    }
    val info = root.putObject("info")
    r.info.foreach { case (k, v) => info.put(k, v) }
    val failures = root.putArray("failures")
    r.failures.foreach(failures.add)
    root.put("attempted", r.attempted)
    root.put("failed", r.failed)
    root.put("setup_end_epoch_ms", r.setupEndMs)
    r.extra.foreach { case (k, v) => root.set[JsonNode](k, v) }
    root
  }
}
