package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracer for the traced run.
  *
  * Spans (name, layer, start, end, parent, op id) are recorded around the
  * benchmark's own calls into the program's public functions; the program
  * itself is never instrumented. A [[SparkListener]] and a
  * [[QueryExecutionListener]] record every job, stage, task and action
  * with wall-clock times, and [[report]] attributes them to the operation
  * whose root span was open when they started (operations run one at a
  * time, so the windows never overlap).
  *
  * While `enabled` is false, [[span]] and [[op]] only run their body and
  * both listeners are detached, so untraced operations pay nothing.
  */
final class Trace(spark: SparkSession) {

  final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
      startMs: Double, endMs: Double) {
    def ms: Double = endMs - startMs
  }
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long, recordsRead: Long)
  final case class Action(startMs: Long, planMs: Double)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var opId = -1
  private var nextSpan = 0
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private var enabled = false

  // epoch-anchored wall clock with nanosecond resolution
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time, -1L, e.stageIds)
      jobById.put(e.jobId, j); jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("optimization", "planning").flatMap(phases.get)
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      actions.add(Action(start, planning.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
    }
  }

  /** Attach or detach both listeners; spans are recorded only while on. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    enabled = on
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark)

  /** A span under the innermost open span of the current operation. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextSpan; nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      val t0 = nowMs
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans += Span(id, name, layer, parent, opId, t0, nowMs)
      }
    }

  /** The root span of one measured operation. */
  def op[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      opId += 1
      span(name, layer)(body)
    }

  /** Everything recorded so far, attributed per operation. */
  def report(): Trace.Report = {
    drain()
    val roots = spans.filter(_.parent == -1).sortBy(_.startMs).toSeq
    val jobSeq = jobs.toArray(Array.empty[Job]).toSeq
    val stageToJob = jobSeq.flatMap(j => j.stages.map(_ -> j.id)).toMap
    val taskSeq = tasks.toArray(Array.empty[Task]).toSeq
    val actionSeq = actions.toArray(Array.empty[Action]).toSeq
    def inside(r: Span, t: Double) = t >= r.startMs - 1 && t <= r.endMs + 1
    val perOp = roots.map { r =>
      val js = jobSeq.filter(j => inside(r, j.startMs.toDouble))
      val jobIds = js.map(_.id).toSet
      val ts = taskSeq.filter(t => stageToJob.get(t.stage).exists(jobIds))
      // union of job intervals clipped to the op: time with a job running
      val ivs = js.map(j => (math.max(j.startMs.toDouble, r.startMs),
        math.min(if (j.endMs < 0) r.endMs else j.endMs.toDouble, r.endMs))).sortBy(_._1)
      var execMs = 0.0; var cur = (Double.NaN, Double.NaN)
      ivs.foreach { iv =>
        if (cur._1.isNaN) cur = iv
        else if (iv._1 <= cur._2) cur = (cur._1, math.max(cur._2, iv._2))
        else { execMs += cur._2 - cur._1; cur = iv }
      }
      if (!cur._1.isNaN) execMs += cur._2 - cur._1
      val planMs = math.min(actionSeq.filter(a => inside(r, a.startMs.toDouble)).map(_.planMs).sum,
        r.ms - execMs)
      Trace.OpStats(r.name, r.ms, math.max(0.0, r.ms - execMs - planMs), planMs, execMs,
        js.size, js.flatMap(_.stages).distinct.size, ts.size,
        ts.map(_.runMs).sum.toDouble, ts.map(_.cpuNs).sum / 1e6, ts.map(_.gcMs).sum.toDouble,
        ts.map(_.shuffleBytes).sum.toDouble, ts.map(_.spillBytes).sum.toDouble,
        ts.map(_.recordsRead).sum.toDouble)
    }
    Trace.Report(spans.toSeq, perOp)
  }

  /** Self time per span: its wall minus its direct children's. */
  def selfTimes(): Seq[(Span, Double)] = {
    val kids = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.toSeq.map(s => s -> math.max(0.0, s.ms - kids.getOrElse(s.id, 0.0)))
  }

  /** Spans (with self time) and per-operation statistics as one JSON
    * document.
    */
  def toJson(rep: Trace.Report): JsonNode = {
    val root = Main.mapper.createObjectNode()
    val sp = root.putArray("spans")
    selfTimes().foreach { case (s, self) =>
      sp.addObject().put("id", s.id).put("name", s.name).put("layer", s.layer).put("parent", s.parent)
        .put("op", s.op).put("start_ms", s.startMs).put("end_ms", s.endMs).put("self_ms", self)
    }
    val ops = root.putArray("ops")
    rep.ops.foreach { o =>
      ops.addObject().put("name", o.name).put("wall_ms", o.wallMs).put("build_ms", o.buildMs)
        .put("plan_ms", o.planMs).put("exec_ms", o.execMs).put("jobs", o.jobs).put("stages", o.stages)
        .put("tasks", o.tasks).put("executor_run_ms", o.runMs).put("executor_cpu_ms", o.cpuMs)
        .put("gc_ms", o.gcMs).put("shuffle_bytes", o.shuffleBytes).put("spill_bytes", o.spillBytes)
        .put("records_read", o.recordsRead)
    }
    root
  }
}

object Trace {
  final case class OpStats(name: String, wallMs: Double, buildMs: Double, planMs: Double,
      execMs: Double, jobs: Int, stages: Int, tasks: Int, runMs: Double, cpuMs: Double,
      gcMs: Double, shuffleBytes: Double, spillBytes: Double, recordsRead: Double)
  final case class Report(spans: Seq[Trace#Span], ops: Seq[OpStats])
}
