package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into the library. Setup operations are traced but only loop
  * operations feed the end-to-end metrics.
  */
final class Op(val kind: String, val phase: String) {
  var ms = 0.0
  var ok = true
  var error = ""
  var rows = 0L
  /** Which declared query, for query operations. */
  var label = ""
  def fail(why: String): Unit = if (ok) { ok = false; error = why }
}

/** A traced interval. `start`/`end` are epoch milliseconds; `self` is the
  * part of the interval where this span is the innermost one open.
  */
final case class Span(op: Int, id: Int, parent: Int, depth: Int, layer: String,
                      name: String, start: Double, end: Double) {
  var self = 0.0
}

/** Per-operation context handed to the workload's body. */
final class Ctx(traced: Boolean) {
  private[graftbench] val marks = ArrayBuffer[(String, String, Double, Double)]()
  private[graftbench] val qes = ArrayBuffer[QueryExecution]()
  /** The operation's result plan, for scan metrics (read operations only). */
  private[graftbench] var result: Option[QueryExecution] = None
  /** Live files of the store a read resolves against; scan-node file count when unset. */
  var filesLive: Option[Long] = None

  /** Time `f` as a child span of the operation on `layer`. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!traced) f
    else {
      val t0 = Clock.nowMs
      try f finally marks += ((layer, name, t0, Clock.nowMs))
    }

  def resultOf(qe: QueryExecution): Unit = if (traced) { qes += qe; result = Some(qe) }
}

object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds at nanosecond resolution, on the same clock as Spark's event times. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

private object PlanWalk extends AdaptiveSparkPlanHelper

/** Times operations; in a traced run also attributes Spark jobs, tasks,
  * plan phases and scan-node metrics to each operation and keeps its spans.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  val ops = ArrayBuffer[Op]()
  val spans = ArrayBuffer[Span]()
  /** Per-layer totals over every traced operation, setup included. */
  val layer = mutable.LinkedHashMap[String, Double]()
  var maxSelfError = 0.0
  private val listener = new Listener
  private val gcAtStart = Recorder.gcSeconds

  if (traced) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  def add(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v

  def run[T](kind: String, phase: String)(body: Ctx => T): (Option[T], Op) = {
    val op = new Op(kind, phase)
    val ctx = new Ctx(traced)
    val group = s"bench-op-${ops.size}"
    if (traced) {
      // executions of checks made between operations belong to no operation
      BenchBus.drain(sc)
      listener.dropExecutions()
      sc.setJobGroup(group, s"$kind #${ops.size}", interruptOnCancel = false)
    }
    val w0 = Clock.nowMs
    val t0 = System.nanoTime()
    val out =
      try Some(body(ctx))
      catch { case e: Exception => op.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    op.ms = (System.nanoTime() - t0) / 1e6
    val w1 = w0 + op.ms
    if (traced) {
      if (ctx.result.isDefined) out.foreach {
        case a: Array[_] => add("scan.rows_returned", a.length)
        case n: Long => add("scan.rows_returned", n)
        case _ =>
      }
      sc.clearJobGroup()
      attribute(op, ops.size, kind, group, ctx, w0, w1)
    }
    ops += op
    (out, op)
  }

  /** Close the traced run: totals that span all operations. */
  def finish(): Unit = if (traced) add("jvm.gc_s", Recorder.gcSeconds - gcAtStart)

  private def attribute(op: Op, idx: Int, kind: String, group: String, ctx: Ctx,
                        w0: Double, w1: Double): Unit = {
    BenchBus.drain(sc)
    val (jobs, acc, evQes) = listener.take(group)
    val qes = (ctx.qes ++ evQes).foldLeft(List.empty[QueryExecution]) {
      (seen, q) => if (seen.exists(_ eq q)) seen else q :: seen
    }.reverse
    // child spans keep their own clocks' intervals: the check below fails the
    // operation when they reach outside it
    val opSpans = ArrayBuffer(Span(idx, 0, -1, 0, "op", kind, w0, w1))
    ctx.marks.foreach { case (l, n, a, b) => opSpans += Span(idx, opSpans.size, 0, 1, l, n, a, b) }
    def nest(l: String, n: String, a: Double, b: Double): Unit = if (b > a) {
      val mid = (a + b) / 2
      val host = opSpans.tail.filter(h => h.depth == 1 && h.start <= mid && mid <= h.end)
        .sortBy(h => h.end - h.start).headOption
      opSpans += Span(idx, opSpans.size, host.map(_.id).getOrElse(0),
        host.map(_.depth + 1).getOrElse(1), l, n, a, b)
    }
    // a phase that ended before the operation began planned an input built
    // outside the timed region, such as the frame a write verb is given
    for (q <- qes; (phase, key) <- Recorder.PlanPhases; p <- q.tracker.phases.get(phase)
         if p.endTimeMs + 1 >= w0) {
      add(key, (p.endTimeMs - p.startTimeMs) / 1e3)
      nest("plan", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    jobs.foreach(j => nest("spark", s"job ${j.id}", j.start.toDouble, j.end.toDouble))
    selfTimes(opSpans.toSeq)
    // The self times sum to the length of the union of the operation's spans;
    // it equals the operation's own nanoTime wall time only when every
    // attributed job, plan phase and child span lies within the operation.
    val err = math.abs(opSpans.map(_.self).sum - op.ms)
    maxSelfError = math.max(maxSelfError, err)
    if (err > Recorder.SelfToleranceMs)
      op.fail(f"trace: self times sum to ${opSpans.map(_.self).sum}%.1f ms, wall time ${op.ms}%.1f ms")
    spans ++= opSpans

    val busy = union(jobs.map(j => (math.max(j.start.toDouble, w0), math.min(j.end.toDouble, w1))))
    add("ops.build_s", ctx.marks.collect { case ("ops", _, a, b) => b - a }.sum / 1e3)
    add("spark.jobs", jobs.size)
    add("spark.stages", acc.stages)
    add("spark.tasks", acc.tasks)
    add("spark.job_busy_s", busy / 1e3)
    add("spark.driver_gap_s", (w1 - w0 - busy) / 1e3)
    add("spark.task_run_s", acc.runMs / 1e3)
    add("spark.task_cpu_s", acc.cpuNs / 1e9)
    add("spark.gc_s", acc.gcMs / 1e3)
    add("spark.input_bytes", acc.inputBytes)
    add("spark.shuffle_write_bytes", acc.shuffleWrite)
    add("spark.shuffle_read_bytes", acc.shuffleRead)
    add("spark.spill_bytes", acc.spill)
    Recorder.verbOf(kind).foreach { v =>
      add(s"store.$v.s", (w1 - w0) / 1e3)
      add(s"store.$v.jobs", jobs.size)
    }
    ctx.result.foreach { qe =>
      val m = Recorder.scanMetrics(qe)
      add("scan.files_live", ctx.filesLive.getOrElse(m("numFiles")).toDouble)
      add("scan.files_read", m("numFiles").toDouble)
      add("scan.bytes_read", m("filesSize").toDouble)
      add("scan.rows_read", m("numOutputRows").toDouble)
    }
  }

  /** Attribute each instant covered by a span to the deepest open span
    * (latest start on ties).
    */
  private def selfTimes(ss: Seq[Span]): Unit = {
    val cuts = ss.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = (a + b) / 2
        val open = ss.filter(s => s.start <= mid && mid < s.end)
        if (open.nonEmpty) open.maxBy(s => (s.depth, s.start, s.id)).self += b - a
      case _ =>
    }
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

object Recorder {
  /** How far an operation's self times may sum from its wall time: Spark's
    * job and plan-phase times are whole epoch milliseconds, read on another
    * clock than the operation's nanoTime, so each end may be off by a
    * millisecond or two.
    */
  val SelfToleranceMs = 5.0

  val PlanPhases = Seq("analysis" -> "plan.analysis_s",
    "optimization" -> "plan.optimizer_s", "planning" -> "plan.physical_s")

  /** Operation kinds that are store write verbs, by metric name. */
  def verbOf(kind: String): Option[String] = kind match {
    case "append" | "upsert" | "delete" | "compact" => Some(kind)
    case _ => None
  }

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Sum of the scan nodes' SQL metrics in an executed plan. */
  def scanMetrics(qe: QueryExecution): Map[String, Long] = {
    val names = Seq("numFiles", "filesSize", "numOutputRows")
    val scans = PlanWalk.collectWithSubqueries(qe.executedPlan) {
      case p if p.children.isEmpty && p.metrics.contains("numOutputRows") &&
        (p.metrics.contains("numFiles") || p.nodeName.contains("Scan")) => p
    }
    names.map(n => n -> scans.flatMap(_.metrics.get(n)).map(_.value).sum).toMap
  }
}

private final case class JobRec(id: Int, group: String, start: Long, var end: Long)

private final class TaskAcc {
  var stages = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
}

/** Collects job, stage and task events by job group, and every finished
  * query execution. Runs on the listener bus thread; the recorder reads it
  * only after draining the bus.
  */
private final class Listener extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageGroup = mutable.Map[Int, String]()
  private val acc = mutable.Map[String, TaskAcc]()
  private val qes = ArrayBuffer[QueryExecution]()

  private def accOf(stage: Int) = acc.getOrElseUpdate(stageGroup.getOrElse(stage, ""), new TaskAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    jobs(e.jobId) = JobRec(e.jobId, g, e.time, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    accOf(e.stageInfo.stageId).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = accOf(e.stageId)
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { qes += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { qes += qe }

  def dropExecutions(): Unit = synchronized { qes.clear() }

  /** Remove and return the finished jobs, task totals and executions of `group`. */
  def take(group: String): (Seq[JobRec], TaskAcc, Seq[QueryExecution]) = synchronized {
    val mine = jobs.values.filter(_.group == group).toSeq
    mine.foreach(j => jobs.remove(j.id))
    val q = qes.toSeq
    qes.clear()
    (mine, acc.remove(group).getOrElse(new TaskAcc), q)
  }
}
