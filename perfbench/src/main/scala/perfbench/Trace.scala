package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * precision; `parent` is 0 for an op's root span. Spans of one op share
  * `op`. */
final case class Span(id: Long, parent: Long, op: Long, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Clock shared by the benchmark's own spans and Spark's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Records spans and counters at the layer boundaries the benchmark can see
  * from outside graft: its own calls into each module, and Spark's jobs,
  * stages, tasks and planning phases through a SparkListener and a
  * QueryExecutionListener. Everything is held in memory until the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]

  private final case class Job(start: Double, var end: Double, stages: Seq[Int])
  private final case class Stage(var start: Double, var end: Double, var tasks: Long = 0,
      var taskMs: Double = 0, var failed: Long = 0, var shuffleWrite: Long = 0,
      var shuffleRead: Long = 0, var fetchWaitMs: Double = 0, var scanBytes: Long = 0,
      var scanRows: Long = 0, var spill: Long = 0, var peakExec: Long = 0)
  private final case class Planned(phases: Map[String, (Double, Double)], at: Double, scanFiles: Long)
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]
  private val planned = mutable.ArrayBuffer.empty[Planned]

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }
  def add(s: Span): Unit = synchronized { spans += s }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.time.toDouble, Double.NaN, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val t = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    stages.getOrElseUpdate(e.stageInfo.stageId, Stage(t, Double.NaN)).start = t
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, Stage(i.submissionTime.map(_.toDouble).getOrElse(Double.NaN), Double.NaN))
    s.end = i.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, Stage(Double.NaN, Double.NaN))
    s.tasks += 1
    if (!e.taskInfo.successful) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.taskMs += m.executorRunTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.scanBytes += m.inputMetrics.bytesRead
      s.scanRows += m.inputMetrics.recordsRead
      s.spill += m.diskBytesSpilled
      s.peakExec = math.max(s.peakExec, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (k, p) => (k, (p.startTimeMs.toDouble, p.endTimeMs.toDouble)) }
    val at = if (ph.isEmpty) Clock.nowMs else ph.values.map(_._1).min
    val files = try leaves(qe.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
      catch { case _: Throwable => 0L }
    synchronized { planned += Planned(ph, at, files) }
  }

  private def leaves(p: SparkPlan): Seq[SparkPlan] = (p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case _ if p.children.isEmpty => Seq(p)
    case _ => p.children.flatMap(leaves)
  }) ++ p.subqueries.flatMap(leaves)

  /** Files the scans of queries started inside `ops` read. */
  def scanFiles(ops: Seq[Span]): Double = synchronized {
    planned.filter(q => ops.exists(o => q.at >= o.start && q.at <= o.end)).map(_.scanFiles).sum.toDouble
  }

  /** Job, stage and planning spans under the op whose interval holds them,
    * parented to the op's innermost benchmark span that contains them. */
  private def sparkSpans(ops: Seq[Span]): Unit = {
    val own = spans.filterNot(s => s.name.startsWith("spark.") || s.name.startsWith("plan.")).toSeq
    def owner(t: Double): Option[Span] =
      ops.find(o => t >= o.start && t <= o.end).map(o =>
        own.filter(s => s.op == o.op && t >= s.start && t <= s.end).minBy(_.dur))
    for ((id, j) <- jobs if !j.end.isNaN; p <- owner(j.start)) {
      val js = Span(newId(), p.id, p.op, s"spark.job.$id", j.start, j.end)
      spans += js
      for (sid <- j.stages; st <- stages.get(sid) if !st.start.isNaN && !st.end.isNaN)
        spans += Span(newId(), js.id, p.op, s"spark.stage.$sid", st.start, st.end)
    }
    for (q <- planned; (phase, (a, b)) <- q.phases; p <- owner(a))
      spans += Span(newId(), p.id, p.op, s"plan.$phase", a, b)
  }

  /** Spark-side counters for the ops in `opSpans` (one pass), plus the
    * driver gap: op time during which no job ran. Consumes the records. */
  def harvest(opSpans: Seq[Span], cpus: Int): Map[String, Double] = synchronized {
    sparkSpans(opSpans)
    def inOps(t: Double) = opSpans.exists(o => t >= o.start && t <= o.end)
    val js = jobs.values.filter(j => !j.end.isNaN && inOps(j.start)).toSeq
    val stageIds = js.flatMap(_.stages).toSet
    val ss = stageIds.toSeq.flatMap(stages.get).filter(s => s.tasks > 0 || !s.end.isNaN)
    val wallMs = opSpans.map(_.dur).sum
    val covered = opSpans.map { o =>
      val iv = js.map(j => (math.max(j.start, o.start), math.min(j.end, o.end))).filter(x => x._2 > x._1)
      unionLength(iv)
    }.sum
    val qs = planned.filter(p => inOps(p.at))
    def phase(n: String) = qs.flatMap(_.phases.get(n)).map(x => x._2 - x._1).sum / 1e3
    val taskS = ss.map(_.taskMs).sum / 1e3
    val out = Map(
      "spark.plan.analysis_s" -> phase("analysis"),
      "spark.plan.optimization_s" -> phase("optimization"),
      "spark.plan.planning_s" -> phase("planning"),
      "spark.plan.queries" -> qs.size.toDouble,
      "spark.sched.jobs" -> js.size.toDouble,
      "spark.sched.stages" -> ss.size.toDouble,
      "spark.sched.tasks" -> ss.map(_.tasks).sum.toDouble,
      "spark.sched.stage_wall_s" -> ss.filter(s => !s.start.isNaN && !s.end.isNaN)
        .map(s => s.end - s.start).sum / 1e3,
      "spark.sched.task_s" -> taskS,
      "spark.sched.tasks_failed" -> ss.map(_.failed).sum.toDouble,
      "spark.sched.driver_gap_s" -> (wallMs - covered) / 1e3,
      "spark.sched.busy_frac" -> (if (wallMs > 0) taskS / (wallMs / 1e3 * cpus) else 0.0),
      "spark.shuffle.write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle.read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle.fetch_wait_s" -> ss.map(_.fetchWaitMs).sum / 1e3,
      "spark.scan.bytes" -> ss.map(_.scanBytes).sum.toDouble,
      "spark.scan.rows" -> ss.map(_.scanRows).sum.toDouble,
      "spark.mem.spill_bytes" -> ss.map(_.spill).sum.toDouble,
      "spark.mem.peak_exec_bytes" -> (if (ss.isEmpty) 0.0 else ss.map(_.peakExec).max.toDouble))
    jobs.clear(); stages.clear(); planned.clear()
    out
  }

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv.sortBy(_._1)) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this process in MiB (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
