package perfbench

import scala.collection.mutable

import org.apache.spark.{ListenerAccess, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one job group (one operation phase). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskMs, gcMs, shuffleW, shuffleR, spill, inBytes, outBytes = 0L
  var planMs = 0.0

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleW += o.shuffleW; shuffleR += o.shuffleR; spill += o.spill
    inBytes += o.inBytes; outBytes += o.outBytes; planMs += o.planMs
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_s" -> taskMs / 1e3,
    "gc_s" -> gcMs / 1e3, "shuffle_w_bytes" -> shuffleW,
    "shuffle_r_bytes" -> shuffleR, "spill_bytes" -> spill,
    "in_bytes" -> inBytes, "out_bytes" -> outBytes, "plan_ms" -> planMs)
}

/** A span: one timed interval, its parent, and its kind
  * (workload, run, op, build, exec, stage or job). Times are epoch µs. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startUs: Long, endUs: Long)

/** The benchmark's own listeners plus its span store. Work is
  * attributed by job group: the harness calls [[enter]] before each
  * phase, which sets the group on the driver thread (Spark carries it to
  * broadcast and subquery threads) and drains the listener bus so every
  * earlier event is counted under the phase that caused it. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]
  @volatile private var current: String = ""

  val spans = mutable.ArrayBuffer.empty[Span]

  private def group(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  def enter(g: String): Unit = {
    ListenerAccess.drain(sc)
    current = g
    sc.setJobGroup(g, g, interruptOnCancel = false)
  }

  def leave(): Unit = {
    ListenerAccess.drain(sc)
    current = ""
    sc.clearJobGroup()
  }

  def counters(g: String): Counters = synchronized(byGroup.getOrElse(g, new Counters))

  /** Job spans of group `g` as (jobId, startUs, endUs). */
  def jobsOf(g: String): Seq[(Int, Long, Long)] = synchronized(
    jobSpans.collect { case (`g`, id, s, e) => (id, s, e) }.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    group(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      jobSpans += ((g, e.jobId, start * 1000, e.time * 1000))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    group(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = group(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleW += m.shuffleWriteMetrics.bytesWritten
      c.shuffleR += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inBytes += m.inputMetrics.bytesRead
      c.outBytes += m.outputMetrics.bytesWritten
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    synchronized(group(current).planMs += ms)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

object Trace {
  /** Self time per span: its duration minus the part of it that its
    * children's intervals cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
          if (b <= end) (sum, end)
          else (sum + b - math.max(a, end), b)
        }._1
      s.id -> (s.endUs - s.startUs - covered)
    }.toMap
  }
}
