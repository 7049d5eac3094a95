package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call into one layer of the engine, made from the benchmark.
  * Times are epoch milliseconds (fractional), so they line up with the
  * millisecond timestamps Spark's listeners report. */
final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, var end: Double) {
  def dur: Double = end - start
}

/** Spans kept in memory for the whole run. When disabled, `span` only runs
  * its body. When enabled, every span sets the job group of the calling
  * thread to its own id, so each Spark job started inside it carries the
  * span id in its properties (`spark.jobGroup.id`). */
final class Tracer(sc: SparkContext) {
  var enabled = false
  var op = -1
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, nowMs, 0.0)
      spans += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  private val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toInt)
}

object SparkEvents {
  final case class Job(id: Int, span: Option[Int], start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(
      id: Int, tasks: Int, start: Long, end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, shWrite: Long, shRead: Long, spill: Long, outBytes: Long)
  final case class Phase(name: String, start: Long, end: Long)
}

/** Raw Spark events, collected on the listener threads. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  import SparkEvents._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  val failedTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]() // stage -> failed
  val phases = new ConcurrentLinkedQueue[Phase]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, Job(e.jobId, Tracer.spanOf(g), e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, Stage(i.stageId, i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!e.reason.isInstanceOf[org.apache.spark.Success.type])
      failedTasks.merge(e.stageId, 1, (a: Int, b: Int) => a + b)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (n, p) => phases.add(Phase(n, p.startTimeMs, p.endTimeMs)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)
}

/** Per-op layer metrics from the spans of one op plus the Spark events
  * attributed to them. */
object Attribution {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val cl = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    cl.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - covered(ch, s.start, s.end))
    }.toMap
  }
}
