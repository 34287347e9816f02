package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is 0 for a root span. Times are epoch ms. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
  def contains(t0: Double, t1: Double): Boolean = t0 >= startMs - 1 && t1 <= endMs + 1
}

/** In-memory span recorder. With `enabled` false every call is a plain
  * pass-through, so untraced runs pay nothing for it. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def now(): Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  /** A fresh span id, for a parent recorded after its children. */
  def newId(): Long = if (enabled) ids.incrementAndGet() else 0L

  def record(parent: Long, name: String, startMs: Double, endMs: Double, id: Long = newId()): Long = {
    if (enabled) spans.add(Span(id, parent, name, startMs, endMs))
    id
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))

  /** Children are attached to the innermost span of `candidates` whose
    * interval contains them (used for Spark jobs and Catalyst phases,
    * which are reported on Spark's own threads). */
  def adopt(candidates: Seq[Span], name: String, t0: Double, t1: Double): Long = {
    val parent = candidates.filter(_.contains(t0, t1)).sortBy(_.durMs).headOption.map(_.id).getOrElse(0L)
    record(parent, name, t0, t1)
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val body = all.map(s =>
      f"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${TweetGen.jsonString(s.name)}, "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}""")
    java.nio.file.Files.write(path, body.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Tracer {
  // nanoTime is monotonic; anchor it to the wall clock once so spans and
  // Spark's own epoch-ms timestamps share one axis.
  private val epochOffsetMs: Double = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
}

/** Engine-layer records, collected from Spark's listener API. */
final class EngineListener extends SparkListener {
  import EngineListener._

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageEnds = new ConcurrentLinkedQueue[Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(t0 => jobs.add(Job(e.jobId, t0, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageEnds.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
        math.max(0L, e.taskInfo.duration - m.executorRunTime),
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
  }

  def jobsIn(t0: Double, t1: Double): Seq[Job] =
    jobs.asScala.toSeq.filter(j => j.startMs >= t0 && j.startMs <= t1).sortBy(_.startMs)
  def stagesIn(t0: Double, t1: Double): Int = stageEnds.asScala.count(t => t >= t0 && t <= t1)
  def tasksIn(t0: Double, t1: Double): Seq[Task] = tasks.asScala.toSeq.filter(t => t.endMs >= t0 && t.endMs <= t1)
}

object EngineListener {
  final case class Job(id: Int, startMs: Long, endMs: Long)
  final case class Task(endMs: Long, runMs: Long, delayMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, gcMs: Long)
}

/** Catalyst phase timings of every completed query execution. */
final class PhaseListener extends QueryExecutionListener {
  import PhaseListener._
  val done = new ConcurrentLinkedQueue[Phases]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.filter { case (k, _) => Set("analysis", "optimization", "planning")(k) }
    if (ph.nonEmpty)
      done.add(Phases(ph.values.map(_.startTimeMs).min, ph.values.map(_.endTimeMs).max,
        ph.values.map(_.durationMs).sum))
  }
}

object PhaseListener {
  final case class Phases(startMs: Long, endMs: Long, planningMs: Long)
}

object Union {
  /** Total length covered by a set of intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
