package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one way to time a query: [[once]] times one run and records its
  * [[Ledger]], and [[sample]] is the one estimator over runs, shared by
  * Bench (full suite, subsets, its calibration probe) and the sf1 /
  * MLlib scripts that drive Bench.
  *
  * A query is materialized through the `noop` sink, which pulls every
  * output column through the full physical plan but writes nothing
  * (`.count()` would let Catalyst prune computed columns and drop the
  * final sort, under-measuring projection-shaped queries). */
object Measure {

  /** What one run cost the scheduler and the code generator: Spark jobs
    * started, stages completed and their tasks, the tasks' summed
    * `executorRunTime` ms, and Janino compiles (the count of
    * `CodegenMetrics`' compilation-time histogram). A run at the
    * per-job floor shows many jobs against little run time; a warm run
    * that recompiles shows `compiles > 0`. */
  case class Ledger(jobs: Long, stages: Long, tasks: Long, runMs: Long, compiles: Long) {
    def -(o: Ledger): Ledger =
      Ledger(jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs,
        compiles - o.compiles)
    def json: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"executor_run_ms":$runMs,""" +
        s""""compiles":$compiles}"""
  }

  /** One timed execution: wall seconds (negative when the query threw),
    * the first error message, the [[PhaseTimer]] seconds the query
    * function spent in eager artifact work, the JVM's GC milliseconds
    * during the run, and the run's [[Ledger]]. */
  case class Run(sec: Double, err: Option[String], phases: Map[String, Double], gcMs: Long,
      ledger: Ledger) {
    /** This run, or an exception naming `name` when the query threw —
      * for the harnesses whose run must fail on a query error. */
    def orFail(name: String): Run = {
      err.foreach(e => throw new IllegalStateException(s"$name failed: $e"))
      this
    }
  }

  /** A query's runs: one cold run, then every warm run in the order it
    * ran (retry rounds append here, so nothing measured is dropped).
    * Only successful warm runs enter the median; any failure still
    * surfaces in [[err]]. */
  case class Sample(cold: Run, warm: Seq[Run]) {
    /** Successful warm seconds, ascending. */
    lazy val oks: Seq[Double] = warm.filter(_.err.isEmpty).map(_.sec).sorted

    /** Upper median of the successful warm runs; with none, the first
      * warm run (negative, it failed), or the cold run when no warm
      * run was made. */
    def median: Double =
      if (oks.nonEmpty) oks(oks.size / 2) else warm.headOption.getOrElse(cold).sec
    def min: Double = oks.headOption.getOrElse(median)
    def max: Double = oks.lastOption.getOrElse(median)

    /** Per-run average phase seconds over every warm run. */
    def phasesWarm: Map[String, Double] =
      warm.flatMap(_.phases).groupMapReduce(_._1)(_._2)(_ + _)
        .map { case (k, v) => k -> v / warm.size }

    /** The cold run's error, else the first warm run's. */
    def err: Option[String] =
      cold.err.orElse(warm.flatMap(_.err).headOption.map("warm run: " + _))
  }

  /** One cold run of `fn`, then `warm` re-runs (none when the cold run
    * threw). */
  def sample(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame, warm: Int): Sample = {
    val cold = once(spark, dir, fn)
    Sample(cold, if (cold.err.isDefined) Nil else Seq.fill(warm)(once(spark, dir, fn)))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build and materialize `fn(spark, dir)` once. The phase accumulator
    * is drained before the run (discarding anything a previous failure
    * left behind) and after it, so `phases` belong to this run only; the
    * ledger is the difference of the context's totals read before and
    * after the run, outside the timed span. */
  def once(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Run = {
    PhaseTimer.drain()
    val before = totals(spark)
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val err =
      try { noop(fn(spark, dir)); None }
      catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
    val sec = (System.nanoTime() - t0) / 1e9
    Run(if (err.isEmpty) sec else -sec, err, PhaseTimer.drain(), gcMillis() - gc0,
      totals(spark) - before)
  }

  /** The running totals behind every [[Ledger]]: one listener per
    * SparkContext, installed by the first measured run on it. */
  private final class JobCounter extends SparkListener {
    private val jobs, stages, tasks, runMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null) runMs.addAndGet(t.taskMetrics.executorRunTime)
    def totals: Ledger = Ledger(jobs.get, stages.get, tasks.get, runMs.get,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** The context's totals once every event posted so far has reached
    * the counter: the listener bus is drained first, so a run's last
    * stage and task events are in the reading. */
  private def totals(spark: SparkSession): Ledger = {
    val sc = spark.sparkContext
    val counter = synchronized {
      GraftColumnBridge.listeners[JobCounter](sc).headOption.getOrElse {
        val c = new JobCounter
        sc.addSparkListener(c)
        c
      }
    }
    GraftColumnBridge.drainListeners(sc)
    counter.totals
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Untimed warm-up (JVM, parquet reader, codegen, one shuffle, the
    * noop sink, table footers), so start-up cost is not billed to the
    * first measured query. Never fails the caller: a fixture without
    * one of the tables just warms less. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try noop(spark.range(1000).selectExpr("id % 7 k", "id v").groupBy("k").count())
    catch { case _: Throwable => () }
    Seq[(SparkSession, String) => DataFrame](
      Tables.lineitem, Tables.documents, Tables.events).foreach { t =>
      try t(spark, sfDir).select(count(lit(1))).count()
      catch { case _: Throwable => () }
    }
  }
}
