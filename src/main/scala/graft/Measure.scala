package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one way to time a registered query: [[once]] times one run and
  * [[sample]] is the one estimator over runs, shared by Bench and
  * `Profile med`.
  *
  * A query is materialized through the `noop` sink, which pulls every
  * output column through the full physical plan but writes nothing
  * (`.count()` would let Catalyst prune computed columns and drop the
  * final sort, under-measuring projection-shaped queries). */
object Measure {

  /** One timed execution: wall seconds (negative when the query threw),
    * the first error message, the [[PhaseTimer]] seconds the query
    * function spent in eager artifact work, and the JVM's GC
    * milliseconds during the run. */
  case class Run(sec: Double, err: Option[String], phases: Map[String, Double], gcMs: Long) {
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
    * left behind) and after it, so `phases` belong to this run only. */
  def once(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Run = {
    PhaseTimer.drain()
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    try {
      noop(fn(spark, dir))
      Run((System.nanoTime() - t0) / 1e9, None, PhaseTimer.drain(), gcMillis() - gc0)
    } catch {
      case e: Throwable =>
        Run(-(System.nanoTime() - t0) / 1e9,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)), PhaseTimer.drain(),
          gcMillis() - gc0)
    }
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
