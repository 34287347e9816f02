package graft

import org.apache.spark.sql.SparkSession

/** Profiling main: measurement tooling, not one of the engine's
  * entry points (SparkEntry, Verify, Bench).
  *
  * Usage: `runMain graft.Profile <subcommand> <substr...>`
  *
  *  - `med <substr...>` — one cold run, then the median-of-7 warm
  *    timer ([[Measure.sample]]) over the registered queries matching
  *    any substring. Identical code varies ±20–50% per query at the
  *    0.1–0.5 s scale, so single-shot timings cannot support any claim
  *    below ~1.5×.
  *  - `jobs <substr...>` — per-query job accounting: how much of a
  *    warm run is per-job/stage scheduling floor vs executor compute.
  *
  * `SPARK_GRAFT_SF_DIR` selects the dataset (default sf0.1). */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    Measure.warmUp(spark, sfDir)
    try args.toList match {
      case "med" :: pats if pats.nonEmpty => med(spark, sfDir, pats)
      case "jobs" :: pats if pats.nonEmpty => jobs(spark, sfDir, pats)
      case other =>
        System.err.println(
          s"unknown profile subcommand '${other.mkString(" ")}'; " +
            "usage: Profile med <substr...> | jobs <substr...>")
        sys.exit(2)
    } finally spark.stop()
  }

  private def matching(pats: Seq[String]): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filter(n => pats.exists(n.contains))

  /** One measured run that fails the profile when the query throws. */
  private def timed(spark: SparkSession, sfDir: String, name: String): Double =
    Measure.once(spark, sfDir, SparkEntry.queries(name)).orFail(name).sec

  /** Cold run plus median-of-7 warm timings for registered queries by
    * substring, through the shared [[Measure.sample]] estimator. */
  private def med(spark: SparkSession, sfDir: String, pats: Seq[String]): Unit =
    for (name <- matching(pats)) {
      val s = Measure.sample(spark, sfDir, SparkEntry.queries(name), warm = 7)
      s.err.foreach(e => throw new IllegalStateException(s"$name failed: $e"))
      println(f"[med] $name%-32s median ${s.median}%.3f  min ${s.min}%.3f  " +
        f"max ${s.max}%.3f  cold ${s.cold.sec}%.3f")
    }

  /** Per-query JOB accounting: how much of a warm run is
    * per-job/stage scheduling floor vs executor compute. Runs each
    * matching query once warm under a listener and reports job count,
    * stage count, task count, summed executor task time, and wall —
    * a query whose wall ≫ task-time/32 is floor-dominated (driver
    * jobs, checkpoints, collects), not compute-dominated. */
  private def jobs(spark: SparkSession, sfDir: String, pats: Seq[String]): Unit = {
    import org.apache.spark.scheduler._
    for (name <- matching(pats)) {
      timed(spark, sfDir, name) // warm
      val nJobs = new java.util.concurrent.atomic.AtomicLong(0)
      val nStages = new java.util.concurrent.atomic.AtomicLong(0)
      val nTasks = new java.util.concurrent.atomic.AtomicLong(0)
      val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
      val runMs = new java.util.concurrent.atomic.AtomicLong(0)
      val stageMs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          nJobs.incrementAndGet()
        override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
          nStages.incrementAndGet()
          nTasks.addAndGet(s.stageInfo.numTasks)
          val tm = Option(s.stageInfo.taskMetrics)
            .map(_.executorRunTime).getOrElse(0L)
          val site = s.stageInfo.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("Profile"))
            .getOrElse(s.stageInfo.name.takeWhile(_ != '\n')).trim
          stageMs.put(s.stageInfo.stageId, (site, tm))
        }
        // BOTH sums, labeled distinctly: taskInfo.duration is wall
        // clock including scheduler delay; executorRunTime is what the
        // per-stage rows below report
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
          if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
          if (t.taskMetrics != null) runMs.addAndGet(t.taskMetrics.executorRunTime)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val wall = timed(spark, sfDir, name)
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      println(f"[jobs] $name%-34s wall ${wall}%6.2f  jobs ${nJobs.get()}%3d  " +
        f"stages ${nStages.get()}%3d  tasks ${nTasks.get()}%5d  " +
        f"taskWallSum ${taskMs.get() / 1e3}%7.2f s  taskRunSum ${runMs.get() / 1e3}%7.2f s")
      import scala.jdk.CollectionConverters._
      stageMs.asScala.toSeq.sortBy(-_._2._2).take(5).foreach { case (id, (nm, ms)) =>
        if (ms > 200) println(f"[jobs]   stage $id%4d ${ms / 1e3}%6.2f s  $nm")
      }
    }
  }
}
