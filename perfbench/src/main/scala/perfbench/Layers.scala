package perfbench

import scala.jdk.CollectionConverters._

/** The per-layer metric names every traced run reports, and the engine
  * layer's figures. A layer a workload does not touch reads 0 there. */
object Layers {
  val Families: Seq[String] = Seq("Relational", "EventQueries", "TextQueries", "DedupQueries",
    "SimilarityQueries", "SentimentQueries", "MediaQueries", "TrainQueries", "BpeQueries")
  val Routes: Seq[String] = Seq("summary", "tweets", "tweets_filtered", "health")

  val names: Seq[String] =
    Seq("engine.planning_ms", "engine.codegen_compile_ms", "engine.jobs", "engine.stages",
      "engine.tasks", "engine.scheduler_delay_ms", "engine.driver_residual_ms",
      "engine.executor_run_ms", "engine.shuffle_read_bytes", "engine.shuffle_write_bytes",
      "engine.spill_bytes", "engine.gc_ms",
      "functions.sentiment_ns_per_row", "functions.analyze_us_per_call",
      "functions.parse_ns_per_row", "functions.clean_filter_ns_per_row",
      "streaming.queryPlanning_ms", "streaming.latestOffset_ms", "streaming.walCommit_ms",
      "streaming.addBatch_ms", "streaming.batches", "streaming.rows_per_batch_p50",
      "streaming.state_rows_end", "streaming.state_bytes_end", "streaming.dedup_kept_ratio",
      "streaming.quarantined_rows", "ingest.generator_lag_ms_max", "ingest.backlog_files_end") ++
      Routes.flatMap(r => Seq(s"api.${r}_p50_ms", s"api.${r}_samples", s"api.${r}_jobs_per_request")) ++
      Seq("api.table_files_end") ++
      Families.map(f => s"queries.$f.warm_s") ++
      Seq("queries.build_s", "queries.validate_s",
        "host.calib_s", "trace.overhead_pct", "trace.spans", "trace.reconcile_err_pct")

  def zeros: Map[String, Double] = names.map(_ -> 0.0).toMap

  /** Engine figures for the measured phase [t0, t1]; Spark jobs and
    * Catalyst phases also become spans under the workload's own spans. */
  def engine(tracer: Tracer, engine: EngineListener, phases: PhaseListener,
      t0: Double, t1: Double, compileMs: Double): Map[String, Double] = {
    val jobs = engine.jobsIn(t0, t1)
    val tasks = engine.tasksIn(t0, t1)
    val planned = phases.done.asScala.toSeq.filter(p => p.startMs >= t0 && p.startMs <= t1)
    val owners = tracer.all
    jobs.foreach(j => tracer.adopt(owners, s"job ${j.id}", j.startMs.toDouble, j.endMs.toDouble))
    planned.foreach(p => tracer.adopt(owners, "catalyst", p.startMs.toDouble, p.endMs.toDouble))
    val busy = Union.covered(jobs.map(j => (math.max(t0, j.startMs.toDouble), math.min(t1, j.endMs.toDouble))))
    Map(
      "engine.planning_ms" -> planned.map(_.planningMs).sum.toDouble,
      "engine.codegen_compile_ms" -> compileMs,
      "engine.jobs" -> jobs.size.toDouble,
      "engine.stages" -> engine.stagesIn(t0, t1).toDouble,
      "engine.tasks" -> tasks.size.toDouble,
      "engine.scheduler_delay_ms" -> tasks.map(_.delayMs).sum.toDouble,
      "engine.driver_residual_ms" -> math.max(0.0, (t1 - t0) - busy),
      "engine.executor_run_ms" -> tasks.map(_.runMs).sum.toDouble,
      "engine.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "engine.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "engine.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "engine.gc_ms" -> tasks.map(_.gcMs).sum.toDouble) ++ jobsPerRequest(tracer)
  }

  /** Spark jobs per request of each route, from the job spans adopted by
    * request spans (exact when one client sends one request at a time). */
  private def jobsPerRequest(tracer: Tracer): Map[String, Double] = {
    val spans = tracer.all
    val jobsUnder = spans.filter(_.name.startsWith("job ")).groupBy(_.parent).map { case (k, v) => k -> v.size }
    Routes.flatMap { r =>
      val reqs = spans.filter(_.name == s"request $r")
      if (reqs.isEmpty) None
      else Some(s"api.${r}_jobs_per_request" -> reqs.map(q => jobsUnder.getOrElse(q.id, 0)).sum.toDouble / reqs.size)
    }.toMap
  }
}
