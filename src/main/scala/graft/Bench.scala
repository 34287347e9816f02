package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query on
  * `$SPARK_GRAFT_SF_DIR` (default sf0.1) through [[Measure.once]] and
  * prints ONE JSON line. [[Measure.warmUp]] runs first so JVM,
  * classloader and codegen start-up is not billed to the first query
  * (the steady-state figure is what scales to a cluster; cold start
  * is a fixed cost paid once per application). A query that throws is
  * reported with a NEGATIVE elapsed time and an `"error"` entry, so a
  * failure is distinguishable from a fast query.
  *
  * Every query runs four times: `value` is the COLD run (first
  * execution, including Catalyst planning and Janino whole-stage
  * codegen compilation — the conservative number) and `value_warm`
  * the MEDIAN of three immediate re-runs. Identical code varies
  * ±20–50% per query at the 0.1–0.5 s scale; the median is robust to
  * a one-off GC/safepoint stall in either direction, and the recorded
  * warm min/max spread makes a regression claim checkable against the
  * noise band. Compile cost (~0.3–0.5 s per query at tiny SF) is a
  * fixed per-query-shape cost that amortizes at scale, so both numbers
  * are reported: cold bounds the worst case, warm approximates the
  * steady-state marginal cost.
  *
  * Output contract: a consumer may retain only a few KB of process
  * output, so stdout carries ONLY compact totals plus the five slowest
  * queries (≈400 bytes); the full per-query detail (cold, warm median,
  * warm min/max, GC ms, phases, errors) goes to `BENCH_FULL.json`
  * (`$SPARK_GRAFT_BENCH_FULL`).
  *
  * Load sentinels, summarized by `sentinel_clean`:
  *  - within-run: a query whose warm spread exceeds 3× or whose warm
  *    median exceeds cold ×1.5 (both load signatures) is re-measured;
  *  - cross-record: within-run tests cannot see a UNIFORM slowdown, so
  *    the prior committed `BENCH_FULL.json` (read before this run
  *    overwrites it; `$SPARK_GRAFT_BENCH_PRIOR`, `none` disables) flags
  *    any query whose warm median, normalized by [[Bench.calibScale]]
  *    (stamped as `calib_scale_vs_prior`), exceeds 2.5× its last clean
  *    warm; one that never clears is counted in `n_prior_regressed`
  *    and sinks `sentinel_clean`, since host load cannot fake the
  *    prior record. Only a prior stamped
  *    `sentinel_clean: true` on the same SF is trusted, and queries new
  *    since then are exempt. A deliberate regression also trips it;
  *    `$SPARK_GRAFT_BENCH_ACCEPT=q101,q157` exempts the named queries
  *    (stamped in the artifact) without dropping the check for the rest;
  *  - codegen fallback: compile-failure / fallback log events during
  *    the run are counted into `n_codegen_fallbacks`; fail-closed, so
  *    a run whose log appender never armed reports -1 and can never
  *    stamp `sentinel_clean`.
  *
  * Artifact-lifecycle queries stamp per-phase seconds (`phases_cold` /
  * `phases_warm`, via [[PhaseTimer]]) so build-once and query-many
  * costs are priced separately. `record_source`
  * (`$SPARK_GRAFT_BENCH_SOURCE`, default "end-of-round-leg"; the
  * quiet-host rerun harness stamps "quiet-host") keeps a snapshot taken
  * on a busy host from being misread as a regression against a
  * quiet-host record (the artifact of record) — the two differ by
  * 10–12% on host load alone. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(
      shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt),
      aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true").toBoolean)

    // Codegen-fallback sentinel: an expression whose generated Java
    // does not compile still returns correct values, because Spark
    // falls back to interpreted eval — a failure that costs only speed
    // and is invisible to a correctness artifact. CodegenBridgeSpec
    // compiles every bridge in the test suite; this counter is the
    // bench-side twin: it counts compile-failure / fallback log events
    // during the measured run (WholeStageCodegenExec logs "Whole-stage
    // codegen disabled" at WARN on Janino failure; CodeGenerator logs
    // "failed to compile") into `n_codegen_fallbacks`, and a nonzero
    // count sinks `sentinel_clean`.
    val codegenFallbacks = new java.util.concurrent.atomic.AtomicLong(0)
    // Fail-closed arming: if the appender install throws (different
    // logging backend, cast failure), the run stamps
    // `codegen_sentinel_armed: false`, reports n_codegen_fallbacks -1,
    // and cannot claim sentinel_clean — a sentinel that never listened
    // must not read as a clean 0.
    var codegenSentinelArmed = false
    try {
      import org.apache.logging.log4j.{Level, LogManager}
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val appender = new AbstractAppender(
          "graftCodegenSentinel", null, null, true, Property.EMPTY_ARRAY) {
        override def append(event: org.apache.logging.log4j.core.LogEvent): Unit = {
          val m = event.getMessage.getFormattedMessage
          if (m.contains("Whole-stage codegen disabled") ||
              m.contains("failed to compile") || m.contains("Failed to compile") ||
              m.contains("CompileException"))
            codegenFallbacks.incrementAndGet()
        }
      }
      appender.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val conf = ctx.getConfiguration
      conf.getRootLogger.addAppender(appender, Level.WARN, null)
      ctx.updateLoggers()
      codegenSentinelArmed = true
    } catch { case _: Throwable => () } // sentinel must never sink the bench

    // Window-WARN whitelist: three documented
    // bounded-frame windows (TrainQueries sources-sized frames, the
    // q150 ≤100-row top-k frame) legitimately run unpartitioned, and
    // WindowExec WARNs once per execution — hundreds of identical
    // lines that bury the warnings the machine-read tail exists for
    // (the codegen-fallback counter proved those matter). Scoped to
    // the bench runner only: a DENY filter on the console appenders
    // for exactly that message, COUNTED into the artifact as
    // `n_window_warns_suppressed` — suppressed from the tail, never
    // from the record. The counting sentinel appender above is
    // unfiltered, and the plan-lint spec still fails any NEW
    // corpus-sized rank window.
    val windowWarns = new java.util.concurrent.atomic.AtomicLong(0)
    try {
      import org.apache.logging.log4j.core.{Filter => L4Filter, LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.filter.AbstractFilter
      import org.apache.logging.log4j.LogManager
      import scala.jdk.CollectionConverters._
      val deny = new AbstractFilter(L4Filter.Result.DENY, L4Filter.Result.NEUTRAL) {
        override def filter(event: LogEvent): L4Filter.Result =
          if (event.getMessage != null && event.getMessage.getFormattedMessage
              .startsWith("No Partition Defined for Window operation")) {
            windowWarns.incrementAndGet(); L4Filter.Result.DENY
          } else L4Filter.Result.NEUTRAL
      }
      deny.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.getAppenders.asScala.values.foreach {
        case a: AbstractAppender if a.getName != "graftCodegenSentinel" =>
          a.addFilter(deny)
        case _ => ()
      }
      ctx.updateLoggers()
    } catch { case _: Throwable => () } // readability aid, never sinks the bench

    // Fixture-drift sentinel FIRST: a driver-side fixture regen that
    // changes a physical type costs one loud line here, not N opaque
    // per-query failures scattered through the bench record.
    Tables.sentinel(spark, sfDir).foreach(d => System.err.println(s"[sentinel] $d"))

    Measure.warmUp(spark, sfDir)

    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Measure.Run = {
      val r = Measure.once(spark, sfDir, fn)
      r.err.foreach(e => System.err.println(s"[bench] $name FAILED: $e"))
      r
    }

    import scala.jdk.CollectionConverters._
    def gcMillis(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

    // ------------------------------------------------------------- //
    // Load sentinel: host load can move warm medians by half with no
    // plan change. Record the machine state IN the artifact so a
    // polluted run is detectable by inspection: /proc/loadavg at
    // start and end, plus a FIXED-WORK calibration query (a pure
    // CPU-bound hash-aggregate over a generated range — no IO, no
    // data dependence) timed before and after the suite. On an idle
    // host the calibration medians agree run-to-run; a loaded host
    // inflates them in proportion to the pollution of neighboring
    // query timings.
    // ------------------------------------------------------------- //
    def loadavg(): String = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .trim.split("\\s+").take(3).mkString(" ")
    } catch { case _: Throwable => "" }
    def calibration(): Double = try {
      // One untimed execution first: the probe's own codegen + C2 JIT
      // ramp otherwise lands entirely in the START measurement (3-8×
      // the end reading on an idle host), burying the load signal the
      // probe exists to expose. Warming the exact shape makes start and
      // end measure the same steady state, so their ratio is load only.
      def probe() = Measure.noop(spark.range(20000000L)
        .selectExpr("(id * 2654435761) % 1000003 AS k").groupBy("k").count())
      probe()
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        probe()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      runs(1) // median-of-3, same estimator as the queries
    } catch { case _: Throwable => -1.0 } // sentinel must never sink the bench
    val loadStart = loadavg()
    val calibStart = calibration()
    // provenance stamp: which measurement protocol
    // produced this record — the rerun harness stamps "quiet-host"
    val recordSource =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SOURCE", "end-of-round-leg")

    // Cross-record reference: per-query warm medians
    // from the prior committed BENCH_FULL.json — read NOW, before this
    // run overwrites the file. Trusted only if the prior run stamped
    // itself sentinel-clean AND benched the same SF dir.
    val benchFullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_FULL.json")
    // prior defaults to the COMMITTED record in the working directory,
    // not the output path: the rerun harness writes legs to /tmp (and
    // deletes stale ones first), which would otherwise leave the
    // cross-record sentinel referenceless exactly when it matters
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_FULL.json")
    val (priorWarm: Map[String, Double], priorCalibs: Seq[Double]) =
      if (priorPath == "none") (Map.empty[String, Double], Seq.empty[Double])
      else try {
        val f = new java.io.File(priorPath)
        if (!f.exists()) (Map.empty[String, Double], Seq.empty[Double])
        else {
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
          if (node.path("sentinel_clean").asBoolean(false) &&
              node.path("sf").asText("") == sfDir) {
            val warms = node.path("queries").properties().asScala
              .map(e => e.getKey -> e.getValue.path("warm").asDouble(-1.0))
              .filter(_._2 > 0).toMap
            // the record day's host speed, for calib-normalization of
            // the cross-record check
            val calibs = Seq("calib_sec_start", "calib_sec_end", "calib_sec_retry")
              .map(k => node.path(k).asDouble(-1.0)).filter(_ > 0)
            (warms, calibs)
          } else (Map.empty[String, Double], Seq.empty[Double])
        }
      } catch { case _: Throwable => (Map.empty[String, Double], Seq.empty[Double]) } // unreadable prior: no reference

    /** Per-query record: cold, warm median, warm min/max (noise
      * band), cold-run GC ms, first error if any run failed, plus
      * per-phase seconds: `phasesCold` from the cold
      * run (where build-if-absent pays the artifact build) and
      * `phasesWarm` as the PER-RUN average over the warm re-runs
      * (nonzero only if something rebuilt mid-suite — itself a
      * finding worth seeing in the artifact). */
    case class QRes(name: String, cold: Double, warm: Double, warmMin: Double,
                    warmMax: Double, gcMs: Long, err: Option[String],
                    phasesCold: Map[String, Double] = Map.empty,
                    phasesWarm: Map[String, Double] = Map.empty)

    def mergePhases(ms: Seq[Map[String, Double]]): Map[String, Double] =
      ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val gc0 = gcMillis()
      val Measure.Run(cold, coldErr, phasesCold) = run(name, fn)
      val gcCold = gcMillis() - gc0
      if (coldErr.isEmpty) {
        // warm = median of three re-runs; only SUCCESSFUL runs
        // compete (a failed run's negative sentinel must not enter
        // the median), but ANY re-run failure still surfaces in
        // errors/n_failed — intermittent re-execution flakiness must
        // not vanish from the artifact.
        val runs = Seq(run(name, fn), run(name, fn), run(name, fn))
        val oks = runs.filter(_.err.isEmpty).map(_.sec).sorted
        val phasesWarm = mergePhases(runs.map(_.phases))
          .map { case (k, v) => k -> v / runs.size }
        if (oks.nonEmpty)
          QRes(name, cold, oks(oks.size / 2), oks.head, oks.last, gcCold,
            runs.flatMap(_.err).headOption.map("warm run: " + _),
            phasesCold, phasesWarm)
        else QRes(name, cold, runs.head.sec, runs.head.sec, runs.head.sec, gcCold,
          runs.head.err.map("warm run: " + _), phasesCold, phasesWarm)
      } else QRes(name, cold, cold, cold, cold, gcCold, coldErr, phasesCold)
    }
    // full JSON string escape (backslash, quote, ALL control chars) —
    // Spark exception messages can carry arbitrary bytes, and one bad
    // char would invalidate the driver's json.load of this line.
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def jnum(v: Double): String = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // post-suite sentinel readings (before serializing the artifact)
    val loadEnd = loadavg()
    val calibEnd = calibration()

    // ------------------------------------------------------------- //
    // Self-defending retry (one retry is not enough under sustained
    // host load):
    //  * a query is FLAGGED when its LATEST measurement's warm spread
    //    (max/min) exceeds 3×, or its latest warm median exceeds its
    //    cold time ×1.5 — warm > cold is physically backwards on a
    //    clean host and is the signature of mid-suite load;
    //  * flagged queries get a fresh median-of-3 re-measurement per
    //    retry ROUND, up to 3 rounds, until every load signature
    //    clears; the BEST median wins and the artifact stamps WHICH
    //    attempt won (`attempt`: 0 = first pass). Re-flagging judges
    //    each attempt on its OWN spread — the reported warm_min/
    //    warm_max still merge all attempts so the noise band stays
    //    honest, but a one-time pollution spike must not condemn a
    //    query forever;
    //  * the calibration probe re-runs after every retry round — a
    //    recovered host produces two agreeing probes.
    // `sentinel_clean` then states whether the final record is free
    // of load signatures: some calibration pair agrees within 1.5×
    // AND no query is still flagged on its latest attempt.
    // ------------------------------------------------------------- //
    def ratio(a: Double, b: Double): Double =
      if (a > 0 && b > 0) math.max(a, b) / math.min(a, b) else Double.MaxValue
    // latest-attempt measurement per query: (median, min, max)
    case class Meas(warm: Double, warmMin: Double, warmMax: Double)
    def flaggedMeas(cold: Double, m: Meas): Boolean = m.warmMin > 0 &&
      (m.warmMax / math.max(m.warmMin, 1e-9) > 3.0 ||
        m.warm > math.max(cold, 1e-9) * 1.5)
    var latest: Map[String, Meas] = results.map(r =>
      r.name -> Meas(r.warm, r.warmMin, r.warmMax)).toMap
    // third signature: >2.5× the prior committed clean warm —
    // catches the uniform slowdown the within-run tests can't see.
    // SPARK_GRAFT_BENCH_ACCEPT names queries whose regression is
    // DELIBERATE (a plan change, attributed in BENCH_NOTES): they are
    // exempted individually so the cross-record check keeps guarding
    // everything else (PRIOR=none would drop it wholesale).
    val accepted: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ACCEPT")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // Calib-normalization: a host 16–45% slower than the record day
    // would flag false regressions at a raw 2.5× threshold, while
    // "host was slow" prose could equally hide a real one. The check
    // compares warm / calibScale against the
    // prior warm, where calibScale = today's fixed-work calibration
    // over the record day's (min of each run's probes — the least-
    // loaded moment approximates true host speed). Tolerance is
    // explicit and documented in [[Bench.calibScale]]: only a SLOWER
    // host is forgiven (scale floor 1.0 — a faster host must not
    // inflate normalized warms into false flags) and at most 3× of it
    // (cap 3.0 — a regression larger than any plausible host drift
    // still flags, so it cannot hide behind the calibration either).
    val scaleVsPrior = Bench.calibScale(priorCalibs, Seq(calibStart, calibEnd))
    def priorRegressed(name: String): Boolean =
      !accepted.contains(name) &&
        priorWarm.get(name).exists(p =>
          Bench.regressedVsPrior(latest(name).warm, p, scaleVsPrior))
    def isFlagged(r: QRes): Boolean =
      r.err.isEmpty && (flaggedMeas(r.cold, latest(r.name)) || priorRegressed(r.name))
    var finalResults = results
    var attemptWon: Map[String, Int] = Map.empty
    val everFlagged = scala.collection.mutable.Set.empty[String]
    val retryCalibs = scala.collection.mutable.ListBuffer.empty[Double]
    var attempt = 0
    while (attempt < 3 && finalResults.exists(isFlagged)) {
      attempt += 1
      finalResults = finalResults.map { r =>
        if (!isFlagged(r)) r
        else {
          everFlagged += r.name
          val runs = Seq(run(r.name, SparkEntry.queries(r.name)),
                         run(r.name, SparkEntry.queries(r.name)),
                         run(r.name, SparkEntry.queries(r.name)))
          val oks = runs.filter(_.err.isEmpty).map(_.sec).sorted
          if (oks.isEmpty) r // retry itself failed: keep the original record
          else {
            val m = oks(oks.size / 2)
            latest += r.name -> Meas(m, oks.head, oks.last)
            if (m < r.warm) attemptWon += r.name -> attempt
            r.copy(warm = math.min(r.warm, m),
                   warmMin = math.min(r.warmMin, oks.head),
                   warmMax = math.max(r.warmMax, oks.last))
          }
        }
      }
      retryCalibs += calibration()
    }
    // probe-only re-check (no query flagged but the start/end pair
    // disagrees): did the host recover by suite end?
    if (retryCalibs.isEmpty && ratio(calibStart, calibEnd) > 1.5)
      retryCalibs += calibration()
    val calibRetry = retryCalibs.lastOption.getOrElse(-1.0)
    val allCalibs = (Seq(calibStart, calibEnd) ++ retryCalibs).filter(_ > 0)
    val calibFinalRatio =
      if (allCalibs.size < 2) Double.MaxValue
      else allCalibs.combinations(2).map(p => ratio(p(0), p(1))).min
    val flaggedNames: Set[String] = everFlagged.toSet
    val stillFlagged = finalResults.count(isFlagged)
    val nPriorRegressed = finalResults
      .count(r => r.err.isEmpty && priorRegressed(r.name))
    // -1 = the sentinel never armed (distinguishable from a clean 0);
    // an unarmed run can never stamp itself clean.
    val nCodegenFallbacks = if (codegenSentinelArmed) codegenFallbacks.get() else -1L
    val sentinelClean =
      calibFinalRatio <= 1.5 && stillFlagged == 0 && nCodegenFallbacks == 0L

    // totals sum successful queries only; a failed query cannot fabricate
    // a time, so failure is surfaced loudly instead: n_failed at top
    // level, a negative per-query entry, and an errors message.
    val nFailed = finalResults.count(_.err.isDefined)
    val total = finalResults.map(r => math.max(r.cold, 0.0)).sum
    val totalWarm = finalResults.map(r => math.max(r.warm, 0.0)).sum

    // Full per-query detail → BENCH_FULL.json (committed per round);
    // the stdout line stays tiny so the driver's retained output tail
    // always contains it whole.
    def jphases(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => jstr(k) + ":" + jnum(v) }
        .mkString("{", ",", "}")
    val full = finalResults.map { r =>
      "  " + jstr(r.name) + ":{\"cold\":" + jnum(r.cold) +
        ",\"warm\":" + jnum(r.warm) +
        ",\"warm_min\":" + jnum(r.warmMin) +
        ",\"warm_max\":" + jnum(r.warmMax) +
        // phase split: cold-run artifact build /
        // validate seconds, and per-warm-run phase seconds when a
        // rebuild leaked into the warm runs (≥ 0.05 s filters timer
        // noise) — serve-path cost = warm − phases_warm
        (if (r.phasesCold.exists(_._2 >= 0.05))
          ",\"phases_cold\":" + jphases(r.phasesCold.filter(_._2 >= 0.05)) else "") +
        (if (r.phasesWarm.exists(_._2 >= 0.05))
          ",\"phases_warm\":" + jphases(r.phasesWarm.filter(_._2 >= 0.05)) else "") +
        (if (r.gcMs > 0) ",\"gc_ms\":" + r.gcMs else "") +
        (if (flaggedNames.contains(r.name)) ",\"retried\":true" +
          ",\"attempt_won\":" + attemptWon.getOrElse(r.name, 0) else "") +
        (if (r.err.isEmpty && priorRegressed(r.name))
          ",\"prior_warm\":" + jnum(priorWarm(r.name)) +
            ",\"regressed_vs_prior\":true" else "") +
        r.err.map(m => ",\"error\":" + jstr(m.take(300))).getOrElse("") + "}"
    }.mkString(
      "{\n\"metric\":\"total\",\"value\":" + jnum(total) +
        ",\"unit\":\"sec\",\"value_warm\":" + jnum(totalWarm) +
        ",\"n_failed\":" + nFailed + ",\"sf\":" + jstr(sfDir) +
        ",\"warm_estimator\":\"median-of-3\"" +
        ",\"loadavg_start\":" + jstr(loadStart) +
        ",\"loadavg_end\":" + jstr(loadEnd) +
        ",\"calib_sec_start\":" + jnum(calibStart) +
        ",\"calib_sec_end\":" + jnum(calibEnd) +
        (if (calibRetry > 0) ",\"calib_sec_retry\":" + jnum(calibRetry) else "") +
        ",\"sentinel_clean\":" + sentinelClean +
        ",\"codegen_sentinel_armed\":" + codegenSentinelArmed +
        ",\"n_codegen_fallbacks\":" + nCodegenFallbacks +
        ",\"n_window_warns_suppressed\":" + windowWarns.get() +
        (if (priorWarm.nonEmpty)
          ",\"calib_scale_vs_prior\":" + jnum(scaleVsPrior) else "") +
        ",\"n_retried\":" + flaggedNames.size +
        ",\"n_retry_rounds\":" + attempt +
        ",\"n_still_flagged\":" + stillFlagged +
        ",\"n_prior_regressed\":" + nPriorRegressed +
        ",\"prior_ref_queries\":" + priorWarm.size +
        ",\"record_source\":" + jstr(recordSource) +
        (if (accepted.nonEmpty)
          ",\"accepted_regressions\":" +
            accepted.toSeq.sorted.map(jstr).mkString("[", ",", "]") else "") +
        ",\"queries\":{\n",
      ",\n", "\n}\n}\n")
    val outPath = java.nio.file.Paths.get(benchFullPath)
    java.nio.file.Files.write(outPath, full.getBytes("UTF-8"))

    // stdout: totals + the five slowest (warm) queries only — ≈400
    // bytes, parseable even from a small retained tail.
    val slowest = finalResults.filter(_.err.isEmpty).sortBy(-_.warm).take(5)
      .map(r => jstr(r.name) + ":" + jnum(r.warm)).mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","value_warm":${jnum(totalWarm)},""" +
      s""""n_failed":$nFailed,"sentinel_clean":$sentinelClean,"n_retried":${flaggedNames.size},""" +
      s""""record_source":${jstr(recordSource)},""" +
      s""""queries":$slowest,"sf":${jstr(sfDir)},"full":${jstr(outPath.toString)}}""")
    spark.stop()
  }

  /** Host-speed scale between the prior record's day and today, from
    * the fixed-work CPU calibration probes stamped in both artifacts.
    * `min` of each side's probes approximates the
    * least-loaded moment ≈ true host speed. Tolerance, documented:
    *  - floor 1.0 — only a SLOWER host is forgiven; a faster one must
    *    not inflate normalized warms into false regressions (the
    *    probe is CPU-bound, IO-heavy queries don't speed up with it);
    *  - cap 3.0 — drift credit is bounded, so a regression larger
    *    than any plausible host slowdown still flags and cannot hide
    *    behind the calibration;
    *  - missing/invalid probes on either side → 1.0 (the raw,
    *    unnormalized check). */
  private[graft] def calibScale(priorCalibs: Seq[Double], currentCalibs: Seq[Double]): Double = {
    val p = priorCalibs.filter(_ > 0)
    val c = currentCalibs.filter(_ > 0)
    if (p.isEmpty || c.isEmpty) 1.0
    else math.min(3.0, math.max(1.0, c.min / p.min))
  }

  /** The cross-record regression predicate: the latest warm median,
    * normalized by [[calibScale]], exceeds 2.5× the prior committed
    * clean warm. */
  private[graft] def regressedVsPrior(warm: Double, priorWarm: Double, scale: Double): Boolean =
    warm / scale > priorWarm * 2.5
}
