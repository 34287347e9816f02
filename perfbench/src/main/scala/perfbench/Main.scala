package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** What one measured phase of a workload produced. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    details: Seq[(String, Double, String)],
    primary: Double,
    phaseStartMs: Double,
    phaseEndMs: Double)

/** A benchmark workload: a program-side set-up that can be repeated,
  * then one measured phase on fresh directories. */
trait Workload {
  /** Program-side set-up; the last one stays in place for `measure`. */
  def prepare(spark: SparkSession, work: Path): Unit
  def release(): Unit
  def measure(spark: SparkSession, work: Path, seconds: Int, tracer: Tracer): Outcome
  /** Whether a larger primary figure is better (throughput) or worse (time). */
  def primaryHigherIsBetter: Boolean
}

/** Entry point. Runs one workload and writes its result as one JSON object.
  *
  * Usage: Main --workload ingest|queries --seed N --seconds S --trace 0|1
  *             --work DIR --out FILE [--spans FILE]
  *             [--fixture DIR --expected FILE | --record FILE]   (queries only)
  */
object Main {
  val SetupReps = 3
  /** How far a traced run's per-layer parts may differ from the whole they
    * split: the stream's `durationMs` parts against each batch's trigger
    * time, both as Spark reports them. */
  val ReconcileTolerancePct = 5.0

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    val workload: Workload = name match {
      case "ingest" => new Ingest(seed)
      case "queries" => new Queries(args("fixture"),
        args.get("expected").map(Paths.get(_)), args.get("record").map(Paths.get(_)))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val calibBefore = calibrate()
    val cpuBefore = cpuTimes()

    // setup_s is the CPU time of the first set-up in this fresh JVM: it pays
    // class loading, object initializers and codegen, so a change that adds
    // one-time start-up work shows. Two more set-ups on fresh sessions follow
    // as details; they hit the JVM-wide caches (warm re-setup). CPU time
    // rather than wall time: on a shared host the wall time of the same work
    // swings with the CPU stolen by neighbours (host.cpu_steal_pct).
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { rep =>
      val (t0, c0) = (System.nanoTime(), cpuNs())
      spark = session(work)
      workload.prepare(spark, work.resolve(s"setup-$rep"))
      val (wall, cpu) = ((System.nanoTime() - t0) / 1e9, (cpuNs() - c0) / 1e9)
      if (rep < SetupReps) { workload.release(); spark.stop() }
      (wall, cpu)
    }

    val result =
      try {
        System.gc()
        if (!traced) {
          val o = workload.measure(spark, work.resolve("run"), seconds, new Tracer(false))
          val m = o.endToEnd ++ Map("setup_s" -> setups.head._2, "retained_heap_mb" -> retainedHeapMb())
          render(o, m, o.details ++ setups.zipWithIndex.flatMap { case ((w, c), i) =>
              Seq((s"setup_rep${i + 1}_wall_s", w, "s"), (s"setup_rep${i + 1}_cpu_s", c, "s")) } :+
            (("setup_wall_s", Stats.median(setups.map(_._1)), "s")) :+ (("peak_rss_mb", peakRssMb(), "MB")),
            calibBefore, cpuBefore, seconds)
        } else {
          // End-to-end numbers come from an untraced pass; the traced pass
          // that follows gives the per-layer split, and the two passes'
          // primary figures give the tracing overhead.
          val plain = workload.measure(spark, work.resolve("plain"), seconds, new Tracer(false))
          val tracer = new Tracer(true)
          val engine = new EngineListener
          val phases = new PhaseListener
          spark.sparkContext.addSparkListener(engine)
          val lm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager
          lm.register(phases)
          val compileBefore = compileSnapshot()
          val o = try workload.measure(spark, work.resolve("traced"), seconds, tracer)
          finally {
            org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
            lm.unregister(phases)
            spark.sparkContext.removeSparkListener(engine)
          }
          val compileMs = compileSnapshot().since(compileBefore)
          val engineLayer = Layers.engine(tracer, engine, phases, o.phaseStartMs, o.phaseEndMs, compileMs)
          val kernels = Kernels.measure(spark, seed)
          val overheadPct =
            if (workload.primaryHigherIsBetter) (plain.primary / o.primary - 1.0) * 100.0
            else (o.primary / plain.primary - 1.0) * 100.0
          args.get("spans").foreach(p => tracer.writeJson(Paths.get(p)))
          val layer = Layers.zeros ++ o.perLayer ++ engineLayer ++ kernels ++ Map(
            "host.calib_s" -> calibBefore,
            "trace.overhead_pct" -> overheadPct,
            "trace.spans" -> tracer.all.size.toDouble)
          // Only a workload whose parts are measured apart from their whole
          // reports a reconciliation (ingest); elsewhere the metric reads 0.
          val reconcile = o.perLayer.get("trace.reconcile_err_pct").map(err =>
            ("trace.parts_reconcile", err <= ReconcileTolerancePct,
              f"per-layer parts differ from the whole by $err%.2f%% (tolerance $ReconcileTolerancePct%.0f%%)"))
          val merged = o.copy(attempted = o.attempted + plain.attempted, failed = o.failed + plain.failed,
            checks = plain.checks.map(c => c.copy(_1 = "untraced." + c._1)) ++ o.checks ++ reconcile)
          render(merged, layer, o.details, calibBefore, cpuBefore, seconds)
        }
      } finally { workload.release(); spark.stop() }
    Files.write(Paths.get(args("out")), result.getBytes("UTF-8"))
  }

  private def render(o: Outcome, metrics: Map[String, Double], details: Seq[(String, Double, String)],
      calibBefore: Double, cpuBefore: Seq[Long], seconds: Int): String = {
    val calibAfter = calibrate()
    val cpu = cpuTimes().zip(cpuBefore).map { case (a, b) => a - b }
    val stealPct = if (cpu.size > 7 && cpu.sum > 0) cpu(7) * 100.0 / cpu.sum else Double.NaN
    val host = Seq(("host.nproc", Runtime.getRuntime.availableProcessors.toDouble, "count"),
      ("host.local_cores", cores.toDouble, "count"),
      ("host.shuffle_partitions", cores.toDouble, "count"),
      ("host.calib_before_s", calibBefore, "s"), ("host.calib_after_s", calibAfter, "s"),
      ("host.cpu_steal_pct", stealPct, "%"),
      ("run.seconds", seconds.toDouble, "s"))
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${TweetGen.jsonString(k)}: ${num(v)}" }
    val ds = (host ++ details).map { case (k, v, u) =>
      s"""{"name": ${TweetGen.jsonString(k)}, "value": ${num(v)}, "unit": ${TweetGen.jsonString(u)}}""" }
    val cs = o.checks.map { case (k, ok, msg) =>
      s"""{"name": ${TweetGen.jsonString(k)}, "ok": $ok, "detail": ${TweetGen.jsonString(msg)}}""" }
    s"""{"attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {${ms.mkString(", ")}},
       |"details": [${ds.mkString(",\n")}],
       |"checks": [${cs.mkString(",\n")}]}""".stripMargin
  }

  /** Fixed-work CPU probe: a diagnostic of host speed, never used to adjust any figure. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var h = 0L
    var i = 0
    while (i < 50000000) { h = h * 31 + (i ^ (h >>> 7)); i += 1 }
    if (h == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used, all threads, in ns. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** Heap still in use after a full collection: what the program keeps
    * alive (caches, stored plans, state) once the measured work is done. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // Spark's context cleaner frees shuffle and broadcast state only after
    // a collection has enqueued their references; let it run, then collect
    // what it released.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** The host's cumulative CPU time by state (user, nice, system, idle,
    * iowait, irq, softirq, steal, ...), from /proc; empty where absent. */
  def cpuTimes(): Seq[Long] = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) Nil
    else Files.readAllLines(stat).get(0).trim.split("\\s+").toSeq.drop(1).map(_.toLong)
  }

  /** The JVM's resident-set high-water mark, from /proc. */
  def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    }
  }

  final case class CompileSnap(count: Long, meanMs: Double) {
    /** Compilation time since `before`: new compilations times the histogram's mean. */
    def since(before: CompileSnap): Double = (count - before.count) * meanMs
  }

  def compileSnapshot(): CompileSnap = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    CompileSnap(h.getCount, h.getSnapshot.getMean)
  }
}
