package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.streaming.Pipeline

/** One micro-batch as reported by `StreamingQueryProgress`. */
final case class Batch(query: java.util.UUID, id: Long, startMs: Long, durations: Map[String, Long],
    rows: Long, stateRows: Long, stateBytes: Long) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Collects the progress of every streaming query of a session. */
final class ProgressLog extends StreamingQueryListener {
  private val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val state = p.stateOperators.headOption
    batches.add(Batch(p.id, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
      state.map(_.numRowsTotal).getOrElse(0L), state.map(_.memoryUsedBytes).getOrElse(0L)))
  }

  def of(q: StreamingQuery): Seq[Batch] = batches.asScala.toSeq.filter(_.query == q.id).sortBy(_.id)
  def rows(q: StreamingQuery): Long = of(q).map(_.rows).sum
}

object Stream {
  final case class Dirs(root: Path) {
    val src: Path = Files.createDirectories(root.resolve("source"))
    val tweets: String = root.resolve("tweets").toString
    val json: String = root.resolve("json").toString
    val quarantine: String = root.resolve("quarantine").toString
    val checkpoint: String = root.resolve("checkpoint").toString
  }

  val MaxFilesPerTrigger = 8

  /** How long `await` waits before it gives up. */
  val TimeoutS = 90

  /** The production pipeline over a JSONL file source, each batch
    * triggered as soon as the previous one ends. */
  def start(spark: SparkSession, d: Dirs): (StreamingQuery, StreamingQuery) =
    Pipeline.runWithQuarantine(
      Pipeline.jsonFileSource(spark, d.src.toString, Some(MaxFilesPerTrigger)),
      d.tweets, d.json, d.quarantine, d.checkpoint, Trigger.ProcessingTime(0))

  /** Block until `done` holds, failing if `q` dies or it takes too long. */
  def await(q: StreamingQuery, what: String)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + TimeoutS * 1000000000L
    while (!done) {
      q.exception.foreach(e => throw e)
      if (System.nanoTime() > deadline) throw new IllegalStateException(s"stream ${q.id}: no $what in ${TimeoutS}s")
      Thread.sleep(5)
    }
  }
}

/** `ingest`: drain a preloaded backlog through the stream, then feed it
  * at a fixed rate and time each row from its creation to the commit of
  * its micro-batch. A traced run then adds a read phase over the live
  * sink (see [[Reads]]). */
final class Ingest(seed: Long) extends Workload {
  import Ingest._
  private var running: Seq[StreamingQuery] = Nil

  def primaryHigherIsBetter: Boolean = true

  /** Start the pipeline on an empty source and wait for its first trigger. */
  def prepare(spark: SparkSession, work: Path): Unit = {
    val (main, quarantine) = Stream.start(spark, Stream.Dirs(work))
    running = Seq(main, quarantine)
    running.foreach(q => Stream.await(q, "first trigger")(q.lastProgress != null))
  }

  def release(): Unit = { running.foreach(_.stop()); running = Nil }

  def measure(spark: SparkSession, work: Path, seconds: Int, tracer: Tracer): Outcome = {
    release()
    val d = Stream.Dirs(work)
    val gen = new TweetGen(seed)
    val log = new ProgressLog
    spark.streams.addListener(log)
    (0 until BacklogFiles).foreach(k =>
      gen.writeFile(d.src, f"backlog-$k%05d.json", LinesPerBacklogFile, () => System.currentTimeMillis()))
    val backlog = gen.count

    val phaseStart = tracer.now()
    val cpu0 = Main.cpuNs()
    val root = tracer.newId()
    val startWall = System.currentTimeMillis()
    val (main, quarantine) = Stream.start(spark, d)
    val ticks = seconds * 1000 / PeriodMs
    var lags = Seq.empty[Double]
    var backlogFilesEnd = 0L
    var openStart = 0L
    var openEnd = 0L
    var reads: Option[Reads.Result] = None
    try {
      Stream.await(main, "drained backlog")(log.rows(main) >= backlog)
      openStart = System.currentTimeMillis()
      lags = feed(gen, d, openStart, 0 until ticks)
      openEnd = System.currentTimeMillis()
      backlogFilesEnd = math.ceil((gen.count - log.rows(main)).toDouble / LinesPerTick).toLong
      if (tracer.enabled) {
        // Traced runs add a read phase: one HTTP client on the facade over
        // the live sink while the feed goes on at the same rate.
        val feeder = new Thread(() => feed(gen, d, openStart, ticks until ticks + ReadSeconds * 1000 / PeriodMs))
        feeder.start()
        reads = Some(Reads.run(spark, d.tweets, seed, ReadSeconds, tracer, root))
        feeder.join()
      }
      Seq(main, quarantine).foreach(q => Stream.await(q, "end of input")(log.rows(q) >= gen.count))
    } finally {
      main.stop(); quarantine.stop()
      spark.streams.removeListener(log)
    }
    val phaseEnd = tracer.now()
    val cpuMsPerLine = (Main.cpuNs() - cpu0) / 1e6 / gen.count
    tracer.record(0, "ingest", phaseStart, phaseEnd, root)

    val batches = log.of(main)
    val commits = batches.map(b => b.id -> b.commitMs).toMap
    // The first batch pays the stream's first-use costs (reported as
    // cold_s); capacity is the median rate of the drain batches after it.
    val drained = batches.scanLeft(0L)(_ + _.rows).tail.indexWhere(_ >= backlog)
    val drainPerS = Stats.median(batches.slice(1, drained + 1)
      .map(b => b.rows / (b.durations.getOrElse("triggerExecution", 0L) / 1000.0)))

    val sink = spark.read.parquet(d.tweets)
    val stamped = sink.filter(col("kafka_timestamp") >= openStart && col("kafka_timestamp") < openEnd)
      .select(col("_batch_id").cast("long"), col("kafka_timestamp")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (latencies, missing) = Stats.rowLatencies(stamped, commits)
    val lat = Stats.summarize(latencies)

    // Output checks: the sink must hold exactly the batch transform of
    // every input line (processed_at aside), and the quarantine exactly
    // the malformed lines the generator planted.
    val input = spark.read.text(d.src.toString).select(col("value").as("json"))
    val expected = Pipeline.enrichJson(input).drop("processed_at")
    val actual = Pipeline.readTweets(spark, d.tweets).drop("processed_at")
    val (want, got) = (digest(expected), digest(actual))
    val sinkDiff = if (want == got) 0L else math.max(1L, math.abs(want._1 - got._1))
    val quarantined = spark.read.schema("raw_line string").json(d.quarantine).collect().map(_.getString(0)).toSeq
    val quarantineDiff = multisetDiff(quarantined, gen.malformed)
    val checks = Seq(
      ("ingest.sink_equals_batch_transform", sinkDiff == 0,
        s"sink ${got._1} rows, digest ${got._2}; batch transform ${want._1} rows, digest ${want._2}"),
      ("ingest.quarantine_equals_planted", quarantineDiff == 0,
        s"${quarantined.size} quarantined, ${gen.malformed.size} planted, $quarantineDiff differ"),
      ("ingest.every_row_committed", missing == 0 && latencies.nonEmpty,
        s"${latencies.size} rows timed, $missing without a batch commit")) ++ reads.map(_.check)

    val layer = if (!tracer.enabled) Map.empty[String, Double] else {
      val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      var partsTotal = 0.0
      var triggerTotal = 0.0
      batches.foreach { b =>
        val trigger = b.durations.getOrElse("triggerExecution", 0L).toDouble
        val id = tracer.record(root, s"batch ${b.id}", b.startMs.toDouble, b.startMs + trigger)
        val parts = order.flatMap(k => b.durations.get(k).map(k -> _)) ++
          b.durations.filter { case (k, _) => k != "triggerExecution" && !order.contains(k) }
        var t = b.startMs.toDouble
        parts.foreach { case (k, v) => tracer.record(id, k, t, t + v); t += v }
        partsTotal += parts.map(_._2).sum
        triggerTotal += trigger
      }
      val enriched = Pipeline.enrich(Pipeline.project(Pipeline.fromJsonLines(input))).count()
      def med(k: String) = Stats.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
      Map(
        "streaming.queryPlanning_ms" -> med("queryPlanning"),
        "streaming.latestOffset_ms" -> med("latestOffset"),
        "streaming.walCommit_ms" -> med("walCommit"),
        "streaming.addBatch_ms" -> med("addBatch"),
        "streaming.batches" -> batches.size.toDouble,
        "streaming.rows_per_batch_p50" -> Stats.median(batches.filter(_.rows > 0).map(_.rows.toDouble)),
        "streaming.state_rows_end" -> batches.last.stateRows.toDouble,
        "streaming.state_bytes_end" -> batches.last.stateBytes.toDouble,
        "streaming.dedup_kept_ratio" -> want._1.toDouble / enriched,
        "streaming.quarantined_rows" -> quarantined.size.toDouble,
        "ingest.generator_lag_ms_max" -> lags.max,
        "ingest.backlog_files_end" -> backlogFilesEnd.toDouble,
        // Spark's durationMs parts of each batch against its trigger time.
        "trace.reconcile_err_pct" -> math.abs(partsTotal - triggerTotal) / triggerTotal * 100.0) ++
        reads.fold(Map.empty[String, Double])(Reads.layer(_, d.tweets))
    }
    Outcome(
      attempted = gen.count + reads.fold(0)(_.reqs.size),
      failed = sinkDiff + quarantineDiff + missing + reads.fold(0)(_.failures.size),
      checks = checks,
      endToEnd = Map("cpu_ms_per_op" -> cpuMsPerLine),
      perLayer = layer,
      details = Seq(
        ("ingest.cpu_ms_per_line", cpuMsPerLine, "ms"),
        ("ingest.drain_tweets_per_s", drainPerS, "1/s"),
        ("ingest.cold_s", (batches.head.commitMs - startWall) / 1000.0, "s"),
        ("ingest.backlog_tweets", backlog.toDouble, "count"),
        ("ingest.open_rate_per_s", RatePerS.toDouble, "1/s"),
        ("ingest.latency_p50_ms", lat.p50, "ms"),
        (s"ingest.latency_${lat.tailName}_ms", lat.tail.getOrElse(Double.NaN), "ms"),
        ("ingest.latency_samples", lat.n.toDouble, "count"),
        ("ingest.generator_lag_ms_max", lags.max, "ms"),
        ("ingest.backlog_files_end", backlogFilesEnd.toDouble, "count"),
        ("ingest.batches", batches.size.toDouble, "count")) ++ reads.fold(Seq.empty[(String, Double, String)])(Reads.details),
      primary = drainPerS,
      phaseStartMs = phaseStart,
      phaseEndMs = phaseEnd)
  }

  /** Open loop: one file of LinesPerTick lines for each tick, written when
    * it is due whatever the stream is doing, each line stamped with the
    * time its file was due. Returns how late each file was written (ms). */
  private def feed(gen: TweetGen, d: Stream.Dirs, start: Long, ticks: Range): Seq[Double] =
    ticks.map { k =>
      val due = start + k.toLong * PeriodMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val lag = (System.currentTimeMillis() - due).toDouble
      gen.writeFile(d.src, f"open-$k%05d.json", LinesPerTick, () => due)
      lag
    }

  /** Row count and order-insensitive sum of row hashes, columns by name. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def multisetDiff(a: Seq[String], b: Seq[String]): Long = {
    val ca = a.groupBy(identity).map { case (k, v) => k -> v.size }
    val cb = b.groupBy(identity).map { case (k, v) => k -> v.size }
    (ca.keySet ++ cb.keySet).toSeq.map(k => math.abs(ca.getOrElse(k, 0) - cb.getOrElse(k, 0)).toLong).sum
  }
}

object Ingest {
  /** Length of the traced run's read phase. */
  val ReadSeconds = 8
  /** The backlog drains in three batches of MaxFilesPerTrigger files. */
  val BacklogFiles = 24
  val LinesPerBacklogFile = 500
  /** Open-loop rate: a quarter of the drain throughput measured on a 4-core
    * host; half of it outruns the per-batch floor and the backlog grows. */
  val RatePerS = 400
  val PeriodMs = 500
  val LinesPerTick: Int = RatePerS * PeriodMs / 1000
}
