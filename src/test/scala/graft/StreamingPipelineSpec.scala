package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Pipeline

/** End-to-end streaming tests (SURVEY §5.4): envelope JSON through the
  * full pipeline with duplicate / non-English / malformed / missing-
  * metrics variants, plus batch-vs-stream parity on identical input. */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(id: String, text: String, lang: String = "en",
                       metrics: Boolean = true): String = {
    val pm = if (metrics)
      """"public_metrics": {"retweet_count": 3, "like_count": 17, "reply_count": 1, "quote_count": 0}"""
    else """"public_metrics": null"""
    s"""{"data": {"id": "$id", "text": "$text", "created_at": "2025-09-01T14:03:27.000Z",
       |"author_id": "a$id", "lang": "$lang", $pm},
       |"includes": {"users": [{"id": "a$id", "name": "N", "username": "u",
       |"public_metrics": {"followers_count": 12}}]},
       |"kafka_timestamp": 1756735407123}""".stripMargin.replaceAll("\n", " ")
  }

  private val fixture = Seq(
    envelope("1", "I love this amazing product!"),
    envelope("2", "This is terribel and awful."),
    envelope("2", "This is terribel and awful."),    // duplicate id → dedup
    envelope("3", "RT @fan: Best day ever! So excited!"),
    envelope("4", "Buna ziua lume", lang = "ro"),     // F1: non-English → dropped
    envelope("5", "   ", lang = "en"),                // F1: empty after clean → dropped
    envelope("6", "no metrics tweet", metrics = false), // defaults 0
    """{ this is not json """)                        // malformed → quarantined

  test("streaming pipeline end-to-end: parse → clean → filter → sentiment → dedup → sinks") {
    val dir = Files.createTempDirectory("graft-stream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val source = mem.toDF().select(col("value").as("json"))
    val (q, quar) = Pipeline.runWithQuarantine(source, s"$dir/tweets", s"$dir/json",
      s"$dir/quarantine", s"$dir/ckpt", Trigger.ProcessingTime("1 second"))
    try {
      mem.addData(fixture)
      q.processAllAvailable(); quar.processAllAvailable()
    } finally { q.stop(); quar.stop() }

    val tweets = spark.read.parquet(s"$dir/tweets")
    val ids = tweets.select("tweet_id").as[String].collect().sorted
    // the duplicate id "2" lands once: the watermarked dedup alone
    // removes it, with no per-batch dedup in the writer
    assert(ids.sameElements(Array("1", "2", "3", "6")), s"got ${ids.toSeq}")

    val r = tweets.filter($"tweet_id" === "3").head()
    assert(r.getAs[String]("cleaned_text") == "fan: Best day ever! So excited!")
    assert(r.getAs[String]("final_sentiment") == "positive")
    assert(r.getAs[Long]("retweet_count") == 3L)
    val r6 = tweets.filter($"tweet_id" === "6").head()
    assert(r6.getAs[Long]("like_count") == 0L, "missing metrics default to 0")

    // K2 intended hourly bucketing: json sink partitioned by yyyyMMdd_HH
    val jsonDirs = new java.io.File(s"$dir/json").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(jsonDirs.exists(_.matches("date_hour=\\d{8}_\\d{2}")), s"got ${jsonDirs.toSeq}")
  }

  test("checkpoint restart: no duplicates, new data still lands (effectively-once)") {
    val dir = Files.createTempDirectory("graft-restart").toString
    val in = s"$dir/in"; Files.createDirectories(java.nio.file.Paths.get(in))
    // file source: offsets (seen-file log) survive restarts, unlike MemoryStream
    def source() = spark.readStream.schema(graft.streaming.Schemas.envelope).json(in)
      .select(to_json(struct(col("*"))).as("json"))
    Files.writeString(java.nio.file.Paths.get(s"$in/b1.jsonl"), fixture.mkString("\n"))
    def runOnce(): Unit = {
      val (q, quar) = Pipeline.runWithQuarantine(source(), s"$dir/tweets", s"$dir/json",
        s"$dir/quarantine", s"$dir/ckpt", Trigger.ProcessingTime("1 second"))
      try { q.processAllAvailable(); quar.processAllAvailable() }
      finally { q.stop(); quar.stop() }
    }
    runOnce()
    val afterFirst = Pipeline.readTweets(spark, s"$dir/tweets")
      .select("tweet_id").as[String].collect().sorted
    assert(afterFirst.sameElements(Array("1", "2", "3", "6")))

    // restart with the SAME checkpoint; add a second file
    Files.writeString(java.nio.file.Paths.get(s"$in/b2.jsonl"),
      envelope("9", "What a wonderful day, thanks!"))
    runOnce()

    val ids = Pipeline.readTweets(spark, s"$dir/tweets")
      .select("tweet_id").as[String].collect().sorted
    assert(ids.sameElements(Array("1", "2", "3", "6", "9")),
      s"restart must not duplicate or lose rows: ${ids.toSeq}")
  }

  test("quarantine sink captures malformed lines; author dim joins broadcast") {
    val dir = Files.createTempDirectory("graft-quar").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val source = mem.toDF().select(col("value").as("json"))
    val (main, quar) = Pipeline.runWithQuarantine(source,
      s"$dir/tweets", s"$dir/json", s"$dir/quarantine", s"$dir/ckpt",
      Trigger.ProcessingTime("1 second"))
    try {
      mem.addData(fixture)
      main.processAllAvailable(); quar.processAllAvailable()
    } finally { main.stop(); quar.stop() }

    // exactly the malformed line lands in quarantine, raw
    val bad = spark.read.json(s"$dir/quarantine").select("raw_line").as[String].collect()
    assert(bad.length == 1 && bad.head.contains("this is not json"), s"got ${bad.toSeq}")
    // good rows unaffected
    val ids = Pipeline.readTweets(spark, s"$dir/tweets")
      .select("tweet_id").as[String].collect().sorted
    assert(ids.sameElements(Array("1", "2", "3", "6")))

    // author dimension from the envelope's includes.users
    val parsed = Pipeline.fromJsonLines(fixture.toDF("json"))
      .filter(col("env").isNotNull)
    val users = Pipeline.userDim(parsed)
    assert(users.count() >= 4)
    assert(users.columns.toSeq ==
      Seq("user_id", "name", "username", "followers_count"))
    val enrichedT = Pipeline.enrichJson(fixture.toDF("json"),
      Some(java.sql.Timestamp.valueOf("2025-09-01 15:00:00")))
    val joined = Pipeline.withAuthorInfo(enrichedT, users)
    joined.count()
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "author enrichment must broadcast")
    assert(joined.filter(col("tweet_id") === "1")
      .select("followers_count").head().getLong(0) == 12L)
  }

  test("kafka publish projection: raw envelope lines go out verbatim, envelope rows as their JSON object") {
    val raw = fixture.toDF("value")
    val sent = raw.select(Pipeline.kafkaValue(raw).as("value")).as[String].collect().toSeq
    assert(sent == fixture, "a raw line must publish as itself, not wrapped in {\"value\": ...}")
    // a frame of envelope fields publishes an object that parses back to
    // the same envelope through the consumer's parse
    val env = Pipeline.fromJsonLines(fixture.toDF("json")).filter(col("env").isNotNull)
      .select("env.*")
    val back = Pipeline.fromJsonLines(env.select(Pipeline.kafkaValue(env).as("json")))
      .select("env.*")
    assert(back.collect().toSeq == env.collect().toSeq)
  }

  test("stream-stream join with watermarks matches engagement updates in-window") {
    implicit val sqlCtx = spark.sqlContext
    val tweetsMem = MemoryStream[String]
    val updatesMem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val tweets = Pipeline.enrich(Pipeline.project(
      Pipeline.fromJsonLines(tweetsMem.toDF().select(col("value").as("json")))))
    val updates = updatesMem.toDF().toDF("update_tweet_id", "update_time", "new_likes")
    val joined = Pipeline.joinEngagementUpdates(tweets, updates)
      .select("tweet_id", "new_likes")
    val q = joined.writeStream.format("memory").queryName("ss_join_test")
      .outputMode("append").start()
    try {
      tweetsMem.addData(fixture)
      q.processAllAvailable()
      val now = new java.sql.Timestamp(System.currentTimeMillis())
      val old = java.sql.Timestamp.valueOf("2020-01-01 00:00:00") // outside window
      updatesMem.addData(("1", now, 99L), ("3", now, 42L), ("1", old, 7L), ("999", now, 5L))
      q.processAllAvailable()
      val rows = spark.table("ss_join_test").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSet
      assert(rows == Set("1" -> 99L, "3" -> 42L),
        s"expected in-window matches only, got $rows")
    } finally q.stop()
  }

  test("observable metrics surface per-batch counts in query progress") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val enriched = Pipeline.enrich(Pipeline.project(
      Pipeline.fromJsonLines(mem.toDF().select(col("value").as("json")))))
    val q = enriched.writeStream.format("noop").start()
    try {
      mem.addData(fixture)
      q.processAllAvailable()
      val metrics = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("enrich_metrics")))
      assert(metrics.nonEmpty, "expected enrich_metrics in progress")
      val total = metrics.map(_.getAs[Long]("n_rows")).sum
      assert(total == 5, s"5 rows survive the filter (incl. dup), got $total") // dedup is downstream
      val pos = metrics.map(_.getAs[Long]("n_positive")).sum
      assert(pos >= 2)
    } finally q.stop()
  }

  test("compacted table partition-prunes hour-range queries") {
    val ts1 = java.sql.Timestamp.valueOf("2025-09-01 10:00:00")
    val ts2 = java.sql.Timestamp.valueOf("2025-09-01 11:00:00")
    val dir = Files.createTempDirectory("graft-compact").toString
    // two hours of data through the batch-equivalent path
    Pipeline.enrichJson(fixture.take(2).toDF("json"), Some(ts1))
      .withColumn("_batch_id", lit(0L))
      .write.partitionBy("_batch_id").mode("append").parquet(s"$dir/tweets")
    Pipeline.enrichJson(Seq(envelope("8", "What a wonderful day, thanks!")).toDF("json"), Some(ts2))
      .withColumn("_batch_id", lit(1L))
      .write.partitionBy("_batch_id").mode("append").parquet(s"$dir/tweets")
    Pipeline.compactTweets(spark, s"$dir/tweets", s"$dir/hourly")

    val hourDirs = new java.io.File(s"$dir/hourly").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(hourDirs.sameElements(Array("date_hour=20250901_10", "date_hour=20250901_11")))

    val q = spark.read.parquet(s"$dir/hourly").filter($"date_hour" === "20250901_11")
    assert(q.count() == 1)
    val scan = q.queryExecution.executedPlan.toString
    // partition filter must prune at the file index, not post-scan
    assert(scan.contains("PartitionFilters: [isnotnull(date_hour") ||
      scan.contains("PartitionFilters: [(date_hour"), s"no partition pruning:\n$scan")
  }

  test("batch and streaming transforms share one code path (parity)") {
    val ts = java.sql.Timestamp.valueOf("2025-09-01 15:00:00")
    val json = fixture.toDF("json")
    val batch = Pipeline.enrichJson(json, Some(ts))
    assert(batch.count() == 4)
    // names+types must match the declared contract (nullability flags
    // legitimately differ: coalesce/literal columns infer non-null)
    assert(batch.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      graft.streaming.Schemas.enrichedTweet.fields.map(f => (f.name, f.dataType)).toSeq,
      s"schema drift:\n${batch.schema.treeString}")
    // deterministic stamp → re-running is byte-identical
    // (collect-compare: exceptAll over two dedup+UDF plans trips
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1's optimizer)
    val again = Pipeline.enrichJson(json, Some(ts))
    val rowsA = batch.collect().map(_.toString).sorted.toSeq
    val rowsB = again.collect().map(_.toString).sorted.toSeq
    assert(rowsA == rowsB)
  }

  test("dedup idempotence: processing a batch twice equals processing it once") {
    // SURVEY §5.3 property: K3 insert-ignore semantics are idempotent
    val ts = java.sql.Timestamp.valueOf("2025-09-01 15:00:00")
    val once = Pipeline.enrichJson(fixture.toDF("json"), Some(ts))
    val twice = Pipeline.enrichJson((fixture ++ fixture).toDF("json"), Some(ts))
    val a = once.collect().map(_.toString).sorted.toSeq
    val b = twice.collect().map(_.toString).sorted.toSeq
    assert(a == b, "duplicated input must not change the deduped output")
  }

  test("hourly summary realizes sentiment_summary on batch input") {
    val ts = java.sql.Timestamp.valueOf("2025-09-01 15:00:00")
    val tweets = Pipeline.enrichJson(fixture.toDF("json"), Some(ts))
    val sum = Pipeline.hourlySummary(tweets).collect()
    assert(sum.nonEmpty)
    val total = sum.map(_.getAs[Long]("tweet_count")).sum
    assert(total == 4)
    assert(sum.forall(_.getAs[java.sql.Timestamp]("date_hour") != null))
  }

  test("watermark drops late data in append-mode event-time window") {
    implicit val sqlCtx = spark.sqlContext
    // event-time rows: (event hour, value); watermark 0s, 1h windows,
    // append mode only finalizes windows older than max(eventTime)
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val windowed = mem.toDF().toDF("ev_time", "v")
      .withWatermark("ev_time", "0 seconds")
      .groupBy(window($"ev_time", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("w"), $"n")
    val q = windowed.writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2025-09-01 $h%02d:30:00")
    try {
      mem.addData((ts(10), 1.0), (ts(10), 2.0))
      q.processAllAvailable()
      mem.addData((ts(12), 3.0)) // advances watermark past hour 10 and 11
      q.processAllAvailable()
      mem.addData((ts(10), 99.0)) // LATE: behind watermark → dropped
      mem.addData((ts(13), 4.0))  // advances watermark past hour 12
      q.processAllAvailable()
      val rows = spark.table("late_test").collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      assert(rows("2025-09-01 10:00:00.0") == 2L,
        s"late row must not reopen the hour-10 window: $rows")
      assert(rows.contains("2025-09-01 12:00:00.0"))
    } finally q.stop()
  }

  test("streaming hourly window aggregates in complete mode (append-mode late-drop covered above)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val enriched = Pipeline.enrich(Pipeline.project(
      Pipeline.fromJsonLines(mem.toDF().select(col("value").as("json")))))
    val windowed = Pipeline.hourlySummary(
      enriched.withWatermark("processed_at", "0 seconds"))
    val q = windowed.writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    try {
      mem.addData(fixture)
      q.processAllAvailable()
      val rows = spark.table("hourly_test").collect()
      assert(rows.nonEmpty)
      // 5 = 4 survivors + 1 duplicate of id 2: dedup is a separate
      // pipeline stage (sink-side / dropDuplicatesWithinWatermark),
      // deliberately not fused into the window aggregate here
      assert(rows.map(_.getAs[Long]("tweet_count")).sum == 5)
    } finally q.stop()
  }

  test("q94 split sibling: stream and batch assign identical splits (string + numeric keys)") {
    implicit val sqlCtx = spark.sqlContext
    // string keys (tweet_id): stream through a real streaming query
    val ids = (1 to 500).map(i => s"tw$i")
    val mem = MemoryStream[String]
    val streamed = Pipeline.withSplit(mem.toDF().select(col("value").as("tweet_id")))
    assert(streamed.isStreaming, "the sibling must be legal on an unbounded plan")
    val q = streamed.writeStream.format("memory").queryName("split_parity")
      .outputMode("append").start()
    try { mem.addData(ids: _*); q.processAllAvailable() } finally q.stop()
    val streamMap = spark.table("split_parity")
      .as[(String, String)].collect().toMap
    val batchMap = Pipeline.withSplit(ids.toDF("tweet_id"))
      .as[(String, String)].collect().toMap
    assert(streamMap.size == ids.size)
    assert(streamMap == batchMap, "stream and batch must assign identical splits")
    assert(streamMap.values.toSet.subsetOf(Set("train", "val", "test")))
    // numeric keys: the sibling ≡ q94's own batch CASE over doc_id
    val docs = spark.range(2000L).select($"id".as("doc_id"))
    val viaStream = Pipeline.withSplit(docs, "doc_id")
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val viaBatch = graft.queries.TrainQueries.splitAssignOver(docs)
      .as[(Long, String)].collect().toMap
    assert(viaStream == viaBatch)
  }

  test("q169 streaming sibling: out-of-order events reorder before gap emission") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.GapState
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    val gaps = GapState.gapBands(
      mem.toDF().toDF("user_id", "event_type", "ts", "event_id"))
    val q = gaps.writeStream.format("memory").queryName("gap_ooo")
      .outputMode("append").start()
    try {
      // arrival order 10:00:00, 10:00:03, then 10:00:01 LATE (inside
      // the 1h watermark): emitted gaps must be the SORTED order's
      // 1s and 2s — never the arrival order's 3s
      mem.addData((1L, "view", ts("2024-01-01 10:00:00"), 1L),
        (1L, "view", ts("2024-01-01 10:00:03"), 2L))
      q.processAllAvailable()
      mem.addData((1L, "view", ts("2024-01-01 10:00:01"), 3L))
      q.processAllAvailable()
      mem.addData((99L, "flush", ts("2024-06-01 00:00:00"), 9L)) // watermark push
      q.processAllAvailable()
      val got = spark.table("gap_ooo")
        .as[(Long, String, Long, Long)].collect().toSeq.sorted
      assert(got == Seq((1L, "view", 1L, 1L), (1L, "view", 2L, 1L)), got.toString)
    } finally q.stop()
  }

  test("q169 streaming sibling: fixture replay reproduces the batch histogram") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.GapState
    val events = Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .as[(Long, String, java.sql.Timestamp, Long)]
      .collect().sortBy(e => (e._3.getTime, e._4))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp, Long)]
    // TTL wider than the fixture's 30-day span: parity must cover the
    // longest real gap; the default 24h TTL would purge anchors under
    // multi-day silences (the documented bounded-state tradeoff)
    val q = GapState.gapBands(
        mem.toDF().toDF("user_id", "event_type", "ts", "event_id"),
        idleTtlMs = 100L * 24 * 3600 * 1000)
      .writeStream.format("memory").queryName("gap_fixture")
      .outputMode("append").start()
    try {
      // three ts-ordered batches + a far-future flush to drain buffers
      events.grouped(math.max(events.length / 3, 1)).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      val flushTs = new java.sql.Timestamp(events.last._3.getTime + 200L * 24 * 3600 * 1000)
      mem.addData((-999L, "flush", flushTs, 0L))
      q.processAllAvailable()
      val streamed = spark.table("gap_fixture")
        .as[(Long, String, Long, Long)].collect().toSeq
        .groupBy(r => (r._2, r._4))
        .map { case ((tpe, band), rs) =>
          (tpe, band, rs.size.toLong, rs.map(_._3).min, rs.map(_._3).max) }
        .toSeq.sorted
      val batch = graft.queries.EventQueries.interarrivalHistogram(spark, sf)
        .as[(String, Long, Long, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch, s"stream ${streamed.take(3)}… vs batch ${batch.take(3)}…")
    } finally q.stop()
  }

  test("q174 streaming sibling: a late touch re-orders before attribution; TTL-free replay ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TouchState
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp, Long, Double)]
    val q = TouchState.attribute(
        mem.toDF().toDF("user_id", "event_type", "ts", "event_id", "value"))
      .writeStream.format("memory").queryName("touch_ooo")
      .outputMode("append").start()
    try {
      // purchase arrives FIRST, its view touch arrives late (inside
      // the watermark): attribution must credit the view, not direct
      mem.addData((1L, "purchase", ts("2024-01-01 10:10:00"), 2L, 10.0))
      q.processAllAvailable()
      mem.addData((1L, "view", ts("2024-01-01 10:00:00"), 1L, 0.0))
      q.processAllAvailable()
      mem.addData((99L, "flush", ts("2024-06-01 00:00:00"), 9L, 0.0))
      q.processAllAvailable()
      val got = spark.table("touch_ooo")
        .as[(Long, Long, String, Long)].collect().toSeq
      assert(got == Seq((1L, 2L, "view", 1000L)), got.toString)
    } finally q.stop()
  }

  test("q174 streaming sibling: fixture replay reproduces the batch attribution rollup") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.TouchState
    val events = Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts", $"event_id", $"value")
      .as[(Long, String, java.sql.Timestamp, Long, Double)]
      .collect().sortBy(e => (e._3.getTime, e._4))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp, Long, Double)]
    val q = TouchState.attribute(
        mem.toDF().toDF("user_id", "event_type", "ts", "event_id", "value"),
        idleTtlMs = 100L * 24 * 3600 * 1000) // TTL past the fixture span
      .writeStream.format("memory").queryName("touch_fixture")
      .outputMode("append").start()
    try {
      events.grouped(math.max(events.length / 3, 1)).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      val flushTs = new java.sql.Timestamp(events.last._3.getTime + 200L * 24 * 3600 * 1000)
      mem.addData((-999L, "flush", flushTs, 0L, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("touch_fixture")
        .as[(Long, Long, String, Long)].collect().toSeq
        .groupBy(_._3)
        .map { case (t, rs) => (t, rs.size.toLong, rs.map(_._4).sum) }
        .toSeq.sorted
      val batch = graft.queries.EventQueries.lastTouch(spark, sf)
        .as[(String, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch, s"stream $streamed vs batch $batch")
    } finally q.stop()
  }

  test("BPE token stamp: streaming ≡ batch, stateless on an unbounded plan") {
    implicit val sqlCtx = spark.sqlContext
    val texts = Seq("the cat sat", "standing forest editor", "", "with that mississippi")
    val mem = MemoryStream[String]
    val streamed = Pipeline.withBpeTokenCount(
      mem.toDF().select(col("value").as("cleaned_text")))
    assert(streamed.isStreaming)
    val q = streamed.writeStream.format("memory").queryName("bpe_stamp")
      .outputMode("append").start()
    try { mem.addData(texts: _*); q.processAllAvailable() } finally q.stop()
    val streamMap = spark.table("bpe_stamp")
      .as[(String, Long)].collect().toMap
    val batchMap = Pipeline.withBpeTokenCount(texts.toDF("cleaned_text"))
      .as[(String, Long)].collect().toMap
    assert(streamMap == batchMap && streamMap.size == texts.size)
    // and the stamp is the encoder's count, hand-checked on one row
    assert(streamMap("the cat sat") == 5L) // the | c,at | s,at
  }

  test("BPE stamp parity on the DOCUMENTS FIXTURE under streamed replay") {
    // VERDICT r13 #8: the constructed-data parity above shares no
    // evidence tier with the fixture-replay suite — replay the whole
    // documents fixture through the streaming stamp in three
    // micro-batches and require EXACT per-document equality with the
    // batch stamp (the expression is stateless, so parity is a
    // theorem; this pins that the streaming plan actually preserves it
    // on real fixture text: unicode, punctuation, empty-ish docs).
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val stamped = Pipeline.withBpeTokenCount(
      mem.toDF().toDF("doc_id", "text"), "text")
    val q = stamped.writeStream.format("memory").queryName("bpe_fixture_parity")
      .outputMode("append").start()
    try {
      val third = math.max(1, docs.size / 3)
      docs.grouped(third).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val streamMap = spark.table("bpe_fixture_parity")
        .select($"doc_id", $"bpe_tokens").as[(Long, Long)].collect().toMap
      val batchMap = Pipeline.withBpeTokenCount(
          Tables.documents(spark, sf).select($"doc_id", $"text"), "text")
        .select($"doc_id", $"bpe_tokens").as[(Long, Long)].collect().toMap
      assert(streamMap.size == docs.size, s"lost rows: ${streamMap.size}/${docs.size}")
      assert(streamMap == batchMap)
    } finally q.stop()
  }

  test("streaming postings maintenance ≡ the q134 batch build on full fixture replay") {
    // VERDICT r15 #6: the inverted-index lifecycle's streaming
    // sibling — replay the whole documents fixture in three
    // micro-batches through upsertPostingsBatch and require the artifact
    // (postings AND meta stamp) to equal the q134 batch build's,
    // then prove replay idempotence.
    implicit val sqlCtx = spark.sqlContext
    val streamTbl = s"graft_inv_stream_${System.nanoTime()}"
    val batchTbl = s"graft_inv_batchref_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory("graft-postings-ckpt").toString
    try {
      val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
        .as[(Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String)]
      val q = Pipeline.batchWriter(mem.toDF().toDF("doc_id", "text"), ckpt,
        Trigger.ProcessingTime("1 second"))((b, _) => Pipeline.upsertPostingsBatch(b, streamTbl))
        .start()
      try {
        val third = math.max(1, docs.size / 3)
        docs.grouped(third).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()

      graft.queries.TextQueries.buildInvertedIndex(spark, sf, batchTbl)
      val sp = spark.table(streamTbl)
      val bp = spark.table(batchTbl)
      assert(sp.exceptAll(bp).isEmpty && bp.exceptAll(sp).isEmpty,
        "streamed postings must equal the batch build's")
      // meta stamp parity — after full replay the streamed sidecar
      // carries the batch build's source fingerprint (q94/q97 stamp
      // discipline), so the q134/q137 freshness gate accepts it
      def meta(t: String) = (spark.table(s"${t}_meta").select("n_postings", "n_terms").head(),
        Artifacts.stamped(spark, s"${t}_meta"))
      val (sm, bm) = (meta(streamTbl), meta(batchTbl))
      assert(sm._2.isDefined && sm == bm, s"meta stamp drift: stream=$sm batch=$bm")

      // replay hardening: re-upserting an already-indexed batch (the
      // at-least-once case) must change nothing
      val before = sp.count()
      graft.streaming.Pipeline.upsertPostingsBatch(
        docs.take(10).toDF("doc_id", "text"), streamTbl)
      assert(spark.table(streamTbl).count() == before,
        "replayed batch must be a no-op")
    } finally {
      Seq(streamTbl, s"${streamTbl}_meta", batchTbl, s"${batchTbl}_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("streaming vector upsert ≡ the q144 batch encode under stored sidecars") {
    // The ANN sibling of the postings-maintenance parity: a full
    // q144 build is the reference; the incremental table starts from
    // the base slice (vec_id % 10 ≠ 7) plus COPIED sidecars, then the
    // held-out slice streams through upsertVectorsBatch in three
    // micro-batches. Codes quantize under frozen codebooks, so
    // stream-appended rows must equal the batch build's bit-for-bit;
    // the re-stamped sidecar must carry the batch build's source
    // fingerprint after full replay; a replayed batch is a no-op.
    import graft.queries.SimilarityQueries
    implicit val sqlCtx = spark.sqlContext
    val tblFull = s"graft_ivfpq_par_full_${System.nanoTime()}"
    val tblInc = s"graft_ivfpq_par_inc_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory("graft-vec-ckpt").toString
    try {
      SimilarityQueries.buildIvfPqIndex(spark, sf, tblFull)
      val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      val (cent, cb) = SimilarityQueries.loadIvfPqSidecars(spark, tblFull)
      SimilarityQueries.ivfPqCodeRows(emb.filter($"vec_id" % 10 =!= 7), cent, cb)
        .write.bucketBy(cent.length, "cell").sortBy("cell")
        .format("parquet").saveAsTable(tblInc)
      spark.table(s"${tblFull}_centroids").write.format("parquet")
        .saveAsTable(s"${tblInc}_centroids")
      spark.table(s"${tblFull}_pq").write.format("parquet")
        .saveAsTable(s"${tblInc}_pq")

      val rest = emb.filter($"vec_id" % 10 === 7)
        .as[(Long, Array[Float])].collect().toSeq
      assert(rest.nonEmpty, "held-out slice must exist")
      val mem = MemoryStream[(Long, Array[Float])]
      val q = Pipeline.batchWriter(mem.toDF().toDF("vec_id", "embedding"), ckpt,
        Trigger.ProcessingTime("1 second"))((b, _) => Pipeline.upsertVectorsBatch(b, tblInc))
        .start()
      try {
        val third = math.max(1, rest.size / 3)
        rest.grouped(third).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()

      val si = spark.table(tblInc)
      val bi = spark.table(tblFull)
      assert(si.exceptAll(bi).isEmpty && bi.exceptAll(si).isEmpty,
        "streamed code rows must equal the batch build's")
      val incStamp = Artifacts.stamped(spark, s"${tblInc}_centroids")
      val fullStamp = Artifacts.stamped(spark, s"${tblFull}_centroids")
      assert(incStamp.isDefined && incStamp == fullStamp,
        s"post-replay stamp drift: inc=$incStamp full=$fullStamp")

      // replay hardening: re-upserting an indexed batch is a no-op
      val before = si.count()
      graft.streaming.Pipeline.upsertVectorsBatch(
        rest.take(5).toDF("vec_id", "embedding"), tblInc)
      assert(spark.table(tblInc).count() == before, "replay must be a no-op")
    } finally {
      Seq(tblFull, s"${tblFull}_centroids", s"${tblFull}_pq",
        tblInc, s"${tblInc}_centroids", s"${tblInc}_pq")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("quality verdict: stream == q127 stateless bits on the full documents fixture") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val stamped = Pipeline.withQualityVerdict(
      mem.toDF().toDF("doc_id", "text"), "text")
    assert(stamped.isStreaming)
    val q = stamped.writeStream.format("memory").queryName("quality_verdict")
      .outputMode("append").start()
    try {
      val half = math.max(1, docs.size / 2)
      docs.grouped(half).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val streamMap = spark.table("quality_verdict")
        .select($"doc_id", $"quality_reasons", $"quality_keep")
        .as[(Long, Long, Boolean)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(streamMap.size == docs.size)
      // the batch q127 registered query, bit 4 (corpus-wide dup-ngram)
      // masked off — the declared stream/batch contract
      val batch = graft.queries.TrainQueries.filterStack(spark, sf)
        .as[(Long, Long, Long, Boolean)].collect()
      batch.foreach { case (id, _, reasons, _) =>
        val stateless = reasons & ~4L
        assert(streamMap(id)._1 == stateless,
          s"doc $id: stream ${streamMap(id)._1} != batch-stateless $stateless")
        assert(streamMap(id)._2 == (stateless == 0L))
      }
      // the verdict must BIND both ways on the fixture replay
      assert(streamMap.values.exists(_._2) && streamMap.values.exists(!_._2))
    } finally q.stop()
  }

  test("streaming near-dup screen ≡ the q158 batch screen; replay cannot double-report") {
    // q158's ingest guard running continuously: the batch slice
    // streams through screenNeardupBatch in three micro-batches
    // against the standing index; the appended report must equal the
    // registered batch query's rows (shared serve chain — structural
    // parity), and re-screening a seen batch must add nothing.
    implicit val sqlCtx = spark.sqlContext
    val reportTbl = s"graft_ndi_report_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory("graft-ndi-ckpt").toString
    val indexTbl = Artifacts.name("ndi_q158", sf)
    try {
      val want = graft.queries.DedupQueries.neardupIndexServe(spark, sf)
        .collect() // also guarantees the standing index is built
      val batchDocs = Tables.documents(spark, sf)
        .filter($"source" === graft.queries.DedupQueries.NdiBatchSource)
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String)]
      val q = Pipeline.batchWriter(mem.toDF().toDF("doc_id", "text"), ckpt,
        Trigger.ProcessingTime("1 second"))(
        (b, _) => Pipeline.screenNeardupBatch(b, indexTbl, reportTbl)).start()
      try {
        val third = math.max(1, batchDocs.size / 3)
        batchDocs.grouped(third).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(reportTbl).collect()
      assert(got.map(_.toSeq).toSet == want.map(_.toSeq).toSet,
        s"stream report (${got.length}) must equal batch screen (${want.length})")
      assert(want.nonEmpty, "fixture must yield at least one screened pair")
      // at-least-once replay: re-screening the full batch adds nothing
      graft.streaming.Pipeline.screenNeardupBatch(
        batchDocs.toDF("doc_id", "text"), indexTbl, reportTbl)
      assert(spark.table(reportTbl).count() == got.length,
        "replayed screen must be a no-op")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $reportTbl")
    }
  }

  test("streaming decontam guard ≡ the q182 batch sweep; replay cannot double-report") {
    // q182's exact-substring guard running continuously: train docs
    // stream through screenDecontamBatch in three micro-batches
    // against the standing eval-probe automaton; the appended report
    // must equal the registered batch query's pair rows (shared scan
    // chain — structural parity), and re-screening adds nothing.
    implicit val sqlCtx = spark.sqlContext
    val reportTbl = s"graft_decontam_report_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory("graft-decontam-ckpt").toString
    try {
      val docs = Tables.documents(spark, sf)
      val ac = graft.queries.TrainQueries.evalProbeAutomaton(docs)
      val want = graft.queries.TrainQueries.decontamPairs(spark, sf)
        .as[(Long, Long)].collect().toSet
      assert(want.nonEmpty, "fixture must plant at least one verbatim leak")
      val trainDocs = docs.filter($"source" =!= "src0")
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String)]
      val q = Pipeline.batchWriter(mem.toDF().toDF("doc_id", "text"), ckpt,
        Trigger.ProcessingTime("1 second"))(
        (b, _) => Pipeline.screenDecontamBatch(b, ac, reportTbl)).start()
      try {
        val third = math.max(1, trainDocs.size / 3)
        trainDocs.grouped(third).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(reportTbl).as[(Long, Long)].collect()
      assert(got.toSet == want, s"stream report (${got.length}) != batch pairs (${want.size})")
      // at-least-once replay: re-screening the full train side adds nothing
      graft.streaming.Pipeline.screenDecontamBatch(
        trainDocs.toDF("doc_id", "text"), ac, reportTbl)
      assert(spark.table(reportTbl).count() == got.length,
        "replayed screen must be a no-op")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $reportTbl")
    }
  }

  test("streaming span-evidence guard ≡ the q197 pair chain; replay cannot double-report") {
    // q197's pair-level core running continuously: train docs stream
    // through screenSpanBatch in three micro-batches against the
    // standing eval set; the appended report must equal the
    // whole-corpus pair sweep (shared spanPairsOver chain — per-pair
    // rows carry no cross-train state, so batch boundaries cannot
    // change them), and re-screening the full train side adds nothing.
    implicit val sqlCtx = spark.sqlContext
    val reportTbl = s"graft_span_report_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory("graft-span-ckpt").toString
    try {
      val docs = Tables.documents(spark, sf)
      val evalDocs = docs.filter($"source" === "src0").select($"doc_id", $"text")
      val want = graft.queries.TextQueries.spanPairsOver(
          evalDocs, docs.filter($"source" =!= "src0").select($"doc_id", $"text"))
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty, "fixture must yield at least one span pair")
      val trainDocs = docs.filter($"source" =!= "src0")
        .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
      val mem = MemoryStream[(Long, String)]
      val q = Pipeline.batchWriter(mem.toDF().toDF("doc_id", "text"), ckpt,
        Trigger.ProcessingTime("1 second"))(
        (b, _) => Pipeline.screenSpanBatch(b, evalDocs, reportTbl)).start()
      try {
        val third = math.max(1, trainDocs.size / 3)
        trainDocs.grouped(third).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      val got = spark.table(reportTbl)
        .select("eval_id", "train_id", "span_tokens", "eval_start", "eval_end", "train_start")
        .collect()
      assert(got.map(_.toSeq).toSet == want,
        s"stream report (${got.length}) must equal the batch pair sweep (${want.size})")
      // at-least-once replay: re-screening the full train side adds nothing
      graft.streaming.Pipeline.screenSpanBatch(
        trainDocs.toDF("doc_id", "text"), evalDocs, reportTbl)
      assert(spark.table(reportTbl).count() == got.length,
        "replayed screen must be a no-op")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $reportTbl")
    }
  }

  test("streaming vocab-drift guard: per-batch OOV rollups reconcile with q183; replay cannot double-report") {
    implicit val sqlCtx = spark.sqlContext
    val vocabTbl = s"graft_vocab_${System.nanoTime()}"
    val reportTbl = s"graft_oov_report_${System.nanoTime()}"
    val ckpt = Files.createTempDirectory("graft-oov-ckpt").toString
    try {
      val docs = Tables.documents(spark, sf)
      graft.queries.TrainQueries.trainVocab(docs, 20)
        .write.format("parquet").saveAsTable(vocabTbl)
      // stream the held-out slice (what q183 measures) in three batches
      val evalDocs = docs
        .filter(graft.queries.TrainQueries.splitOf($"doc_id") =!= "train")
        .select($"doc_id", $"lang", $"text")
        .as[(Long, String, String)].collect().toSeq
      val mem = MemoryStream[(Long, String, String)]
      val q = Pipeline.batchWriter(mem.toDF().toDF("doc_id", "lang", "text"), ckpt,
        Trigger.ProcessingTime("1 second"))(
        (b, id) => Pipeline.screenOovBatch(b, id, vocabTbl, reportTbl)).start()
      try {
        val third = math.max(1, evalDocs.size / 3)
        evalDocs.grouped(third).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      val report = spark.table(reportTbl)
        .select($"lang", $"n_tokens", $"n_oov")
        .as[(String, Long, Long)].collect()
      // per-lang sums across batches must equal q183's val+test rows summed
      val gotByLang = report.groupBy(_._1).map { case (l, xs) =>
        l -> (xs.map(_._2).sum, xs.map(_._3).sum) }
      val wantByLang = graft.queries.TrainQueries.oovRate(spark, sf, 20)
        .select($"lang", $"n_tokens", $"n_oov").as[(String, Long, Long)].collect()
        .groupBy(_._1).map { case (l, xs) => l -> (xs.map(_._2).sum, xs.map(_._3).sum) }
      assert(gotByLang == wantByLang,
        "streamed per-batch OOV must reconcile with the batch q183 rollup")
      assert(report.map(_._3).sum > 0, "the guard must observe OOV tokens on the fixture")
      // at-least-once replay of an already-reported batch id: no-op
      val n0 = spark.table(reportTbl).count()
      graft.streaming.Pipeline.screenOovBatch(
        evalDocs.toDF("doc_id", "lang", "text"), 0L, vocabTbl, reportTbl)
      assert(spark.table(reportTbl).count() == n0, "replayed batch id must be a no-op")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $reportTbl")
      spark.sql(s"DROP TABLE IF EXISTS $vocabTbl")
    }
  }
}
