package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.SessionState

/** Streaming sessionization on `session_window`: gap split, watermark
  * close, out-of-order merges, and per-session parity with batch q28;
  * plus the Misra–Gries trending state. */
class SessionStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming sessionize: gap closes a session, watermark closes stragglers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sessions = SessionState.sessionize(
      mem.toDF().toDF("user_id", "ts", "value"), watermark = "0 seconds")
    val q = sessions.writeStream.format("memory").queryName("fmgws_test")
      .outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then an event
      // 2 hours later (the gap splits them into two sessions)
      mem.addData(
        (1L, ts("2025-09-01 10:00:00"), 1.0),
        (1L, ts("2025-09-01 10:10:00"), 2.0),
        (2L, ts("2025-09-01 10:05:00"), 5.0))
      q.processAllAvailable()
      mem.addData((1L, ts("2025-09-01 12:10:00"), 3.0))
      q.processAllAvailable()
      // advance the watermark far past everyone → close all open
      mem.addData((99L, ts("2025-09-01 20:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData((98L, ts("2025-09-02 10:00:00"), 0.0))
      q.processAllAvailable()

      val rows = spark.table("fmgws_test")
        .select($"user_id", $"n_events", $"sum_value")
        .as[(Long, Long, Double)].collect().toSet
      // user 1 session A: 2 events sum 3.0, split from B by the gap
      assert(rows.contains((1L, 2L, 3.0)), s"missing gap-split session: $rows")
      // user 1 session B (1 event, 3.0) and user 2 (1 event, 5.0)
      assert(rows.contains((1L, 1L, 3.0)), s"missing session B of u1: $rows")
      assert(rows.contains((2L, 1L, 5.0)), s"missing session of u2: $rows")
    } finally q.stop()
  }

  test("out-of-order events: within-gap extends session backwards, too-old closes alone") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val sessions = SessionState.sessionize(
      mem.toDF().toDF("user_id", "ts", "value"),
      watermark = "2 hours") // wide watermark lets late rows through
    val q = sessions.writeStream.format("memory").queryName("ooo_test")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts("2025-09-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // late but within gap of session start → extends backwards
      mem.addData((1L, ts("2025-09-01 09:45:00"), 2.0))
      q.processAllAvailable()
      // 45 min before 09:45 but still inside the 2h watermark → its
      // own single-event session (events BEHIND the watermark never
      // reach the operator at all)
      mem.addData((1L, ts("2025-09-01 09:00:00"), 5.0))
      q.processAllAvailable()
      // flush remaining state
      mem.addData((99L, ts("2025-09-02 10:00:00"), 0.0))
      q.processAllAvailable()
      mem.addData((98L, ts("2025-09-03 10:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("ooo_test").filter($"user_id" === 1)
        .select($"session_start", $"n_events", $"sum_value")
        .as[(Timestamp, Long, Double)].collect().toSet
      assert(rows.contains((ts("2025-09-01 09:00:00"), 1L, 5.0)),
        s"an event more than the gap earlier must form its own session: $rows")
      assert(rows.contains((ts("2025-09-01 09:45:00"), 2L, 3.0)),
        s"late within-gap event must extend the session backwards: $rows")
    } finally q.stop()
  }

  /** Streams `batches` (one micro-batch each) through sessionize,
    * then two far-future sentinel events close every open session. */
  private def runSessions(batches: Seq[Seq[(Long, Timestamp, Double)]],
                          watermark: String, name: String) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = SessionState.sessionize(mem.toDF().toDF("user_id", "ts", "value"), watermark = watermark)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      Seq("2030-01-01 00:00:00", "2030-06-01 00:00:00").foreach { t =>
        mem.addData((9999L, ts(t), 0.0)); q.processAllAvailable()
      }
      spark.table(name).filter($"user_id" =!= 9999L)
    } finally q.stop()
  }

  test("stream and batch q28 agree per session on the fixture") {
    // all fixture users, fed chronologically in 3 chunks so sessions
    // span micro-batches
    val rows = Tables.events(spark, sf).orderBy($"ts", $"event_id")
      .select($"user_id", $"ts", $"value").as[(Long, Timestamp, Double)].collect()
    val chunks = rows.grouped(rows.length / 3 + 1).map(_.toSeq).toSeq
    val streamed = runSessions(chunks, "0 seconds", "sessions_parity")
      .select($"user_id", date_format($"session_start", "yyyy-MM-dd HH:mm:ss"), $"n_events",
        expr("(unix_micros(session_end) - unix_micros(session_start)) div 1000000"))
      .as[(Long, String, Long, Long)].collect().toSet
    val batch = graft.queries.EventQueries.sessionizeRaw(spark, sf)
      .select($"user_id", $"session_start", $"n_events", $"duration_s")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(batch.size > rows.map(_._1).distinct.length, "fixture must split some user's sessions")
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("a late straggler bridging an earlier session merges it, as q28 does") {
    // 10:00, then 09:45, then 09:00 (45 min before 09:45), then 09:20
    // arrives late and sits within the gap of both 09:00 and 09:45:
    // batch sees 09:00, 09:20, 09:45, 10:00 — one 4-event session
    val out = runSessions(Seq(
      Seq((1L, ts("2025-09-01 10:00:00"), 1.0)),
      Seq((1L, ts("2025-09-01 09:45:00"), 2.0)),
      Seq((1L, ts("2025-09-01 09:00:00"), 4.0)),
      Seq((1L, ts("2025-09-01 09:20:00"), 8.0))), "2 hours", "sessions_bridge")
      .select($"session_start", $"session_end", $"n_events", $"sum_value")
      .as[(Timestamp, Timestamp, Long, Double)].collect().toSeq
    assert(out == Seq((ts("2025-09-01 09:00:00"), ts("2025-09-01 10:00:00"), 4L, 15.0)),
      s"one bridged session expected: $out")
  }

  test("the gap is compared in exact micros: 1,800,000,999 µs apart splits") {
    // both events truncate to the same 1800 s in milliseconds; q28's
    // rule (> 1800000000 µs) splits them
    val out = runSessions(Seq(Seq(
      (1L, ts("2025-09-01 10:00:00"), 1.0),
      (1L, ts("2025-09-01 10:30:00.000999"), 2.0))), "0 seconds", "sessions_micros")
      .select($"n_events", $"sum_value").as[(Long, Double)].collect().toSet
    assert(out == Set((1L, 1.0), (1L, 2.0)), s"two single-event sessions expected: $out")
  }

  test("streaming trending: MG state accumulates across batches with valid bounds") {
    implicit val sqlCtx = spark.sqlContext
    // Option[Long] → nullable user_id: NULL events must be dropped by
    // the guard, not kill the query at the typed decode (ADVICE r02)
    val mem = MemoryStream[(String, Option[Long])]
    val trends = graft.streaming.TrendingState.trending(
      mem.toDF().toDF("event_type", "user_id"), capacity = 4, k = 2)
    val q = trends.writeStream.format("memory").queryName("trending_test")
      .outputMode("update").start()
    try {
      // batch 1: user 7 dominates clicks; one NULL user must be ignored
      mem.addData(("click", Some(7L)), ("click", Some(7L)), ("click", Some(7L)),
        ("click", Some(1L)), ("click", Some(2L)), ("click", None))
      q.processAllAvailable()
      // batch 2: more of user 7 plus churn that forces decrements (cap 4)
      mem.addData(("click", Some(7L)), ("click", Some(7L)), ("click", Some(3L)),
        ("click", Some(4L)), ("click", Some(5L)), ("click", Some(6L)),
        ("click", Some(8L)))
      q.processAllAvailable()
      import org.apache.spark.sql.functions.col
      val last = spark.table("trending_test").filter(col("event_type") === "click")
        .orderBy(col("n_events").desc).limit(1)
        .select("top_items", "top_ests", "max_err", "n_events", "n_tracked")
        .collect().head
      val items = last.getSeq[String](0)
      val ests = last.getSeq[Long](1)
      val maxErr = last.getLong(2)
      assert(last.getLong(3) == 12L, "state must accumulate across batches")
      assert(last.getInt(4) <= 4, "state bounded by capacity")
      assert(items.head == "7", s"dominant user must lead the trend: $items")
      // bound theorem: est <= true(=5 for user 7) <= est + max_err
      assert(ests.head <= 5L && ests.head + maxErr >= 5L,
        s"est ${ests.head} + err $maxErr must bracket true 5")
    } finally q.stop()
  }

  test("streaming trending bound-parity on the fixture under SHUFFLED replay") {
    // The MG sketch's counters are order-dependent, so exact
    // batch↔stream value parity is not a theorem — the BOUNDS are.
    // Replay the whole events fixture in arbitrary order across 3
    // micro-batches and check, per event type, against exact counts:
    // n_events is exact, every emitted estimate brackets its true
    // count within max_err, and state stays capacity-bounded.
    implicit val sqlCtx = spark.sqlContext
    val rows = Tables.events(spark, sf)
      .select($"event_type", $"user_id").as[(String, Long)].collect().toSeq
    val delivered = new scala.util.Random(41).shuffle(rows)
      .map { case (t, u) => (t, Option(u)) }
    val chunks = delivered.grouped(delivered.length / 3 + 1).map(_.toSeq).toSeq
    assert(chunks.length == 3)
    val mem = MemoryStream[(String, Option[Long])]
    val trends = graft.streaming.TrendingState.trending(
      mem.toDF().toDF("event_type", "user_id"), capacity = 16, k = 5)
    val q = trends.writeStream.format("memory").queryName("trending_parity")
      .outputMode("update").start()
    try {
      chunks.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val perType = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val finals = spark.table("trending_parity").collect()
        .map { r => (r.getString(0), r.getSeq[String](1), r.getSeq[Long](2),
          r.getLong(3), r.getLong(4), r.getInt(5)) }
        .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._5) }
      assert(finals.map(_._1).toSet == perType.keySet)
      finals.foreach { case (tpe, items, ests, maxErr, n, tracked) =>
        assert(n == perType(tpe), s"$tpe: n_events $n != exact ${perType(tpe)}")
        assert(tracked <= 16, s"$tpe: state exceeded capacity")
        items.zip(ests).foreach { case (item, est) =>
          val truth = exact((tpe, item.toLong))
          assert(est <= truth && truth <= est + maxErr,
            s"$tpe/$item: est $est + err $maxErr must bracket true $truth")
        }
      }
    } finally q.stop()
  }
}
