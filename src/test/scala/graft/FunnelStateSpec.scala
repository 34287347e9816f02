package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.FunnelState

/** Streaming sessionized funnel: strict view→click→purchase order,
  * out-of-order retro-qualification, gap split and watermark close, and
  * per-session parity with the batch q90 step frame. */
class FunnelStateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def micros(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

  private def runStream(batches: Seq[Seq[(Long, Timestamp, Long, String)]],
                        watermark: String = "0 seconds",
                        name: String = "funnel_test") = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String)]
    val q = FunnelState.funnelize(
        mem.toDF().toDF("user_id", "ts", "event_id", "event_type"),
        watermark = watermark)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // sentinel users far in the future flush every open session
      // (two advances: watermark moves AFTER a batch completes)
      mem.addData((9901L, ts("2030-01-01 00:00:00"), 0L, "view"))
      q.processAllAvailable()
      mem.addData((9902L, ts("2030-06-01 00:00:00"), 0L, "view"))
      q.processAllAvailable()
      spark.table(name).filter($"user_id" < 9900L).collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[Long]))
      }.toSeq
    } finally q.stop()
  }

  test("strict order: click before view and purchase before click do NOT convert") {
    def at(m: Int) = ts(f"2025-09-01 10:$m%02d:00")
    val out = runStream(Seq(Seq(
      // u1: click(2) precedes view(5) -> no qualifying click
      (1L, at(2), 1L, "click"), (1L, at(5), 2L, "view"),
      // u2: purchase(4) precedes click(6); view(2) -> click converts, purchase doesn't
      (2L, at(2), 3L, "view"), (2L, at(4), 4L, "purchase"), (2L, at(6), 5L, "click"),
      // u3: the clean chain converts fully
      (3L, at(1), 6L, "view"), (3L, at(3), 7L, "click"), (3L, at(8), 8L, "purchase"))))
    val byUser = out.groupBy(_._1).view.mapValues(_.head).toMap
    assert(byUser(1L)._4.isDefined && byUser(1L)._5.isEmpty,
      s"u1: click-before-view must not convert: ${byUser(1L)}")
    assert(byUser(2L)._5.isDefined && byUser(2L)._6.isEmpty,
      s"u2: purchase-before-click must not convert: ${byUser(2L)}")
    assert(byUser(3L)._4.isDefined && byUser(3L)._5.isDefined && byUser(3L)._6.isDefined,
      s"u3: full chain must convert: ${byUser(3L)}")
  }

  test("out-of-order: a late earlier view retro-qualifies a click (and its purchase)") {
    def at(m: Int) = ts(f"2025-09-01 10:$m%02d:00")
    // batch 1 delivers click+purchase first; the view arrives in batch
    // 2 with an EARLIER timestamp (within gap and watermark) — the
    // session must still hold the click so both steps resolve
    val out = runStream(Seq(
      Seq((1L, at(10), 1L, "click"), (1L, at(12), 2L, "purchase")),
      Seq((1L, at(5), 3L, "view"))),
      watermark = "2 hours")
    assert(out.size == 1, s"one merged session expected: $out")
    val (_, tStart, n, tv, tc, tp) = out.head
    assert(n == 3L && tStart == micros(at(5)),
      s"late view must extend the session backwards: $out")
    assert(tv.contains(micros(at(5))), s"t_view: $out")
    assert(tc.contains(micros(at(10))), s"retro-qualified click: $out")
    assert(tp.contains(micros(at(12))), s"retro-qualified purchase: $out")
  }

  test("gap splits sessions; the watermark closes each as it passes its window") {
    def h(hh: Int, mm: Int) = ts(f"2025-09-01 $hh%02d:$mm%02d:00")
    val out = runStream(Seq(
      Seq((1L, h(10, 0), 1L, "view"), (1L, h(10, 5), 2L, "click")),
      // 2h later: opens session B; A stays open until the watermark
      // (which only reaches 10:05 during this batch) passes 10:35
      Seq((1L, h(12, 30), 3L, "view")),
      Seq((1L, h(15, 0), 4L, "view"))))
    assert(out.size == 3, s"expected three gap-split sessions: $out")
    val a = out.find(_._2 == micros(h(10, 0))).get
    assert(a._3 == 2L && a._4.isDefined && a._5.isDefined,
      s"session A converted through click: $a")
    assert(out.filter(_ ne a).forall(s => s._3 == 1L && s._5.isEmpty),
      s"sessions B and C are view-only: $out")
  }

  test("pre-window stragglers merge into one session, not premature singletons") {
    // events older than start-gap but inside the watermark must stay
    // open and merge with each other, as batch merges them, not be
    // emitted one by one
    def h(hh: Int, mm: Int) = ts(f"2025-09-01 $hh%02d:$mm%02d:00")
    val out = runStream(Seq(
      Seq((1L, h(12, 0), 1L, "view")),
      // two stragglers 3h earlier, within gap of EACH OTHER
      Seq((1L, h(9, 0), 2L, "click"), (1L, h(9, 10), 3L, "view"))),
      watermark = "6 hours")
    assert(out.size == 2, s"straggler pair must form ONE session: $out")
    val straggler = out.find(_._2 == micros(h(9, 0))).get
    assert(straggler._3 == 2L, s"both stragglers in one session: $straggler")
    assert(straggler._4.contains(micros(h(9, 10))) && straggler._5.isEmpty,
      s"click precedes the view, so no strict-order conversion: $straggler")
    assert(out.exists(s => s._2 == micros(h(12, 0)) && s._3 == 1L),
      s"the original session stays intact: $out")
  }

  test("a bridging event merges two open sessions across batches") {
    def h(hh: Int, mm: Int) = ts(f"2025-09-01 $hh%02d:$mm%02d:00")
    val out = runStream(Seq(
      Seq((1L, h(10, 0), 1L, "view")),
      Seq((1L, h(10, 50), 2L, "purchase")), // 50m later: separate island
      Seq((1L, h(10, 25), 3L, "click"))), // within gap of BOTH: bridges
      watermark = "6 hours")
    assert(out.size == 1, s"bridge must merge the islands: $out")
    val (_, tStart, n, tv, tc, tp) = out.head
    assert(n == 3L && tStart == micros(h(10, 0)), s"merged bounds: $out")
    assert(tv.contains(micros(h(10, 0))) &&
      tc.contains(micros(h(10, 25))) &&
      tp.contains(micros(h(10, 50))),
      s"full strict-order conversion through the bridge: $out")
  }

  test("parity fuzz: random corpora, batch splits, and ARBITRARY arrival order") {
    // the fixture parity test covers one data distribution; this
    // fuzzes gap structure, step-type mixes (including no-view
    // sessions and purchase-heavy users), micro-batch boundaries, and
    // — trials 4+ — fully shuffled delivery, so stragglers older than
    // an open session's merge window and bridge events arrive in every
    // order. The final closed set must equal the batch gap split
    // regardless of arrival order (within the watermark, held wide
    // here so nothing is dropped).
    val rnd = new scala.util.Random(31)
    val types = Seq("view", "click", "purchase", "other")
    (1 to 8).foreach { trial =>
      var eid = 0L
      val rows = (0 until 8).flatMap { u =>
        var t = Timestamp.valueOf("2025-09-01 08:00:00").getTime + rnd.nextInt(600) * 1000L
        (0 until (1 + rnd.nextInt(30))).map { _ =>
          // mostly intra-session steps, occasionally a gap-crossing jump
          t += (if (rnd.nextInt(6) == 0) (31 + rnd.nextInt(180)) else rnd.nextInt(25)) * 60000L
          eid += 1
          (u.toLong, new Timestamp(t), eid, types(rnd.nextInt(types.length)))
        }
      }.sortBy(r => (r._2.getTime, r._3))
      val shuffled = trial > 3
      val delivered = if (shuffled) rnd.shuffle(rows) else rows
      val chunks = delivered.grouped(
        math.max(1, delivered.length / (1 + rnd.nextInt(4)) + 1)).map(_.toSeq).toSeq
      val streamed = runStream(chunks, name = s"funnel_fuzz_$trial",
          watermark = if (shuffled) "30 days" else "0 seconds").toSet
      val batch = graft.queries.EventQueries.sessionSteps(
          rows.toDF("user_id", "ts", "event_id", "event_type"))
        .select($"user_id", $"t_start", $"n_events", $"t_view", $"t_click", $"t_purchase")
        .collect().map { r =>
          (r.getLong(0), r.getLong(1), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Long]),
            Option(r.get(4)).map(_.asInstanceOf[Long]),
            Option(r.get(5)).map(_.asInstanceOf[Long]))
        }.toSet
      assert(streamed == batch,
        s"trial $trial (shuffled=$shuffled): stream-only=${(streamed -- batch).take(3)} " +
          s"batch-only=${(batch -- streamed).take(3)}")
    }
  }

  test("batch q90 step frame and the streaming funnel agree per session on the fixture") {
    // all fixture users, events fed chronologically in 3 chunks so
    // sessions span micro-batches
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"ts", $"event_id", $"event_type")
    val rows = ev.orderBy($"ts", $"event_id")
      .as[(Long, Timestamp, Long, String)].collect()
    val chunks = rows.grouped(math.max(1, rows.length / 3 + 1)).map(_.toSeq).toSeq
    val streamed = runStream(chunks, watermark = "0 seconds", name = "funnel_parity").toSet
    val batch = graft.queries.EventQueries.sessionSteps(ev)
      .select($"user_id", $"t_start", $"n_events", $"t_view", $"t_click", $"t_purchase")
      .collect().map { r =>
        (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))
      }.toSet
    assert(streamed.size == batch.size,
      s"session counts differ: stream=${streamed.size} batch=${batch.size}")
    val onlyBatch = batch -- streamed
    val onlyStream = streamed -- batch
    assert(onlyBatch.isEmpty && onlyStream.isEmpty,
      s"step frames differ; batch-only=${onlyBatch.take(3)} stream-only=${onlyStream.take(3)}")
  }
}
