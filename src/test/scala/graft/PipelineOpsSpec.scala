package graft

import org.apache.spark.sql.functions._

/** Invariants for the round-7 pipeline operators: chunking (q78),
  * contamination (q79), SCD2 intervals (q80). The oracle gate checks
  * cross-engine equality; these pin the SEMANTIC contracts on edges
  * and on the fixture. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("docChunks: chunk counts and sizes follow the stride formula") {
    assert(graft.queries.TrainQueries.docChunks(spark, sf).columns.toSeq ==
      Seq("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_fp"))

    // fixture-wide: chunk counts follow ((n-1) div 24) + 1 and every
    // chunk's size is exactly min(32, n - 24*idx)
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", size(split(trim($"text"), "\\s+")).cast("long").as("n"))
    val chunks = graft.queries.TrainQueries.docChunks(spark, sf)
    val counts = chunks.groupBy($"doc_id").agg(count(lit(1)).as("n_chunks"))
    assert(counts.join(docs, "doc_id")
      .filter($"n_chunks" =!= expr("(n - 1) div 24") + 1).count() == 0)
    assert(chunks.join(docs, "doc_id")
      .filter($"n_chunk_tokens" =!=
        least(lit(32L), $"n" - $"chunk_idx" * 24)).count() == 0)
  }

  test("docChunks: overlapping chunks re-cover the stride-overlap tokens") {
    // every token index 0..n-1 is covered by at least one chunk:
    // total chunk tokens = n + overlap-double-counts >= n
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", size(split(trim($"text"), "\\s+")).cast("long").as("n"))
    val per = graft.queries.TrainQueries.docChunks(spark, sf)
      .groupBy($"doc_id").agg(sum($"n_chunk_tokens").as("covered"))
    assert(per.join(docs, "doc_id").filter($"covered" < $"n").count() == 0)
  }

  test("contamination: hit counts bounded, flags consistent, gram counts exact") {
    val c = graft.queries.TrainQueries.contamination(spark, sf)
    val docs = Tables.documents(spark, sf).filter($"source" === "src0")
      .select($"doc_id",
        size(array_distinct(transform(
          sequence(lit(1), greatest(size(split(trim($"text"), "\\s+")) - 7, lit(1))),
          i => concat_ws(" ", slice(split(trim($"text"), "\\s+"), i, lit(8))))))
          .cast("long").as("n_expect"),
        (size(split(trim($"text"), "\\s+")) >= 8).as("long_enough"))
    val joined = c.join(docs, "doc_id")
    assert(joined.filter($"n_hit" > $"n_grams").count() == 0)
    assert(joined.filter($"is_contaminated" =!= ($"n_hit" > 0)).count() == 0)
    assert(joined.filter($"contamination_frac" < 0 || $"contamination_frac" > 1).count() == 0)
    assert(joined.filter($"long_enough" && $"n_grams" =!= $"n_expect").count() == 0)
    assert(joined.filter(!$"long_enough" && $"n_grams" =!= 0).count() == 0)
    // the fixture's near-dup corpus MUST show real contamination
    assert(c.filter($"is_contaminated").count() > 0)
  }

  test("contamination: an empty or all-short held-out side skips the bloom, no NPE") {
    import graft.queries.TrainQueries.contaminationOver
    // no src0 rows at all: bloom_build aggregates over zero rows to
    // null — the guard must skip the prefilter and return empty
    val noTest = Seq((1L, "src1", "a b c d e f g h i j"),
      (2L, "src2", "k l m n o p q r s t")).toDF("doc_id", "source", "text")
    assert(contaminationOver(noTest).count() == 0)
    // src0 present but every doc shorter than the gram width: the
    // gram frame is empty (null bloom again) yet each held-out doc
    // must still report n_grams = 0, uncontaminated
    val shortTest = Seq((1L, "src0", "too short"), (2L, "src0", "also brief"),
      (3L, "src1", "a b c d e f g h i j")).toDF("doc_id", "source", "text")
    val out = contaminationOver(shortTest).collect()
    assert(out.length == 2 && out.forall(r =>
      r.getAs[Long]("n_grams") == 0L && !r.getAs[Boolean]("is_contaminated")),
      s"short held-out docs must report zero grams: ${out.toSeq}")
  }

  test("scd2Intervals: per-user timeline partitions cleanly") {
    val iv = graft.queries.EventQueries.scd2Intervals(spark, sf)
    val n = iv.count()
    assert(n > 0)
    // exactly one open (current) record per user
    val open = iv.groupBy($"user_id")
      .agg(sum(when($"is_current", 1).otherwise(0)).as("n_open"))
    assert(open.filter($"n_open" =!= 1).count() == 0)
    // closed intervals end at-or-after they start, and is_current
    // mirrors valid_to IS NULL (string compare works: the format is
    // lexicographically chronological)
    assert(iv.filter($"is_current" =!= $"valid_to".isNull).count() == 0)
    assert(iv.filter(!$"is_current" && $"valid_to" < $"valid_from").count() == 0)
    // row count preserved vs the filtered source
    val src = Tables.events(spark, sf).filter($"user_id" % 20 === 0).count()
    assert(n == src)
  }

  test("q135 merge: untouched/closed/delta-born branches + identity vs one-pass rebuild") {
    import graft.queries.EventQueries
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val cols = Seq("user_id", "event_id", "event_type", "ts")
    // user 1: history on both sides of the cutoff (the fixture case)
    // user 2: base-only (untouched — open row must survive the merge)
    // user 3: delta-only (born in the delta — fresh chain, no base row)
    val base = Seq(
      (1L, 10L, "a", ts("2024-01-01 00:00:00")),
      (1L, 11L, "b", ts("2024-01-02 00:00:00")),
      (2L, 20L, "a", ts("2024-01-03 00:00:00"))).toDF(cols: _*)
    val delta = Seq(
      (1L, 12L, "c", ts("2024-02-01 00:00:00")),
      (1L, 13L, "d", ts("2024-02-02 00:00:00")),
      (3L, 30L, "x", ts("2024-02-03 00:00:00"))).toDF(cols: _*)
    val merged = EventQueries.scd2MergeOver(base, delta)
      .select("user_id", "event_id", "valid_to", "is_current")
      .as[(Long, Long, Option[String], Boolean)].collect().toSeq
    val byEvent = merged.map(r => r._2 -> r).toMap
    assert(byEvent(11L)._3.contains("2024-02-01 00:00:00.000000") && !byEvent(11L)._4,
      "affected user's open row closes at the FIRST delta ts")
    assert(byEvent(20L)._3.isEmpty && byEvent(20L)._4,
      "untouched user's open row survives open")
    assert(byEvent(12L)._3.contains("2024-02-02 00:00:00.000000") && !byEvent(12L)._4,
      "delta rows chain within the delta")
    assert(byEvent(13L)._4 && byEvent(30L)._4,
      "last delta row per user is current; delta-born user gets a fresh chain")
    // identity: incremental merge ≡ one-pass rebuild over all events
    // (an empty delta makes scd2MergeOver exactly the q80 assembly)
    val emptyDelta = Seq.empty[(Long, Long, String, java.sql.Timestamp)].toDF(cols: _*)
    val rebuild = EventQueries.scd2MergeOver(base.unionByName(delta), emptyDelta)
      .collect().map(_.toString).sorted.toSeq
    assert(merged.nonEmpty &&
      EventQueries.scd2MergeOver(base, delta).collect().map(_.toString).sorted.toSeq == rebuild,
      "incremental merge must equal the full rebuild")
  }

  test("q143 funnel: monotone stages and exact reconciliation with the q129 packs") {
    import graft.queries.TrainQueries
    val funnel = TrainQueries.assemblyFunnel(spark, sf)
      .select("source", "n_raw", "n_after_dedup", "n_after_filter", "n_tokens", "n_packs")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(funnel.nonEmpty)
    assert(funnel.forall(r => r._2 >= r._3 && r._3 >= r._4),
      "each stage can only shrink a source")
    assert(funnel.exists(r => r._2 > r._3) || funnel.exists(r => r._3 > r._4),
      "at least one stage must bind on the fixture")
    // the funnel's token and pack columns must reconcile EXACTLY with
    // the q129 assembly it audits (shared stage definitions)
    val packs = TrainQueries.corpusAssembly(spark, sf)
      .groupBy($"source")
      .agg(sum($"n_tokens").as("t"), count(lit(1)).as("p"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    funnel.filter(_._6 > 0).foreach { r =>
      assert(packs(r._1) == ((r._5, r._6)),
        s"source ${r._1}: funnel (${r._5}, ${r._6}) vs q129 ${packs(r._1)}")
    }
  }

  test("q139 anomalies: lower-median/MAD arithmetic on hand-checkable day counts") {
    import graft.queries.EventQueries
    def day(d: Int, n: Int, tpe: String) = (1 to n).map(i =>
      (tpe, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 0${i % 10}:00:00")))
    // type A: counts [8,10,12,14,30] → med=12 (lower median), ads
    // sorted [0,2,2,4,18] → mad=2; day5 score=9000 (anomaly), day1
    // score=2000 (not)
    // type B: counts [10,10,10,10,100] → med=10, mad=0 → greatest(mad,1)
    // guard: day5 score=90000
    val events = (day(1, 8, "A") ++ day(2, 10, "A") ++ day(3, 12, "A") ++
      day(4, 14, "A") ++ day(5, 30, "A") ++
      day(1, 10, "B") ++ day(2, 10, "B") ++ day(3, 10, "B") ++
      day(4, 10, "B") ++ day(5, 100, "B")).toDF("event_type", "ts")
    val got = EventQueries.eventAnomaliesOver(events)
      .select("event_type", "day", "c", "med", "mad", "score", "is_anomaly")
      .as[(String, String, Long, Long, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got(("A", "2024-01-05")) == (("A", "2024-01-05", 30L, 12L, 2L, 9000L, true)))
    assert(got(("A", "2024-01-01")) == (("A", "2024-01-01", 8L, 12L, 2L, 2000L, false)))
    assert(got(("B", "2024-01-05")) == (("B", "2024-01-05", 100L, 10L, 0L, 90000L, true)))
    assert(got(("B", "2024-01-01")) == (("B", "2024-01-01", 10L, 10L, 0L, 0L, false)))
  }

  test("q142 trend: slopes of +1, -1, and 0 counts/day are exact; negative division is safe") {
    import graft.queries.EventQueries
    def burst(tpe: String, d: Int, n: Int) = (1 to n).map(i =>
      (tpe, java.sql.Timestamp.valueOf(f"2024-03-$d%02d 0${i % 10}:15:00")))
    // A: [1,2,3] → slope exactly 1.0; B: [5,3,1] → -2.0 (the Spark
    // `div`-vs-DuckDB-`//` negative-floor trap this query's double
    // divide sidesteps); C: [4,4,4] → 0.0, not rising; D: active one
    // day only → zero denominator, slope GUARDED to NULL and rising
    // NULL (not the NULL-vs-NaN cross-engine divergence; ADVICE r15)
    val events = (burst("A", 1, 1) ++ burst("A", 2, 2) ++ burst("A", 3, 3) ++
      burst("B", 1, 5) ++ burst("B", 2, 3) ++ burst("B", 3, 1) ++
      burst("C", 1, 4) ++ burst("C", 2, 4) ++ burst("C", 3, 4) ++
      burst("D", 2, 7))
      .toDF("event_type", "ts")
    val got = EventQueries.eventTrendOver(events)
      .select("event_type", "n", "slope_per_day", "rising")
      .as[(String, Long, Option[Double], Option[Boolean])].collect().toSeq
    assert(got == Seq(
      ("A", 3L, Some(1.0), Some(true)), ("B", 3L, Some(-2.0), Some(false)),
      ("C", 3L, Some(0.0), Some(false)), ("D", 1L, None, None)), got.toString)
  }

  test("q159 recency sample: rates halve per bucket; membership matches the hash model") {
    import graft.queries.EventQueries
    val rows = EventQueries.recencySample(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // buckets contiguous from 0; the rate schedule is the pinned CASE
    val rates = Map(0L -> 800L, 1L -> 400L, 2L -> 200L, 3L -> 100L, 4L -> 50L)
    rows.foreach { case (b, r, n, k) =>
      assert(r == rates.getOrElse(b, 0L), s"bucket $b rate $r")
      assert(k <= n)
    }
    // reference model: recompute membership from raw events with the
    // same pure-function arithmetic
    val p = 1000000007L
    val anchor = java.time.LocalDate.parse("2024-01-31")
    val want = Tables.events(spark, sf)
      .select($"event_id", to_date($"ts").cast("string")).as[(Long, String)].collect()
      .map { case (id, d) =>
        val age = java.time.temporal.ChronoUnit.DAYS.between(java.time.LocalDate.parse(d), anchor)
        val rate = rates.getOrElse(age / 7, 0L)
        (age / 7, rate, if ((id % p) * 2654435761L % p % 1000L < rate) 1L else 0L)
      }.groupBy(x => (x._1, x._2))
      .map { case ((b, r), xs) => (b, r, xs.length.toLong, xs.map(_._3).sum) }
      .toSeq.sortBy(_._1)
    assert(rows == want, s"got $rows want $want")
  }

  test("q160 threshold curve: all grid points present, counts monotone non-increasing") {
    val rows = graft.queries.SimilarityQueries.dedupThresholdCurve(spark, sf)
      .as[(Int, Long, Long)].collect().toSeq
    assert(rows.map(_._1) == Seq(300, 350, 400, 450, 500), rows.toString)
    rows.sliding(2).foreach { case Seq(a, b) =>
      assert(b._2 <= a._2 && b._3 <= a._3, s"tightening the threshold must shrink the set: $a → $b")
    }
    rows.foreach { case (_, np, nd) => assert(nd <= 2 * np || (np == 0 && nd == 0)) }
    assert(rows.head._2 > 0, "the loosest grid point must bind on the fixture")
  }

  test("q161 value drift: chi-square cells reproduce a hand-built two-slice shift") {
    // construct a corpus where type X's values move from bucket 0 to
    // bucket 19 across the cut — the top drift cells must be X's
    import graft.queries.EventQueries
    val early = (1 to 40).map(i => ("X", java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 1.0))
    val late = (1 to 40).map(i => ("X", java.sql.Timestamp.valueOf("2024-01-25 10:00:00"), 99.0))
    val stable = (1 to 40).flatMap(i => Seq(
      ("Y", java.sql.Timestamp.valueOf("2024-01-05 10:00:00"), 50.0),
      ("Y", java.sql.Timestamp.valueOf("2024-01-25 10:00:00"), 50.0)))
    // type Z exists ONLY after the cut (a newly introduced event type):
    // its chi-square is 0/0 — must be EXCLUDED, not ranked as NaN
    val oneSided = (1 to 40).map(i =>
      ("Z", java.sql.Timestamp.valueOf("2024-01-25 10:00:00"), 10.0))
    val df = (early ++ late ++ stable ++ oneSided).toDF("event_type", "ts", "value")
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("user_id", lit(1L)).withColumn("props", lit("{}"))
    val dir = java.nio.file.Files.createTempDirectory("drift_fixture").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventQueries.valueDrift(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // X: cell (0): ca=40 cb=0, ea=20 → chi2 = 20+20 = 40.0; cell (19)
    // symmetric; Y's single cell: ca=cb=40, ea=40 → chi2 0
    assert(got.take(2).map(r => (r._1, r._5)).toSet == Set(("X", 40.0)), got.toString)
    assert(got.find(_._1 == "Y").forall(_._5 == 0.0), got.toString)
    assert(!got.exists(_._1 == "Z"),
      s"one-sided types must be excluded (NaN-vs-NULL ordering trap): $got")
  }

  test("q169 inter-arrival: bands follow floor(log2(gap+1)) on hand-built gaps") {
    import graft.queries.EventQueries
    def ev(id: Long, u: Long, tpe: String, t: String) =
      (id, u, tpe, java.sql.Timestamp.valueOf(t))
    // user 1 "view": gaps 0s (band 0), 1s (band 1), 3s (band 2),
    // 1800s (band 10 — the 30-min session threshold's band); a
    // single-event (user 2) and a cross-user boundary produce NO gap
    val df = Seq(
      ev(1, 1, "view", "2024-01-01 10:00:00"),
      ev(2, 1, "view", "2024-01-01 10:00:00"), // same-second: gap 0
      ev(3, 1, "view", "2024-01-01 10:00:01"),
      ev(4, 1, "view", "2024-01-01 10:00:04"),
      ev(5, 1, "view", "2024-01-01 10:30:04"),
      ev(6, 2, "view", "2024-01-01 23:59:59"), // singleton user: no gap
      ev(7, 3, "click", "2024-01-01 00:00:00"),
      ev(8, 3, "click", "2024-01-01 00:00:02") // gap 2 → band 1
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = EventQueries.interarrivalHistogramOver(df)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("click", 1L, 1L, 2L, 2L),
      ("view", 0L, 1L, 0L, 0L),
      ("view", 1L, 1L, 1L, 1L),
      ("view", 2L, 1L, 3L, 3L),
      ("view", 10L, 1L, 1800L, 1800L)), got.toString)
  }

  test("q169 fixture: gap counts conserve (events minus one per (user,type) group)") {
    import graft.queries.EventQueries
    val events = Tables.events(spark, sf)
    val nEvents = events.count()
    val nGroups = events.select("user_id", "event_type").distinct().count()
    val rows = EventQueries.interarrivalHistogram(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._3).sum == nEvents - nGroups,
      s"every non-first event contributes exactly one gap")
    rows.foreach { case (t, b, _, mn, mx) =>
      assert(mn >= 0L && mn <= mx, s"($t,$b) gap range [$mn,$mx]")
      // the band invariant itself: 2^b - 1 <= gap < 2^(b+1) - 1
      assert(mn + 1 >= (1L << b) && mx + 1 < (1L << (b + 1)),
        s"($t,$b) gaps [$mn,$mx] outside the band")
    }
  }

  test("q170 hour profile: uniform type scores zero; a spike fills the dead-hour grid") {
    import graft.queries.EventQueries
    def ev(id: Long, tpe: String, hr: Int, mn: Int) =
      (id, 1L, tpe, java.sql.Timestamp.valueOf(f"2024-01-01 $hr%02d:$mn%02d:00"))
    // "u": one event in every hour (perfectly diurnal-flat);
    // "b": 24 events all at hour 3 (the cron signature)
    val df = ((0 until 24).map(h => ev(h.toLong, "u", h, 15)) ++
      (0 until 24).map(i => ev(100L + i, "b", 3, i)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = EventQueries.hourProfileOver(df)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got.size == 48, s"full 24-hour grid per type: ${got.size}")
    got.filter(_._1 == "u").foreach { case (_, _, n, chi2) =>
      assert(n == 1L && chi2 == 0.0, s"uniform type must score 0: $n $chi2")
    }
    // spiked type: e = 1.0; hit cell (24-1)^2/1 = 529, dead cells (0-1)^2/1 = 1
    got.filter(_._1 == "b").foreach { case (_, hr, n, chi2) =>
      if (hr == 3L) assert(n == 24L && chi2 == 529.0, s"spike cell: $n $chi2")
      else assert(n == 0L && chi2 == 1.0, s"dead cell $hr must still appear: $n $chi2")
    }
  }

  test("q170 fixture: grid is exactly types x 24, totals conserve, chi2 recomputes") {
    import graft.queries.EventQueries
    val rows = EventQueries.hourProfile(spark, sf)
      .as[(String, Long, Long, Double)].collect().toSeq
    val types = rows.map(_._1).distinct
    assert(rows.size == types.size * 24, s"${rows.size} cells for ${types.size} types")
    val nEvents = Tables.events(spark, sf).count()
    assert(rows.map(_._3).sum == nEvents, "every event lands in exactly one cell")
    types.foreach { t =>
      val cells = rows.filter(_._1 == t)
      val e = cells.map(_._3).sum.toDouble / 24.0
      cells.foreach { case (_, hr, n, chi2) =>
        val want = BigDecimal((n.toDouble - e) * (n.toDouble - e) / e)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(chi2 == want, s"($t,$hr): $chi2 != $want")
      }
    }
  }

  test("q174 last touch: window cutoff, purchase-skipping, same-ts tie, and direct fallback") {
    import graft.queries.EventQueries
    def ev(id: Long, u: Long, tpe: String, t: String, v: Double) =
      (id, u, tpe, java.sql.Timestamp.valueOf(t), v)
    val df = Seq(
      // u1: view 10 min before purchase → attributed to view
      ev(1, 1, "view", "2024-01-01 10:00:00", 0.0),
      ev(2, 1, "purchase", "2024-01-01 10:10:00", 10.0),
      // u2: click 40 min before → outside the 30-min window → direct
      ev(3, 2, "click", "2024-01-01 09:00:00", 0.0),
      ev(4, 2, "purchase", "2024-01-01 09:40:00", 20.0),
      // u3: first event is the purchase → direct
      ev(5, 3, "purchase", "2024-01-01 08:00:00", 5.0),
      // u4: prior PURCHASE must be skipped, credit reaches the signup
      ev(6, 4, "signup", "2024-01-01 11:00:00", 0.0),
      ev(7, 4, "purchase", "2024-01-01 11:05:00", 1.0),
      ev(8, 4, "purchase", "2024-01-01 11:06:00", 2.0),
      // u5: same-timestamp touch with SMALLER event_id is prior (gap 0)
      ev(9, 5, "error", "2024-01-01 12:00:00", 0.0),
      ev(10, 5, "purchase", "2024-01-01 12:00:00", 3.0)
    ).toDF("event_id", "user_id", "event_type", "ts", "value")
    val got = EventQueries.lastTouchOver(df)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("direct", 2L, 2500L),            // u2 (20.00) + u3 (5.00)
      ("error", 1L, 300L),              // u5 tie at gap 0
      ("signup", 2L, 300L),             // u4: both purchases reach the signup
      ("view", 1L, 1000L)), got.toString)
  }

  test("q174 fixture: conversions and revenue conserve over the purchase set") {
    import graft.queries.EventQueries
    val purchases = Tables.events(spark, sf).filter($"event_type" === "purchase")
    val nPurch = purchases.count()
    val cents = purchases
      .agg(sum(expr("CAST(round(value * 100, 0) AS BIGINT)"))).head().getLong(0)
    val rows = EventQueries.lastTouch(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(rows.map(_._2).sum == nPurch, "every purchase attributed exactly once")
    assert(rows.map(_._3).sum == cents, "revenue conserves across attribution")
    assert(rows.map(_._1).forall(t =>
      Set("view", "click", "signup", "error", "direct")(t)),
      s"only touch types and direct may appear: ${rows.map(_._1)}")
  }

  test("q176 transitions: session window gates edges; excluded rows and zero cells are exact") {
    import graft.queries.EventQueries
    def ev(id: Long, u: Long, tpe: String, t: String) =
      (id, u, tpe, java.sql.Timestamp.valueOf(t))
    val df = Seq(
      ev(1, 1, "view", "2024-01-01 10:00:00"),
      ev(2, 1, "click", "2024-01-01 10:05:00"),     // view→click
      ev(3, 1, "purchase", "2024-01-01 10:20:00"),  // click→purchase
      ev(4, 1, "error", "2024-01-01 11:30:00"),     // 70-min gap: NO edge
      ev(5, 2, "view", "2024-01-01 09:00:00"),
      ev(6, 2, "view", "2024-01-01 09:10:00")       // view→view
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = EventQueries.transitionMatrixOver(df)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // only view and click are ever a FROM; purchase/error rows excluded
    // whole; 4 to-types per surviving row, zeros included
    assert(got.map(_._1).distinct.sorted == Seq("click", "view"), got.toString)
    assert(got.size == 8, s"2 from-rows × 4 to-types: ${got.size}")
    val m = got.map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(m(("view", "click")) == ((1L, 2L, 500000L)))
    assert(m(("view", "view")) == ((1L, 2L, 500000L)))
    assert(m(("view", "purchase")) == ((0L, 2L, 0L)))
    assert(m(("click", "purchase")) == ((1L, 1L, 1000000L)))
    assert(m(("click", "error")) == ((0L, 1L, 0L)))
  }

  test("q176 fixture: edge mass matches a Scala session-fold; rows sum to their totals") {
    import graft.queries.EventQueries
    val events = Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .as[(Long, String, java.sql.Timestamp, Long)].collect()
    def us(t: java.sql.Timestamp): Long = // exact micros, the q110 rule
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    val want = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.sortBy(e => (us(e._3), e._4)).toSeq.sliding(2).collect {
        case Seq(a, b) if (us(b._3) - us(a._3)) / 1000000L <= 1800L =>
          (a._2, b._2)
      }
    }.groupBy(x => x).map { case (k, xs) => k -> xs.size.toLong }
    val rows = EventQueries.transitionMatrix(spark, sf)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    rows.filter(_._3 > 0L).foreach { case (f, t, n, _, _) =>
      assert(want.getOrElse((f, t), 0L) == n, s"($f→$t) edge count")
    }
    assert(rows.map(_._3).sum == want.values.sum, "total edge mass conserves")
    rows.groupBy(_._1).foreach { case (f, rs) =>
      assert(rs.map(_._3).sum == rs.head._4, s"row $f total")
    }
  }

  test("q178 conversion lag: bands, censoring, pre-signup purchases, and non-signups") {
    import graft.queries.EventQueries
    def ev(id: Long, u: Long, tpe: String, t: String) =
      (id, u, tpe, java.sql.Timestamp.valueOf(t))
    val df = Seq(
      ev(1, 1, "signup", "2024-01-01 10:00:00"),
      ev(2, 1, "purchase", "2024-01-01 18:00:00"),  // same day → band 0
      ev(3, 2, "signup", "2024-01-01 10:00:00"),
      ev(4, 2, "purchase", "2024-01-04 09:00:00"),  // 3 days → band 2
      ev(5, 3, "purchase", "2024-01-01 09:00:00"),  // BEFORE the signup
      ev(6, 3, "signup", "2024-01-01 12:00:00"),    // → censored, not dropped
      ev(7, 4, "signup", "2024-01-05 00:00:00"),    // never converts → censored
      ev(8, 5, "purchase", "2024-01-02 00:00:00"),  // never signs up → absent
      ev(9, 6, "signup", "2024-01-10 00:00:00"),    // min of two signups counts
      ev(10, 6, "signup", "2024-01-12 00:00:00"),
      ev(11, 6, "purchase", "2024-01-11 00:00:00"), // 1 day → band 1
      ev(12, 6, "purchase", "2024-01-20 00:00:00")
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = EventQueries.conversionLagOver(df)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("censored", -1L, 2L),
      ("converted", 0L, 1L),
      ("converted", 1L, 1L),
      ("converted", 2L, 1L)), got.toString)
  }

  test("q178 fixture: user mass conserves over signup users; bands match a Scala model") {
    import graft.queries.EventQueries
    val events = Tables.events(spark, sf)
      .select($"user_id", $"event_type", $"ts")
      .as[(Long, String, java.sql.Timestamp)].collect()
    val signup = events.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3.getTime).min }
    val wantBands = signup.toSeq.map { case (u, ts) =>
      val conv = events.filter(e => e._1 == u && e._2 == "purchase" && e._3.getTime >= ts)
      if (conv.isEmpty) -1L
      else {
        val s = java.time.Instant.ofEpochMilli(ts).atZone(java.time.ZoneOffset.UTC).toLocalDate
        val p = java.time.Instant.ofEpochMilli(conv.map(_._3.getTime).min)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
        val days = java.time.temporal.ChronoUnit.DAYS.between(s, p)
        63L - java.lang.Long.numberOfLeadingZeros(days + 1L)
      }
    }.groupBy(b => b).map { case (b, xs) => b -> xs.size.toLong }
    val rows = EventQueries.conversionLag(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(rows.map(_._3).sum == signup.size.toLong, "every signup user lands once")
    assert(rows.map(r => r._2 -> r._3).toMap == wantBands, s"bands: $rows vs $wantBands")
  }

  test("q179 winsorize: exact p1/p99 thresholds clamp the constructed outliers") {
    import graft.queries.EventQueries
    // 200 events: one low outlier (0.00), 198 at 50.00, one high (200.00)
    // k1 = 2 → p1 = 5000 cents; k99 = 198 → p99 = 5000 cents
    val df = ((1 to 198).map(_ => 50.0) ++ Seq(0.0, 200.0))
      .map(v => ("t", v)).toDF("event_type", "value")
    val got = EventQueries.winsorizedSummaryOver(df)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("t", 200L, 5000L, 5000L, 1L, 1L, 1010000L, 1000000L)),
      got.toString)
  }

  test("q179 fixture: thresholds and clamped sums match a Scala sorted-percentile model") {
    import graft.queries.EventQueries
    val byType = Tables.events(spark, sf)
      .select($"event_type", expr("CAST(round(value * 100, 0) AS BIGINT)"))
      .as[(String, Long)].collect().groupBy(_._1)
    val rows = EventQueries.winsorizedSummary(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    rows.foreach { case (t, n, lo, hi, ncl, nch, sum0, sumW) =>
      val vs = byType(t).map(_._2).sorted
      val k1 = ((vs.length + 99) / 100) - 1
      val k99 = ((99 * vs.length + 99) / 100) - 1
      assert(n == vs.length.toLong && lo == vs(k1.toInt) && hi == vs(k99.toInt),
        s"$t thresholds")
      assert(ncl == vs.count(_ < lo).toLong && nch == vs.count(_ > hi).toLong)
      assert(sum0 == vs.sum && sumW == vs.map(v => math.max(lo, math.min(hi, v))).sum)
    }
  }

  test("q180 top decile: boundary tie group contributes pro-rata (Lorenz rule)") {
    import graft.queries.EventQueries
    // 15 users: three with 4 events, twelve with 1 → k = 2, the tie
    // group at cnt=4 holds 3 users but only 2 fit → mass = 2·4 = 8
    val rows = (1 to 3).flatMap(u => (1 to 4).map(_ => (u.toLong, "x"))) ++
      (4 to 15).map(u => (u.toLong, "x"))
    val got = EventQueries.topDecileContributionOver(
        rows.toDF("user_id", "event_type"))
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("x", 15L, 24L, 2L, 8L, 333333L)), got.toString)
  }

  test("q180 fixture: mass matches a greedy Scala take over descending user counts") {
    import graft.queries.EventQueries
    val counts = Tables.events(spark, sf)
      .select($"event_type", $"user_id").as[(String, Long)].collect()
      .groupBy(_._1)
      .map { case (t, xs) =>
        t -> xs.groupBy(_._2).values.map(_.length.toLong).toSeq.sorted.reverse }
    val rows = EventQueries.topDecileContribution(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    rows.foreach { case (t, nu, ne, k, mass, ppm) =>
      val cs = counts(t)
      assert(nu == cs.size.toLong && ne == cs.sum)
      val kk = (cs.size + 9) / 10
      assert(k == kk.toLong && mass == cs.take(kk).sum, s"$t top mass")
      assert(ppm == math.floor(mass * 1000000.0 / ne).toLong, s"$t ppm")
    }
  }

  test("q162 sequences: trigram extraction is ordered; a session gap breaks the chain") {
    import graft.queries.EventQueries
    def ev(id: Long, u: Long, tpe: String, t: String) =
      (u, id, tpe, java.sql.Timestamp.valueOf(t))
    val events = Seq(
      // user 1, one session: A B C D → trigrams A>B>C, B>C>D
      ev(1, 1L, "A", "2024-01-01 10:00:00"), ev(2, 1L, "B", "2024-01-01 10:01:00"),
      ev(3, 1L, "C", "2024-01-01 10:02:00"), ev(4, 1L, "D", "2024-01-01 10:03:00"),
      // user 2: X Y then a 31-minute gap then Z — NO trigram may cross
      ev(5, 2L, "X", "2024-01-01 10:00:00"), ev(6, 2L, "Y", "2024-01-01 10:01:00"),
      ev(7, 2L, "Z", "2024-01-01 10:32:30"),
      // user 3: two-event session — too short for any trigram
      ev(8, 3L, "P", "2024-01-01 10:00:00"), ev(9, 3L, "Q", "2024-01-01 10:01:00")
    ).toDF("user_id", "event_id", "event_type", "ts")
    val got = EventQueries.sessionSequencesOver(events, k = 20)
      .as[(String, Long)].collect().toSet
    assert(got == Set(("A>B>C", 1L), ("B>C>D", 1L)), got.toString)
  }

  test("q163 latency quantiles: lower-quantile positions on constructed durations; empty → NULL") {
    import graft.queries.EventQueries
    def conv(u: Long, base: Long, durS: Int) = Seq(
      (u, base, "view", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")),
      (u, base + 1, "click", new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + durS * 500L)),
      (u, base + 2, "purchase", new java.sql.Timestamp(
        java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + durS * 1000L)))
    // 10 users converting in 10,20,…,100 s: n=10 → p50 pos 5 (50 s),
    // p90 pos 9 (90 s), p99 pos 10 (100 s)
    val events = (1 to 10).flatMap(i => conv(i.toLong, i * 100L, i * 10))
      .toDF("user_id", "event_id", "event_type", "ts")
    val got = EventQueries.funnelTimeToConvertOver(events)
      .as[(Long, Option[Long], Option[Long], Option[Long])].head()
    assert(got == ((10L, Some(50L), Some(90L), Some(100L))), got.toString)
    // no conversions: views only → n 0, quantiles NULL (both engines)
    val none = Seq((1L, 1L, "view", java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("user_id", "event_id", "event_type", "ts")
    val empty = EventQueries.funnelTimeToConvertOver(none)
      .as[(Long, Option[Long], Option[Long], Option[Long])].head()
    assert(empty == ((0L, None, None, None)), empty.toString)
  }

  test("q141 sketch overlap: every pair's union and intersection estimates stay in bound") {
    val rows = graft.queries.SimilarityQueries.vocabSketchOverlap(spark, sf)
      .select("source_a", "source_b", "union_ok", "inter_ok")
      .as[(String, String, Boolean, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select("source").distinct().count()
    assert(rows.length == nSources * (nSources - 1) / 2,
      s"all ${nSources}C2 pairs present (shared vocabulary ⇒ q83 emits every pair)")
    assert(rows.forall(r => r._3 && r._4), "3σ union + additive intersection bounds hold")
  }

  test("q140 PQ: codebook geometry, model-encode bounds, and the full report at sf0.001") {
    import graft.queries.SimilarityQueries
    val cb = SimilarityQueries.pqCodebooks(spark, sf)
    assert(cb.length == 8 && cb.forall(_.length == 16) &&
      cb.forall(_.forall(_.length == 8)), "default geometry is 8 subspaces x 16 x 8-dim")
    // deterministic: retraining yields the identical codebooks
    val cb2 = SimilarityQueries.pqCodebooks(spark, sf)
    assert(cb.zip(cb2).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    // model encode stays in [1, K'] on a real vector
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("embedding").as[Array[Float]].head()
    val codes = SimilarityQueries.pqEncodeModel(cb, v)
    assert(codes.length == 8 && codes.forall(c => c >= 1 && c <= 16))
    // the registered report holds all theorems at the spec fixture
    val row = SimilarityQueries.pqAnn(spark, sf).collect().head
    assert(row.getBoolean(1) && row.getBoolean(2) && row.getBoolean(3) &&
      row.getBoolean(4), row.toString)
  }

  test("valueHistogram equals a Scala-computed integer-cents bucketing") {
    val events = Tables.events(spark, sf)
      .select($"event_type", $"value").as[(String, Double)].collect()
    val model = events
      .map { case (t, v) => (t, math.min(math.round(v * 100) / 500, 19L)) }
      .groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.map { case ((t, b), n) => (t, b, b * 5, n) }
      .sortBy(r => (r._1, r._2))
    val got = graft.queries.EventQueries.valueHistogram(spark, sf)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == model)
    // every event lands in exactly one bucket
    assert(got.map(_._4).sum == events.length)
  }
  test("q107 co-presence equals a Scala session-fold model on the fixture") {
    // third implementation: driver-side gap fold → distinct
    // (session, type) → pair counts + lift
    val evs = Tables.events(spark, sf)
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .as[(Long, Long, java.sql.Timestamp, String)].collect()
      .sortBy(e => (e._1, e._3.getTime * 1000L + (e._3.getNanos / 1000) % 1000, e._2))
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000
    val st = scala.collection.mutable.Set[(Long, Long, String)]()
    var (curUser, curIdx) = (-1L, 0L)
    var last = Long.MinValue
    evs.foreach { case (u, _, ts, tpe) =>
      if (u != curUser) { curUser = u; curIdx = 0L; last = Long.MinValue }
      else if (micros(ts) - last > 1800000000L) curIdx += 1
      last = micros(ts)
      st += ((u, curIdx, tpe))
    }
    val sessions = st.map(t => (t._1, t._2)).size.toLong
    val perType = st.groupBy(_._3).map { case (t, s) => t -> s.size.toLong }
    val pairs = st.groupBy(t => (t._1, t._2)).values.flatMap { rows =>
      val types = rows.map(_._3).toSeq.sorted
      for (i <- types.indices; j <- (i + 1) until types.size) yield (types(i), types(j))
    }.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val model = pairs.toSeq.sortBy(_._1).map { case ((a, b), nBoth) =>
      val (na, nb) = (perType(a), perType(b))
      val lift = ((20000L * nBoth * sessions + na * nb) / (2L * na * nb)) / 10000.0
      (a, b, nBoth, na, nb, sessions, lift)
    }
    val got = graft.queries.EventQueries.sessionCopresence(spark, sf)
      .as[(String, String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == model, s"got=$got\nmodel=$model")
  }

  test("q28 session gap: 1,800,000,000 µs apart is one session, 1,800,000,001 µs two") {
    // the oracle splits iff consecutive events are > 1800000000 µs
    // apart; session_window merges while the distance is <= its gap.
    // q90's step frame and q107's session count must split the same way.
    import graft.queries.EventQueries
    val dir = java.nio.file.Files.createTempDirectory("graft-q28-gap").toString
    val t0 = 1756720800000000L // 2025-09-01 10:00:00 UTC in micros
    Seq((1L, 1L, "view", t0), (1L, 2L, "click", t0 + 1800000000L),
        (2L, 3L, "view", t0), (2L, 4L, "click", t0 + 1800000001L))
      .toDF("user_id", "event_id", "event_type", "us")
      .select($"user_id", $"event_id", $"event_type",
        timestamp_micros($"us").as("ts"), lit(1.0).as("value"))
      .write.parquet(s"$dir/events.parquet")
    val expected = Map(1L -> 1L, 2L -> 2L)
    val perUser = EventQueries.sessionizeRaw(spark, dir)
      .groupBy($"user_id").count().as[(Long, Long)].collect().toMap
    assert(perUser == expected, s"q28 sessions per user: $perUser")
    val stepsPerUser = EventQueries.sessionSteps(Tables.events(spark, dir))
      .groupBy($"user_id").count().as[(Long, Long)].collect().toMap
    assert(stepsPerUser == expected, s"q90 step-frame sessions per user: $stepsPerUser")
    // q107 reports the session total on its one (click, view) pair row
    val copresence = EventQueries.sessionCopresence(spark, dir)
      .select("type_a", "type_b", "n_sessions").as[(String, String, Long)].collect().toSeq
    assert(copresence == Seq(("click", "view", expected.values.sum)),
      s"q107 n_sessions: $copresence")
  }

  test("q90 funnel: strict step ordering and session boundaries (constructed data)") {
    import org.apache.spark.sql.functions._
    // four users, one scenario each:
    //  u1: view -> click -> purchase in order, same session  => full conversion
    //  u2: click BEFORE the view, purchase after nothing     => view only
    //  u3: view -> click, then purchase AFTER a 31-min gap   => new session, no purchase credit
    //  u4: purchase -> click -> view (fully reversed)        => view only
    val rows = Seq(
      (1L, 1L, "view", "2024-01-01 10:00:00"), (1L, 2L, "click", "2024-01-01 10:01:00"),
      (1L, 3L, "purchase", "2024-01-01 10:02:00"),
      (2L, 4L, "click", "2024-01-01 10:00:00"), (2L, 5L, "view", "2024-01-01 10:01:00"),
      (3L, 6L, "view", "2024-01-01 11:00:00"), (3L, 7L, "click", "2024-01-01 11:01:00"),
      (3L, 8L, "purchase", "2024-01-01 11:33:00"),
      (4L, 9L, "purchase", "2024-01-01 12:00:00"), (4L, 10L, "click", "2024-01-01 12:01:00"),
      (4L, 11L, "view", "2024-01-01 12:02:00"))
    val ev = rows.toDF("user_id", "event_id", "event_type", "ts_s")
      .select($"user_id", $"event_id", $"event_type", to_timestamp($"ts_s").as("ts"))
    val r = graft.queries.EventQueries.sessionFunnelOver(ev).head()
    // sessions: u1 x1, u2 x1, u3 x2 (31-min gap), u4 x1 = 5
    assert(r.getLong(0) === 5L, s"n_sessions: $r")
    // sessions containing a view: u1, u2, u3-first, u4 = 4
    assert(r.getLong(1) === 4L, s"n_view: $r")
    // click strictly after the first view: u1, u3-first = 2
    assert(r.getLong(2) === 2L, s"n_view_click: $r")
    // purchase strictly after that click, same session: u1 only
    // (u3's purchase fell into the next session; u4 is reversed)
    assert(r.getLong(3) === 1L, s"n_view_click_purchase: $r")
    assert(r.getDouble(4) === 0.5, s"frac_click: $r")
    assert(r.getDouble(5) === 0.5, s"frac_purchase: $r")
  }

  test("q128 pivot: column sums reconcile with total and with groupBy counts; one scan") {
    val df = graft.queries.EventQueries.eventPivot(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // total column == sum of the five pinned columns on every row
    rows.foreach { r =>
      val cols = (1 to 5).map(r.getLong)
      assert(cols.sum == r.getLong(6), s"row $r: pivot columns don't reconcile")
    }
    // pivot counts == plain groupBy counts (the pivot is a reshaping,
    // not a different aggregation)
    val direct = Tables.events(spark, sf)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    val names = Seq("click", "error", "purchase", "signup", "view")
    names.zipWithIndex.foreach { case (t, i) =>
      assert(rows.map(_.getLong(i + 1)).sum == direct(t), s"$t column sum")
    }
    // pinned values ⇒ NO second scan to discover pivot columns: the
    // optimized plan reads the events relation exactly once
    val scans = df.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode => l
    }
    assert(scans.length == 1, s"expected one scan, got ${scans.length}")
  }

  test("q184 skew audit: counts, top-10 sum, share and salt factor against a driver model") {
    val ev = Tables.events(spark, sf).select($"user_id", $"event_type").collect()
      .map(r => (r.getLong(0).toString, r.getString(1)))
    def model(keyCol: String, keys: Seq[String]) = {
      val counts = keys.groupBy(identity).map { case (k, o) => (k, o.length.toLong) }
      val nRows = counts.values.sum
      val nKeys = counts.size.toLong
      val top1 = counts.values.max
      val top10 = counts.values.toSeq.sortBy(-_).take(10).sum
      (keyCol, nRows, nKeys, nRows / nKeys, top1, top10,
        ((20000 * top1 + nRows) / (2 * nRows)) / 10000.0,
        math.max(1L, (top1 * 32 + nRows - 1) / nRows))
    }
    val want = Seq(model("event_type", ev.map(_._2).toSeq),
      model("user_id", ev.map(_._1).toSeq))
    val got = graft.queries.EventQueries.skewAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getLong(7))).toSeq
    assert(got == want)
    val byKey = got.map(g => g._1 -> g).toMap
    assert(byKey("event_type")._7 > byKey("user_id")._7,
      "a handful-domain key must concentrate harder than user_id")
  }

  test("q188 user regularity: simpson ppm and ranking against a driver model") {
    val ev = Tables.events(spark, sf)
      .select($"user_id", hour($"ts")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val want = ev.groupBy(_._1).map { case (u, xs) =>
      val byHour = xs.groupBy(_._2).map(_._2.length.toLong)
      val n = xs.length.toLong
      val ss = byHour.map(c => c * c).sum
      (u, n, byHour.size.toLong, byHour.max,
        math.floor(ss * 1000000.0 / (n.toDouble * n)).toLong)
    }.toSeq.sortBy(x => (-x._5, x._1)).take(25)
    val got = graft.queries.EventQueries.userRegularity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == want)
    assert(got.head._5 >= 1000000L / 24, "concentration is bounded below by uniform")
  }
}
