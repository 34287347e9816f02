package graft

import org.apache.spark.sql.functions._
import graft.functions.HllSketch.hll_distinct

/** Sketch aggregates (HLL, Bloom, count-min, frequent items, top-k):
  * accuracy, mergeability across partitions and the theorems they
  * promise. Their SQL surface is covered by SessionSpec. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("hll_distinct within 5% of exact on events.user_id and orders keys") {
    val e = Tables.events(spark, sf)
    val Seq(exact, approx) = e.agg(
        countDistinct($"user_id").cast("double"),
        hll_distinct($"user_id").cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double]).toSeq
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")

    val o = Tables.orders(spark, sf)
    val Seq(e2, a2) = o.agg(
        countDistinct($"o_custkey").cast("double"),
        hll_distinct($"o_custkey").cast("double"))
      .head().toSeq.map(_.asInstanceOf[Double]).toSeq
    assert(math.abs(a2 - e2) / e2 < 0.05, s"exact=$e2 approx=$a2")
  }

  test("hll store/merge lifecycle: union of per-group sketches is BIT-identical to one pass") {
    import graft.functions.HllSketch.{hll_sketch, hll_union_distinct}
    // skewed groups + cross-group duplicate values (ids mod 1000) so
    // the union genuinely de-duplicates across stored sketches
    val df = spark.range(30000).select(
      ($"id" % 7).as("g"), ($"id" % 1000).as("v"))
    val perGroup = df.groupBy($"g").agg(hll_sketch($"v").as("sketch"))
    // the registers themselves: elementwise max across the 7 stored
    // arrays equals the single-scan array byte-for-byte
    val stored = perGroup.select($"sketch").as[Array[Byte]].collect()
    val direct = df.agg(hll_sketch($"v")).as[Array[Byte]].head()
    val merged = stored.reduce { (a, b) =>
      a.zip(b).map { case (x, y) => if (y > x) y else x }
    }
    assert(java.util.Arrays.equals(merged, direct),
      "union of stored registers must equal the one-pass registers bit-for-bit")
    assert(stored.forall(_.length == 2048), "p=11 sketches must be 2048 bytes")
    // and the estimate through the stored path equals the direct one
    val estStored = perGroup.agg(hll_union_distinct($"sketch")).as[Long].head()
    val estDirect = df.agg(hll_distinct($"v")).as[Long].head()
    assert(estStored == estDirect, s"stored $estStored != direct $estDirect")
    // exact truth: 1000 distinct values; the 2.3%-σ sketch must land close
    assert(math.abs(estStored - 1000L) <= 70L, s"estimate $estStored vs exact 1000")
  }

  test("hll_union_distinct rejects mis-sized sketches loudly") {
    import graft.functions.HllSketch.hll_union_distinct
    val bad = Seq(Array[Byte](1, 2, 3)).toDF("sketch")
    val e = intercept[Exception] {
      bad.agg(hll_union_distinct($"sketch")).head()
    }
    assert(e.getMessage != null && e.getMessage.contains("2048"),
      s"mis-sized sketch must fail with the expected size in the message: $e")
  }

  test("freq_items: finds a planted heavy hitter with valid bounds") {
    import graft.functions.FrequentItemsSketch.freq_items
    // 10k noise items (ids 0..999, ~10 each) + one item at 3000 —
    // far above n/(cap+1) = 13000/17 ≈ 765, so coverage guarantees it
    val df = spark.range(0, 10000).select(($"id" % 1000).cast("string").as("item"))
      .union(spark.range(0, 3000).select(lit("HOT").as("item")))
      .repartition(8)
    val row = df.agg(freq_items($"item", 16).as("fi")).select($"fi.items", $"fi.max_err").head()
    val items = row.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getLong(1)))
    val maxErr = row.getLong(1)
    val hot = items.find(_._1 == "HOT")
    assert(hot.isDefined, s"heavy hitter must be tracked (maxErr=$maxErr, items=$items)")
    assert(hot.get._2 <= 3000 && hot.get._2 + maxErr >= 3000,
      s"est ${hot.get._2} must bracket true 3000 within maxErr $maxErr")
    assert(maxErr <= 13000 / 17 + 1, s"maxErr $maxErr exceeds n/(cap+1)")
  }

  test("freq_items: merge across partitions preserves the error guarantee") {
    import graft.functions.FrequentItemsSketch.freq_items
    val df = spark.range(0, 20000).select(
      when($"id" % 5 === 0, lit("A")).otherwise(($"id" % 4000).cast("string")).as("item"))
    Seq(1, 16).foreach { parts =>
      val row = df.repartition(parts).agg(freq_items($"item", 32).as("fi"))
        .select($"fi.items", $"fi.max_err").head()
      val items = row.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getLong(1)))
      val maxErr = row.getLong(1)
      val a = items.find(_._1 == "A")
      assert(a.isDefined, s"parts=$parts: A (4000 occurrences) must survive")
      assert(a.get._2 <= 4000 && a.get._2 + maxErr >= 4000,
        s"parts=$parts: est ${a.get._2} + err $maxErr must bracket 4000")
    }
  }

  test("freq_items theorems hold under seeded fuzz (50 random streams, random merges)") {
    // q57's oracle pins bounds_hold/coverage_holds to literal true, so
    // the gate is only sound if the theorems hold for ANY stream and
    // ANY partitioning — probe both with adversarial-ish random data.
    import graft.functions.FrequentItemsSketch
    val rnd = new scala.util.Random(7)
    (1 to 50).foreach { trial =>
      val cap = 1 + rnd.nextInt(12)
      val n = 50 + rnd.nextInt(3000)
      // zipf-ish: small ids are hot
      val stream = Seq.fill(n)(
        math.floor(math.pow(rnd.nextDouble(), 3) * 60).toInt.toString)
      val nParts = 1 + rnd.nextInt(5)
      val parts = stream.grouped(math.max(1, n / nParts)).toSeq
      val agg = FrequentItemsSketch(null, cap)
      val bufs = parts.map { p =>
        val b = new FrequentItemsSketch.Buffer()
        p.foreach(item => b.add(org.apache.spark.unsafe.types.UTF8String.fromString(item), 1L, cap))
        // serialization round-trip must preserve the sketch exactly
        agg.deserialize(agg.serialize(b))
      }
      val merged = bufs.reduce { (a, b) => agg.merge(a, b) }
      val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val maxErr = merged.maxErr
      assert(maxErr <= n.toLong / (cap + 1) + 1,
        s"trial $trial: maxErr $maxErr exceeds n/(cap+1) = ${n / (cap + 1)}")
      merged.counters.foreach { case (itemU, est) =>
        val item = itemU.toString
        val truth = exact.getOrElse(item, 0L)
        assert(est <= truth && truth <= est + maxErr,
          s"trial $trial: item $item est=$est true=$truth err=$maxErr")
      }
      exact.foreach { case (item, truth) =>
        if (truth > maxErr)
          assert(merged.counters.contains(
            org.apache.spark.unsafe.types.UTF8String.fromString(item)),
            s"trial $trial: heavy item $item (true=$truth > err=$maxErr) not tracked")
      }
    }
  }

  test("q57 heavy hitters: theorem booleans hold on the fixture") {
    val out = graft.queries.EventQueries.heavyHitters(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(2), s"bounds violated for ${r.getString(0)}")
      assert(r.getBoolean(3), s"coverage violated for ${r.getString(0)}")
    }
  }

  test("sketch merge across partitions equals single-partition result") {
    val df = spark.range(0, 50000).select(($"id" % 9973).as("k"))
    val many = df.repartition(16).agg(hll_distinct($"k")).head().getLong(0)
    val one = df.coalesce(1).agg(hll_distinct($"k")).head().getLong(0)
    assert(many == one, s"merge must be order/partition-invariant: $many vs $one")
    assert(math.abs(many - 9973.0) / 9973.0 < 0.05)
  }

  test("grouped sketches: per-type distinct users") {
    val out = Tables.events(spark, sf)
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact"), hll_distinct($"user_id").as("approx"))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (ex, ap) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(ap - ex) / ex < 0.1, s"group ${r.getString(0)}: exact=$ex approx=$ap")
    }
  }

  // ---- Bloom filter (q72) ----

  test("bloom: zero false negatives, exhaustively") {
    import graft.functions.BloomFilter._
    val keys = (0L until 10000L).map(i => i * 7919L + 3L)
    val bloom = keys.toDF("k").agg(bloom_build($"k"))
      .head().getAs[Array[Byte]](0)
    val misses = keys.toDF("k")
      .filter(!bloom_contains($"k", bloom)).count()
    assert(misses == 0L)
  }

  test("bloom: false-positive rate tracks the sizing formula on an undersized filter") {
    import graft.functions.BloomFilter._
    // deliberately tight: m/n ≈ 4.1 bits/key, k=6 → expected fpp ≈ 0.2
    val n = 1000
    val keys = (0L until n.toLong).map(i => i * 104729L + 11L)
    val bloom = keys.toDF("k").agg(bloom_build($"k", numBits = 4096, numHashes = 6))
      .head().getAs[Array[Byte]](0)
    val probes = (1L to 50000L).map(i => -i) // disjoint from keys
    val fps = probes.toDF("k")
      .filter(bloom_contains($"k", bloom)).count()
    val rate = fps.toDouble / probes.size
    assert(rate > 0.02 && rate < 0.6, s"fp rate $rate outside plausible band")
  }

  test("bloom: build is partitioning-invariant (merge = word-wise OR)") {
    import graft.functions.BloomFilter._
    val df = (0L until 5000L).toDF("k")
    val one = df.coalesce(1).agg(bloom_build($"k")).head().getAs[Array[Byte]](0)
    val many = df.repartition(8).agg(bloom_build($"k")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, many))
  }

  test("bloom: null inputs are skipped on build and propagate null on probe") {
    import graft.functions.BloomFilter._
    val bloom = Seq[Option[Long]](Some(1L), None, Some(2L)).toDF("k")
      .agg(bloom_build($"k")).head().getAs[Array[Byte]](0)
    val out = Seq[Option[Long]](Some(1L), None).toDF("k")
      .select(bloom_contains($"k", bloom)).collect()
    assert(out(0).getBoolean(0))
    assert(out(1).isNullAt(0))
  }

  test("cms: overestimate theorem, exactness without collisions, mergeability") {
    import graft.functions.CountMin.{cms_sketch, cms_query}
    // 12 distinct items in a width-512 table: collision probability is
    // negligible BY CONSTRUCTION at depth 4, so every estimate must be
    // EXACT — and repartition(8) forces the merge (pointwise-add) path
    val df = spark.range(0, 7800)
      .select(($"id" % 12).cast("string").as("item"))
      .repartition(8)
    val sk = df.agg(cms_sketch($"item", 512).as("cms")).select($"cms.n", $"cms.table")
      .head()
    assert(sk.getLong(0) === 7800, "sketch n must count every non-null update")
    val est = df.distinct()
      .crossJoin(df.agg(cms_sketch($"item", 512).as("cms")))
      .select($"item", cms_query($"cms.table", $"item", 512).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.groupBy($"item").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"CMS must never underestimate: $k est=${est(k)} true=$c")
      assert(est(k) === c, s"12 items in 512*4 buckets must be collision-free: $k")
    }
    // a never-seen item estimates 0 on an otherwise-sparse table
    val unseen = df.agg(cms_sketch($"item", 512).as("cms"))
      .select(cms_query($"cms.table", lit("never-seen"), 512)).head().getLong(0)
    assert(unseen <= 7800 / 512 * 4 + 1, s"unseen item est $unseen beyond collision mass")
    // NULL keys are skipped (n excludes them), NULL probe -> NULL
    val withNulls = spark.range(0, 100)
      .select(when($"id" % 2 === 0, ($"id" % 5).cast("string")).as("item"))
    val n2 = withNulls.agg(cms_sketch($"item", 512).as("cms")).select($"cms.n").head().getLong(0)
    assert(n2 === 50, "null keys must not count")
    val nullProbe = withNulls.agg(cms_sketch($"item", 512).as("cms"))
      .select(cms_query($"cms.table", lit(null).cast("string"), 512)).head()
    assert(nullProbe.isNullAt(0), "null probe must estimate NULL")
  }
  test("cms q88 report at an off-default width/depth (booleans hold at 256 x 2)") {
    val ev = spark.range(2000).selectExpr(
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS event_type",
      "id % 40 AS user_id")
    def report(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getBoolean(3), r.getBoolean(4))).toMap
    val atDefault = report(graft.queries.EventQueries.cmsFrequencyOver(ev))
    val tuned = report(graft.queries.EventQueries.cmsFrequencyOver(ev, width = 256, depth = 2))
    assert(tuned == atDefault,
      s"collision-free at both settings -> identical reports: $tuned vs $atDefault")
    // each type owns one id-parity -> 20 distinct users per type
    assert(tuned.values.forall { case (n, over, within) => n == 20L && over && within })
  }

  test("cms q88 report keeps an all-NULL-user group (vacuous-truth row, not a drop)") {
    // unreachable on the fixture (every type has non-null users):
    // a type whose user_ids are ALL NULL has no probes but still owns
    // a sketch row — the report must keep it with n_items = 0
    import org.apache.spark.sql.functions._
    val ev = spark.range(100).selectExpr(
      "CASE WHEN id % 2 = 0 THEN 'probed' ELSE 'ghost' END AS event_type",
      "CASE WHEN id % 2 = 0 THEN id % 7 ELSE NULL END AS user_id")
    val out = graft.queries.EventQueries.cmsFrequencyOver(ev)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(out.keySet === Set("probed", "ghost"))
    assert(out("ghost") === ((50L, 0L, true, true)),
      s"all-null group must survive with vacuous-truth booleans: ${out("ghost")}")
    val (n, items, over, within) = out("probed")
    assert(n === 50L && items === 7L && over && within)
  }
  /** Reference CMS build + probe against the shared bucket hash —
    * used by the fuzz and the ε/δ knob test below. */
  private def cmsEstimates(stream: Seq[String], width: Int, depth: Int,
                           parts: Int = 1): Map[String, Long] = {
    import graft.functions.CountMin
    val agg = graft.functions.CountMinSketchAgg(null, width, depth)
    def sketchOf(items: Seq[String]): Array[Long] = {
      val b = agg.createAggregationBuffer()
      items.foreach { it =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(it)
        var r = 0
        while (r < depth) {
          b(r * width + CountMin.bucket(u, r, width)) += 1L; r += 1
        }
        b(depth * width) += 1L
      }
      agg.deserialize(agg.serialize(b)) // round-trip must be exact
    }
    val merged = stream.grouped(math.max(1, stream.size / parts)).toSeq
      .map(sketchOf).reduce { (a, b) => agg.merge(a, b) }
    stream.distinct.map { item =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(item)
      item -> (0 until depth)
        .map(r => merged(r * width + graft.functions.CountMin.bucket(u, r, width)).toLong).min
    }.toMap
  }

  test("cms theorems hold under seeded fuzz (40 random streams, merges, widths, depths)") {
    // q88's oracle pins overestimate_holds to literal true, so the
    // gate is only sound if the theorem holds for ANY stream, ANY
    // partitioning, and ANY (width, depth) a conf user picks; the
    // 4x(n/width) bound pin additionally needs the estimates to be
    // partition-invariant (pointwise-add merge).
    import graft.functions.{CountMin, CountMinSketchAgg}
    val rnd = new scala.util.Random(11)
    (1 to 40).foreach { trial =>
      val width = 64 << rnd.nextInt(3) // 64/128/256
      val depth = 2 + rnd.nextInt(4) // 2..5
      val n = 100 + rnd.nextInt(4000)
      val stream = Seq.fill(n)(
        math.floor(math.pow(rnd.nextDouble(), 2) * 80).toInt.toString)
      val nParts = 1 + rnd.nextInt(6)
      val merged = cmsEstimates(stream, width, depth, nParts)
      val whole = cmsEstimates(stream, width, depth, 1)
      assert(merged == whole,
        s"trial $trial: merged estimates must equal the single-stream sketch")
      val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      exact.foreach { case (item, truth) =>
        val est = merged(item)
        assert(est >= truth,
          s"trial $trial (w=$width d=$depth): underestimate $item est=$est true=$truth")
        assert(est <= n, s"trial $trial: estimate beyond stream length")
      }
    }
  }

  test("cms ε/δ knobs: error shrinks with width; estimates monotone nonincreasing in depth") {
    // fixed heavy-collision stream: 6000 updates over 600 distinct
    // keys, Zipf-ish — fixed seeds + fixed data make every assertion
    // below deterministic
    val rnd = new scala.util.Random(7)
    val stream = Seq.fill(6000)(
      math.floor(math.pow(rnd.nextDouble(), 3) * 600).toInt.toString)
    val exact = stream.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    // ε (width): total overestimate mass must shrink as width grows —
    // the tradeoff the sketch width buys
    val errByWidth = Seq(64, 256, 1024).map { w =>
      w -> cmsEstimates(stream, w, 4).map { case (k, e) => e - exact(k) }.sum
    }
    errByWidth.sliding(2).foreach { case Seq((w1, e1), (w2, e2)) =>
      assert(e2 < e1, s"total overestimate must shrink with width: $errByWidth")
    }
    // δ (depth): row hashes are seeded by row INDEX, so a depth-d
    // table's rows are a prefix of a depth-d′>d table's — per-item
    // estimates are monotone nonincreasing in depth, a theorem
    val byDepth = Seq(1, 2, 4, 6).map(d => cmsEstimates(stream, 256, d))
    byDepth.sliding(2).foreach { case Seq(shallow, deep) =>
      exact.keys.foreach { k =>
        assert(deep(k) <= shallow(k),
          s"depth must only tighten estimates: $k ${shallow(k)} -> ${deep(k)}")
        assert(deep(k) >= exact(k), s"never below truth: $k")
      }
    }
  }

  test("top_k_by equals the exact rank-window result and is partition-invariant") {
    import graft.functions.TopKBy.top_k_by
    // events fixture: cross-check the bounded aggregate against the
    // exact window ranking it replaced (the q17 reshape), under both
    // a single partition (no merge) and 16 (merge-heavy)
    val ev = Tables.events(spark, sf).select($"event_type", $"event_id", $"value")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"value".desc, $"event_id")
    val exact = ev.withColumn("rn", row_number().over(w)).filter($"rn" <= 5)
      .select($"event_type", $"event_id", $"value", $"rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    Seq(1, 16).foreach { parts =>
      val got = ev.repartition(parts)
        .groupBy($"event_type").agg(top_k_by($"value", $"event_id", 5).as("top"))
        .select($"event_type", posexplode($"top"))
        .select($"event_type", $"col.tie", $"col.ord", ($"pos" + 1))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(got == exact, s"parts=$parts: bounded top-k must equal the window ranking")
    }
  }

  test("top_k_by: deterministic tie-break, short groups, null skip") {
    import graft.functions.TopKBy.top_k_by
    // all ords equal -> ranking is purely the ASC tie-break
    val ties = spark.range(0, 20).select(lit(1.0).as("v"), $"id")
      .repartition(4)
      .agg(top_k_by($"v", $"id", 3).as("t"))
      .selectExpr("transform(t, x -> x.tie) ties").head().getSeq[Long](0)
    assert(ties == Seq(0L, 1L, 2L), s"equal ords must rank by smallest tie: $ties")
    // group smaller than k -> all rows, still best-first
    val short = spark.range(0, 2).select($"id".cast("double").as("v"), $"id")
      .agg(top_k_by($"v", $"id", 5).as("t"))
      .selectExpr("transform(t, x -> x.tie) ties").head().getSeq[Long](0)
    assert(short == Seq(1L, 0L), s"short group keeps every row, ord-desc: $short")
    // null ord rows are skipped entirely
    val withNull = spark.range(0, 10)
      .select(when($"id" < 8, $"id".cast("double")).as("v"), $"id")
      .agg(top_k_by($"v", $"id", 3).as("t"))
      .selectExpr("transform(t, x -> x.tie) ties").head().getSeq[Long](0)
    assert(withNull == Seq(7L, 6L, 5L), s"null ords must not rank: $withNull")
  }

  test("top_k_by strict mode fails loudly on null input (the q17 precondition)") {
    import graft.functions.TopKBy.top_k_by
    // q17 replaced a NULLS LAST rank window; strict enforces the
    // no-null precondition the Scaladoc used to merely note (ADVICE
    // r10: a silent skip changes output when a group has < k non-null)
    val withNull = spark.range(0, 10)
      .select(when($"id" < 8, $"id".cast("double")).as("v"), $"id")
    val ex = intercept[Exception] {
      withNull.agg(top_k_by($"v", $"id", 3, strict = true).as("t")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).flatMap(c => Option(c.getMessage)).exists(_.contains("top_k_by(strict)")),
      s"strict null must surface the precondition error: $ex")
    // non-null data is unaffected by strict
    val ok = withNull.filter($"v".isNotNull)
      .agg(top_k_by($"v", $"id", 3, strict = true).as("t"))
      .selectExpr("transform(t, x -> x.tie) ties").head().getSeq[Long](0)
    assert(ok == Seq(7L, 6L, 5L), s"strict must not change non-null ranking: $ok")
  }

  test("top_k_by theorems hold under seeded fuzz (40 random streams, random merges)") {
    // the buffer's replace-the-worst path and the merge path must
    // equal a reference sort for ANY stream, ANY k, ANY partitioning
    // — including duplicate ords (tie-break load) and NaN
    val rnd = new scala.util.Random(23)
    (1 to 40).foreach { trial =>
      val k = 1 + rnd.nextInt(10)
      val n = 1 + rnd.nextInt(300)
      val rows = Seq.fill(n)((
        if (rnd.nextInt(20) == 0) Double.NaN else rnd.nextInt(40).toDouble,
        rnd.nextLong(1000000)))
      val agg = graft.functions.TopKBy(null, null, k)
      def bufOf(part: Seq[(Double, Long)]) = {
        val b = agg.createAggregationBuffer()
        part.foreach { case (o, t) => b.add(o, t) }
        agg.deserialize(agg.serialize(b)) // round-trip must be exact
      }
      val parts = rows.grouped(math.max(1, n / (1 + rnd.nextInt(5)))).toSeq
      val merged = parts.map(bufOf).reduce { (a, b) => agg.merge(a, b) }
      val got = merged.sortedBestFirst.toSeq
      val expect = rows
        .sorted(new Ordering[(Double, Long)] {
          def compare(a: (Double, Long), b: (Double, Long)): Int = {
            val c = java.lang.Double.compare(b._1, a._1)
            if (c != 0) c else java.lang.Long.compare(a._2, b._2)
          }
        }).take(k)
      // NaN != NaN under tuple ==, so normalize it for the compare
      def norm(p: (Double, Long)) = (p._1.isNaN, if (p._1.isNaN) 0.0 else p._1, p._2)
      assert(got.map(norm) == expect.map(norm),
        s"trial $trial (k=$k, n=$n): merged top-k must equal the reference sort")
    }
  }

  test("top_k_by: NaN ranks as the LARGEST ord (Spark/DuckDB DESC semantics), no sort crash") {
    import graft.functions.TopKBy.top_k_by
    // ids 3 and 7 carry NaN; everything else is its id value. Under
    // ord DESC NaN sorts first (Spark treats NaN > any double), so
    // top-3 = the two NaN rows (tie ASC between them) then 9.0. Raw
    // `>` comparisons would have made an early NaN un-displaceable
    // garbage AND risked a TimSort contract violation in eval.
    val got = spark.range(0, 10)
      .select(when($"id".isin(3L, 7L), lit(Double.NaN))
        .otherwise($"id".cast("double")).as("v"), $"id")
      .repartition(4)
      .agg(top_k_by($"v", $"id", 3).as("t"))
      .selectExpr("transform(t, x -> x.tie) ties").head().getSeq[Long](0)
    assert(got == Seq(3L, 7L, 9L), s"NaN-largest ranking expected (3,7,9), got $got")
  }

  test("q130 rolling distinct: bounds vs daily series, verdict holds, window binds") {
    val rows = graft.queries.EventQueries.rollingDistinctUsers(spark, sf)
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    val daily = rows.map(r => r._1 -> r._2).toMap
    rows.zipWithIndex.foreach { case ((day, d, roll, ok), i) =>
      // the window ending on `day` contains day itself
      assert(roll >= d, s"$day: rolling $roll < daily $d")
      // union bound: rolling ≤ sum of the daily counts inside the window
      val windowDays = rows.slice(math.max(0, i - 6), i + 1)
        .map(_._1).filter(_ <= day)
      val unionBound = windowDays.map(daily).sum
      assert(roll <= unionBound, s"$day: rolling $roll > union bound $unionBound")
      assert(ok, s"$day: HLL estimate drifted beyond 5% of $roll")
    }
    // the rolling window must BIND: some day's rolling count strictly
    // exceeds its daily count (otherwise the fixture never re-observes
    // a user inside 7 days and the test is vacuous)
    assert(rows.exists(r => r._3 > r._2), "window vacuous on fixture")
  }
}
