package graft

import org.apache.spark.sql.functions._
import graft.queries.{TrainQueries, TextQueries}

/** Training-data assembly ops: stratified sampling, token packing,
  * repetition scoring, PII redaction (q69–q71, q73). The fixture
  * corpus carries no PII-shaped strings, so redaction BEHAVIOR is
  * pinned here on synthetic strings; the registered query's oracle
  * covers the cross-engine pipeline. */
class TrainOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` with `spark.sql.shuffle.partitions` (the shard count
    * of the global-ordinal constructions) at `n`, then restores it. */
  private def withShufflePartitions(n: Int)(body: => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    spark.conf.set(key, n.toLong)
    try body finally spark.conf.set(key, prior)
  }

  // ---- q69 stratified sampling ----

  test("stratified sample is deterministic and a subset of the input") {
    val a = TrainQueries.stratifiedSample(spark, sf).collect()
    val b = TrainQueries.stratifiedSample(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    val ids = Tables.documents(spark, sf).select("doc_id").as[Long].collect().toSet
    assert(a.map(_.getLong(0)).forall(ids.contains))
  }

  test("per-stratum sample rates land near the configured permille") {
    val docs = Tables.documents(spark, sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val sampled = TrainQueries.stratifiedSample(spark, sf)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    val rates = Map("en" -> 0.25, "de" -> 0.7, "es" -> 0.7, "fr" -> 0.7, "zh" -> 0.7)
    rates.foreach { case (lang, r) =>
      val frac = sampled.getOrElse(lang, 0L).toDouble / docs(lang)
      // binomial noise at n≈70–220 per stratum: allow ±0.12 absolute
      assert(math.abs(frac - r) < 0.12, s"$lang: got $frac want ~$r")
    }
  }

  test("hash-threshold sampling is monotone: raising the rate grows a superset") {
    val lo = Tables.documents(spark, sf)
      .filter(TrainQueries.sampleKey($"doc_id") < 200)
      .select("doc_id").as[Long].collect().toSet
    val hi = Tables.documents(spark, sf)
      .filter(TrainQueries.sampleKey($"doc_id") < 500)
      .select("doc_id").as[Long].collect().toSet
    assert(lo.subsetOf(hi))
    assert(hi.size > lo.size)
  }

  // ---- q70 token packing ----

  test("token packing conserves tokens and starts each source at pack 0") {
    val packs = TrainQueries.tokenPack(spark, sf).collect()
    val bySource = packs.groupBy(_.getString(0))
    val direct = Tables.documents(spark, sf)
      .select($"source", TextQueries.bpeishTokenCount($"text").as("n"))
      .groupBy("source").agg(sum("n").as("n"))
      .as[(String, Long)].collect().toMap
    bySource.foreach { case (src, rows) =>
      assert(rows.map(_.getLong(3)).sum == direct(src), s"token loss in $src")
      assert(rows.map(_.getLong(1)).min == 0L, s"$src first pack not 0")
    }
  }

  test("pack ids are non-decreasing in doc order and packs hold ~budget tokens") {
    val budget = 128L // small budget => many packs on the small fixture
    val packs = TrainQueries.tokenPack(spark, sf, budget)
      .filter($"source" === "src0").collect()
    val ids = packs.map(_.getLong(1))
    assert(ids.sameElements(ids.sorted))
    // every pack except the last must have been closed by overflow:
    // its docs' tokens + the next doc's start offset cross the budget.
    // Weaker invariant that is exact under concat-and-chunk: the
    // FIRST doc of pack p starts strictly before (p+1)*budget, i.e.
    // cumulative tokens before it are < (p+1)*budget and >= p*budget.
    val docs = Tables.documents(spark, sf)
      .filter($"source" === "src0")
      .select($"doc_id", TextQueries.bpeishTokenCount($"text").as("n"))
      .orderBy("doc_id").as[(Long, Long)].collect()
    var cum = 0L
    val packOfDoc = docs.map { case (id, n) => val p = cum / budget; cum += n; (id, p) }.toMap
    packs.foreach { row =>
      val (p, first, last) = (row.getLong(1), row.getLong(4), row.getLong(5))
      assert(packOfDoc(first) == p && packOfDoc(last) == p)
    }
  }

  // ---- q71 repetition scoring ----

  private def rep(text: String): (Long, Long, Double, Boolean) =
    // the query's OWN scoring stack on a one-row frame (no copy)
    TrainQueries.repetitionScored(Seq((1L, text)).toDF("doc_id", "text"))
      .select($"n_bigrams", $"n_dup", $"dup_frac", $"keep")
      .as[(Long, Long, Double, Boolean)].head()

  test("repetition score on hand-checked examples") {
    assert(rep("a b a b a") == (4L, 2L, 0.5, false)) // ab,ba,ab,ba
    assert(rep("all words here are unique") == (4L, 0L, 0.0, true))
    assert(rep("single") == (0L, 0L, 0.0, true))
    assert(rep("x x x x") == (3L, 2L, 0.6667, false)) // xx,xx,xx
  }

  test("q71 registered query agrees with a brute-force recount on the fixture") {
    val got = TrainQueries.repetitionScore(spark, sf)
      .select("doc_id", "n_dup").as[(Long, Long)].collect().toMap
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, t) =>
      val toks = t.trim.split("\\s+").toSeq
      val bi = if (toks.length < 2) Seq.empty
               else toks.sliding(2).map(_.mkString(" ")).toSeq
      assert(got(id) == (bi.length - bi.distinct.length).toLong, s"doc $id")
    }
  }

  // ---- q73 PII redaction ----

  private def redact(text: String): String = {
    val c = TrainQueries.piiPatterns.foldLeft(col("t")) {
      case (acc, (pat, tag)) => regexp_replace(acc, pat, tag)
    }
    Seq(text).toDF("t").select(c).as[String].head()
  }

  test("PII redaction replaces emails, IPs, phones and long ids with typed tags") {
    assert(redact("mail me at jane.doe+x@example.co.uk today")
      == "mail me at <EMAIL> today")
    assert(redact("server at 192.168.0.1 rebooted") == "server at <IP> rebooted")
    assert(redact("call +1 415 555 0132 now") == "call <PHONE> now")
    assert(redact("ssn-ish 123456789 and card 4111111111111111")
      == "ssn-ish <ID> and card <ID>")
  }

  test("PII pattern ordering: emails keep their digits, IPs are not eaten by phone") {
    // digits inside an email must be redacted as EMAIL, not ID/PHONE
    assert(redact("x123456789@mail.com") == "<EMAIL>")
    // an IPv4 with separators must become IP, not PHONE (dots are not
    // in the phone charset) and not ID (octets are short)
    assert(redact("10.0.0.255") == "<IP>")
  }

  test("PII phone pattern rejects ISO datetimes (4-digit year cannot lead a match)") {
    assert(redact("logged at 2026-08-12 12:34:56 ok")
      == "logged at 2026-08-12 12:34:56 ok")
    assert(redact("deployed 2020-01-07") == "deployed 2020-01-07")
    // while separator-bearing phones still redact
    assert(redact("call +1 415 555 0132 now") == "call <PHONE> now")
    assert(redact("fax 415-555-0132.") == "fax <PHONE>.")
  }

  // ---- q75 source mixing ----

  test("weighted mixture: un-exhausted prefixes hold sources near weight proportions") {
    // 5 heavy (w=3) + 15 light (w=1) sources contribute 15:15 docs
    // per unit of mix_key → heavy share ≈ 50% — but only while no
    // source is exhausted (the fixture has ~25 docs/source, so heavy
    // sources run dry around prefix ≈ 245; past that the mixture
    // degrades gracefully toward the corpus mix)
    val mix = TrainQueries.sourceMix(spark, sf, take = 150).collect()
    Seq(mix.take(75), mix).foreach { prefix =>
      val heavy = prefix.count(r => r.getLong(2) == 3L).toDouble / prefix.length
      assert(math.abs(heavy - 0.5) < 0.15, s"heavy-source share $heavy")
    }
    // deterministic: second run identical
    val again = TrainQueries.sourceMix(spark, sf, take = 150).collect()
    assert(mix.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
  }

  test("mixture order is the rank/weight interleave (mix_key non-decreasing)") {
    val keys = TrainQueries.sourceMix(spark, sf, take = 300)
      .select("mix_key").as[Double].collect()
    assert(keys.zip(keys.tail).forall { case (a, b) => a <= b })
  }

  // ---- q76 embedding quantization ----

  test("int8 quantization reconstructs within half a quantization step") {
    val out = graft.queries.SimilarityQueries.quantizeEmbeddings(spark, sf)
    assert(out.filter(!$"recon_ok").count() == 0L)
    // spot-check the bound by hand on one vector
    val e = Tables.embeddings(spark, sf)
      .select("embedding").as[Seq[Float]].head()
    val m = e.map(x => math.abs(x.toDouble)).max
    val q = e.map(x => math.floor(x.toDouble * 127 / m + 0.5).toLong)
    val err = e.zip(q).map { case (x, qi) => math.abs(x.toDouble - qi * m / 127) }.max
    assert(err <= m / 127 * 0.5 + 1e-9)
    assert(q.forall(v => v >= -127 && v <= 127))
  }

  test("quantization handles the zero vector without dividing by zero") {
    val out = graft.queries.SimilarityQueries
      .quantizeEmbeddings(spark, sf) // fixture path exercises nonzero
    // synthetic zero vector through the same column stack
    val df = Seq((1L, 0, Seq(0f, 0f, 0f))).toDF("vec_id", "label", "embedding")
    val row = df
      .withColumn("e", transform($"embedding", x => x.cast("double")))
      .withColumn("m", array_max(transform($"e", x => abs(x))))
      .withColumn("qv",
        when($"m" === 0, transform($"e", _ => lit(0L)))
          .otherwise(transform($"e", x => floor(x * 127 / $"m" + 0.5).cast("long"))))
      .select($"qv").head()
    assert(row.getSeq[Long](0) == Seq(0L, 0L, 0L))
    assert(out.count() > 0)
  }

  // ---- q81 corpus-frequency quality signal ----

  test("rare-token stats equal a Scala-computed corpus-frequency model") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val toks = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    // PRECONDITION for comparing against a token-identity model: the
    // operator keys on the rolling-hash fingerprint (its documented
    // collision-merging contract, same as q41/q79), so this model is
    // only equivalent while the fixture vocabulary is collision-free.
    // Assert that explicitly — a regenerated fixture with a colliding
    // pair should fail HERE, not in the stats comparison below.
    val vocabArr = toks.flatMap(_._2).distinct
    assert(vocabArr.map(refFingerprint).distinct.length == vocabArr.length,
      "fixture vocabulary has fingerprint collisions; token-identity model invalid")
    val freq = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = toks.map { case (id, ts) =>
      val fs = ts.map(freq)
      val nRare = fs.count(_ <= 2L).toLong
      (id, ts.size.toLong, nRare, fs.min, fs.max,
        ((20000L * nRare + ts.size) / (2L * ts.size)) / 10000.0)
    }.sortBy(_._1).toSeq
    val got = TrainQueries.rareTokenStats(spark, sf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == expected)
  }

  // ---- q83 source vocabulary overlap ----

  test("source overlap equals a Scala-computed Jaccard over distinct vocabularies") {
    val vocab = Tables.documents(spark, sf)
      .select($"source", $"text").as[(String, String)].collect()
      .groupBy(_._1).view
      .mapValues(_.flatMap(_._2.trim.split("\\s+")).toSet).toMap
    val expected = (for {
      a <- vocab.keys; b <- vocab.keys if a < b
      common = (vocab(a) & vocab(b)).size.toLong if common > 0
    } yield {
      val union = vocab(a).size + vocab(b).size - common
      (a, b, common, vocab(a).size.toLong, vocab(b).size.toLong,
        ((20000L * common + union) / (2L * union)) / 10000.0)
    }).toSeq.sortBy(r => (r._1, r._2))
    val got = TrainQueries.sourceOverlap(spark, sf)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(got == expected)
    assert(got.forall(r => r._3 <= math.min(r._4, r._5)))
  }

  // ---- q85 budget selection ----

  test("budget selection equals a single-pass Scala model of the quality-ordered prefix") {
    val docs = Tables.documents(spark, sf)
      .select($"source", $"doc_id", $"text").as[(String, Long, String)].collect()
    val scored = docs.map { case (src, id, t) =>
      val toks = t.trim.split("\\s+")
      (src, id, toks.distinct.length.toLong, toks.length.toLong)
    }
    val model = scored.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      var cum = 0L
      rows.sortBy(r => (-r._3, r._2)).flatMap { case (src, id, q, n) =>
        cum += n
        if (cum <= 800L) Some((src, id, q, n, cum)) else None
      }
    }.sortBy(r => (r._1, r._2))
    val got = graft.queries.TrainQueries.budgetSelect(spark, sf)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == model)
    assert(got.nonEmpty && got.size < docs.length,
      "budget must bind: some docs selected, some dropped")
  }

  // ---- q87 corpus top bigrams ----

  test("top bigrams equal a Scala-computed frequency table with deterministic ties") {
    val texts = Tables.documents(spark, sf)
      .select($"text").as[String].collect()
    val counts = texts.flatMap { t =>
      val toks = t.trim.split("\\s+")
      if (toks.length < 2) Seq.empty[String]
      else toks.sliding(2).map(_.mkString(" ")).toSeq
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val model = counts.sortBy { case (bg, n) => (-n, bg) }.take(50)
    val got = graft.queries.TextQueries.topBigrams(spark, sf)
      .as[(String, Long)].collect().toSeq
    assert(got == model)
  }

  test("q94 split assignment: disjoint, exhaustive, ~98/1/1, and STABLE under corpus growth") {
    // large synthetic corpus so the 1%-bands bind (round-7 rule)
    val n = 100000L
    val docs = spark.range(n).select($"id".as("doc_id"))
    val assigned = TrainQueries.splitAssignOver(docs)
      .as[(Long, String)].collect().toMap
    // exhaustive + disjoint by construction of the map; check coverage
    assert(assigned.size == n)
    val byS = assigned.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byS.keySet == Set("train", "val", "test"), s"splits: $byS")
    // hash-threshold proportions: within ±20% relative of 980/10/10
    assert(math.abs(byS("train") - 0.98 * n) < 0.002 * n, s"train: $byS")
    assert(byS("val") > 0.008 * n && byS("val") < 0.012 * n, s"val: $byS")
    assert(byS("test") > 0.008 * n && byS("test") < 0.012 * n, s"test: $byS")
    // growth stability: doubling the corpus moves NO existing doc
    val grown = TrainQueries.splitAssignOver(
        spark.range(2 * n).select($"id".as("doc_id")))
      .filter($"doc_id" < n).as[(Long, String)].collect().toMap
    assert(grown == assigned, "corpus growth must never reassign an existing doc")
  }

  test("q95 shuffle order: ordinals are exactly 0..n-1 and keys never collide below p") {
    val n = 20000L
    // non-contiguous ids (every 3rd) — the permutation must not rely
    // on dense ids
    val docs = spark.range(n).select(($"id" * 3L).as("doc_id"))
    val out = TrainQueries.shuffleOrderOver(docs)
      .as[(Long, Long, Long)].collect()
    assert(out.length == n)
    // contiguous global ordinal, no single-partition corpus window
    assert(out.map(_._3).sorted.toSeq == (0L until n), "ordinals must be 0..n-1")
    // (doc_id * a) mod p is a bijection below p: zero key collisions
    assert(out.map(_._2).distinct.length == n, "shuffle keys must be collision-free below p")
    // the output really is ordered by (key, doc_id)
    val byOrdinal = out.sortBy(_._3).map(o => (o._2, o._1)).toSeq
    assert(byOrdinal == byOrdinal.sorted, "ordinal order must equal (key, doc_id) order")
    // plan shape: the corpus-level rank window is SHARD-partitioned;
    // any unpartitioned window sits above an Aggregate (the 64-row
    // offsets frame), never over raw rows
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = TrainQueries.shuffleOrderOver(docs).queryExecution.optimizedPlan
    val windows = plan.collect { case w: LWindow => w }
    assert(windows.exists(_.partitionSpec.nonEmpty), "corpus rank must be shard-partitioned")
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collect { case a: Aggregate => a }.nonEmpty,
        "an unpartitioned window may only run over a compacted aggregate")
    }
  }

  test("q95 ordinal assignment is shard-count INVARIANT (shuffle partitions {1,7,256})") {
    // the two-level construction composes key-range shards in key
    // order, so the global ordinal cannot depend on the shard count,
    // which follows spark.sql.shuffle.partitions
    val docs = spark.range(5000L).select(($"id" * 7L).as("doc_id"))
    def ordinals(): Map[Long, Long] =
      TrainQueries.shuffleOrderOver(docs).as[(Long, Long, Long)]
        .collect().map(o => o._1 -> o._3).toMap
    val base = ordinals() // the test session's 4 partitions
    for (n <- Seq(1, 7, 256)) withShufflePartitions(n) {
      assert(TrainQueries.shuffleShards(spark) == n)
      assert(ordinals() == base, s"ordinals must not depend on shards=$n")
    }
    // and the run output carries every doc exactly once
    assert(base.size == 5000)
  }

  test("fixture corpus carries no PII-shaped strings (documented zero-match)") {
    val n = TrainQueries.piiRedact(spark, sf)
      .agg(sum("n_pii")).as[Long].head()
    assert(n == 0L)
    // and therefore the redacted fingerprint equals the original's
    val fp = TrainQueries.piiRedact(spark, sf).select("doc_id", "redacted_fp")
      .as[(Long, Long)].collect().toMap
    val orig = Tables.documents(spark, sf)
      .select($"doc_id", TextQueries.fingerprint($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp == orig)
  }

  test("q104 exact-k sample: exactly min(k, stratum size) rows per source, deterministic") {
    val k = 3
    val got = TrainQueries.exactStratifiedSample(spark, sf, k)
      .select($"source", $"doc_id").as[(String, Long)].collect().toSeq
    val counts = Tables.documents(spark, sf).groupBy($"source").count()
      .as[(String, Long)].collect().toMap
    val perSource = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perSource.keySet == counts.keySet, "every stratum must be represented")
    perSource.foreach { case (src, n) =>
      assert(n == math.min(k.toLong, counts(src)), s"$src: got $n of ${counts(src)} (k=$k)")
    }
    // deterministic: a re-run under different parallelism picks the SAME docs
    val again = TrainQueries.exactStratifiedSample(spark, sf, k)
    val repartitioned = again.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(repartitioned.sorted == got.sorted)
    // and selection is the k smallest sample keys per source (model check)
    val model = Tables.documents(spark, sf)
      .select($"source", $"doc_id").as[(String, Long)].collect()
      .groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        rows.toSeq.map { case (_, id) =>
          val h = ((id % 1000000007L) * 2654435761L) % 1000000007L % 1000L
          (src, h, id)
        }.sortBy(t => (t._2, t._3)).take(k).map(t => (src, t._3))
      }
    assert(got.sorted == model.toSeq.sorted)
  }

  test("q115 weighted sample: model-exact, monotone in weight, stable under growth") {
    val k = 20
    val got = TrainQueries.weightedSample(spark, sf, k)
      .select($"doc_id", $"priority").as[(Long, Long)].collect().toSeq
    assert(got.size == k)
    // model check: clocks recomputed in plain Scala pick the same k
    val model = Tables.documents(spark, sf)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
      .filter(_._2 > 0)
      .map { case (id, w) =>
        val h = ((id % 1000000007L) * 2654435761L) % 1000000007L
        (id, h * 1000L / w)
      }.sortBy(t => (t._2, t._1)).take(k).toSeq
    assert(got.sorted == model.sorted, s"clock model mismatch")
    // monotone in weight: doubling every weight halves every clock —
    // the SELECTION is invariant under uniform rescaling (rank
    // preserved up to integer-division rounding on these magnitudes)
    val clocks = model.map(_._2)
    assert(clocks == clocks.sorted, "output is clock-ordered")
    // growth stability: restricting the corpus to half the ids can
    // only REMOVE members from the top-k (no reordering of survivors)
    val half = Tables.documents(spark, sf)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect()
      .filter(t => t._2 > 0 && t._1 % 2 == 0)
      .map { case (id, w) =>
        val h = ((id % 1000000007L) * 2654435761L) % 1000000007L
        (id, h * 1000L / w)
      }.sortBy(t => (t._2, t._1)).take(k).map(_._1).toSet
    val fullEvenWinners = model.map(_._1).filter(_ % 2 == 0).toSet
    assert(fullEvenWinners.subsetOf(half),
      "an even-id winner of the full corpus must still win when odd ids vanish")
  }

  test("q118 pack manifest: docs abut within packs, spans reconcile with q70's packs") {
    val budget = 2048L
    val manifest = TrainQueries.packManifest(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(manifest.nonEmpty)
    manifest.foreach { case (_, _, _, nTok, startOff, spill) =>
      assert(startOff >= 0 && startOff < budget)
      assert(spill == math.max(0L, startOff + nTok - budget),
        "spill must be exactly the overflow past the pack boundary")
    }
    // abutment: consecutive docs of one source sit end-to-end in the
    // token stream — next start = (prev start + prev tokens) mod budget
    manifest.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(_._3).sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._5 == (a._5 + a._4) % budget,
            s"doc ${b._3} must start where ${a._3} ended (mod budget)")
        case _ => ()
      }
    }
    // reconciliation: per-(source, pack) doc counts and token mass
    // equal q70's aggregate exactly
    val packs = TrainQueries.tokenPack(spark, sf)
      .select(col("source"), col("pack_id"), col("n_docs"), col("n_tokens"))
      .as[(String, Long, Long, Long)].collect().toSet
    val fromManifest = manifest.groupBy(r => (r._1, r._2)).map { case ((s0, p), rows) =>
      (s0, p, rows.size.toLong, rows.map(_._4).sum)
    }.toSet
    assert(fromManifest == packs, "manifest must aggregate to q70's pack rows")
  }

  test("q119 novelty: first doc all-novel, novel_types conserve the vocabulary") {
    val out = TrainQueries.noveltyScore(spark, sf)
      .select(col("doc_id"), col("ordinal"), col("n_tokens"), col("n_seen"),
        col("novel_types"), col("seen_frac"))
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    val n = Tables.documents(spark, sf).count()
    assert(out.size == n, "every document gets a novelty row")
    // the ordinal-0 document has nothing before it: all novel
    val first = out.find(_._2 == 0L).get
    assert(first._4 == 0L && first._6 == 0.0,
      s"first doc must have seen nothing, got $first")
    // vocabulary conservation: each type is novel in exactly one doc
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(TextQueries.fingerprint(col("tok"))).distinct().count()
    assert(out.map(_._5).sum == vocab,
      "novel_types must sum to the distinct vocabulary")
    // bounds: n_seen ≤ n_tokens, seen_frac in [0, 1]
    out.foreach { r =>
      assert(r._4 <= r._3 && r._6 >= 0.0 && r._6 <= 1.0, s"bounds violated: $r")
    }
  }

  test("q117 vocab growth: conserves the vocabulary, cum is a monotone prefix sum") {
    val out = TrainQueries.vocabGrowth(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.nonEmpty && out.forall { case (b, _, _) => b >= 0 && b < 20 })
    // conservation: total new_tokens across bins = distinct fingerprints
    val vocab = Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .select(TextQueries.fingerprint(col("tok"))).distinct().count()
    assert(out.map(_._2).sum == vocab,
      s"every vocabulary entry must first-occur in exactly one bin")
    // cum_tokens is the running sum and ends at the full vocabulary
    val cums = out.map(_._3)
    assert(cums == out.map(_._2).scanLeft(0L)(_ + _).tail,
      "cum must be the exact prefix sum of new_tokens")
    assert(cums.last == vocab)
    // shard-count invariance rides on q95's construction: a different
    // shuffle-partition count must not move any bin boundary
    withShufflePartitions(7) {
      val again = TrainQueries.vocabGrowth(spark, sf)
        .as[(Long, Long, Long)].collect().toSeq
      assert(again == out, "bin curve must be shard-count invariant")
    }
  }

  test("q105 curriculum order: exhaustive 0..n-1 positions, bins descend, shard-invariant") {
    val rows = TrainQueries.curriculumOrder(spark, sf)
      .select($"curriculum_pos", $"bin", $"shuffle_key", $"doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_._1) == (0L until n), "positions must be exactly 0..n-1")
    // bins are consumed high-quality-first: non-increasing along positions
    rows.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 >= b._2, s"bin must not increase along curriculum: $a -> $b")
      if (a._2 == b._2)
        assert(a._3 < b._3 || (a._3 == b._3 && a._4 < b._4),
          s"within a bin the seeded shuffle order must hold: $a -> $b")
    case _ => ()
    }
    // identical positions at any shard count (range shards compose order)
    for (shards <- Seq(1, 7)) withShufflePartitions(shards) {
      val again = TrainQueries.curriculumOrder(spark, sf)
        .select($"doc_id", $"curriculum_pos").as[(Long, Long)].collect().toMap
      assert(again == rows.map(r => (r._4, r._1)).toMap, s"shards=$shards must not change positions")
    }
  }

  test("q108 chunk dedup: one keeper per fingerprint, keeper is the group minimum, non-vacuous") {
    val rows = TrainQueries.chunkDedup(spark, sf)
      .select($"doc_id", $"chunk_idx", $"chunk_fp", $"is_keeper")
      .as[(Long, Long, Long, Boolean)].collect()
    // chunk grid identity with q78 (the composed definition holds)
    assert(rows.length == TrainQueries.docChunks(spark, sf).count())
    val byFp = rows.groupBy(_._3)
    byFp.foreach { case (fp, g) =>
      assert(g.count(_._4) == 1, s"fp $fp has ${g.count(_._4)} keepers")
      val keeper = g.filter(_._4).head
      val minPos = g.map(r => (r._1, r._2)).min
      assert((keeper._1, keeper._2) == minPos,
        s"fp $fp keeper ${(keeper._1, keeper._2)} != min $minPos")
    }
    // the fixture must actually exercise the dedup (vacuity guard):
    // duplicated chunks exist, so keepers < chunks
    val dups = rows.length - byFp.size
    assert(dups > 0, "fixture has no duplicate chunks — test is vacuous")
    assert(rows.count(_._4) == byFp.size)
  }

  test("q109 chunk pack: conservation, contiguous packs, shard-count invariance") {
    val packs = TrainQueries.chunkPack(spark, sf)
      .select($"pack_id", $"n_chunks", $"n_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // contiguity: pack ids are exactly 0..max
    assert(packs.map(_._1).toSeq == (0L until packs.length).toSeq)
    // conservation: packed tokens/chunks equal the keeper totals
    val keepers = TrainQueries.chunkDedup(spark, sf).filter($"is_keeper")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum($"n_chunk_tokens"))
      .as[(Long, Long)].head()
    assert(packs.map(_._2).sum == keepers._1, "every keeper chunk packed exactly once")
    assert(packs.map(_._3).sum == keepers._2, "token conservation")
    // fractional-pack rule: every non-final pack starts a new window,
    // so it carries at least budget − (maxChunk − 1) tokens
    packs.dropRight(1).foreach { case (id, _, toks) =>
      assert(toks >= 256 - 31, s"pack $id under-filled: $toks")
    }
    // the two-level construction is shard-size INVARIANT
    val again = TrainQueries.chunkPack(spark, sf, shardSize = 7L)
      .select($"pack_id", $"n_chunks", $"n_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == packs.toSeq, "shardSize must not change pack assignment")
  }

  // ---- q127 filter stack ----

  test("q127 filter stack: each rule fires alone on a constructed doc; clean doc keeps") {
    val good = ((1 to 30).map(i => s"word$i") ++ Seq("the", "a", "of")).mkString(" ")
    val short = "too short by far"                                   // bit 1
    // >5% duplicate bigrams but diverse tokens, long enough, stopworded:
    // "x y"×5 → 7 duplicate bigrams of 54 (13%) amid unique filler
    val repeat = ("x y x y x y x y x y " + (1 to 40).map(i => s"u$i").mkString(" ") +
      " the a of to in").trim                                        // bit 2
    val lowstop = (1 to 40).map(i => s"nost$i").mkString(" ")        // bit 8 only
    val lowdiv = (Seq.fill(30)("same").mkString(" ") + " the a of to unique1 unique2")
    val docs = Seq(
      (1L, good), (2L, short), (3L, repeat), (4L, lowstop), (5L, lowdiv))
      .toDF("doc_id", "text")
    val got = TrainQueries.filterStackOver(docs)
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(got(1L) == ((0L, true)), s"clean doc flagged: ${got(1L)}")
    assert((got(2L)._1 & 1L) == 1L && !got(2L)._2, "short doc must flag LENGTH")
    assert((got(3L)._1 & 2L) == 2L && !got(3L)._2, "repeat doc must flag REPEAT")
    assert((got(4L)._1 & 8L) == 8L && !got(4L)._2, "stopless doc must flag LOWSTOP")
    assert((got(5L)._1 & 16L) == 16L && !got(5L)._2, "low-diversity doc must flag LOWDIV")
  }

  test("q127 cross-corpus rule fires on planted boilerplate; every rule binds on the fixture") {
    // two long, otherwise-clean docs sharing a majority 8-gram span
    val boiler = (1 to 30).map(i => s"tpl$i").mkString(" ")
    val mk = (salt: String) =>
      s"$boiler $salt the a of to in " + (1 to 5).map(i => s"$salt$i").mkString(" ")
    val docs = Seq((1L, mk("alpha")), (2L, mk("beta"))).toDF("doc_id", "text")
    val got = TrainQueries.filterStackOver(docs)
      .as[(Long, Long, Long, Boolean)].collect()
    got.foreach { case (id, _, reasons, keep) =>
      assert((reasons & 4L) == 4L && !keep, s"doc $id must flag DUPNGRAM: $reasons")
    }
    // fixture: every bit observed somewhere, and keeps exist
    val fx = TrainQueries.filterStack(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect()
    Seq(1L, 2L, 4L, 8L, 16L).foreach { bit =>
      assert(fx.exists(r => (r._3 & bit) == bit), s"rule $bit vacuous on fixture")
    }
    assert(fx.exists(_._4), "no document survives the stack — thresholds broken")
    fx.foreach(r => assert(r._4 == (r._3 == 0L)))
  }

  // ---- q129 corpus assembly ----

  test("q129 assembly: dedup-first stage order — exact copies keep ONE survivor") {
    val clean = ((1 to 30).map(i => s"word$i") ++ Seq("the", "a", "of")).mkString(" ")
    val clean2 = ((1 to 30).map(i => s"other$i") ++ Seq("the", "a", "of")).mkString(" ")
    val docs = Seq(
      (1L, "s", "too short"),   // survives dedup, dropped by the filter (LENGTH)
      (2L, "s", clean),         // dedup keeper, passes the filter
      (3L, "s", clean),         // exact dup of 2 → deduped away BEFORE the
                                // dup-gram statistic can flag both copies
      (4L, "s", clean2)).toDF("doc_id", "source", "text")
    val got = TrainQueries.corpusAssemblyOver(docs, budget = 2048L)
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.length == 1)
    val (_, pack, nDocs, _, first, last) = got.head
    assert(pack == 0L)
    assert(nDocs == 2L, s"expect docs 2 and 4 to survive, got $nDocs docs")
    assert(first == 2L && last == 4L,
      "keeper of the dup pair plus the distinct clean doc")
    // the order contract itself: filter-first would have dropped BOTH
    // copies of `clean` via the dup-gram bit — pin that explicitly
    val filterFirst = TrainQueries.filterStackOver(
        docs.select($"doc_id", $"text"))
      .filter($"keep").as[(Long, Long, Long, Boolean)].collect().map(_._1).toSet
    assert(!filterFirst.contains(2L) && !filterFirst.contains(3L),
      "precondition: filter-first flags both exact copies (why dedup runs first)")
  }

  test("q129 on the fixture: conservation against independently-composed stages") {
    val packs = TrainQueries.corpusAssembly(spark, sf).collect()
    // recompose the survivor set from the stage operators directly:
    // dedup keepers first, then the filter stack over that frame
    val keepers = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text",
        TextQueries.fingerprint($"text").as("fp"))
      .as[(Long, String, String, Long)].collect()
      .groupBy(_._4).map { case (_, g) => g.minBy(_._1) }.toSeq
    val keeperDf = keepers.map(t => (t._1, t._2, t._3)).toDF("doc_id", "source", "text")
    val kept = TrainQueries.filterStackOver(keeperDf).filter($"keep")
      .select($"doc_id").as[Long].collect().toSet
    val survivors = keepers.filter(k => kept.contains(k._1))
    val tokens = survivors.map(_._3)
      .map(t => "\\w+|[^\\w\\s]".r.findAllIn(t).size.toLong).sum
    assert(packs.map(_.getLong(2)).sum == survivors.size, "doc conservation")
    assert(packs.map(_.getLong(3)).sum == tokens, "token conservation")
    assert(packs.nonEmpty && survivors.nonEmpty, "assembly must bind on the fixture")
  }

  // ---- q126 cross-split chunk leakage ----

  test("q126 leakage: constructed cross-split duplicate chunk is found; all 3 pairs emitted") {
    // doc_ids chosen by their q94 split: splitOf uses the Knuth hash —
    // find concrete ids per split from the shared definition itself
    val keys = (0L until 5000L).map(id => id ->
      Seq(("train", 980L), ("val", 990L)).find {
        case (_, hi) => (id % 1000000007L) * 2654435761L % 1000000007L % 1000L < hi
      }.map(_._1).getOrElse("test"))
    val trainId = keys.find(_._2 == "train").get._1
    val valId = keys.find(_._2 == "val").get._1
    val testId = keys.find(_._2 == "test").get._1
    val shared = (1 to 32).map(i => s"tok$i").mkString(" ")  // one exact chunk
    val docs = Seq(
      (trainId, shared),
      (valId, shared),                         // leaks train↔val
      (testId, (1 to 32).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val got = TrainQueries.splitChunkLeakageOver(docs)
      .as[(String, String, Long)].collect().sortBy(r => (r._1, r._2))
    // a 32-token doc yields TWO overlapping chunks under the 32/24
    // stride rule (full window + the 8-token tail) — both leak
    assert(got.toSeq == Seq(
      ("test", "train", 0L), ("test", "val", 0L), ("train", "val", 2L)))
  }

  test("q126 on the fixture: 3 rows, counts bounded by the multi-split fp space") {
    val rows = TrainQueries.splitChunkLeakage(spark, sf)
      .as[(String, String, Long)].collect()
    assert(rows.length == 3, "fixed 3-row pair report")
    assert(rows.forall(_._3 >= 0L))
  }

  // ---- q124 temperature mixture allocation ----

  test("q124 mixture allocation: sums to budget exactly, hand-checked apportionment") {
    // counts 100/25/4 → weights 10/5/2, tot 17; budget 100:
    // base = 1000 div 17, 500 div 17, 200 div 17 = 58, 29, 11 (sum 98)
    // rem  = 1000%17=14, 500%17=7, 200%17=13 → leftover 2 goes to a, c
    val docs = (
      (1 to 100).map(i => (i.toLong, "a")) ++
      (1 to 25).map(i => (1000L + i, "b")) ++
      (1 to 4).map(i => (2000L + i, "c"))).toDF("doc_id", "source")
    val got = TrainQueries.mixtureAllocationOver(docs, budget = 100L)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      ("a", 100L, 10L, 59L), ("b", 25L, 5L, 29L), ("c", 4L, 2L, 12L)))
    assert(got.map(_._4).sum == 100L, "largest-remainder must hit the budget exactly")
  }

  test("q124 on the fixture: exact budget, small sources upweighted vs proportional") {
    val rows = TrainQueries.mixtureAllocation(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._4).sum == 10000L)
    val totDocs = rows.map(_._2).sum.toDouble
    // sqrt-temperature property: the smallest source's allocation share
    // strictly exceeds its document share; the largest's falls below
    val smallest = rows.minBy(_._2); val largest = rows.maxBy(_._2)
    if (smallest._2 < largest._2) {
      assert(smallest._4 / 10000.0 > smallest._2 / totDocs, "small source upweighted")
      assert(largest._4 / 10000.0 < largest._2 / totDocs, "large source downweighted")
    }
  }

  // ---- q122 cross-corpus duplicated-ngram fraction ----

  test("q122 dup-ngram fraction: hand-checked corpus, short docs, within-doc immunity") {
    val docs = Seq(
      (1L, "a b c d e f g h"),            // 1 gram, shared with doc 2
      (2L, "a b c d e f g h x"),          // 2 grams, 1 shared
      (3L, "m1 m2 m3 m4 m5 m6 m7 m8"),    // 1 gram, unique
      (4L, "one two"),                    // <8 tokens → 0 grams
      // within-doc repetition: the 8-gram "p..w" occurs twice INSIDE
      // doc 5 but in no other doc — must NOT count as duplicated
      (5L, "p q r s t u v w p q r s t u v w"),
    ).toDF("doc_id", "text")
    val got = TrainQueries.dupNgramFractionOver(docs)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 1L, 1L, 1.0)))
    assert(got(1) == ((2L, 2L, 1L, 0.5)))
    assert(got(2) == ((3L, 1L, 0L, 0.0)))
    assert(got(3) == ((4L, 0L, 0L, 0.0)))
    // doc 5: 9 sliding grams, 8 distinct after array_distinct, none
    // cross-doc — repetition inside the doc is q71's signal, not this
    assert(got(4) == ((5L, 8L, 0L, 0.0)))
  }

  test("q122 registered query covers every document and stays in [0,1]") {
    val rows = TrainQueries.dupNgramFraction(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.length == nDocs, "one row per document, short docs included")
    rows.foreach { case (id, g, d, f) =>
      assert(d <= g, s"doc $id: n_dup $d > n_grams $g")
      assert(f >= 0.0 && f <= 1.0, s"doc $id: frac $f out of range")
      if (g == 0) assert(d == 0L && f == 0.0, s"short doc $id must report zeros")
    }
  }

  // ---- q164/q166: diversified top-k + k-anonymity -------------------

  test("q164: per-source cap holds and output equals the naive window model") {
    val docs = Tables.documents(spark, sf)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).trim.split("\\s+").distinct.length.toLong))
    val want = docs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      rows.sortBy { case (_, id, q) => (-q, id) }.take(5)
    }.sortBy { case (src, id, q) => (-q, src, id) }.take(50)
    val got = TrainQueries.diversifiedTopk(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"got ${got.take(3)} want ${want.take(3)}")
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length <= 5, s"source $src exceeds the cap: ${rows.length}")
    }
  }

  test("q166: cells conserve the corpus and the keep verdict is the k rule") {
    val rows = TrainQueries.kanonSuppress(spark, sf)
      .as[(String, String, Long, Long, Boolean)].collect()
    assert(rows.map(_._3).sum == Tables.documents(spark, sf).count())
    rows.foreach { case (l, s0, n, _, kept) =>
      assert(kept == (n >= 20L), s"cell ($l,$s0) n=$n kept=$kept")
    }
  }

  // ---- q157: cluster-consistent split -------------------------------

  test("q157: a cluster straddling naive splits lands whole in the rep's split") {
    // find a doc id whose NAIVE split is not train (sampleKey >= 980)
    val ids = (0L until 5000L)
    val naive = ids.toDF("doc_id")
      .select($"doc_id", TrainQueries.splitOf($"doc_id").as("s"))
      .as[(Long, String)].collect().toMap
    val heldOut = ids.find(i => naive(i) != "train").get
    val trainId = ids.find(i => naive(i) == "train").get
    // cluster {trainId, heldOut} with rep = min — every member must
    // take the REP's split, and exactly the disagreeing member moves
    val rep = math.min(trainId, heldOut)
    val labels = Seq((trainId, rep), (heldOut, rep)).toDF("doc_id", "cluster_id")
    val got = TrainQueries.clusterSplitOver(labels)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq((naive(rep), 2L, 1L, 1L)),
      s"cluster must land whole in ${naive(rep)}: $got")
  }

  test("q157 fixture: doc counts conserve and moved docs are a strict minority") {
    val rows = TrainQueries.clusterSplit(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == nDocs, "every document gets exactly one split")
    val moved = rows.map(_._4).sum
    assert(moved < nDocs / 10, s"only cluster-minority members should move: $moved of $nDocs")
  }

  // ---- q154: padding-waste diagnostic ------------------------------

  test("q154: both policies match the naive-window reference model") {
    val lens = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").length.toLong))
    def model(ordered: Seq[Long], name: String): (String, Long, Long, Long) = {
      val batches = ordered.grouped(32).toSeq
      val pad = batches.map(b => b.length * b.max - b.sum).sum
      val tot = ordered.sum
      (name, batches.length.toLong, pad, pad * 1000000L / (pad + tot))
    }
    val want = Seq(
      model(lens.sortBy(_._1).map(_._2).toSeq, "arrival"),
      model(lens.sortBy(x => (x._2, x._1)).map(_._2).toSeq, "length_sorted"))
    val got = TrainQueries.paddingWaste(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got $got want $want")
  }

  test("q154: length-sorted batching never pads more than arrival order") {
    val rows = TrainQueries.paddingWaste(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(rows("length_sorted") <= rows("arrival"),
      s"length bucketing should reduce padding: $rows")
  }

  // ---- q155: data-constrained epoch allocation ----------------------

  test("q155: constructed waterfill — small source caps, big source absorbs the rest") {
    // a: 100 tokens (w=10, cap 200), b: 10000 (w=100, cap 20000);
    // T=10100, B=19190. In ratio order a fills first: fair share
    // 19190*10/110 > 200 => capped at 200; b takes 18990 < cap.
    val src = Seq(("a", 100L), ("b", 10000L)).toDF("source", "n_tokens")
    val got = TrainQueries.epochAllocationOver(src, rep = 2L)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("a", 200L, 2000L), ("b", 18990L, 1899L)), got.toString)
  }

  test("q155: largest-remainder keeps the sum exactly at budget across uncapped ties") {
    // three equal sources, none capped: B = (19*300) div 10 = 570;
    // base = 570*17 div 51 = 190 each, leftover 0 — then a fourth
    // tiny source forces remainders: T=310, B=589, w=(10,10,10,3),
    // caps (200,200,200,20): tiny caps (fair 589*3/33=53>20);
    // Brem=569, W=30 → base 189 rem 17 each, leftover 569-567=2 →
    // first two sources by (rem desc, source) get +1.
    val src = Seq(("s1", 100L), ("s2", 100L), ("s3", 100L), ("tiny", 10L))
      .toDF("source", "n_tokens")
    val got = TrainQueries.epochAllocationOver(src, rep = 2L)
      .collect().map(r => (r.getString(0), r.getLong(3))).toMap
    assert(got("tiny") == 20L, got.toString)
    assert(got("s1") == 190L && got("s2") == 190L && got("s3") == 189L, got.toString)
    assert(got.values.sum == 589L, s"sum must hit budget exactly: $got")
  }

  test("q155 fixture: every source present, alloc <= cap, sum-to-budget exact") {
    val docs = Tables.documents(spark, sf)
    val total = docs.select(explode(split(trim($"text"), "\\s+"))).count()
    val rows = TrainQueries.epochAllocation(spark, sf).collect()
    assert(rows.length == docs.select("source").distinct().count())
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), s"alloc beats cap: $r")
    }
    assert(rows.map(_.getLong(3)).sum == (19L * total) / 10L,
      "allocations must sum exactly to the derived budget")
  }

  // ---- q152: cross-source calibrated selection ---------------------

  test("q152: two-level rank matches the naive single-window reference model") {
    val docs = Tables.documents(spark, sf)
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).trim.split("\\s+").distinct.length.toLong))
    val bySrc = docs.groupBy(_._1)
    val want = bySrc.toSeq.flatMap { case (src, rows) =>
      val n = rows.length.toLong
      rows.sortBy { case (_, id, q) => (q, id) }.zipWithIndex.map {
        case ((_, id, q), i) =>
          val cal = if (n == 1) 1000000L else (i.toLong * 1000000L) / (n - 1)
          (src, id, q, cal)
      }
    }.sortBy { case (src, id, _, cal) => (-cal, src, id) }.take(500)
    val got = TrainQueries.calibratedSelect(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, s"got ${got.take(3)} want ${want.take(3)}")
  }

  test("q152: the calibrated top-k interleaves every source (the fairness property)") {
    val nSources = Tables.documents(spark, sf).select("source").distinct().count()
    val srcs = TrainQueries.calibratedSelect(spark, sf)
      .select("source").distinct().count()
    assert(srcs == nSources,
      s"calibrated top-k covers $srcs of $nSources sources — raw-score starvation leaked through")
  }

  // ---- q167: split representativeness audit ------------------------

  /** Ids 0..4999 grouped by their q94 split — enough mass that the
    * 1%-bands populate (the q94-spec corpus-size rule). */
  private lazy val splitIds: Map[String, Seq[Long]] = {
    val assigned = (0L until 5000L).toDF("doc_id")
      .select($"doc_id", TrainQueries.splitOf($"doc_id").as("s"))
      .as[(Long, String)].collect()
    assigned.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSeq }
  }

  test("q167: identical length profiles across splits give chi2 = 0 cells") {
    val docs = splitIds.values.flatten.toSeq.toDF("doc_id")
      .withColumn("nt", lit(40L)) // one bucket, same everywhere
    val got = TrainQueries.splitBalanceOver(docs)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got.map(_._1).sorted == Seq("test", "val"), got.toString)
    got.foreach { case (sp, b, ca, cb, chi2) =>
      assert(b == 2L && chi2 == 0.0, s"($sp,$b) ca=$ca cb=$cb chi2=$chi2")
    }
  }

  test("q167: a band missing from an eval split appears with ca=0 (the under-representation signal)") {
    // train docs in two bands (nt 10 → bucket 0, nt 200 → bucket 9);
    // val/test docs only in band 0 — the audit must still emit the
    // (eval, band 9) cells with ca = 0 and a positive chi-square
    val train = splitIds("train").map((_, 10L)) ++ splitIds("train").map(id => (id + 1000000L, 200L))
    val evalDocs = (splitIds("val") ++ splitIds("test")).map((_, 10L))
    // the shifted train ids must stay in train for the premise to hold
    val shifted = train.map(_._1).toDF("doc_id")
      .select(TrainQueries.splitOf($"doc_id").as("s")).as[String].collect()
    val keep = train.zip(shifted).collect { case (d, "train") => d }
    val got = TrainQueries.splitBalanceOver((keep ++ evalDocs).toDF("doc_id", "nt"))
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    Seq("val", "test").foreach { sp =>
      val cell = got.find(r => r._1 == sp && r._2 == 9L)
      assert(cell.exists(c => c._3 == 0L && c._4 > 0L && c._5 > 0.0),
        s"missing-band cell for $sp must surface with ca=0: $got")
    }
  }

  test("q167: an empty eval split is excluded whole (q161's one-sided rule)") {
    val docs = splitIds("train").toDF("doc_id").withColumn("nt", lit(40L))
    val got = TrainQueries.splitBalanceOver(docs).collect()
    assert(got.isEmpty, s"train-only corpus must yield no auditable pair: ${got.toSeq}")
  }

  // ---- q172: longest contaminated span ------------------------------

  test("q172: island chaining certifies span length; split islands don't merge") {
    val train20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"x1 x2 ${(5 to 16).map(i => s"w$i").mkString(" ")} y1 y2", "src0"), // 12-token run
      (2L, (1 to 10).map(i => s"q$i").mkString(" "), "src0"),                   // clean
      (3L, "a b c d e", "src0"),                                                // <8 tokens
      (4L, s"${(1 to 8).map(i => s"w$i").mkString(" ")} z ${(13 to 20).map(i => s"w$i").mkString(" ")}", "src0"), // two 8-token islands
      (9L, train20, "src1")
    ).toDF("doc_id", "text", "source")
    val got = TrainQueries.contaminationSpanOver(docs)
      .as[(Long, Long, Long)].collect().toSeq
    // doc 1: hit grams start where the full 8-gram sits inside w5..w16
    //   (5 consecutive positions) → one island of 5 → span 5+7 = 12
    // doc 4: two single-gram islands (w1..w8, w13..w20), separated → span 8
    assert(got == Seq(
      (1L, 5L, 12L),
      (2L, 0L, 0L),
      (3L, 0L, 0L),
      (4L, 2L, 8L)), got.toString)
  }

  test("q172 fixture: agrees with q79 on WHO is contaminated; spans are length-bounded") {
    val spans = TrainQueries.contaminationSpan(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val q79 = TrainQueries.contamination(spark, sf)
      .select($"doc_id", $"is_contaminated").as[(Long, Boolean)].collect().toMap
    val nToks = Tables.documents(spark, sf).filter($"source" === "src0")
      .select($"doc_id", TextQueries.tokenCount($"text")).as[(Long, Long)]
      .collect().toMap
    assert(spans.map(_._1).toSet == q79.keySet, "same held-out universe as q79")
    spans.foreach { case (id, nHit, span) =>
      assert((nHit > 0L) == q79(id), s"doc $id: hit-flag disagrees with q79")
      assert((span == 0L) == (nHit == 0L), s"doc $id: span/hits inconsistent")
      if (span > 0L)
        assert(span >= 8L && span <= nToks(id), s"doc $id: span $span out of range")
    }
  }

  test("q167 fixture: cells are bounded by the bucket grid and chi2 matches a recompute") {
    val rows = TrainQueries.splitBalance(spark, sf)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(rows.size <= 20, s"≤ 2 pairs × 10 buckets: ${rows.size}")
    val (na, nb) = (rows.filter(_._1 == "val"), rows.filter(_._1 == "test"))
    Seq(na, nb).filter(_.nonEmpty).foreach { pair =>
      val totA = pair.map(_._3).sum.toDouble
      val totB = pair.map(_._4).sum.toDouble
      pair.foreach { case (sp, b, ca, cb, chi2) =>
        val ea = (ca + cb).toDouble * totA / (totA + totB)
        val eb = (ca + cb).toDouble * totB / (totA + totB)
        val want = BigDecimal((ca - ea) * (ca - ea) / ea + (cb - eb) * (cb - eb) / eb)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(chi2 == want, s"($sp,$b): $chi2 != $want")
      }
    }
  }

  // ---- q182 exact-substring decontamination ----

  test("q182: the len/4 probe window is detected verbatim; clean and short docs stay out") {
    val evalText = ("E" * 0) + (1 to 40).map(i => s"evaltok$i").mkString(" ") // ~400 chars
    val L = evalText.length
    val probe = evalText.substring(math.max(0, L / 4 - 1), math.min(L, L / 4 - 1 + 60))
    val docs = Seq(
      (10L, "src0", evalText),                        // eval doc, >= 80 chars
      (11L, "src0", "short eval"),                    // < 80 chars: no probe emitted
      (20L, "src1", s"prefix junk $probe suffix junk"), // verbatim leak
      (21L, "src1", "completely unrelated training text with no overlap at all"),
      (22L, "src2", probe.drop(5))                    // partial window only: not a hit
    ).toDF("doc_id", "source", "text")
    val got = TrainQueries.decontamPairsOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((10L, 20L)))
  }

  test("q182 on the fixture equals the naive per-pattern contains sweep (completeness)") {
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"text")
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val probes = rows.collect { case (id, "src0", t) if t.length >= 80 =>
      val pos = math.max(1, t.length / 4) // 1-based, matching substr semantics
      (id, t.substring(pos - 1, math.min(t.length, pos - 1 + 60)))
    }
    val want = (for {
      (tid, src, t) <- rows if src != "src0"
      (eid, p) <- probes if t.contains(p)
    } yield (eid, tid)).distinct.sorted.toSeq
    val got = TrainQueries.decontamPairsOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want, "automaton scan must equal the exhaustive contains sweep")
  }

  test("q182: an oversized probe set refuses loudly (maxProbes contract is enforced)") {
    val docs = (1 to 30).map(i =>
      (i.toLong, "src0", s"held-out probe document number $i " + ("x" * 80)))
      .toDF("doc_id", "source", "text")
    spark.conf.set("spark.graft.decontam.maxProbes", "10")
    try {
      val ex = intercept[IllegalArgumentException] {
        TrainQueries.evalProbeAutomaton(docs)
      }
      assert(ex.getMessage.contains("maxProbes"), ex.getMessage)
      // at-or-under the cap still builds: the guard bounds, not breaks
      spark.conf.set("spark.graft.decontam.maxProbes", "30")
      TrainQueries.evalProbeAutomaton(docs)
    } finally spark.conf.unset("spark.graft.decontam.maxProbes")
  }

  // ---- q198 end-to-end decontamination report ----

  test("q198: planted verbatim span verifies at the claimed offsets; clean candidate absent") {
    // eval doc 1 (src0): tokens e1..e10 then the 12-token span s1..s12
    // then f1..f8. Train doc 20 carries s1..s12 verbatim at token
    // offset 5; train doc 21 shares nothing 8-gram-long. The report
    // must contain exactly the (1, rank 1, 20) row with span 12,
    // eval_start 10 / eval_end 21 / train_start 5 and BOTH flags true
    // (collision-caught verified=false rows are exercised on the
    // priced sf0.1 fixture, where the rolling-hash gram feed produces
    // genuine spurious candidates — asserted cross-engine by the
    // driver's oracle, not constructible deterministically here).
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val evalText = (1 to 10).map(i => s"e$i").mkString(" ") + " " + span + " " +
      (1 to 8).map(i => s"f$i").mkString(" ")
    val trainA = (1 to 5).map(i => s"a$i").mkString(" ") + " " + span + " " +
      (1 to 6).map(i => s"b$i").mkString(" ")
    val trainB = (1 to 30).map(i => s"z$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_q198").toString
    try {
      Seq((1L, evalText, "en", "src0"), (20L, trainA, "en", "src1"),
        (21L, trainB, "en", "src1"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length($"text").cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = TrainQueries.decontamReport(spark, dir).collect()
      assert(rows.length == 1, s"expected one report row, got ${rows.toSeq}")
      val r = rows.head
      assert(r.getAs[Long]("eval_id") == 1L && r.getAs[Long]("train_id") == 20L)
      assert(r.getAs[Long]("evidence_rank") == 1L)
      assert(r.getAs[Long]("span_tokens") == 12L)
      assert(r.getAs[Long]("eval_start") == 10L && r.getAs[Long]("eval_end") == 21L)
      assert(r.getAs[Long]("train_start") == 5L)
      assert(r.getAs[Boolean]("verified"), "planted verbatim span must verify")
      assert(r.getAs[Boolean]("offset_exact"), "claimed train offset must hold")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("q198: corpus with no span hits yields an empty report with the full schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_q198e").toString
    try {
      Seq((1L, (1 to 20).map(i => s"e$i").mkString(" "), "en", "src0"),
        (2L, (1 to 20).map(i => s"t$i").mkString(" "), "en", "src1"))
        .toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length($"text").cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val df = TrainQueries.decontamReport(spark, dir)
      assert(df.columns.toSeq == Seq("eval_id", "evidence_rank", "train_id",
        "span_tokens", "eval_start", "eval_end", "train_start", "verified", "offset_exact"))
      assert(df.count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  // ---- q183 OOV rate / q185 truncation loss ----

  test("q183: engine output equals a driver-built reference (vocab tie-break included)") {
    val rows = Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def splitOf(id: Long): String = {
      val h = (id % 1000000007L) * 2654435761L % 1000000007L % 1000L
      if (h < 980) "train" else if (h < 990) "val" else "test"
    }
    def toks(t: String): Seq[String] = t.trim.split("\\s+").toSeq
    val k = 5 // tiny vocab so ties at the boundary actually bind
    val trainCounts = rows.filter(r => splitOf(r._1) == "train")
      .flatMap(r => toks(r._3)).groupBy(identity).map { case (t, o) => (t, o.length) }
    val vocab = trainCounts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k).map(_._1).toSet
    val want = rows.filter(r => splitOf(r._1) != "train")
      .flatMap(r => toks(r._3).map(t => (splitOf(r._1), r._2, t)))
      .groupBy(x => (x._1, x._2))
      .map { case ((sp, lg), occ) =>
        val n = occ.size.toLong
        val oov = occ.count(o => !vocab.contains(o._3)).toLong
        (sp, lg, n, oov, ((20000 * oov + n) / (2 * n)) / 10000.0)
      }.toSeq.sorted
    val got = TrainQueries.oovRate(spark, sf, k).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq.sorted
    assert(got == want)
    assert(got.exists(_._4 > 0), "a 5-token vocab must leave OOV occurrences")
  }

  test("q185: per-doc truncation arithmetic equals a driver-built reference") {
    val rows = Tables.documents(spark, sf)
      .select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1).trim.split("\\s+").length.toLong))
    val grid = Seq(64L, 128L)
    val want = (for { g <- grid; (src, n) <- rows } yield (g, src, n))
      .groupBy(x => (x._1, x._2))
      .map { case ((g, src), xs) =>
        val lost = xs.map(x => math.max(x._3 - g, 0L)).sum
        val tot = xs.map(_._3).sum
        (g, src, xs.size.toLong, xs.count(_._3 > g).toLong, lost,
          math.floor(lost * 1000000.0 / tot).toLong)
      }.toSeq.sorted
    val got = TrainQueries.truncationLoss(spark, sf, grid.map(_.toInt)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq.sorted
    assert(got == want)
    assert(got.exists(_._5 > 0), "the 64-token cap must truncate something")
  }
}
