package graft

import org.apache.spark.sql.functions._
import graft.functions.expressions._
import graft.queries.{DedupQueries, SimilarityQueries}

/** Custom Catalyst expression correctness: cosine (codegen), minhash
  * (jaccard estimation), simhash (hamming locality) + LSH recall. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_similarity matches a hand-computed value (codegen path)") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val got = df.select(cosine_similarity(col("a"), col("b"))).as[Double].head()
    val exp = (4.0 + 10.0 + 18.0) / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("squared_l2: hand value, float/double parity, null and mismatch rules") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 6.0f, 3.0f))).toDF("a", "b")
    val got = df.select(squared_l2(col("a"), col("b"))).as[Double].head()
    assert(got == 9.0 + 16.0 + 0.0)
    val dd = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 6.0, 3.0))).toDF("a", "b")
    assert(dd.select(squared_l2(col("a"), col("b"))).as[Double].head() == got,
      "float-native reads must equal the double path")
    val bad = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(bad.select(squared_l2(col("a"), col("b"))).collect().head.isNullAt(0),
      "length mismatch yields null, not truncation")
    val nul = Seq((Array[java.lang.Double](1.0, null), Array[java.lang.Double](1.0, 2.0)))
      .toDF("a", "b")
    assert(nul.select(squared_l2(col("a"), col("b"))).collect().head.isNullAt(0),
      "null element yields null")
  }

  test("cosine_similarity: identical → 1, orthogonal → 0, zero-norm → null") {
    val df = Seq(
      (Array(1.0, 0.0), Array(1.0, 0.0)),
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0))).toDF("a", "b")
    val got = df.select(cosine_similarity(col("a"), col("b")).as("c"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(math.abs(got(0).get - 1.0) < 1e-12)
    assert(math.abs(got(1).get) < 1e-12)
    assert(got(2).isEmpty)
  }

  test("cosine_similarity: length mismatch and null elements yield null, not truncation") {
    val df = Seq(
      (Seq[Option[Double]](Some(1.0), Some(2.0)), Seq[Option[Double]](Some(1.0))),
      (Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(1.0), Some(2.0))))
      .toDF("a", "b")
    val got = df.select(cosine_similarity(col("a"), col("b")).as("c")).collect()
    assert(got.forall(_.isNullAt(0)), "mismatched/null-element input must be NULL")
  }

  test("custom expressions reject wrong input types at analysis time") {
    val df = Seq("scalar").toDF("t")
    val e = intercept[Exception] {
      df.select(minhash_signature(col("t"))).collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH") ||
      e.getMessage.contains("array<string>"), e.getMessage.take(200))
  }

  test("minhash signature skips shingles containing a NULL token") {
    // ADVICE r02: a sentinel hash for NULL tokens would make any two
    // docs sharing a null-bearing window agree on that shingle and
    // deflate their distance; the contract is SKIP. A doc whose every
    // shingle spans the null contributes nothing (== empty doc), and
    // the valid shingles of a longer doc are unaffected by the null.
    val df = Seq(
      (Seq[String]("a", null, "b"), Seq.empty[String]),
      (Seq[String]("x", "y", "z", null, "q", "r", "s"), Seq[String]("x", "y", "z"))
    ).toDF("withNull", "ref")
    val rows = df.select(
      minhash_signature(col("withNull"), n = 3, k = 32, seed = 7).as("s1"),
      minhash_signature(col("ref"), n = 3, k = 32, seed = 7).as("s2")).collect()
    // row 0: only shingle contains the null → same as empty input
    assert(rows(0).getSeq[Long](0) == rows(0).getSeq[Long](1),
      "all-null-window doc must equal the empty doc")
    // row 1: ("x","y","z") is the single null-free shingle of the long
    // doc's prefix; its hash must match the standalone 3-token doc's
    // single shingle — i.e. appear in the long doc's mins
    val longSig = rows(1).getSeq[Long](0)
    val refSig = rows(1).getSeq[Long](1)
    assert(refSig.zip(longSig).forall { case (r, l) => l <= r },
      "valid shingles must still contribute (mins can only get smaller)")
  }

  test("minhash signature estimates jaccard within tolerance") {
    val a = (1 to 100).map(i => s"tok$i")
    val b = (41 to 140).map(i => s"tok$i") // |∩|=60, |∪|=140 → J≈0.4286
    val df = Seq((a, b)).toDF("a", "b")
    val Array(sigA, sigB) = df.select(
        minhash_signature(col("a"), k = 128, seed = 7),
        minhash_signature(col("b"), k = 128, seed = 7))
      .collect().head match {
        case r => Array(r.getSeq[Long](0), r.getSeq[Long](1))
      }
    val est = sigA.zip(sigB).count { case (x, y) => x == y }.toDouble / sigA.size
    assert(math.abs(est - 60.0 / 140.0) < 0.15, s"estimate $est too far from 0.4286")
  }

  test("simhash: near-identical docs have small hamming distance, disjoint docs large") {
    val docA = (1 to 200).map(i => s"w$i")
    val docB = (1 to 200).map(i => if (i == 5) "CHANGED" else s"w$i") // 1 token differs
    val docC = (1000 to 1200).map(i => s"z$i")
    val df = Seq((docA, docB, docC)).toDF("a", "b", "c")
    val r = df.select(simhash64(col("a")), simhash64(col("b")), simhash64(col("c"))).collect().head
    val (ha, hb, hc) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(java.lang.Long.bitCount(ha ^ hb) <= 6, "near-dup should be close in hamming")
    assert(java.lang.Long.bitCount(ha ^ hc) >= 20, "unrelated should be far in hamming")
  }

  test("minhash LSH dedup flags exact copies with correct keepers") {
    // 50 unique synthetic docs + 50 exact copies under higher ids:
    // every copy must be flagged with keeper = its original.
    val rnd = new scala.util.Random(3)
    val vocab = (0 until 400).map(i => s"w$i")
    val originals = (0L until 50L).map { i =>
      i -> (0 until 60).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val copies = originals.map { case (i, t) => (i + 100L) -> t }
    val df = (originals ++ copies).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = DedupQueries.minhashDedup(spark, dir)
      .select("doc_id", "keeper_id", "is_dup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val byId = out.map(t => t._1 -> t).toMap
    (100L until 150L).foreach { id =>
      val (_, keeper, isDup) = byId(id)
      assert(isDup, s"copy $id not flagged")
      assert(keeper == id - 100L, s"copy $id keeper=$keeper, expected ${id - 100L}")
    }
    // originals all kept (no lower-id duplicate exists)
    (0L until 50L).foreach { id =>
      assert(!byId(id)._3, s"original $id wrongly flagged")
    }
  }

  test("minhash dedup on fixture: one decision row per doc") {
    val docs = Tables.documents(spark, sf).count()
    val out = DedupQueries.minhashDedup(spark, sf)
    assert(out.count() == docs)
    assert(out.filter($"is_dup" && $"keeper_id" >= $"doc_id").count() == 0,
      "keeper must be a lower id")
  }

  test("IVF: learned-centroid NN recalls the true NN for most vectors, deterministically") {
    val out1 = SimilarityQueries.ivfNn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val out2 = SimilarityQueries.ivfNn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out1 == out2, "IVF must be deterministic (seeded sample + fixed iterations)")
    assert(out1.nonEmpty)
    // brute-force true NN over the full corpus for recall
    import org.apache.spark.sql.functions.{col, round => rnd}
    val e = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val a = e.select($"vec_id".as("id_a"), $"embedding".as("emb_a"))
    val b = e.select($"vec_id".as("id_b"), $"embedding".as("emb_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"id_a").orderBy($"cosine".desc, $"id_b")
    val brute = a.join(b, $"id_a" =!= $"id_b")
      .withColumn("cosine", rnd(cosine_similarity($"emb_a", $"emb_b"), 6))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"rn" === 1)
      .select($"id_a", $"id_b", $"cosine").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val hits = out1.count { case (id, (nn, _)) => brute(id)._1 == nn }
    val recall = hits.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall@1 $recall below 0.5 (hits=$hits of ${brute.size})")
    // answers never beat the true NN (exactness of the rerank)
    out1.foreach { case (id, (_, cos)) =>
      assert(cos <= brute(id)._2 + 1e-9, s"vector $id: IVF cosine $cos beats brute ${brute(id)._2}")
    }
  }

  test("ANN LSH returns sane neighbors (bucket-mates, ranked by cosine)") {
    val out = SimilarityQueries.annLsh(spark, sf).collect()
    assert(out.nonEmpty, "ANN should find some bucket-mates")
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cosines = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cosines.sameElements(cosines.sortBy(-(_: Double))), "ranks must follow cosine desc")
    }
  }
  test("IVF k/nprobe confs: theorem suite holds at a second (k, nprobe) setting") {
    // spark.graft.ivf.{k,nprobe} are the knobs an operator actually
    // turns at 100 TB; the q58 theorems (all answered, rerank exact
    // within probed cells, recall floor) must hold wherever the dial
    // lands, not just at the 16/4 default. Second setting probes half
    // of 8 cells — different index geometry on both axes.
    spark.conf.set("spark.graft.ivf.k", "8")
    spark.conf.set("spark.graft.ivf.nprobe", "4")
    try {
      val r = SimilarityQueries.ivfNnValidated(spark, sf).head()
      val names = r.schema.fieldNames.zipWithIndex.toMap
      assert(r.getLong(names("n_points")) > 0)
      Seq("all_answered", "rerank_exact", "recall_ok").foreach { f =>
        assert(r.getBoolean(names(f)), s"$f must hold at (k=8, nprobe=4)")
      }
      // nprobe > k must refuse loudly, not silently probe garbage
      spark.conf.set("spark.graft.ivf.nprobe", "9")
      intercept[IllegalArgumentException] {
        SimilarityQueries.ivfNnValidated(spark, sf).head()
      }
    } finally {
      spark.conf.unset("spark.graft.ivf.k")
      spark.conf.unset("spark.graft.ivf.nprobe")
    }
  }
  test("ivf_probe_cells: fixed-seed fuzz — fused expression equals the declarative composition") {
    // The fused codegen'd expression must reproduce the k-literal-
    // cosine + stable array_sort + slice composition it replaced,
    // bit for bit: random vectors, duplicated centroids (ties), a
    // zero-norm vector and a null-element vector (the composition's
    // all-NULL cosine rows), and np > k (length-lenient slice).
    val rnd = new scala.util.Random(4242)
    val dim = 12
    val cents: Array[Array[Double]] = Array.tabulate(7, dim)((_, _) => rnd.nextGaussian())
    cents(5) = cents(2).clone() // exact duplicate → tie on every row
    val rows: Seq[Seq[Option[Float]]] =
      (0 until 200).map(_ => (0 until dim).map(_ => Some(rnd.nextGaussian().toFloat))) ++
      Seq(Seq.fill(dim)(Some(0.0f)),                             // zero norm
          (0 until dim).map(i => if (i == 3) None else Some(1.0f)), // null element
          // NaN element: every cosine is NaN, and Spark's double order
          // sorts NaN GREATEST — the fused selection must compare via
          // SQL semantics (Double.compare), not Java's `>` where NaN
          // is never greater and the loop would keep index order by
          // accident of a different rule
          (0 until dim).map(i => if (i == 0) Some(Float.NaN) else Some(1.0f)))
    val df = rows.toDF("embedding")
    for (np <- Seq(1, 3, 7, 11)) { // 11 > k=7: length-lenient
      val fused = df.select(ivf_probe_cells(col("embedding"), cents, np).as("p"))
        .collect().map(_.getSeq[Int](0))
      val cosines = cents.map(c => cosine_similarity(col("embedding"), typedlit(c.toSeq)))
      val scored = array(cosines.zipWithIndex.toIndexedSeq.map { case (c, i) =>
        struct(c.as("c"), lit(i + 1).as("i")) }: _*)
      val declarative = df.select(transform(
          slice(array_sort(scored, (l, r) =>
            when(l("c") > r("c"), -1).otherwise(when(l("c") < r("c"), 1).otherwise(0))),
            1, np),
          x => x("i").cast("int")).as("p"))
        .collect().map(_.getSeq[Int](0))
      fused.zip(declarative).zipWithIndex.foreach { case ((f, d), i) =>
        assert(f == d, s"np=$np row $i: fused $f != declarative $d")
      }
    }
    // null input → null
    val nul = Seq(Option.empty[Seq[Float]]).toDF("embedding")
    assert(nul.select(ivf_probe_cells(col("embedding"), cents, 3)).collect().head.isNullAt(0))
  }

  test("pq_codes / pq_adc_table: fixed-seed fuzz — fused equals the declarative composition and the model encoder") {
    // The fused expressions replace the per-subspace literal columns
    // (M·K'·sub element_at terms — the unroll that blew Janino's
    // 64 KB method limit and silently dropped q140/q144/q146–q148's
    // encode stages to interpreted execution). Values must match the
    // composition bit for bit: random vectors, a short vector (out-of-
    // range window → null code / null scores) and a null-element
    // vector, plus the Scala reference encoder (first-min ties).
    val rnd = new scala.util.Random(7272)
    val mSub = 3; val kp = 5; val sub = 4; val dim = mSub * sub
    val cb: Array[Array[Array[Double]]] =
      Array.tabulate(mSub, kp, sub)((_, _, _) => rnd.nextGaussian())
    cb(1)(3) = cb(1)(0).clone() // duplicate centroid → tie in subspace 1
    // A zero codebook entry makes an Inf embedding element produce a
    // MIXED NaN/±Inf score row (Inf·0 = NaN for j=0 only) — the exact
    // shape where Java `<` keeps a NaN bestS forever while array_min
    // (NaN greatest) picks the non-NaN minimum (ADVICE r19, medium).
    cb(0)(0)(0) = 0.0
    val rows: Seq[Seq[Option[Float]]] =
      (0 until 150).map(_ => (0 until dim).map(_ => Some(rnd.nextGaussian().toFloat))) ++
      Seq((0 until dim - sub).map(_ => Some(1.0f)),                 // short: last window invalid
          (0 until dim).map(i => if (i == 5) None else Some(0.5f)), // null element in subspace 1
          // NaN element → subspace 2's scores ALL NaN: both engines
          // must agree (array_min = NaN, first position; fused keeps
          // the first index under SQL total order where NaN == NaN)
          (0 until dim).map(i => if (i == 9) Some(Float.NaN) else Some(0.5f)),
          // Inf element in subspace 0 → scores [NaN, ∓Inf, …]: the
          // fused argmin must displace the NaN via Double.compare
          // (sqlLt), not Java `<` where nothing is ever < NaN
          (0 until dim).map(i => if (i == 0) Some(Float.PositiveInfinity) else Some(0.5f)))
    val df = rows.toDF("embedding")
    def declScore(m: Int, j: Int): org.apache.spark.sql.Column = {
      val c = cb(m)(j)
      // try_element_at, not element_at: ANSI element_at (Spark 4
      // default) THROWS on the short row's out-of-range window; the
      // fused expressions implement the tolerant NULL semantics
      val dot = (0 until sub).map(i =>
        try_element_at(col("embedding"), lit(m * sub + i + 1)).cast("double") * lit(c(i)))
        .reduce(_ + _)
      lit(-2.0) * dot + lit(c.map(x => x * x).sum)
    }
    val declCodes = df.select(array((0 until mSub).map { m =>
      val scores = array((0 until kp).map(j => declScore(m, j)): _*)
      array_position(scores, array_min(scores)).cast("int")
    }: _*).as("c")).collect().map(r => r.getSeq[Any](0))
    val fusedCodes = df.select(pq_codes(col("embedding"), cb).as("c"))
      .collect().map(r => r.getSeq[Any](0))
    fusedCodes.zip(declCodes).zipWithIndex.foreach { case ((f, d), i) =>
      assert(f == d, s"codes row $i: fused $f != declarative $d")
    }
    val declTables = df.select(array((0 until mSub).map(m =>
      array((0 until kp).map(j => declScore(m, j)): _*)): _*).as("t"))
      .collect().map(_.getSeq[Seq[Any]](0))
    val fusedTables = df.select(pq_adc_table(col("embedding"), cb).as("t"))
      .collect().map(_.getSeq[Seq[Any]](0))
    // bit-level compare: Seq[Double] == uses primitive equality where
    // NaN != NaN, so the NaN fuzz rows would fail a value-identical pair
    def bits(x: Any): Any = x match {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case s: scala.collection.Seq[_] => s.map(bits).toList
      case other => other
    }
    fusedTables.map(bits).zip(declTables.map(bits)).zipWithIndex.foreach { case ((f, d), i) =>
      assert(f == d, s"adc table row $i: fused $f != declarative $d")
    }
    // fused codes == the Scala reference encoder on the full-length rows
    rows.filter(r => r.length == dim && r.forall(_.isDefined)).take(50).foreach { r =>
      val v = r.map(_.get).toArray
      val got = Seq(v).toDF("embedding")
        .select(pq_codes(col("embedding"), cb)).collect().head.getSeq[Int](0)
      assert(got == SimilarityQueries.pqEncodeModel(cb, v).toSeq)
    }
    // null input → null
    val nul = Seq(Option.empty[Seq[Float]]).toDF("embedding")
    assert(nul.select(pq_codes(col("embedding"), cb)).collect().head.isNullAt(0))
    assert(nul.select(pq_adc_table(col("embedding"), cb)).collect().head.isNullAt(0))
  }

  test("IVF auto-k: fixed 16/4 at small corpora, ⌈√n⌉/⌈k/8⌉ above threshold; theorems hold") {
    // The default `spark.graft.ivf.k = auto` must (a) resolve to the
    // VALIDATED fixed geometry on every priced fixture — bit-identical
    // oracles — and (b) switch to the √n rule above 10k vectors, the
    // r18 fix for the measured O(n²/k) growth at a pinned k. The q58
    // theorem suite must hold under the auto geometry too.
    assert(SimilarityQueries.ivfK(spark, sf) == 16,
      "priced fixtures sit below the threshold: auto == the validated 16")
    assert(SimilarityQueries.ivfNprobe(spark, 16) == 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_auto").toString
    try {
      // 10,368 vectors (just above the 10k threshold) in 8 tight,
      // well-separated clusters: center = one-hot(label), plus a
      // deterministic per-id jitter small enough that nearest
      // neighbors stay intra-cluster — the structure IVF exploits.
      spark.range(10368).selectExpr(
        "id AS vec_id",
        """transform(sequence(0, 15), i -> CAST(
             (CASE WHEN i = id % 8 THEN 1.0 ELSE 0.0 END)
             + 0.05 * sin((id * (i + 3)) / 97.0) AS FLOAT)) AS embedding""",
        "CAST(id % 8 AS INT) AS label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val k = SimilarityQueries.ivfK(spark, dir)
      assert(k == math.ceil(math.sqrt(10368.0)).toInt, s"auto k above threshold must be ⌈√n⌉, got $k")
      assert(SimilarityQueries.ivfNprobe(spark, k) == math.max(4, math.ceil(k / 8.0).toInt))
      val r = SimilarityQueries.ivfNnValidated(spark, dir).head()
      val names = r.schema.fieldNames.zipWithIndex.toMap
      assert(r.getLong(names("n_points")) == 10368L)
      Seq("all_answered", "rerank_exact", "recall_ok").foreach { f =>
        assert(r.getBoolean(names(f)), s"$f must hold under auto-√n geometry")
      }
      // the single-band LSH bucket follows the same discipline:
      // validated 8 planes at priced corpora, ⌈log₂(n/8)⌉ above the
      // threshold (constant expected bucket size ⇒ linear candidate
      // volume), and the component clustering built on it still runs
      assert(SimilarityQueries.lshBits(spark, sf) == 8,
        "priced fixtures keep the oracle-pinned 8 planes")
      assert(SimilarityQueries.lshBits(spark, dir) ==
        math.ceil(math.log(10368.0 / 8.0) / math.log(2.0)).toInt)
      val sd = DedupQueries.semanticDedup(spark, dir)
      assert(sd.count() == 10368L, "every vector gets a component label")
      assert(sd.filter(col("is_keeper")).count() > 0L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
  test("PCA (q89): planted low-rank corpus -> top components capture it; theorems hold") {
    // 500 vectors in a 2-D subspace of R^16 (+ tiny per-dim ramp so no
    // column is constant): top-8 PCA must explain essentially ALL
    // variance, and the validation booleans must hold
    val df = spark.range(500).selectExpr(
      """transform(sequence(0, 15), i ->
         CAST(CASE WHEN i % 2 = 0 THEN sin(id / 7.0) * (i + 1)
                   ELSE cos(id / 11.0) * (i + 1) END AS FLOAT)) AS embedding""")
    val r = SimilarityQueries.pcaValidatedOver(df).head()
    val names = r.schema.fieldNames.zipWithIndex.toMap
    assert(r.getLong(names("n_vectors")) === 500)
    assert(r.getLong(names("dim")) === 16)
    assert(r.getBoolean(names("components_orthonormal")), "basis must be orthonormal")
    assert(r.getBoolean(names("var_bounded")), "projection cannot create variance")
    assert(r.getBoolean(names("explained_frac_ok")),
      "a rank-2 corpus must clear the explained-variance floor")
  }

  test("PCA-ANN (q91): planted exact copies recall at 1.0; report booleans hold") {
    // 40 seeded random vectors at ids 0,5,...,195 (inside the audit
    // sample) plus exact copies at id+1000: an identical vector has
    // identical principal coordinates, hence identical sign buckets in
    // EVERY band — the index must recover every planted pair with
    // cosine 1.0. This is the regime the boundary-honest 1/3 floor
    // can't exercise on the near-isotropic fixture.
    val rnd = new scala.util.Random(17)
    val originals = (0 until 40).map { i =>
      (i * 5L, Array.fill(16)(rnd.nextGaussian().toFloat))
    }
    val copies = originals.map { case (id, v) => (id + 1000L, v) }
    val df = (originals ++ copies).toDF("vec_id", "embedding")
    val (pairs, samplePairs) = SimilarityQueries.pcaAnnInternals(df)
    val found = pairs.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    originals.foreach { case (id, _) =>
      assert(found.get((id, id + 1000L)).contains(1.0),
        s"planted copy pair ($id, ${id + 1000L}) must be recalled at cosine 1.0; " +
          s"found ${found.size} pairs")
    }
    // every planted pair is inside the audit sample (both ids %5=0,
    // <2500), so the report's recall boolean must hold non-vacuously
    assert(samplePairs.count() >= 40, "planted pairs must be in the ground truth")
    val rep = SimilarityQueries.pcaAnnPairsOver(df).head()
    val names = rep.schema.fieldNames.zipWithIndex.toMap
    assert(rep.getLong(names("n_vectors")) === 80)
    Seq("all_ordered", "no_dup_pairs", "cosine_in_range", "recall_ok").foreach { f =>
      assert(rep.getBoolean(names(f)), s"$f must hold on the planted corpus")
    }
  }

  test("PCA-ANN band geometry: prefix-stable sequence, defaults pinned") {
    import SimilarityQueries.bandCoordSets
    // the q91 geometry (PcaAnnBands x PcaAnnBits) is pinned
    assert((SimilarityQueries.PcaAnnBands, SimilarityQueries.PcaAnnBits) == ((4, 4)))
    assert(bandCoordSets(8, 4, 4) ==
      Seq(Seq(0, 1, 2, 3), Seq(4, 5, 6, 7), Seq(0, 2, 4, 6), Seq(1, 3, 5, 7)))
    // prefix stability is the monotonicity theorem's whole substance:
    // band i never depends on how many bands were requested
    for (bits <- 1 to 8; b <- 1 until 12)
      assert(bandCoordSets(8, b, bits) == bandCoordSets(8, b + 1, bits).take(b),
        s"band sequence must be prefix-stable at bits=$bits, bands=$b")
    // every band holds `bits` in-range coordinates
    bandCoordSets(8, 12, 3).foreach { band =>
      assert(band.size == 3 && band.forall(c => c >= 0 && c < 8), s"bad band: $band")
    }
  }

  test("PCA-ANN (q91): recall non-decreasing in bands at fixed bits (conf fuzz)") {
    // the geometry is passed as arguments to pcaAnnInternals. A
    // seeded near-dup corpus (noisy copies, not exact ones, so bands
    // genuinely disagree) is indexed at growing band counts; the
    // candidate-pair set — and hence recall — must only grow. Only
    // the bands axis carries a theorem; bits is exercised at two
    // settings.
    val rnd = new scala.util.Random(23)
    val base = (0 until 60).map(i => (i * 5L, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val noisy = base.map { case (id, v) =>
      (id + 1000L, v.map(x => x + 0.35f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ noisy).toDF("vec_id", "embedding")
    for (bits <- Seq(2, 4)) {
      var prev = Set.empty[(Long, Long)]
      for (bands <- Seq(1, 2, 4, 8)) {
        val (pairs, _) = SimilarityQueries.pcaAnnInternals(df, bands, bits)
        val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(prev.subsetOf(got),
          s"bits=$bits: candidates must not shrink going to bands=$bands " +
            s"(lost ${(prev -- got).take(3)})")
        prev = got
      }
    }
  }

  test("sentiment/langid expressions codegen for real (no silent interpreted fallback)") {
    import graft.functions.{AnalyzeSentiment, LangIdDetect, TextBlobScore, VaderScore, LangId, TextBlobOps, Vader}
    // fallback=false makes a Janino compile failure THROW instead of
    // quietly degrading to interpreted mode — this test is the proof
    // that the round-15 doGenCode promotion actually generates valid
    // Java, not just that results match.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val texts = Seq("I love this, it is great!!!", "terrible awful no good",
        "", "the quick brown fox jumps over the lazy dog and it is fine")
      // repartition keeps ConvertToLocalRelation from evaluating the
      // projection at optimize time — the expressions must run inside
      // a real WholeStageCodegen span to prove the generated Java.
      val df = texts.toDF("text").repartition(2).select(
        $"text",
        VaderScore.vader_score($"text").as("v"),
        TextBlobScore.textblob_score($"text").as("t"),
        AnalyzeSentiment.analyze_sentiment($"text").as("a"),
        LangIdDetect.lang_id($"text").as("l"))
      val collected = df.collect() // executes: Janino failure would throw here under fallback=false
      val plan = df.queryExecution.executedPlan.toString // AQE-final after execution
      // the `*(n)` prefix is the WholeStageCodegen marker in plan strings
      assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
        s"expected codegen span in:\n$plan")
      collected.foreach { r =>
        val text = r.getString(0)
        val vs = Vader.score(text); val ts = TextBlobOps.score(text); val li = LangId.detect(text)
        val v = r.getStruct(1); val t = r.getStruct(2); val a = r.getStruct(3); val l = r.getStruct(4)
        assert(v.getDouble(0) == vs.compound && v.getDouble(1) == vs.positive &&
          v.getDouble(2) == vs.negative && v.getDouble(3) == vs.neutral)
        assert(t.getDouble(0) == ts.polarity && t.getDouble(1) == ts.subjectivity)
        assert(a.getDouble(0) == vs.compound && a.getDouble(4) == ts.polarity &&
          a.getDouble(5) == ts.subjectivity)
        assert(l.getString(0) == li.lang && l.getDouble(1) == li.confidence)
      }
      // null input → neutral defaults through the generated path too
      val nullRow = Seq(Option.empty[String]).toDF("text")
        .select(AnalyzeSentiment.analyze_sentiment($"text").as("a")).collect().head.getStruct(0)
      assert(nullRow.getDouble(0) == 0.0 && nullRow.getDouble(3) == 1.0)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("normalize_text: DuckDB-verified canonical forms (accents, case, whitespace)") {
    // expected values are PINNED from DuckDB's
    // trim(regexp_replace(lower(strip_accents(nfc_normalize(x))), '\s+', ' ', 'g'))
    // — the exact oracle rendering q123 uses — so this test IS the
    // cross-engine agreement proof for the Latin accent classes the
    // expression claims.
    val cases = Seq(
      "Hello  World " -> "hello world",
      "caf\u00e9" -> "cafe",               // composed e-acute
      "cafe\u0301" -> "cafe",              // decomposed e + combining acute
      "R\u00c9SUM\u00c9" -> "resume",
      "stra\u00dfe" -> "stra\u00dfe",       // sharp-s is a letter, not a mark
      "\u0130stanbul" -> "istanbul",       // dotted capital I decomposes
      "na\u00efve  TEST" -> "naive test",
      "\u00d1o\u00f1o" -> "nono",
      "\u00c5" -> "a",                     // A-ring composed
      "\u212b" -> "a",                     // angstrom sign, NFD-equivalent
      "  " -> "",
      "" -> "",
      "tab\there\nnewline" -> "tab here newline")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val got = cases.map(_._1).toDF("text").repartition(2)
        .select($"text", normalize_text($"text").as("c"))
        .as[(String, String)].collect().toMap
      cases.foreach { case (in, want) =>
        assert(got(in) == want, s"normalize_text(${in.map(_.toInt)}) = " +
          s"${got(in)} want $want")
      }
      val nul = Seq(Option.empty[String]).toDF("text")
        .select(normalize_text($"text")).collect().head
      assert(nul.isNullAt(0), "null in, null out")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("q123 normalized dedup groups encoding/case/spacing variants, exact dedup doesn't") {
    val docs = Seq(
      (1L, "Café  Crema"),
      (2L, "café crema"),       // decomposed + lowercase + single space
      (3L, "CAFE CREMA"),             // accent-free variant — same after strip
      (4L, "espresso bar"),
      (5L, "Espresso\tBar"),
      (6L, "unique text here")).toDF("doc_id", "text")
    val got = DedupQueries.normalizedDedupOver(docs)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1)
      .map(r => (r._1, r._3, r._4, r._5))
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, true), (2L, 3L, 1L, false), (3L, 3L, 1L, false),
      (4L, 2L, 4L, true), (5L, 2L, 4L, false),
      (6L, 1L, 6L, true)))
  }

  test("q156 hard negatives: argmax output equals the naive window form, labels differ") {
    import org.apache.spark.sql.functions.{round => rnd}
    val got = SimilarityQueries.hardNegatives(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    got.values.foreach { case (la, _, lb, cos) =>
      assert(la != lb, "a hard negative must carry a different label")
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
    }
    // reference: the same bucket-candidate set ranked by the naive
    // row_number window (the form the argmax rewrite replaces)
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id", $"label", $"embedding",
        hyperplane_bucket($"embedding", 8, 0).as("bucket"))
    val a = e.select($"vec_id".as("id_a"), $"label".as("label_a"), $"bucket",
      $"embedding".as("emb_a"))
    val b = e.select($"vec_id".as("id_b"), $"label".as("label_b"), $"bucket",
      $"embedding".as("emb_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"id_a").orderBy($"cosine".desc, $"id_b")
    val want = a.join(b, Seq("bucket"))
      .filter($"label_a" =!= $"label_b")
      .withColumn("cosine", rnd(cosine_similarity($"emb_a", $"emb_b"), 6))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"id_a", $"label_a", $"id_b", $"label_b", $"cosine").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4))).toMap
    assert(got == want, "argmax rewrite must equal the window form exactly")
  }

  test("aho-corasick: dictionary-suffix outputs fire (ushers hits she/he/hers)") {
    val ac = graft.functions.AhoCorasick.build(
      Seq((1L, "he"), (2L, "she"), (3L, "his"), (4L, "hers")))
    def ids(t: String): Seq[Long] =
      ac.matchIds(org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .toLongArray().toSeq
    assert(ids("ushers") == Seq(1L, 2L, 4L),
      "she at 1, he via suffix output, hers at 2 - the fail-chain merge")
    assert(ids("this") == Seq(3L))
    assert(ids("xyz") == Seq.empty)
  }

  test("aho-corasick: repeated occurrences and shared ids dedup; empty set matches nothing") {
    val ac = graft.functions.AhoCorasick.build(Seq((7L, "ab"), (7L, "cd"), (9L, "abc")))
    def ids(t: String): Seq[Long] =
      ac.matchIds(org.apache.spark.unsafe.types.UTF8String.fromString(t))
        .toLongArray().toSeq
    assert(ids("ab ab cd abc") == Seq(7L, 9L), "two windows of id 7 + two ab hits -> one 7")
    val empty = graft.functions.AhoCorasick.build(Seq.empty)
    assert(empty.matchIds(org.apache.spark.unsafe.types.UTF8String.fromString("anything"))
      .numElements() == 0)
  }

  test("aho-corasick: column path (codegen) equals a naive contains sweep; null in, null out") {
    val pats = Seq((1L, "quick"), (2L, "ick br"), (3L, "lazy dog"), (4L, "zzz"),
      (5L, "the"), (6L, "he quick brown f"))
    val ac = graft.functions.AhoCorasick.build(pats)
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs", "", "lazy dogged thequick")
    val df = (texts.map(Option(_)) :+ None).toDF("t")
    val got = df.select(graft.functions.AhoCorasick.ac_match_ids(col("t"), ac)).collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = pats.collect { case (id, p) if t.contains(p) => id }.distinct.sorted
      assert(got(i).getSeq[Long](0) == want, s"text $i")
    }
    assert(got.last.isNullAt(0), "null text propagates null")
  }

  test("gram_fps: fixed-seed fuzz — algebraic composition equals hash-of-joined-string on random token arrays") {
    // JVM-level identity over 500 random arrays (the SentimentSpec
    // fixed-seed fuzz pattern): the 31-power composition must equal
    // hashing the space-joined gram outright, for any codepoints
    // including astral-plane (surrogate-pair) characters
    val rnd = new scala.util.Random(4217)
    val pool = "ab z09!?.é中😀ß" // includes an astral emoji
    def tok(): String = (0 until rnd.nextInt(6)).map(_ =>
      pool(rnd.nextInt(pool.length))).mkString
    for (_ <- 1 to 500) {
      val m = rnd.nextInt(14)
      val toks = (0 until m).map(_ => tok())
      val n = 1 + rnd.nextInt(9)
      val got = graft.functions.GramFps.evalDistinct(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          toks.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray),
        n).toLongArray().toSeq
      val want =
        if (m < n) Seq.empty[Long]
        else (0 to m - n).map(i =>
          graft.functions.CodepointRollingHash.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              toks.slice(i, i + n).mkString(" ")))).distinct
      assert(got == want, s"m=$m n=$n toks=$toks")
    }
  }

  test("gram_fps: bit-identical to the declarative slice/concat_ws/hash composition") {
    // the fused expression replaces this exact composition in the hot
    // dup-gram loop (q79/q122/q127/q129/q143) — identity must hold on
    // every shape: repeats (distinct + first-occurrence order),
    // multi-codepoint text, single-token, shorter-than-n, empty
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog and then the quick brown fox returns",
      "a b a b a b a b a b a b",          // heavy gram repetition
      "héllo wörld ünïcode çhars über ålpha ómega ßharp",
      "日本 語の トーク ンが 八つ 以上 並ぶ 文で す",  // multi-codepoint tokens
      "one two three four five six seven eight",       // exactly n tokens
      "short doc", "single", "", "   ",
      (1 to 200).map(i => s"w${i % 13}").mkString(" ")) // long + collisions
    val df = texts.toDF("text")
    for (n <- Seq(3, 8)) {
      val toks = split(trim(col("text")), "\\s+")
      val want = df.select(
        when(size(toks) >= n,
          array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)),
            i => graft.functions.expressions.codepoint_rolling_hash(
              concat_ws(" ", slice(toks, i, lit(n)))))))
          .otherwise(array().cast("array<long>")).as("fp")).collect()
      val got = df.select(
        graft.functions.expressions.gram_fps(toks, n).as("fp")).collect()
      texts.indices.foreach { i =>
        assert(got(i).getSeq[Long](0) == want(i).getSeq[Long](0),
          s"n=$n text $i: fused != composition")
      }
    }
  }

  test("char_bag / int_array_l1: bit-identical to the 37-column translate composition (r20 q131/q145 fusion)") {
    // the fused pair replaces the 37 `length − length(translate(·))`
    // bag columns and their abs-diff sum in both edit-distance
    // operators — identity must hold on every shape the old columns
    // saw, including non-ASCII text (the UTF-8 byte argument in the
    // CharBagCounts doc: ASCII byte values never occur inside
    // multi-byte sequences)
    val texts = Seq(
      "the quick brown fox 123 jumps over 456 lazy dogs",
      "aaaa bbbb 0000 9999    ", "", "   ", "ALL CAPS NO MATCH",
      "héllo wörld ünïcode 42", "日本語テキスト 7", "a0z9 ")
    val alphabet = ('a' to 'z') ++ ('0' to '9') :+ ' '
    val df = texts.toDF("text")
    val want = df.select(array(alphabet.map(ch =>
      (length($"text") - length(translate($"text", ch.toString, "")))
        .cast("int")): _*).as("bag")).collect()
    val got = df.select(char_bag($"text").as("bag")).collect()
    texts.indices.foreach { i =>
      assert(got(i).getSeq[Int](0) == want(i).getSeq[Int](0),
        s"text $i: fused char_bag != translate composition")
    }
    // L1 over every text pair equals the 37-term abs-diff column sum
    val pairs = df.select($"text".as("ta"))
      .crossJoin(df.select($"text".as("tb")))
    val wantL1 = pairs.select(alphabet.map(ch =>
      abs((length($"ta") - length(translate($"ta", ch.toString, ""))).cast("int")
        - (length($"tb") - length(translate($"tb", ch.toString, ""))).cast("int")))
      .reduce(_ + _).cast("long").as("l1")).collect()
    val gotL1 = pairs.select(
      int_array_l1(char_bag($"ta"), char_bag($"tb")).as("l1")).collect()
    wantL1.indices.foreach { i =>
      assert(gotL1(i).getLong(0) == wantL1(i).getLong(0),
        s"pair $i: fused L1 != column composition")
    }
  }

  test("simhash_char4: bit-identical to the transform/substring composition (r21 q145 fusion)") {
    // the fused expression replaces q145's interpreted
    // `simhash64(transform(sequence(1, greatest(length(text)-3, 0)),
    // i -> substring(text, i, 4)))` — identity must hold on every
    // shape, including the <4-char descending-sequence edge (two
    // whole-string grams), the empty string, multibyte code points,
    // and null
    val rnd = new scala.util.Random(20260819)
    val alphabet = "abcdefghij 0123456789_éü日本"
    val fuzz = (1 to 200).map { _ =>
      val n = rnd.nextInt(40)
      (1 to n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val texts = Seq("", "a", "ab", "abc", "abcd", "abcde", "日本語", "日本語テ",
      "the quick brown fox jumps over the lazy dog") ++ fuzz
    val df = texts.toDF("text")
    val comp = expr(
      "transform(sequence(1, greatest(length(text) - 3, 0)), i -> substring(text, i, 4))")
    val want = df.select(simhash64(comp).as("fp")).collect()
    val got = df.select(
      graft.functions.expressions.simhash_char4($"text").as("fp")).collect()
    texts.indices.foreach { i =>
      assert(got(i).getLong(0) == want(i).getLong(0),
        s"text $i '${texts(i)}': fused simhash_char4 != composition")
    }
    // null propagates like the composition (both all-null)
    val nulls = Seq[Option[String]](None).toDF("text")
    assert(nulls.select(
      graft.functions.expressions.simhash_char4($"text")).collect().head.isNullAt(0))
    // the range hash underneath equals bytesHash over the materialized slice
    import org.apache.spark.unsafe.types.UTF8String
    import scala.util.hashing.MurmurHash3
    (1 to 500).foreach { _ =>
      val s = (1 to rnd.nextInt(30)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
      val u = UTF8String.fromString(s)
      val bytes = u.getBytes
      val off = if (bytes.length == 0) 0 else rnd.nextInt(bytes.length)
      val len = rnd.nextInt(bytes.length - off + 1)
      val seed = rnd.nextInt()
      assert(graft.functions.MinHashUtil.rangeHash(u, off, len, seed) ==
        MurmurHash3.bytesHash(bytes.slice(off, off + len), seed),
        s"rangeHash mismatch on '$s' off=$off len=$len")
    }
  }

  test("per-pair levenshtein band (r20): banded-at-pair-threshold equals banded-at-corpus-max after the qualify filter") {
    // the q131/q145 DP now bands at greatest(1, least(len)/10) instead
    // of the corpus maxDist — identical survivors and distances because
    // any pair the tighter band rejects (-1) fails dist·10 ≤ least(len)
    // under the wider band too
    val docs = Seq(
      ("aaaaaaaaaaaaaaaaaaaaaaaa", "aaaaaaaaaaaaaaaaaaaaaaab"), // 1 edit / 24
      ("abcdefghij", "abcdefghij"),                              // equal, short
      ("abcdefghij", "abcdefghix"),                              // 1 edit / 10
      ("short", "shorx"),                                        // 1 edit / 5 (fails rule)
      ("completely different text here", "nothing alike whatsoever okay"),
      ("x" * 200 + "abc", "x" * 200 + "abd"))
      .toDF("text_a", "text_b")
      .withColumn("len_a", length($"text_a").cast("long"))
      .withColumn("len_b", length($"text_b").cast("long"))
    val maxDist = 20 // stands in for the corpus-wide bound
    val wide = docs.withColumn("dist",
        levenshtein($"text_a", $"text_b", maxDist).cast("long"))
      .filter($"dist" >= 0 && $"dist" * 10 <= least($"len_a", $"len_b"))
      .select($"text_a", $"dist").collect().toSet
    val tight = docs.withColumn("dist", expr(
        "levenshtein(text_a, text_b, " +
          "cast(greatest(1L, least(len_a, len_b) div 10) as int))").cast("long"))
      .filter($"dist" >= 0 && $"dist" * 10 <= least($"len_a", $"len_b"))
      .select($"text_a", $"dist").collect().toSet
    assert(tight == wide, "per-pair band changed the qualified pair set")
    assert(wide.nonEmpty, "vacuous: no pair qualified under either band")
  }

  test("pca_project: bit-identical to the aggregate/zip_with composition (r20 PCA fusion)") {
    // the fused expression replaces this exact composition in
    // q89/q91/q93 — identity must hold on every shape the old columns
    // saw: normal rows, short/long arrays (the asymmetric zip_with vs
    // transform padding), and the empty-matrix norm-only form
    val rnd = new scala.util.Random(42)
    val dim = 16; val k = 4
    val mean = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val comps = Array.fill(k)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    // longer-than-dim rows are NOT in the identity set: under ANSI
    // (Spark 4 default) the composition's element_at(mean, i+1)
    // THROWS there, while the fused expression yields all-null slots
    // — strictly more defined, never a changed value where the
    // composition is defined (asserted separately below)
    val rows: Seq[Seq[Float]] =
      Seq.fill(50)(Seq.fill(dim)(rnd.nextFloat() * 4 - 2)) ++
        Seq(Seq.fill(dim - 3)(1.5f))        // shorter than dim
    val df = rows.toDF("embedding")
    val centered = transform($"embedding",
      (x, i) => x.cast("double") - element_at(typedlit(mean.toSeq), i + 1))
    val wantCols = comps.toSeq.map { w =>
      aggregate(zip_with(centered, typedlit(w.toSeq), (x, c) => x * c),
        lit(0.0), (acc, x) => acc + x)
    }
    val wantNorm = aggregate(centered, lit(0.0), (acc, x) => acc + x * x)
    val want = df.select(array(wantNorm +: wantCols: _*).as("zz")).collect()
    val got = df.select(graft.functions.expressions.pca_project(
      $"embedding", mean, comps, withNormSq = true).as("zz")).collect()
    rows.indices.foreach { i =>
      val w = want(i).getSeq[java.lang.Double](0)
      val g = got(i).getSeq[java.lang.Double](0)
      assert(g == w, s"row $i: fused $g != composition $w")
    }
    // longer-than-dim: fused yields all-null slots (the composition
    // throws under ANSI — see comment above)
    val long = Seq(Seq.fill(dim + 2)(0.25f)).toDF("embedding")
      .select(graft.functions.expressions.pca_project(
        $"embedding", mean, comps, withNormSq = true).as("zz")).head()
    assert(long.getSeq[java.lang.Double](0).forall(_ == null))
  }

  test("gram_fps: null tokens follow concat_ws skip semantics (constructed nullable arrays)") {
    // split() never yields null elements, but the contract is
    // bit-identity with the declarative composition on EVERY
    // array<string> input (ADVICE r17): concat_ws SKIPS a null token
    // and its separator, so the fused expression must too — including
    // windows that are entirely null (concat_ws → "" → hash 0)
    val rows: Seq[Seq[String]] = Seq(
      Seq("a", null, "b", "c"),
      Seq(null, null, null),
      Seq(null, "x"),
      Seq("x", null),
      Seq("hello", "wörld", null, "😀", null, "z"),
      Seq("a", "", null, "a"), // empty token ≠ null token
      Seq())
    val df = rows.toDF("toks")
    assert(df.schema("toks").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true))
    for (n <- Seq(1, 2, 3)) {
      val want = df.select(
        when(size(col("toks")) >= n,
          array_distinct(transform(sequence(lit(1), size(col("toks")) - (n - 1)),
            i => graft.functions.expressions.codepoint_rolling_hash(
              concat_ws(" ", slice(col("toks"), i, lit(n)))))))
          .otherwise(array().cast("array<long>")).as("fp")).collect()
      val got = df.select(
        graft.functions.expressions.gram_fps(col("toks"), n).as("fp")).collect()
      rows.indices.foreach { i =>
        assert(got(i).getSeq[Long](0) == want(i).getSeq[Long](0),
          s"n=$n row $i (${rows(i)}): fused != composition on null tokens")
      }
    }
  }
}
