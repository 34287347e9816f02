package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** sf1 fixture generator: the
  * driver ships sf{0.001,0.01,0.1} only, so the "plans survive another
  * decade of data" claim stopped at sf0.1. This tool derives a
  * BENCH-ONLY sf1-equivalent (10× sf0.1) into a repo-local directory
  * (gitignored — it is derived data, regenerable in ~1 min), matching
  * the driver generator's OBSERVED distributions so the heavy-tier
  * scaling bench measures the same statistical regime:
  *
  *  - `documents` (50k): fresh i.i.d. docs with a REALISTIC text
  *    distribution (the shipped fixture's 30-word vocabulary
  *    degenerates every df-based cost model: df ≈ n for all terms, so
  *    q191-class scaling attributions cannot be verified against it):
  *      - ZIPFIAN vocabulary, 30,000 types: the fixture's own ~30
  *        corpus-scale tokens as the head ranks, 19,970 synthetic
  *        shared types behind them under Zipf(s = 1.07) — the
  *        canonical natural-text exponent — plus 20 × 500
  *        source-exclusive types (per-source vocabulary skew: 15% of
  *        each doc's tokens draw from its source's private tier,
  *        itself Zipf-distributed), so df varies over four orders of
  *        magnitude and per-source term distributions differ the way
  *        real multi-site corpora do;
  *      - VARIED doc lengths: lognormal (mu = ln 48, sigma = 0.5)
  *        clipped to [8, 120] tokens — mean ~54 matches the driver
  *        fixture (54.1), with the heavy right tail uniform lengths
  *        lack; the clip keeps the char-length regime of the
  *        oracle-tier q131 census comparable across fixtures;
  *      - lang weights from the fixture (en .41 / zh .15 / es .15 /
  *        fr .15 / de .14), source uniform src0..src19, and the
  *        fixture's near-dup construction: 5% of docs are a COPY of
  *        another doc's base text with " dup" appended. Base text is
  *        a pure function of doc_id, so copies need no join.
  *  - `embeddings` (20k): unit-normalized 64-dim vectors sampled from
  *    per-label Gaussians FIT TO the input (per-label per-dim mean +
  *    per-label residual std) — preserves the weak 10-cluster
  *    structure IVF/PQ/k-center training sees.
  *  - `events` (1M): same 30-day Jan-2024 window (the window does not
  *    grow with SF in the driver's fixtures — density does), users
  *    scale 10× (15k), type uniform over the 5 observed, value ~
  *    Exp(mean 50) rounded to 2 decimals, props `{"k": 0..99}`.
  *  - relational tables: replicate ×10 with key-space offsets
  *    (TPC-H's own scaling law — time range fixed, rows-per-key-space
  *    grow); `c_name`/`s_name` are regenerated from the new key with
  *    the fixture's own `Customer#%09d` format, so name cardinality
  *    scales with key cardinality. region/nation stay fixed (as in
  *    TPC-H at every SF).
  *
  * Determinism: every value is a pure function of (SEED, row id) via
  * splitmix-style mixing — re-running reproduces the fixture bit-for-
  * bit, so timings are comparable across runs. The output passes
  * `Tables.sentinel` (asserted before exit).
  *
  * Usage: runMain graft.MakeScale [inDir] [outDir] [factor]
  *        runMain graft.MakeScale --vectors [inDir] [outDir] [nVec]
  *
  * The `--vectors` recipe writes ONLY an
  * `embeddings.parquet` of nVec vectors — the ≥262k-vector tier that
  * pushes auto IVF k = ceil(sqrt(n)) past the 512-cell trainer
  * handoff, so the distributed-MLlib-KMeans path can be benched where
  * it is the DEFAULT, not a forced conf. */
object MakeScale extends Serializable {
  private final val Seed = 0x5F18C0DE42L

  /** splitmix64 finalizer — cheap, well-mixed per-row seed. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def rng(id: Long, stream: Long): java.util.Random =
    new java.util.Random(mix(Seed ^ mix(id) ^ (stream * 0xC2B2AE3D27D4EB4FL)))

  /** nVec unit-normalized vectors sampled from per-label Gaussians FIT
    * TO the input corpus (per-label per-dim mean + residual std) —
    * preserves the weak 10-cluster structure IVF/PQ/k-center training
    * sees. Shared by the full-fixture path and the `--vectors` recipe. */
  private def embeddingsDf(spark: SparkSession, in: String, nVec: Long): DataFrame = {
    import spark.implicits._
    val stats = spark.read.parquet(s"$in/embeddings.parquet")
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(avg($"x").as("mu"), stddev_pop($"x").as("sd"))
      .collect()
    val dim = stats.map(_.getInt(1)).max + 1
    val nLabels = stats.map(_.getInt(0)).max + 1
    val mu = Array.ofDim[Double](nLabels, dim)
    val sd = Array.ofDim[Double](nLabels, dim)
    stats.foreach { row =>
      mu(row.getInt(0))(row.getInt(1)) = row.getDouble(2)
      sd(row.getInt(0))(row.getInt(1)) = row.getDouble(3)
    }
    val muB = spark.sparkContext.broadcast(mu)
    val sdB = spark.sparkContext.broadcast(sd)
    spark.range(nVec).mapPartitions { it =>
      val m = muB.value; val s = sdB.value
      val d = m(0).length
      it.map { id =>
        val r = rng(id, 4)
        val label = r.nextInt(m.length)
        val v = new Array[Double](d)
        var nrm = 0.0
        var i = 0
        while (i < d) {
          v(i) = m(label)(i) + r.nextGaussian() * s(label)(i)
          nrm += v(i) * v(i)
          i += 1
        }
        nrm = math.sqrt(nrm)
        val f = new Array[Float](d)
        i = 0
        while (i < d) { f(i) = (v(i) / nrm).toFloat; i += 1 }
        (id, f, label)
      }
    }.toDF("vec_id", "embedding", "label")
      // the driver's fixtures declare nullable array elements; match
      // the sentinel's canonical schema exactly
      .withColumn("embedding",
        $"embedding".cast(ArrayType(FloatType, containsNull = true)))
  }

  def main(args: Array[String]): Unit = {
    val vectorsOnly = args.headOption.contains("--vectors")
    val rest = if (vectorsOnly) args.drop(1) else args
    val in = if (rest.length > 0) rest(0) else "/root/testdata/sf0.1"
    val out = if (rest.length > 1) rest(1) else (if (vectorsOnly) "data/sfvec" else "data/sf1")
    val factor = if (rest.length > 2) rest(2).toInt else 10

    val spark = Session.local(shufflePartitions = Some(32))
    import spark.implicits._

    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[makescale] wrote $t")
    }

    if (vectorsOnly) {
      // --vectors nVec: rest(2) is an absolute vector count, not a factor
      val nVec = if (rest.length > 2) rest(2).toLong else 300000L
      write(embeddingsDf(spark, in, nVec), "embeddings")
      val n = spark.read.parquet(s"$out/embeddings.parquet").count()
      println(s"[makescale] counts: embeddings=$n")
      require(n == nVec, s"wrote $n vectors, wanted $nVec")
      spark.stop()
      return
    }

    // ---- fixed dimensions: verbatim ---------------------------------
    write(spark.read.parquet(s"$in/region.parquet"), "region")
    write(spark.read.parquet(s"$in/nation.parquet"), "nation")

    // ---- relational: replicate with key-space offsets ---------------
    val nCust = spark.read.parquet(s"$in/customer.parquet").count()
    val nSupp = spark.read.parquet(s"$in/supplier.parquet").count()
    val nPart = spark.read.parquet(s"$in/part.parquet").count()
    val nOrd  = spark.read.parquet(s"$in/orders.parquet").count()

    def reps(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(factor).toDF("rep"))

    write(reps(spark.read.parquet(s"$in/customer.parquet")).select(
      ($"c_custkey" + $"rep" * nCust).as("c_custkey"),
      format_string("Customer#%09d", $"c_custkey" + $"rep" * nCust).as("c_name"),
      $"c_nationkey", $"c_acctbal", $"c_mktsegment"), "customer")

    write(reps(spark.read.parquet(s"$in/supplier.parquet")).select(
      ($"s_suppkey" + $"rep" * nSupp).as("s_suppkey"),
      format_string("Supplier#%09d", $"s_suppkey" + $"rep" * nSupp).as("s_name"),
      $"s_nationkey", $"s_acctbal"), "supplier")

    write(reps(spark.read.parquet(s"$in/part.parquet")).select(
      ($"p_partkey" + $"rep" * nPart).as("p_partkey"),
      $"p_name", $"p_brand", $"p_type", $"p_size", $"p_retailprice"), "part")

    write(reps(spark.read.parquet(s"$in/orders.parquet")).select(
      ($"o_orderkey" + $"rep" * nOrd).as("o_orderkey"),
      ($"o_custkey" + $"rep" * nCust).as("o_custkey"),
      $"o_orderstatus", $"o_totalprice", $"o_orderdate", $"o_orderpriority"),
      "orders")

    write(reps(spark.read.parquet(s"$in/lineitem.parquet")).select(
      ($"l_orderkey" + $"rep" * nOrd).as("l_orderkey"),
      ($"l_partkey" + $"rep" * nPart).as("l_partkey"),
      ($"l_suppkey" + $"rep" * nSupp).as("l_suppkey"),
      $"l_linenumber", $"l_quantity", $"l_extendedprice", $"l_discount",
      $"l_tax", $"l_returnflag", $"l_linestatus", $"l_shipdate"), "lineitem")

    // ---- events: fresh, same 30-day window, 10× users ----------------
    val nEvents = 100000L * factor
    val nUsers = 1500L * factor
    val types = Array("click", "view", "purchase", "signup", "error")
    val t0Micros = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val windowMicros = 30L * 86400L * 1000000L
    val eventsDf = spark.range(nEvents).mapPartitions { it =>
      it.map { id =>
        val r = rng(id, 1)
        val ts = t0Micros + math.floor(r.nextDouble() * windowMicros).toLong
        (id,
          java.time.Instant.ofEpochSecond(ts / 1000000L, (ts % 1000000L) * 1000L),
          (r.nextDouble() * nUsers).toLong,
          types(r.nextInt(types.length)),
          math.rint(-50.0 * math.log1p(-r.nextDouble()) * 100.0) / 100.0,
          s"""{"k": ${r.nextInt(100)}}""")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    write(eventsDf, "events")

    // ---- documents: Zipfian vocab + per-source skew + 5% " dup" -----
    // Head ranks = the driver fixture's own corpus-scale tokens, so
    // the most frequent types stay continuous with the priced SFs
    // (decontamination patterns, stoplists, and the " dup" marker all
    // keep their semantics); everything behind them is synthetic.
    val fixtureVocab: Array[String] = spark.read.parquet(s"$in/documents.parquet")
      .select(explode(split($"text", " ")).as("tok"))
      .groupBy("tok").count()
      // the 'dup' marker rides only on copies; the BASE vocabulary is
      // every token that appears at corpus scale (≫ copy count)
      .filter($"count" > 1000).select("tok")
      .as[String].collect().sorted
    val nShared = 20000      // shared Zipf tier (incl. the fixture head)
    val nExcl = 500          // per-source exclusive types
    val nSources = 20
    val exclFrac = 0.15      // per-token probability of a source-tier draw
    // synthetic pseudo-words: driver-built once, deterministic,
    // collision-free by construction (a mutable seen-set, fixed seed)
    val wordRnd = new java.util.Random(mix(Seed ^ 0xD0C5EEDL))
    val seen = scala.collection.mutable.Set[String](fixtureVocab.toIndexedSeq: _*)
    seen += "dup"
    def freshWord(): String = {
      var w = ""
      do {
        val len = 3 + wordRnd.nextInt(8)
        w = (0 until len).map(_ => ('a' + wordRnd.nextInt(26)).toChar).mkString
      } while (!seen.add(w))
      w
    }
    val vocab: Array[String] = fixtureVocab ++
      Array.fill(nShared - fixtureVocab.length + nSources * nExcl)(freshWord())
    println(s"[makescale] vocab=${vocab.length} types " +
      s"(${fixtureVocab.length} fixture head + shared Zipf + $nSources×$nExcl source-exclusive)")
    // Zipf(s=1.07) cumulative weight tables (normalized); token draw =
    // one uniform + binary search. Rank r weight = 1/(r+1)^s.
    def zipfCum(n: Int): Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, 1.07))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    val sharedCum = zipfCum(nShared)
    val exclCum = zipfCum(nExcl)
    def zipfIdx(cum: Array[Double], u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cum, u)
      val p = if (i >= 0) i else -i - 1
      math.min(p, cum.length - 1)
    }
    val nDocs = 5000L * factor
    val langs = Array("en", "zh", "es", "fr", "de")
    val langCum = Array(0.41, 0.56, 0.71, 0.86, 1.0)
    val vocabB = spark.sparkContext.broadcast(vocab)
    val sharedCumB = spark.sparkContext.broadcast(sharedCum)
    val exclCumB = spark.sparkContext.broadcast(exclCum)
    // source is a pure function of doc_id on its OWN stream, so
    // baseText can skew toward the doc's source tier while the row
    // loop labels the doc with the same source (a dup copy keeps the
    // BASE doc's skew under its own label — a cross-site copy).
    def srcIdx(id: Long): Int = (((mix(Seed ^ mix(id) ^ 0x50C0L) >>> 1) % nSources)).toInt
    def baseText(id: Long): String = {
      val voc = vocabB.value; val sc = sharedCumB.value; val ec = exclCumB.value
      val r = rng(id, 2)
      // lognormal(ln 48, 0.5) clipped to [8, 120]: mean ~54 tokens
      // (the fixture's 54.1) with a real right tail
      val len = math.min(120L, math.max(8L,
        math.rint(math.exp(math.log(48.0) + 0.5 * r.nextGaussian())).toLong)).toInt
      val src = srcIdx(id)
      val sb = new java.lang.StringBuilder(len * 8)
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(' ')
        val tok =
          if (r.nextDouble() < exclFrac)
            voc(nShared + src * nExcl + zipfIdx(ec, r.nextDouble()))
          else voc(zipfIdx(sc, r.nextDouble()))
        sb.append(tok)
        i += 1
      }
      sb.toString
    }
    val docsDf = spark.range(nDocs).mapPartitions { it =>
      it.map { id =>
        val r = rng(id, 3)
        val isDup = r.nextDouble() < 0.05
        val text =
          if (isDup) {
            var base = (r.nextDouble() * nDocs).toLong
            if (base == id) base = (base + 1) % nDocs
            baseText(base) + " dup"
          } else baseText(id)
        val u = r.nextDouble()
        var li = 0
        while (u > langCum(li)) li += 1
        (id, text, langs(li), s"src${srcIdx(id)}", text.length.toLong)
      }
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    write(docsDf, "documents")

    // ---- embeddings: per-label Gaussian fit, unit-normalized ---------
    write(embeddingsDf(spark, in, 2000L * factor), "embeddings")

    // ---- self-check: the derived fixture must pass the sentinel ------
    val drift = Tables.sentinel(spark, out)
    drift.foreach(d => System.err.println(s"[makescale] $d"))
    require(drift.isEmpty, s"derived fixture fails Tables.sentinel (${drift.size} drifts)")
    val counts = Seq("customer", "orders", "lineitem", "events", "documents",
      "embeddings").map(t => t -> spark.read.parquet(s"$out/$t.parquet").count())
    println(s"[makescale] counts: ${counts.map { case (t, n) => s"$t=$n" }.mkString(" ")}")
    spark.stop()
  }
}
