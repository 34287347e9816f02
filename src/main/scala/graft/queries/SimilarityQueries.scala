package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Artifacts, Tables}
import graft.operators.Scale
import graft.operators.Scale.CheckpointOps
import graft.queries.Export._
import graft.functions.expressions._

/** Similarity search over the `embeddings` fixture (north-star ANN
  * operator family).
  *
  * Baseline: brute-force cosine top-k via the codegen'd
  * [[graft.functions.CosineSimilarity]] expression — a broadcast of
  * the (small) query set against a full scan of the corpus: no
  * shuffle of the corpus at all; each partition emits its local
  * top-k via the row_number window, which Catalyst executes as a
  * partial sort bounded by k.
  *
  * Scale path: random-hyperplane LSH (`annLsh`) — deterministic
  * seeded projections bucket vectors by sign pattern; queries probe
  * only their own bucket. The corpus shuffles once on bucket id
  * (8 bytes/row), and per-bucket candidate lists are small. An IVF
  * variant would swap the hash for learned centroids; same plan
  * shape (bucket → shuffle → within-bucket re-rank).
  */
object SimilarityQueries {

  /** Brute-force cosine top-5 neighbors for query vectors vec_id<10. */
  def cosineTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val q = e.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    e.select($"vec_id".as("neighbor_id"), $"embedding".as("n_emb"))
      .join(broadcast(q), $"neighbor_id" =!= $"query_id")
      .withColumn("cosine", round(cosine_similarity($"q_emb", $"n_emb"), 6))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"query_id", $"neighbor_id", $"cosine", $"rank")
      .domainOrdered($"query_id", $"rank")
  }

  val cosineTopKSql: String =
    """SELECT query_id, neighbor_id, cosine, rank FROM (
      |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS cosine,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) DESC,
      |               n.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Exact nearest neighbor per vector within its label block
    * (blocked k-NN join — the verify pass of an IVF-style index where
    * `label` stands in for the coarse centroid assignment).
    * ORACLE TIER: exhaustive O(n²/L) pair enumeration, gated by
    * [[graft.operators.Scale.oracleTierGuard]] — the scale path is
    * [[nnLsh]] (q55). */
  def nnWithinLabel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = graft.operators.Scale.oracleTierGuard(Tables.embeddings(s, dir),
      "q47_nn_within_label", "q55_nn_lsh (LSH-bucketed)")
    val a = e.select($"vec_id".as("id_a"), $"label", $"embedding".as("emb_a"))
    val b = e.select($"vec_id".as("id_b"), $"label", $"embedding".as("emb_b"))
    val w = Window.partitionBy($"id_a").orderBy($"cosine".desc, $"id_b")
    a.join(b, Seq("label"))
      .filter($"id_a" =!= $"id_b")
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      // unsorted: the q42 sampling rule — a trailing sort's
      // range-sampling pass would re-run the window stage; hash compare is
      // row-order-insensitive
      .select($"id_a", $"id_b".as("nearest_id"), $"cosine", $"label")
  }

  /** Unordered-result note: the Spark side emits these
    * rows UNSORTED — no trailing ORDER BY, because the range sampler
    * would re-execute the heavy final stage purely to order
    * output the driver hashes order-insensitively (check.py sorts
    * rows before hashing). This oracle statement keeps its ORDER BY
    * as the canonical presentation; row order is NOT part of the
    * result contract. */
  val nnWithinLabelSql: String =
    """SELECT id_a, nearest_id, cosine, label FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS nearest_id, a.label AS label,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) DESC,
      |               b.vec_id) AS rn
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id <> b.vec_id)
      |WHERE rn = 1 ORDER BY id_a""".stripMargin

  /** Random-hyperplane LSH ANN: 8 deterministic hyperplanes → 256
    * sign buckets via the codegen'd
    * [[graft.functions.HyperplaneBucket]] expression; top-3 neighbors
    * within bucket. Plane components derive from integer arithmetic,
    * so the EXACT buckets are reproducible in the DuckDB oracle as
    * double-literal plane arrays — this is an oracle-hash-checked LSH
    * query, not a rows-only one. ExpressionsSpec additionally asserts recall
    * vs brute force. Scale shape: one bucket-keyed shuffle of
    * (id, bucket, vector), per-bucket re-rank, WindowGroupLimit
    * bounds the candidate sort. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", embBucket(s, dir).as("bucket"))
    val a = e.select($"vec_id".as("query_id"), $"bucket", $"embedding".as("q_emb"))
      .filter($"query_id" < 10)
    val b = e.select($"vec_id".as("neighbor_id"), $"bucket", $"embedding".as("n_emb"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    a.join(b, Seq("bucket"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cosine", round(cosine_similarity($"q_emb", $"n_emb"), 6))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id", $"cosine", $"rank", $"bucket")
      .domainOrdered($"query_id", $"rank")
  }

  /** Hyperplane count for the single-band sign-LSH bucket every
    * embedding candidate generator shares (q48/q54/q55-sibling/q106/
    * q156/q160). Corpora of at most [[IvfAutoSmallCorpus]] vectors get
    * 8 planes (256 buckets), so the plane literals baked into
    * [[bucketSql]] are bit-identical to what the engine computes.
    * Above that it is ⌈log₂(n/8)⌉: the expected bucket holds ~8
    * vectors, so same-bucket candidate volume stays O(8·n), linear in
    * the corpus, instead of the O(n²/256) of a fixed plane count. More
    * planes lower per-pair recall (sign-LSH collision probability is
    * (1−θ/π)^bits); the recovery at scale is multi-band composition,
    * which the banded operators (q91, q43, q145) implement, while these
    * single-band operators keep the candidates-from-my-own-bucket
    * contract their oracles define. Capped at 30 (the bucket is an
    * int). */
  private[graft] def lshBits(s: SparkSession, dir: String): Int = {
    val n = Artifacts.embeddings(s, dir).rows
    if (n <= IvfAutoSmallCorpus) 8
    else math.min(30, math.max(8, math.ceil(math.log(n / 8.0) / math.log(2.0)).toInt))
  }

  /** The shared single-band bucket column at the resolved plane
    * count — THE one place the embedding candidate generators get
    * their blocking key. */
  private[graft] def embBucket(s: SparkSession, dir: String): Column =
    graft.functions.expressions.hyperplane_bucket(col("embedding"), lshBits(s, dir), 0)

  /** The 8×64 bucket computation as DuckDB SQL — bit p of the bucket
    * is the sign of the dot product with the SAME integer-derived
    * plane matrix [[graft.functions.HyperplaneBucket]] uses (double
    * literals round-trip exactly; both engines sum left-to-right in
    * double, so signs — hence buckets — agree bit-for-bit). */
  private[graft] def bucketSql: String = {
    val bits = (0 until 8).map { p =>
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], " +
        s"${graft.functions.HyperplaneBucket.planeSqlLiteral(p, 64, 0)}) > 0 " +
        s"THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")
    s"SELECT vec_id, label, embedding::DOUBLE[] AS e, $bits AS bucket FROM embeddings"
  }

  val annLshSql: String =
    s"""WITH b AS ($bucketSql)
      |SELECT query_id, neighbor_id, cosine, rank, bucket FROM (
      |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id, a.bucket AS bucket,
      |    round(list_cosine_similarity(a.e, c.e), 6) AS cosine,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY round(list_cosine_similarity(a.e, c.e), 6) DESC, c.vec_id) AS rank
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
      |  WHERE a.vec_id < 10)
      |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Scale-path sibling of q47: the
    * per-vector nearest neighbor computed over LSH-bucket candidates
    * with exact cosine re-rank — one bucket-keyed shuffle instead of
    * a label-block cross product. Output shrinks to vectors that have
    * at least one bucket-mate (an IVF/LSH index answers from its own
    * cell); the blocked q47 remains the small-sf exact oracle of the
    * full-coverage semantics. */
  def nnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", embBucket(s, dir).as("bucket"))
    val a = e.select($"vec_id".as("id_a"), $"bucket", $"embedding".as("emb_a"))
    val b = e.select($"vec_id".as("id_b"), $"bucket", $"embedding".as("emb_b"))
    // per-vector argmax as a partial-aggregating struct max, not a
    // row_number window — the exchange carries one row per id_a, not
    // every bucket pair, and nothing sorts (same rewrite as the IVF
    // core; tie order cosine DESC, id_b ASC preserved via -id_b)
    a.join(b, Seq("bucket"))
      .filter($"id_a" =!= $"id_b")
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .groupBy($"id_a")
      .agg(max(struct($"cosine", (-$"id_b").as("neg_id"),
        $"id_b".as("id"), $"bucket")).as("best"))
      .select($"id_a", $"best.id".as("nearest_id"),
        $"best.cosine".as("cosine"), $"best.bucket".as("bucket"))
      .orderBy($"id_a")
  }

  val nnLshSql: String =
    s"""WITH b AS ($bucketSql)
      |SELECT id_a, nearest_id, cosine, bucket FROM (
      |  SELECT a.vec_id AS id_a, c.vec_id AS nearest_id, a.bucket AS bucket,
      |    round(list_cosine_similarity(a.e, c.e), 6) AS cosine,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY round(list_cosine_similarity(a.e, c.e), 6) DESC, c.vec_id) AS rn
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id)
      |WHERE rn = 1 ORDER BY id_a""".stripMargin

  /** Pinned threshold grid of the q160 sweep (permille; the oracle
    * reproduces it verbatim) — brackets q106's committed 0.4 so the
    * sweep answers "what would moving the production knob cost". */
  private[graft] val CurveThresholds = Seq(300, 350, 400, 450, 500)

  /** q160: DEDUP-THRESHOLD CALIBRATION CURVE — the knob-tuning sweep
    * an operator runs BEFORE committing a semantic-dedup threshold
    * (q106 hardcodes cosine ≥ 0.4; this answers "what would each
    * choice cost?"): for each candidate threshold, how many LSH-
    * candidate pairs qualify and how many distinct vectors they
    * touch. One bucket-keyed candidate pass (q54's shape — never
    * all-pairs), each pair replicated against the 5-row broadcast
    * threshold dim, two tiny per-threshold aggregates, zero-filled so
    * every grid point reports even when empty. Integer-derived
    * buckets keep the sweep fully oracle-HASH-checked. */
  def dedupThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", embBucket(s, dir).as("bucket"))
    val a = e.select($"vec_id".as("id_a"), $"bucket", $"embedding".as("emb_a"))
    val b = e.select($"vec_id".as("id_b"), $"bucket", $"embedding".as("emb_b"))
    val pairs = a.join(b, Seq("bucket"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        round(cosine_similarity($"emb_a", $"emb_b"), 6).as("cosine"))
    val thr = CurveThresholds.toDF("thr")
    val cand = pairs.join(broadcast(thr), $"cosine" >= $"thr" / 1000.0)
    val np = cand.groupBy($"thr").agg(count(lit(1)).as("p"))
    val nd = cand.select($"thr", explode(array($"id_a", $"id_b")).as("id"))
      .groupBy($"thr").agg(count_distinct($"id").as("d"))
    thr.join(np, Seq("thr"), "left").join(nd, Seq("thr"), "left")
      .select($"thr", coalesce($"p", lit(0L)).as("n_pairs"),
        coalesce($"d", lit(0L)).as("n_docs"))
      .orderBy($"thr")
  }

  val dedupThresholdCurveSql: String =
    s"""WITH b AS ($bucketSql),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
      |    round(list_cosine_similarity(a.e, c.e), 6) AS cosine
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id),
      |thr AS (SELECT unnest([${CurveThresholds.mkString(", ")}]) AS thr),
      |cand AS (
      |  SELECT t.thr, p.id_a, p.id_b FROM pairs p
      |  JOIN thr t ON p.cosine >= t.thr / 1000.0),
      |np AS (SELECT thr, count(*) AS p FROM cand GROUP BY thr),
      |nd AS (SELECT thr, count(DISTINCT id) AS d FROM (
      |  SELECT thr, id_a AS id FROM cand
      |  UNION ALL SELECT thr, id_b FROM cand) GROUP BY thr)
      |SELECT t.thr, CAST(coalesce(np.p, 0) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(nd.d, 0) AS BIGINT) AS n_docs
      |FROM thr t LEFT JOIN np USING (thr) LEFT JOIN nd USING (thr)
      |ORDER BY thr""".stripMargin

  /** q156: HARD-NEGATIVE MINING — the contrastive-pair primitive of
    * embedding-model training data prep: for every anchor vector,
    * the most similar vector with a DIFFERENT label (the negative
    * that is actually hard — a random negative teaches nothing).
    * q47/q55 find the nearest SAME-label neighbor; this is the
    * complement, and the pair (anchor, hard negative) is what a
    * triplet/InfoNCE loss consumes.
    *
    * Same scale discipline as q55: candidates from the DETERMINISTIC
    * 8-hyperplane LSH bucket (one bucket-keyed shuffle, never an
    * all-pairs or label-block product — labels DON'T partition the
    * join, they only filter inside the bucket), exact cosine re-rank,
    * and the per-anchor argmax as a partial-aggregating struct max —
    * the exchange carries ONE row per anchor, nothing sorts. Anchors
    * whose bucket holds no other label are absent (an index answers
    * from its own cell — q55's documented semantics). The buckets
    * are integer-derived, so the ORACLE reproduces them exactly and
    * the whole query is hash-checked, not rows-only. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"label", $"embedding",
        embBucket(s, dir).as("bucket"))
    val a = e.select($"vec_id".as("id_a"), $"label".as("label_a"), $"bucket",
      $"embedding".as("emb_a"))
    val b = e.select($"vec_id".as("id_b"), $"label".as("label_b"), $"bucket",
      $"embedding".as("emb_b"))
    a.join(b, Seq("bucket"))
      .filter($"label_a" =!= $"label_b") // id inequality is implied
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .groupBy($"id_a")
      .agg(max(struct($"cosine", (-$"id_b").as("neg_id"), $"id_b".as("id"),
        $"label_a".as("la"), $"label_b".as("lb"))).as("best"))
      .select($"id_a", $"best.la".as("label_a"), $"best.id".as("hard_neg_id"),
        $"best.lb".as("neg_label"), $"best.cosine".as("cosine"))
      .orderBy($"id_a")
  }

  val hardNegativesSql: String =
    s"""WITH b AS ($bucketSql)
      |SELECT id_a, label_a, hard_neg_id, neg_label, cosine FROM (
      |  SELECT a.vec_id AS id_a, a.label AS label_a, c.vec_id AS hard_neg_id,
      |    c.label AS neg_label,
      |    round(list_cosine_similarity(a.e, c.e), 6) AS cosine,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY round(list_cosine_similarity(a.e, c.e), 6) DESC, c.vec_id) AS rn
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.label <> c.label)
      |WHERE rn = 1 ORDER BY id_a""".stripMargin

  /** IVF-style ANN with LEARNED centroids (the upgrade over q48's
    * data-independent hyperplanes, and the scale path q47's exact scan
    * stands in for): spherical k-means (k=16, 5 Lloyd iterations) trained
    * on a DETERMINISTIC bounded sample (vec_id < 256, seeded by data
    * order, driver-side — index TRAINING is the one legitimately
    * driver-bounded step; above [[IvfTrainerHandoff]] cells
    * distributed MLlib KMeans over the corpus takes over with
    * everything downstream identical — see [[ivfTrainer]]). Every vector
    * is assigned to its max-cosine centroid via composed
    * [[graft.functions.CosineSimilarity]] calls against literal
    * centroid arrays — no broadcast state, fully codegen'd — queries
    * multi-probe their top-4 cells (recall 0.31 → passing at
    * nprobe=4 on the fixture), and the nearest neighbor is re-ranked
    * exactly within the probed cells: one cell-keyed shuffle, never
    * an all-pairs product. ExpressionsSpec pins recall vs brute
    * force, rerank exactness, and determinism; the registered q58
    * form is [[ivfNnValidated]], which folds those theorems into
    * oracle-pinned booleans.
    *
    * This block documents the whole IVF family below: centroid
    * training, cell/probe assignment, the NN query, and the
    * validated form. */
  /** Centroid trainer dispatch on [[ivfTrainer]]. Both run spherical
    * k-means (MLlib on L2-normalized inputs with a fixed seed, the
    * sample trainer in vec_id order), and everything downstream (cell
    * assignment, probe list, re-rank, validation theorems) is the
    * same; only where the centroids come from changes. */
  private def trainCentroids(s: SparkSession, dir: String): Array[Array[Double]] =
    if (ivfTrainer(s, dir) == "mllib") trainCentroidsMllib(s, dir)
    else trainCentroidsSample(s, dir)

  /** The trainer the resolved cell count [[ivfK]] selects: the
    * driver-bounded sample trainer up to [[IvfTrainerHandoff]] cells,
    * distributed MLlib KMeans over the corpus above it. Past ~512
    * cells a 32·k-row driver sample thins to fewer points per centroid
    * while the driver Lloyd loop is O(32k·k·dim) serial work. √n
    * reaches 512 at ~262k vectors, so every priced fixture trains on
    * the sample and keeps its bit-identical oracle pins. k is part of
    * the IVF stamp, so the trainer never changes under a fresh
    * artifact. */
  private[graft] def ivfTrainer(s: SparkSession, dir: String): String =
    if (ivfK(s, dir) > IvfTrainerHandoff) "mllib" else "sample"

  /** Cell count above which auto trainer dispatch hands off to
    * distributed MLlib KMeans (≈ the √n of a 262k-vector corpus). */
  private val IvfTrainerHandoff = 512

  /** Corpora at or below this vector count keep the VALIDATED fixed
    * geometry (k=16, nprobe=4 — every priced SF and every degenerate
    * recipe lands here, so the oracle pins and the committed recall
    * measurements are bit-identical under `auto`); above it the √n
    * rule takes over. 10k sits one decade above sf0.1's 5k vectors. */
  private val IvfAutoSmallCorpus = 10000L

  /** `spark.graft.ivf.k` (default `auto`): cell count. It trades
    * index selectivity (candidates per probe ~ n/k) against training
    * cost and per-row assignment work (k literal cosines). `auto` is
    * the validated 16 for corpora of at most [[IvfAutoSmallCorpus]]
    * vectors and ⌈√n⌉ above it, the standard IVF sizing (FAISS: k ∈
    * [√n, 16√n]) that keeps all-NN candidate volume O(nprobe·n^1.5)
    * instead of the O(nprobe·n²/16) of a fixed cell count. n comes
    * from the footer-stats fingerprint, with no extra scan. An integer
    * pins the geometry; both trainers and the assignment projection
    * resolve here. An explicit `spark.graft.ivf.nprobe` is checked
    * against the resolved k here, so nprobe > k fails before any
    * training runs. */
  private[graft] def ivfK(s: SparkSession, dir: String): Int = {
    val conf = s.conf.getOption("spark.graft.ivf.k").getOrElse("auto")
    val k =
      if (conf == "auto") {
        val n = Artifacts.embeddings(s, dir).rows
        if (n <= IvfAutoSmallCorpus) 16
        // uncapped: [[ivfTrainer]] hands large k to MLlib, and the
        // per-row assignment is one fused IvfProbeCellsExpr pass,
        // O(k·dim) per row with no plan-size growth
        else math.ceil(math.sqrt(n.toDouble)).toInt
      } else conf.toInt
    require(k >= 2, s"spark.graft.ivf.k must be >= 2, got $conf")
    s.conf.getOption("spark.graft.ivf.nprobe").foreach { v =>
      require(v.toInt >= 1 && v.toInt <= k,
        s"spark.graft.ivf.nprobe must be in [1, k=$k], got $v")
    }
    k
  }

  /** `spark.graft.ivf.nprobe` (default `auto`): probed cells per
    * query, the recall/cost dial (recall and candidate count both rise
    * with nprobe; nprobe = k is brute force). `auto` probes 4 cells in
    * the validated fixed-k regime and ⌈k/8⌉ above it, a constant 1/8
    * of the cell partition. Measured with graft.IvfProbe on the
    * 20k-vector sf1 fixture: at 1/8 the √n geometry recalls 0.616,
    * above the q58 floor, in 9.7 s against fixed-16's 122.9 s. `k` is
    * the geometry in hand (trained or sidecar-loaded cell count), so a
    * serving tier resolves its probe list from the stored index alone;
    * the result is clamped to it, since a degenerate sub-k corpus
    * trains fewer cells. An explicit value is range-checked against
    * the configured k in [[ivfK]]. */
  private[graft] def ivfNprobe(s: SparkSession, k: Int): Int = {
    val np = s.conf.getOption("spark.graft.ivf.nprobe") match {
      case Some(v) => v.toInt
      case None => if (k <= 16) 4 else math.max(4, math.ceil(k / 8.0).toInt)
    }
    require(np >= 1, s"spark.graft.ivf.nprobe must be >= 1, got $np")
    math.min(np, k)
  }

  private def trainCentroidsMllib(s: SparkSession, dir: String): Array[Array[Double]] = {
    import s.implicits._
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val unit = new org.apache.spark.ml.feature.Normalizer()
      .setInputCol("features").setOutputCol("unit").setP(2.0)
    val data = unit.transform(
      Tables.embeddings(s, dir)
        .select(array_to_vector(transform($"embedding", _.cast("double"))).as("features")))
    val model = new KMeans().setK(ivfK(s, dir)).setMaxIter(5).setSeed(42)
      .setFeaturesCol("unit").fit(data)
    model.clusterCenters.map { c =>
      val v = c.toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
  }

  private def trainCentroidsSample(s: SparkSession, dir: String): Array[Array[Double]] = {
    import s.implicits._
    val k = ivfK(s, dir)
    val iters = 5
    // Sample bound: the committed 256 in the validated fixed-k regime
    // (bit-identical centroids, so the oracle-pinned recall figures
    // stand); 32 points per centroid under auto-√n sizing — still
    // constant driver state (32k vectors at k=1000), though at real
    // 100 TB scale the mllib trainer is the intended path.
    val sampleBound = if (k <= 16) 256L else 32L * k
    // sorted on the driver: the sample is at most sampleBound rows, so a
    // distributed orderBy would only add range sampling and an exchange
    val sample: Array[Array[Float]] = Tables.embeddings(s, dir)
      .filter($"vec_id" < sampleBound)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .sortBy(_._1).map(_._2)
    require(sample.nonEmpty,
      "cannot train IVF centroids on an empty embeddings corpus")
    // DEGRADE, don't refuse (degenerate-corpus gate): a sub-k corpus
    // trains min(k, n) centroids — k-means with more clusters than
    // points is undefined, fewer cells is the well-defined analogue
    // (every real SF has n ≥ 256, so kEff == k wherever an oracle
    // prices this); nprobe slices are length-lenient already
    val kEff = math.min(k, sample.length)
    val dim = sample.head.length
    def norm(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s0 = 0.0; var i = 0
      while (i < a.length) { s0 += a(i) * b(i); i += 1 }
      s0
    }
    var cent: Array[Array[Double]] =
      sample.take(kEff).map(v => norm(v.map(_.toDouble)))
    for (_ <- 0 until iters) {
      val sums = Array.fill(kEff)(new Array[Double](dim))
      val cnt = new Array[Int](kEff)
      sample.foreach { v =>
        val vd = v.map(_.toDouble)
        // centroids are unit-norm, so argmax dot == argmax cosine
        val c = (0 until kEff).maxBy(i => dot(cent(i), vd))
        var j = 0; while (j < dim) { sums(c)(j) += vd(j); j += 1 }
        cnt(c) += 1
      }
      cent = (0 until kEff).map(i =>
        if (cnt(i) == 0) cent(i) else norm(sums(i))).toArray
    }
    cent
  }

  /** Codegen'd literal-centroid cell assignment (`cell`) and top-nprobe
    * probe list (`probeCells`) for a vector column named `embedding`. */
  /** One codegen'd pass over the centroid matrix per row
    * ([[graft.functions.IvfProbeCellsExpr]]): the former k-literal-
    * cosine array + interpreted array_sort composition paid TimSort's
    * k·log k interpreted comparator calls per row — ExpressionsSpec
    * fuzz-pins the expression against that composition, ties, nulls
    * and sub-np geometries included. */
  private def ivfProbeList(s: SparkSession, cent: Array[Array[Double]]): Column =
    ivf_probe_cells(col("embedding"), cent, ivfNprobe(s, cent.length))

  /** The HOME CELL is element 1 of the probe list (the sort is
    * DESC-by-cosine and TimSort-stable, so ties keep the lowest
    * index — exactly the argmax rule the former
    * array_position/array_max pair computed); a null embedding keeps
    * its null cell. DOCUMENTED semantic change vs the pre-fusion
    * composition: a non-null but DEGENERATE
    * embedding (zero norm, null element, or centroid-length mismatch
    * — all-or-none conditions across centroids) used to get a null
    * cell via array_position(cosines, array_max(cosines)) over an
    * all-NULL cosine array and was thereby excluded from the
    * index-side equi-join; it now lands deterministically in cell 1
    * (the probe list's stable [1..np] order for all-(−∞) rows). This
    * is deliberate: both the index and the query side assign the
    * same way, so a degenerate query can now meet a degenerate index
    * row (the old shape made them mutually invisible), and every
    * downstream re-rank computes a NULL cosine for such pairs, which
    * the rank/threshold predicates already drop — no priced oracle
    * or degenerate-recipe result changes (fixture embeddings are
    * non-degenerate; the three-recipe degen gate stayed green). Consumers that need BOTH columns (ivfAssigned,
    * buildIvfIndex) derive cell from the MATERIALIZED probe_cells
    * column instead of selecting both expressions: the k
    * literal-centroid cosines and the higher-order sort are
    * interpreted (outside codegen CSE), and the former shape paid
    * the cosine array three times per row — the dominant cost of the
    * one-pass index build as k grows under auto-√n sizing. */
  private def cellFromProbe(probe: Column): Column =
    when(col("embedding").isNull, lit(null).cast("int"))
      .otherwise(element_at(probe, 1))

  private def ivfCells(s: SparkSession, cent: Array[Array[Double]]): (Column, Column) = {
    val probe = ivfProbeList(s, cent)
    (cellFromProbe(probe), probe)
  }

  /** Profiling accessor: trained (cell, probeCells) columns. */
  private[graft] def debugCells(s: SparkSession, dir: String): (Column, Column) =
    ivfCells(s, trainCentroids(s, dir))

  /** The materialized INDEX: every vector with its home cell and its
    * top-nprobe probe list, computed in ONE pass over the corpus and
    * localCheckpoint'ed. Both join sides of the NN query (and the
    * audit joins in the validated form) read these blocks instead of
    * re-running the 16-cosine assignment per consumer — measured, the
    * assignment projection (higher-order array_sort is interpreted,
    * so the 16 literal-centroid cosines evaluate outside codegen
    * CSE) cost more than the candidate join itself when recomputed
    * on each side. At 100 TB this materialization step IS the index
    * build every IVF system performs once and stores; the checkpoint
    * is the local-mode stand-in for that stored assignment. */
  /** The uncheckpointed assignment projection — split out so PlanSpec
    * can pin that the optimizer keeps the two-phase select (probe
    * list materialized once, cell derived from it; CollapseProject
    * must not inline the expensive alias it references twice). */
  private[graft] def ivfAssignment(s: SparkSession, dir: String,
      cent: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    // Spread the scan BEFORE the projection (the q145/q131
    // pushdown lesson, projection-shaped): projected directly after
    // the scan, the k-cosine probe assignment inherits the scan's
    // partitioning — the fixture's single row-group serialized the
    // whole assignment (and everything downstream of the checkpoint,
    // including q58's audit pair join) on ONE task (two 1-task
    // stages carried 2.2 of q58's 2.4 s of summed task run time).
    // Scale.spreadScan is conditional, so at real corpus sizes —
    // where the scan already yields plenty of partitions — no extra
    // shuffle is added. Per-row assignment is order-independent;
    // results unchanged.
    // two-phase select: probe_cells materializes first, cell reads it
    // back — one cosine/sort evaluation per row (see cellFromProbe)
    Scale.spreadScan(Tables.embeddings(s, dir))
      .select($"vec_id", $"embedding",
        ivfProbeList(s, cent).as("probe_cells"))
      .select($"vec_id", $"embedding",
        cellFromProbe($"probe_cells").as("cell"), $"probe_cells")
  }

  private def ivfAssigned(s: SparkSession, dir: String,
      cent: Array[Array[Double]]): DataFrame =
    ivfAssignment(s, dir, cent).reliableCheckpoint()

  /** Test accessor: assignment frame at the current conf geometry. */
  private[graft] def ivfAssignmentAtConf(s: SparkSession, dir: String): DataFrame =
    ivfAssignment(s, dir, trainCentroids(s, dir))

  private def ivfNnFrom(assigned: DataFrame): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    val a = assigned.select($"vec_id".as("id_a"), $"embedding".as("emb_a"),
        explode($"probe_cells").as("cell"))
    val b = assigned.select($"vec_id".as("id_b"), $"embedding".as("emb_b"), $"cell")
    // shuffle-hash on the cell key: at 100 TB neither the corpus nor
    // the probe set broadcasts, and measured locally the default
    // broadcast of the exploded probe side cost 8× more per match
    // (12 µs vs 1.5 µs) than co-partitioning both sides on cell.
    // The per-vector argmax is a hash AGGREGATE, not a row_number
    // window: partial aggregation collapses each map task's pairs to
    // one row per id_a BEFORE the exchange, so the second shuffle
    // carries O(#vectors) rows instead of every candidate pair, and
    // no sort runs anywhere (the window plan shuffled all pairs and
    // sorted each id_a group just to take row 1). Ordering matches
    // the old window (cosine DESC, id_b ASC) via the (cosine, -id_b)
    // lexicographic struct max; `best` is never null because the
    // aggregate only sees joined (= candidate-bearing) rows.
    a.hint("shuffle_hash").join(b, Seq("cell"))
      .filter($"id_a" =!= $"id_b")
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .groupBy($"id_a")
      .agg(max(struct($"cosine", (-$"id_b").as("neg_id"),
        $"id_b".as("id"), $"cell")).as("best"))
      .select($"id_a", $"best.id".as("nearest_id"),
        $"best.cosine".as("cosine"), $"best.cell".as("cell"))
  }

  def ivfNn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ivfNnFrom(ivfAssigned(s, dir, trainCentroids(s, dir))).orderBy($"id_a")
  }

  /** q74: the PRODUCTION-shaped IVF query (q63-for-q57 precedent):
    * train + assign + multi-probe + re-rank with NO brute-force audit
    * joins, and no global sort on the per-vector output (a production
    * consumer of nearest-neighbor pairs does not total-order them) —
    * so the bench row prices the index itself; q58 keeps the
    * theorem-validated form as the correctness row. Rows-only check
    * by design: the answers depend on the learned centroids, whose
    * k-means iterations are not SQL-reproducible; their quality
    * bounds are exactly what q58 pins against DuckDB. */
  def ivfTopk(s: SparkSession, dir: String): DataFrame =
    ivfNnFrom(ivfAssigned(s, dir, trainCentroids(s, dir)))

  /** PERSISTED index build: train once, assign once, write the
    * (vec_id, embedding, cell, probe_cells) index BUCKETED BY CELL,
    * plus the centroids as a sidecar table (what an out-of-corpus
    * query vector needs for its own cell assignment), stamped through
    * [[graft.Artifacts]]. Later NN queries read the stored table: no
    * re-training, and the home-cell side of the probe join arrives
    * PRE-PARTITIONED — only the exploded probe side shuffles
    * (IvfIndexSpec pins it). */
  def buildIvfIndex(s: SparkSession, dir: String, table: String): Unit = {
    import s.implicits._
    val cent = trainCentroids(s, dir)
    // same conditional pre-projection spread as ivfAssignment:
    // the bucketed write shuffles by cell afterwards either way, but
    // the k-cosine assignment itself must not run on the scan's
    // (single row-group) partitioning
    val index = Scale.spreadScan(Tables.embeddings(s, dir))
      .select($"vec_id", $"embedding",
        ivfProbeList(s, cent).as("probe_cells"))
      .select($"vec_id", $"embedding",
        cellFromProbe($"probe_cells").as("cell"), $"probe_cells")
    writeIvfIndex(s, dir, index, table, cent)
    writeIvfSidecars(s, dir, table, cent, None)
  }

  /** Write (or `append` to) a cell-bucketed IVF index table. */
  private def writeIvfIndex(s: SparkSession, dir: String, rows: DataFrame, table: String,
      cent: Array[Array[Double]], mode: String = "overwrite"): Unit =
    Scale.writeBucketed(rows, table, "cell",
      ivfBucketCount(Artifacts.embeddings(s, dir).rows, cent.length), mode = mode)

  /** Write the coarse-centroid sidecar `(cell, centroid)` (and, for
    * IVF-PQ, the codebook sidecar `(m, j, centroid)`), then stamp the
    * centroid sidecar with the embeddings fingerprint and the current
    * geometry — the last write of every IVF build. */
  private def writeIvfSidecars(s: SparkSession, dir: String, table: String,
      cent: Array[Array[Double]], cb: Option[Array[Array[Array[Double]]]]): Unit = {
    import s.implicits._
    cent.zipWithIndex.map { case (v, i) => (i + 1, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_centroids")
    cb.foreach { cb =>
      (for { m <- cb.indices; j <- cb(m).indices }
        yield (m, j, cb(m)(j).toSeq)).toDF("m", "j", "centroid")
        .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_pq")
    }
    Artifacts.stamp(s, s"${table}_centroids", Artifacts.embeddings(s, dir),
      Some(ivfGeometry(s, dir)))
  }

  /** Storage bucket count for a cell-keyed persisted artifact: one
    * bucket per cell once cells carry ~2k rows, PACKED below that (one
    * near-empty file and scan task per cell doubled serve time at
    * 142 cells over 20k rows). The cell equi-join needs no index-side
    * exchange at any bucket count, so packing trades nothing. Floor
    * 16 keeps every priced fixture's layout unchanged. */
  private[graft] def ivfBucketCount(nRows: Long, cells: Int): Int =
    math.max(1L, math.min(cells.toLong, math.max(16L, nRows / 2000L))).toInt

  /** The IVF geometry the current conf resolves to for `dir`: cells =
    * min(k, n) (sub-k corpora train fewer cells) and the probe width
    * at that cell count. The source fingerprint catches data drift,
    * not conf drift (`spark.graft.ivf.k = auto` or any re-tune), so
    * IVF artifacts are stamped with this too and rebuilt when it
    * moves. */
  private[graft] def ivfGeometry(s: SparkSession, dir: String): Artifacts.Geometry = {
    val cells = math.min(ivfK(s, dir).toLong, math.max(1L, Artifacts.embeddings(s, dir).rows))
    Artifacts.Geometry(cells, math.min(ivfNprobe(s, cells.toInt).toLong, cells))
  }

  /** Build-if-absent-or-stale gate of an IVF artifact: the index
    * table `tbl` plus its `<tbl>_<sidecar>` tables, stamped on the
    * centroid sidecar with the embeddings fingerprint and geometry. */
  private def ensureIvf(s: SparkSession, dir: String, tbl: String,
      sidecars: String*)(build: => Unit): Unit =
    Artifacts.ensure(s, tbl +: sidecars.map(x => s"${tbl}_$x"), s"${tbl}_centroids",
      Artifacts.embeddings(s, dir), Some(ivfGeometry(s, dir)))(build)

  /** NN query over a PERSISTED index — the read side of
    * [[buildIvfIndex]]; identical semantics to [[ivfTopk]] but no
    * training or assignment work (both join sides scan the stored
    * bucketed table). The `sourceDir` form verifies the stamped
    * source fingerprint first and fails loudly on mismatch — the
    * production entry point; the raw form skips the check and is for
    * callers that just established freshness (the q92 gate) or
    * explicitly accept the stored snapshot. */
  def ivfNnFromIndex(s: SparkSession, table: String, sourceDir: String): DataFrame = {
    Artifacts.requireFresh(s, s"${table}_centroids", Artifacts.embeddings(s, sourceDir),
      sourceDir, "IVF index")
    ivfNnFrom(s.table(table))
  }

  def ivfNnFromIndex(s: SparkSession, table: String): DataFrame =
    ivfNnFrom(s.table(table))

  /** q92: the PERSISTED-INDEX LIFECYCLE as a driver-verified row —
    * [[buildIvfIndex]] once per dataset through the
    * [[graft.Artifacts.ensure]] gate (reused while fresh, rebuilt when
    * the source or the geometry moves), NN through [[ivfNnFromIndex]],
    * and pinned in the emitted row:
    *  - `n_points`: every vector got an answer (DuckDB reproduces the
    *    count independently);
    *  - `stored_equals_live`: the stored-index answers EQUAL the live
    *    train+assign pipeline's — the byte-identity IvfIndexSpec
    *    proves, now oracle-checked;
    *  - `home_bucketed` + `n_exchanges`: the stored plan reads the
    *    bucketed layout and plans exactly TWO hash exchanges (probe
    *    explode alignment + argmax aggregate) — one FEWER than the
    *    live path, which is the point of persisting: the home side
    *    arrives pre-partitioned.
    * The stored NN is materialized ONCE ([[storedNn]]); its final
    * adaptive plan is the one pinned, and the validation compares the
    * materialized rows. [[ivfNnFrom]] gives exactly one row per `id_a`,
    * so the two answers are equal exactly when a full outer join on
    * `id_a` finds no row whose columns differ null-safely; `n_points`
    * comes out of the same aggregate.
    * Validation-priced like q58/q91 (the live-path comparison exists
    * only to verify; production consumers call ivfNnFromIndex alone). */
  def ivfStoredNn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("ivf_q92", dir)
    ensureIvf(s, dir, tbl, "centroids")(buildIvfIndex(s, dir, tbl))
    val (stored, plan) = storedNn(s, tbl)
    val nEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    // the live train+assign pipeline exists ONLY to verify the stored
    // answers — price it as its own phase so the serve-path number in
    // the bench artifact is not inflated by validation
    val check = graft.PhaseTimer.timed("validate") {
      val live = ivfNnFrom(ivfAssigned(s, dir, trainCentroids(s, dir)))
      // id_a is never NULL (ivfNnFrom's id_a =!= id_b filter drops NULL
      // keys), so a side's NULL id_a marks a row the other side lacks
      val same = Seq("nearest_id", "cosine", "cell")
        .map(c => col(s"a.$c") <=> col(s"b.$c")).reduce(_ && _)
      stored.as("a").join(live.as("b"), $"a.id_a" === $"b.id_a", "full_outer")
        .agg(count($"a.id_a").as("n_points"),
          count(when($"a.id_a".isNull || $"b.id_a".isNull || !same, 1)).as("n_diff"))
        .head()
    }
    Seq(check.getLong(0)).toDF("n_points")
      .select($"n_points",
        lit(check.getLong(1) == 0L).as("stored_equals_live"),
        lit(plan.contains("Bucketed: true")).as("home_bucketed"),
        lit(nEx).cast("long").as("n_exchanges"))
  }

  /** q92's stored NN over index `tbl`, materialized once, with the final
    * adaptive plan that materialized it (the part above its initial
    * plan). The checkpoint runs the stored NN's own query execution, so
    * that plan is final (`isFinalPlan=true`). */
  private[graft] def storedNn(s: SparkSession, tbl: String): (DataFrame, String) = {
    val nn = ivfNnFromIndex(s, tbl)
    val stored = nn.reliableCheckpoint()
    (stored, nn.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0))
  }

  val ivfStoredNnSql: String =
    """SELECT (SELECT count(*) FROM embeddings) AS n_points,
      |  true AS stored_equals_live, true AS home_bucketed,
      |  CAST(2 AS BIGINT) AS n_exchanges""".stripMargin

  /** q116: the SERVING path of the persisted IVF index — out-of-corpus
    * query vectors answered from NOTHING but the two stored tables.
    * q92 proves the stored corpus self-query equals the live pipeline;
    * what it never exercises is the reason the centroids sidecar
    * exists: a NEW vector that is not in the index must be assigned
    * its probe cells at query time from the sidecar alone, then probe
    * the bucketed index. That is the read path an online ANN service
    * actually runs (build once, serve many), and this query runs it
    * end-to-end: sidecar → collect k centroids (constant driver state)
    * → probe-cell projection over the query stream → explode → one
    * shuffle-hash join against the pre-partitioned bucketed index →
    * per-query argmax aggregate.
    *
    * The query set is a deterministic corpus slice (vec_id % 7 = 3)
    * re-keyed to q_id = vec_id + 1e6, standing in for external
    * traffic; its own source row is excluded from candidates (a real
    * external vector has no self in the index). Self-validating like
    * q58/q92 (answers depend on learned centroids):
    *  - `n_queries`: DuckDB reproduces the slice count independently;
    *  - `all_answered`: every query produced a served row (≥1
    *    candidate in its probed cells — a real index failure if ever
    *    false);
    *  - `serve_exact`: on an absolutely-capped audit sample (src_id %
    *    5 = 0 AND < 2500 → ≤ 500 queries, O(500·n) audit), the served
    *    answer EQUALS a probe-restricted brute force computed through
    *    a different plan (all-pairs + array_contains filter instead of
    *    the cell equi-join) — catching candidate loss in the
    *    explode/join/argmax path;
    *  - `audit_nonempty`: the audit actually audited something. */
  def ivfServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("ivf_q92", dir) // share q92's artifact
    ensureIvf(s, dir, tbl, "centroids")(buildIvfIndex(s, dir, tbl))
    // centroids from the SIDECAR only — all a serving tier has
    val (_, probeCol) = ivfCells(s, loadCentroids(s, tbl))
    val queries = Tables.embeddings(s, dir)
      .filter($"vec_id" % 7 === 3)
      .select(($"vec_id" + 1000000L).as("q_id"), $"vec_id".as("src_id"),
        $"embedding")
    val assignedQ = queries
      .select($"q_id", $"src_id", $"embedding", probeCol.as("probe_cells"))
      .reliableCheckpoint()
    val probe = assignedQ.select($"q_id", $"src_id",
      $"embedding".as("q_emb"), explode($"probe_cells").as("cell"))
    val index = s.table(tbl).select($"vec_id", $"embedding".as("i_emb"), $"cell")
    val served = probe.hint("shuffle_hash").join(index, Seq("cell"))
      .filter($"src_id" =!= $"vec_id")
      .withColumn("cosine", round(cosine_similarity($"q_emb", $"i_emb"), 6))
      .groupBy($"q_id")
      .agg(max(struct($"cosine", (-$"vec_id").as("neg_id"),
        $"vec_id".as("id"))).as("best"))
      .select($"q_id", $"best.id".as("nearest_id"), $"best.cosine".as("cosine"))
      .reliableCheckpoint()
    val nQueries = queries.agg(count(lit(1)).as("n_queries"))
    val nServed = served.agg(count(lit(1)).as("n_served"))
    val auditQ = assignedQ.filter($"src_id" % 5 === 0 && $"src_id" < 2500)
    val idx = s.table(tbl).select($"vec_id".as("b_id"),
      $"embedding".as("b_emb"), $"cell".as("cell_b"))
    val ref = auditQ.join(idx, $"src_id" =!= $"b_id")
      .withColumn("cosine", round(cosine_similarity($"embedding", $"b_emb"), 6))
      .groupBy($"q_id")
      .agg(max(when(array_contains($"probe_cells", $"cell_b"),
        struct($"cosine", (-$"b_id").as("neg_id"), $"b_id".as("id")))).as("r"))
    val checks = served.join(ref, Seq("q_id"))
      .agg(
        // outer coalesce: min over ZERO audited rows is NULL —
        // vacuous truth; audit_nonempty says whether it bound
        coalesce(min(coalesce($"nearest_id" === $"r.id" && $"cosine" === $"r.cosine",
          lit(false))), lit(true)).as("serve_exact"),
        (count(lit(1)) > 0L).as("audit_nonempty"))
    nQueries.crossJoin(nServed).crossJoin(checks)
      .select($"n_queries",
        ($"n_served" === $"n_queries").as("all_answered"),
        $"serve_exact", $"audit_nonempty")
  }

  /** The audit-slice witness, COMPUTED: DuckDB
    * reproduces "the audit audited something" from the slice
    * predicates instead of pinning a literal, so the oracle matches
    * the engine's honest `false` on degenerate corpora too. (The
    * residual gap — a nonempty slice whose every query has zero live
    * probe-cell candidates — cannot arise on the priced or degenerate
    * fixtures; the theorem columns stay pinned/vacuous-true.) */
  private val ivfAuditNonemptySql =
    "(SELECT count(*) FROM embeddings WHERE vec_id % 7 = 3 AND vec_id % 5 = 0 AND vec_id < 2500) > 0"

  val ivfServeSql: String =
    s"""SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 3) AS n_queries,
      |  true AS all_answered, true AS serve_exact,
      |  $ivfAuditNonemptySql AS audit_nonempty""".stripMargin

  /** q58 as a SELF-VALIDATING query (centroids are data-dependent, so
    * the oracle pins the index's THEOREMS, the q19/q56/q57 pattern):
    *  - `n_points`/`n_sample`: every vector (and every sampled query)
    *    gets an answer — counts DuckDB reproduces independently;
    *  - rerank-exactness: on the audit sample, the cell-join answer
    *    must EQUAL a brute-force scan restricted to the same probed
    *    cells, computed through a different plan (all-pairs + filter
    *    instead of equi-join on cell) — this catches candidate loss
    *    in the explode/join/window path;
    *  - recall@1 vs the UNRESTRICTED brute force ≥ 0.5 on the sample
    *    (nprobe=4 of 16 cells; measured 0.63 at sf0.01, 0.53 at
    *    sf0.1 — the pin is the floor the index must clear, the exact
    *    figure lives in ExpressionsSpec).
    * The audit sample is CAPPED ABSOLUTELY (vec_id % 5 = 0 AND
    * vec_id < 2500 → ≤ 500 query points), so the brute-force audit
    * is O(500·n) — linear in the corpus, never the O(n²/5) an
    * uncapped fraction sample would plan at scale. `all_answered`
    * pins that no sampled point was dropped by the audit joins (true
    * iff every sampled vector has ≥1 candidate in its probed cells —
    * a REAL failure of the index if it ever goes false, not a
    * harness artifact). The full IVF pipeline (train, assign,
    * multi-probe, re-rank) runs unchanged underneath. */
  def ivfNnValidated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ivfNnAudited(s, dir)
      .select($"n_points", $"n_sample",
        ($"n_answered" === $"n_sample").as("all_answered"),
        $"rerank_exact", ($"recall" >= 0.5).as("recall_ok"))
  }

  /** The q58 audit with recall@1 exposed as a NUMBER (and the raw
    * answered count): [[ivfNnValidated]] derives its pinned booleans
    * from this; [[graft.IvfProbe]] sweeps conf geometries over it so
    * auto-sizing rules are chosen from measured recall/cost curves,
    * not guessed. */
  private[graft] def ivfNnAudited(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cent = trainCentroids(s, dir)
    val sampled = (c: Column) => c % 5 === 0 && c < 2500
    // ONE materialized index feeds everything: the NN query's two join
    // sides AND both audit sides read the checkpointed assignment
    // blocks (the 16-cosine cell/probe projection runs once per
    // vector, not once per consumer); the IVF ANSWER is checkpointed
    // too because the n_points count and the audit join both consume
    // it
    val assigned = ivfAssigned(s, dir, cent)
    val ivf = ivfNnFrom(assigned).reliableCheckpoint()
    val nPoints = ivf.agg(count(lit(1)).as("n_points"))
    val nSample = assigned.filter(sampled($"vec_id"))
      .agg(count(lit(1)).as("n_sample"))
    val a = assigned.select($"vec_id".as("id_a"), $"embedding".as("emb_a"),
        $"probe_cells")
      .filter(sampled($"id_a"))
    val b = assigned.select($"vec_id".as("id_b"), $"embedding".as("emb_b"),
      $"cell".as("cell_b"))
    // ONE pass over the audit pairs computes both brute-force answers:
    // unrestricted (`bf`) and probed-cells-restricted (`r`) argmaxes as
    // conditional lexicographic struct maxes (Max skips the null the
    // `when` yields off-cell) — the old two-window formulation executed
    // the 500×n pair join twice and sorted it twice. Tie order matches
    // the q58 contract (cosine DESC, id_b ASC) via the -id_b field;
    // `r` is null iff no candidate lies in the probed cells.
    val pairStats = a.join(b, $"id_a" =!= $"id_b")
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .groupBy($"id_a")
      .agg(
        max(struct($"cosine", (-$"id_b").as("neg_id"), $"id_b".as("id"))).as("bf"),
        max(when(array_contains($"probe_cells", $"cell_b"),
          struct($"cosine", (-$"id_b").as("neg_id"), $"id_b".as("id")))).as("r"))
    val checks = ivf.filter(sampled($"id_a"))
      .join(pairStats, Seq("id_a"))
      .agg(
        count(when($"r".isNotNull, lit(1))).as("n_answered"),
        min(coalesce($"nearest_id" === $"r.id" && $"cosine" === $"r.cosine",
          lit(false))).as("rerank_exact"),
        avg(when($"nearest_id" === $"bf.id" || $"cosine" === $"bf.cosine", 1.0)
          .otherwise(0.0)).as("recall"))
    nPoints.crossJoin(nSample).crossJoin(checks)
  }

  val ivfNnValidatedSql: String =
    """SELECT (SELECT count(*) FROM embeddings) AS n_points,
      |  (SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 2500) AS n_sample,
      |  true AS all_answered, true AS rerank_exact, true AS recall_ok""".stripMargin

  /** Generator/explode surface (SURVEY §2.10 UDTF note): per-dimension
    * corpus statistics via posexplode of the embedding arrays —
    * the only array-typed fixture column. Map-side explode feeding a
    * 64-group aggregate; no wide shuffle (rows shrink to (dim, value)
    * pairs before the exchange). */
  def embeddingDimStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select(posexplode($"embedding"))
      .toDF("dim", "v")
      .groupBy(($"dim" + 1).cast("long").as("dim"))
      .agg(round(avg($"v".cast("double")), 6).as("avg_v"),
        round(min($"v".cast("double")), 6).as("min_v"),
        round(max($"v".cast("double")), 6).as("max_v"),
        count(lit(1)).as("n"))
      .domainOrdered($"dim")
  }

  val embeddingDimStatsSql: String =
    """SELECT i AS dim,
      |  round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS avg_v,
      |  round(min(CAST(embedding[i] AS DOUBLE)), 6) AS min_v,
      |  round(max(CAST(embedding[i] AS DOUBLE)), 6) AS max_v,
      |  count(*) AS n
      |FROM embeddings, range(1, 65) t(i)
      |GROUP BY i ORDER BY dim""".stripMargin

  /** q76: INT8 embedding QUANTIZATION — the storage-compression step
    * of an embedding pipeline (4× smaller vectors; ANN candidate
    * generation then runs over int8 with exact re-rank on the fp32
    * originals). Per-vector max-abs scaling, symmetric round-half-up
    * (`floor(x·127/m + 0.5)` — floor is exact in both engines, unlike
    * round() on .5 midpoints), and an in-query reconstruction-error
    * bound |x − q·m/127| ≤ (m/127)/2 + ε that both engines compute
    * from identical IEEE doubles (floats widen exactly). The int
    * vector itself is emitted as a rolling-hash fingerprint — scalar
    * output hashes cross-engine; a list column would not. Stateless
    * map-side op: no shuffle at any scale. */
  def quantizeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select($"vec_id", $"label", $"embedding")
      .orderBy($"vec_id") // sort-before-project: see TextQueries.tokenStats
      .withColumn("e", transform($"embedding", x => x.cast("double")))
      .withColumn("m", array_max(transform($"e", x => abs(x))))
      .withColumn("qv",
        when($"m" === 0, transform($"e", _ => lit(0L)))
          .otherwise(transform($"e", x => floor(x * 127 / $"m" + 0.5).cast("long"))))
      .select($"vec_id", $"label",
        size($"qv").cast("long").as("n_dims"),
        aggregate($"qv", lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L).as("qfp"),
        when($"m" === 0, lit(true))
          .otherwise(
            array_max(zip_with($"e", $"qv", (x, q) => abs(x - q * $"m" / 127)))
              <= $"m" / 127 * 0.5 + 1e-9).as("recon_ok"))
  }

  val quantizeEmbeddingsSql: String =
    """WITH base AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e,
      |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS m
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, label, e, m,
      |    CASE WHEN m = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
      |         ELSE list_transform(e, x -> CAST(floor(x * 127 / m + 0.5) AS BIGINT))
      |    END AS qv
      |  FROM base)
      |SELECT vec_id, label, len(qv) AS n_dims,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS qfp,
      |  CASE WHEN m = 0 THEN true
      |       ELSE list_max(list_transform(range(1, len(e) + 1),
      |              i -> abs(e[i] - qv[i] * m / 127))) <= m / 127 * 0.5 + 1e-9
      |  END AS recon_ok
      |FROM q ORDER BY vec_id""".stripMargin

  /** q89: distributed PCA over the embedding corpus — the dimension-
    * reduction step an embedding pipeline runs before storage/ANN
    * (project d=64 → k=8 principal directions). The heavy part —
    * covariance accumulation — is MLlib's distributed Gramian
    * (one pass, tree-aggregated, O(d²) state per task, never O(n));
    * the d×d eigendecomposition happens on the driver (64×64 — a
    * constant-size step at ANY corpus scale, like the IVF trainer),
    * and the projection back over the corpus is a pure column
    * expression against the literal component matrix (codegen'd, no
    * broadcast state).
    *
    * SELF-VALIDATING (the q58 pattern — components are data-derived
    * floating-point, so the oracle pins THEOREMS + reproducible
    * counts):
    *  - `components_orthonormal`: WᵀW = I within 1e-6 (exact property
    *    of any correct PCA basis; checked driver-side on the 8×8
    *    Gram of the returned components);
    *  - `var_bounded`: projected variance ≤ total variance + ulp
    *    slack (projections onto an orthonormal basis can never
    *    create variance);
    *  - `explained_frac_ok`: top-8-of-64 directions explain ≥ 10% of
    *    total variance (8/64 = 12.5% is the uniform floor — any
    *    correct PCA meets it since it takes the LARGEST directions;
    *    margin covers fp jitter). */
  def pcaValidated(s: SparkSession, dir: String): DataFrame =
    pcaValidatedOver(Tables.embeddings(s, dir).select(col("embedding")))

  /** The q89 pipeline over any single-column `embedding: array<float>`
    * frame — injectable for the planted-subspace spec (the fixture's
    * near-isotropic embeddings exercise the theorems but not the
    * "PCA actually concentrates variance" behavior; a spec plants a
    * low-rank corpus and asserts explained variance ≈ 1). */
  /** Distributed PCA fit over a single-column `embedding` frame:
    * mean + principal components via MLlib RowMatrix (one-pass
    * tree-aggregated Gramian, O(d²) per task; d×d eigendecomposition
    * driver-side — constant-size at any corpus scale). Returns
    * (mean, components), components as k rows of length d. Shared by
    * q89 (validated artifact) and q91 (the ANN pipeline stage). */
  private[graft] def fitPca(emb: DataFrame, k: Int): (Array[Double], Array[Array[Double]]) = {
    val rows = emb.rdd.map { r =>
      org.apache.spark.mllib.linalg.Vectors.dense(
        r.getSeq[Float](0).map(_.toDouble).toArray)
    }
    val mat = new org.apache.spark.mllib.linalg.distributed.RowMatrix(rows)
    val dim = mat.numCols().toInt
    val pc = mat.computePrincipalComponents(k) // dim × k, driver-side eig of d×d
    val comps: Array[Array[Double]] =
      Array.tabulate(k)(j => Array.tabulate(dim)(i => pc(i, j)))
    val mean = mat.computeColumnSummaryStatistics().mean.toArray
    (mean, comps)
  }

  /** Projection coordinates z_j = (x − mean)·w_j — element views over
    * the fused one-pass [[graft.functions.PcaProjectExpr]] (a
    * per-coordinate aggregate/zip_with composition would walk the
    * embedding through interpreted lambdas once per coordinate — 8×
    * per row, the dominant per-row cost of q89/q91/q93; the fused
    * expression is fuzz-pinned bit-identical, null and length
    * asymmetries included). Whole-stage codegen's subexpression
    * elimination evaluates the shared array once per row across the
    * k element_at views. */
  private def pcaCoords(s: SparkSession, mean: Array[Double],
      comps: Array[Array[Double]]): Seq[Column] = {
    val z = graft.functions.expressions.pca_project(col("embedding"), mean, comps)
    comps.indices.map(j => element_at(z, j + 1))
  }

  private[graft] def pcaValidatedOver(embIn: DataFrame): DataFrame = {
    val s = embIn.sparkSession
    import s.implicits._
    val k = 8
    // a NULL embedding would NPE the RowMatrix conversion and has no
    // place in either the covariance or the variance totals
    val emb = embIn.na.drop()
    val (mean, comps) = fitPca(emb, k)
    val dim = mean.length
    // driver-side theorem: the basis is orthonormal (8×8 Gram ≈ I)
    val orthonormal = (0 until k).forall { a =>
      (a until k).forall { b =>
        val d0 = comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum
        math.abs(d0 - (if (a == b) 1.0 else 0.0)) < 1e-6
      }
    }
    // corpus-side: variance totals under the centered projection —
    // one fused pass (norm + k coords); see [[pcaCoords]]
    val zz = graft.functions.expressions.pca_project(
      $"embedding", mean, comps, withNormSq = true)
    val totalSq = element_at(zz, 1)
    val projSq = (0 until k)
      .map(j => element_at(zz, j + 2) * element_at(zz, j + 2)).reduce(_ + _)
    emb.agg(count(lit(1)).as("n_vectors"),
        sum(totalSq).as("tot"), sum(projSq).as("proj"))
      .select($"n_vectors", lit(dim).cast("long").as("dim"), lit(k).cast("long").as("k"),
        lit(orthonormal).as("components_orthonormal"),
        ($"proj" <= $"tot" * 1.000001).as("var_bounded"),
        ($"proj" >= $"tot" * 0.10).as("explained_frac_ok"))
  }

  // count matches the Spark side's na.drop (null embeddings are
  // excluded from the fit and the variance totals)
  val pcaValidatedSql: String =
    """SELECT count(*) AS n_vectors,
      |  (SELECT CAST(max(len(embedding)) AS BIGINT) FROM embeddings) AS dim,
      |  CAST(8 AS BIGINT) AS k,
      |  true AS components_orthonormal, true AS var_bounded,
      |  true AS explained_frac_ok
      |FROM embeddings WHERE embedding IS NOT NULL""".stripMargin

  /** q91: PCA AS A PIPELINE STAGE — near-dup pair candidates from the
    * SIGNS of the top-8 principal coordinates (q89 composed into the
    * ANN path). The PCA axes are DATA-ADAPTED LSH
    * hyperplanes: where q54's random hyperplanes split the corpus
    * blindly, the principal directions split along maximum variance,
    * so sign agreement concentrates genuinely-near vectors. Banding
    * (default 4 bands × 4 sign bits → 16 buckets per band, candidate
    * if ANY band matches) is the standard OR-amplification that buys
    * recall back from single-band bit sampling; at corpus scale the
    * knobs grow with n (more bits per band → smaller buckets, more
    * bands → recall), which is exactly how production MinHash/SimHash
    * banding is tuned (q43/q44 document the same tradeoff). The
    * geometry is [[PcaAnnBands]] × [[PcaAnnBits]] over a prefix-stable
    * band sequence ([[bandCoordSets]]), so recall is provably
    * non-decreasing in `bands` at fixed `bits`.
    *
    * Plan shape: one corpus pass computes both band keys as literal
    * column arithmetic (no broadcast state), candidates come from two
    * band-keyed equi-joins (the explode), re-rank is the exact
    * full-dimension cosine, and `distinct` collapses cross-band
    * duplicates AFTER the threshold filter (≤ 2 cosine evaluations
    * per pair beats re-joining embeddings by id).
    *
    * SELF-VALIDATING (q58 pattern — components are data-derived fp,
    * so the oracle pins theorems + INDEPENDENTLY-REPRODUCIBLE counts):
    * `n_sample_pairs` is the exhaustive full-dimension near-dup count
    * on the absolutely-capped audit sample (vec_id % 5 = 0 AND
    * vec_id < 2500, the q58 cap) — DuckDB recomputes it exactly, so
    * the threshold arithmetic is hash-verified cross-engine;
    * `recall_ok` pins that the PCA-sign index finds ≥ 1/3 of those
    * pairs. The floor is deliberately boundary-honest: EVERY fixture
    * sample pair sits at cosine 0.40–0.51, the worst case for sign
    * LSH (per-bit agreement ≈ 1 − θ/π ≈ 0.63 at the threshold, so a
    * 4-bit-band match ≈ 0.16 and 4 correlated bands land ≈ 0.3–0.5 —
    * measured 0.75 at sf0.01, 0.46 at sf0.1, deterministic). Recall
    * rises steeply with cosine and reaches 1.0 for exact copies (all
    * signs equal ⇒ same bucket in every band — the planted-dup spec
    * pins it), which is the regime an actual dedup pass cares about;
    * at the loose end a production index simply spends more bands. */
  def pcaAnnPairs(s: SparkSession, dir: String): DataFrame =
    pcaAnnPairsOver(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))

  /** q91 band geometry: 4 bands of 4 sign bits over the 8 principal
    * coordinates. `bands` is the recall side (candidates only grow as
    * bands are appended; see [[bandCoordSets]]), `bits` the
    * selectivity side (2^bits buckets per band). */
  private[graft] val PcaAnnBands = 4
  private[graft] val PcaAnnBits = 4

  /** The first `bands` entries of a FIXED infinite band sequence over
    * k coordinates: the floor(k/bits) disjoint chunks first, then for
    * stride = 2, 3, … every offset's strided interleave. Because band
    * i's definition never depends on `bands`, the sequence is
    * PREFIX-STABLE: bandCoordSets(k, B+1, b) extends
    * bandCoordSets(k, B, b), so the q91 candidate set (union over
    * bands of bucket mates) is monotone non-decreasing in `bands` —
    * recall can only rise, the theorem the geometry fuzz pins.
    * Strides with gcd(stride, k) > 1 can repeat a coordinate inside a
    * deep band (effective bits shrink — a weaker, never incorrect
    * band); the re-rank keeps every emitted pair exact regardless. */
  private[graft] def bandCoordSets(k: Int, bands: Int, bits: Int): Seq[Seq[Int]] = {
    val disjoint = (0 until k / bits).iterator
      .map(i => Seq.tabulate(bits)(j => i * bits + j))
    val strided = Iterator.from(2).flatMap(stride =>
      (0 until stride).iterator.map(o => Seq.tabulate(bits)(j => (o + j * stride) % k)))
    (disjoint ++ strided).take(bands).toSeq
  }

  /** q91 internals: (candidate-generated near-dup pairs, exhaustive
    * full-dimension sample ground truth) — split out so specs can
    * measure recall directly (the number the report folds into its
    * boolean) and at other band geometries. */
  private[graft] def pcaAnnInternals(embIn: DataFrame, nBands: Int = PcaAnnBands,
      nBits: Int = PcaAnnBits): (DataFrame, DataFrame) = {
    val s = embIn.sparkSession
    import s.implicits._
    val k = 8
    val emb = embIn.na.drop()
    val (mean, comps) = fitPca(emb.select($"embedding"), k)
    val signBits = pcaCoords(s, mean, comps).map(z => when(z >= 0, 1).otherwise(0))
    // bands × bits sign-bit bands over the 8 principal coordinates:
    // disjoint chunks first, then strided interleaves. Interleaved
    // bands reuse bits, so they are correlated with the disjoint ones
    // — weaker than independent bands but strictly more recall per
    // band added (a pair is a candidate iff SOME band agrees on all
    // of its signs, and the band sequence is prefix-stable, so the
    // candidate set only grows with `bands` — the monotonicity
    // theorem ExpressionsSpec fuzzes). "Spend more bands" is the
    // documented production answer at a hostile cosine boundary.
    val bandCoords = bandCoordSets(k, nBands, nBits)
    def bandKey(b: Int): Column =
      bandCoords(b).zipWithIndex
        .map { case (c, i) => signBits(c) * lit(1 << i) }.reduce(_ + _)
    val bands = emb.select($"vec_id", $"embedding",
        explode(array(bandCoords.indices.map(b =>
          struct(lit(b).as("band"), bandKey(b).as("key"))): _*)).as("bk"))
      .select($"vec_id", $"embedding", $"bk.band".as("band"), $"bk.key".as("key"))
    val aSide = bands.select($"vec_id".as("id_a"), $"embedding".as("emb_a"), $"band", $"key")
    val bSide = bands.select($"vec_id".as("id_b"), $"embedding".as("emb_b"), $"band", $"key")
    // band-keyed equi-join only — never an all-pairs product
    val pairs = aSide.join(bSide, Seq("band", "key"))
      .filter($"id_b" > $"id_a")
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .filter($"cosine" >= 0.4)
      .select($"id_a", $"id_b", $"cosine")
      .distinct()
      .reliableCheckpoint() // consumed by the structural AND recall checks
    val sampled = (c: Column) => c % 5 === 0 && c < 2500
    val sa = emb.filter(sampled($"vec_id"))
      .select($"vec_id".as("id_a"), $"embedding".as("emb_a"))
    val sb = emb.filter(sampled($"vec_id"))
      .select($"vec_id".as("id_b"), $"embedding".as("emb_b"))
    // exhaustive full-dimension ground truth on the capped sample:
    // O(|sample|²) ≤ 500² pairs at ANY corpus size
    val samplePairs = sa.join(sb, $"id_b" > $"id_a")
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .filter($"cosine" >= 0.4)
      .select($"id_a", $"id_b")
    (pairs, samplePairs)
  }

  /** PCA model persistence: fit once, store (mean, components) as a
    * stamped one-row table, and project any embedding frame through
    * the STORED model without refitting. Doubles round-trip parquet
    * exactly, so stored-model projections are bit-identical to
    * fresh-fit ones (PcaModelSpec pins it). */
  def buildPcaModel(s: SparkSession, dir: String, table: String, k: Int = 8): Unit = {
    import s.implicits._
    val (mean, comps) = fitPca(
      Tables.embeddings(s, dir).select($"embedding").na.drop(), k)
    Seq((mean.toSeq, comps.map(_.toSeq).toSeq)).toDF("mean", "components")
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    Artifacts.stamp(s, table, Artifacts.embeddings(s, dir))
  }

  private[graft] def loadPcaModel(s: SparkSession,
      table: String): (Array[Double], Array[Array[Double]]) = {
    val r = s.table(table).head()
    // inner rows come back as mutable ArraySeq — type them as the
    // collection.Seq supertype or the element map ClassCastExceptions
    (r.getSeq[Double](0).toArray,
      r.getSeq[scala.collection.Seq[Double]](1).map(_.toArray).toArray)
  }

  /** Apply step: append the k projection coordinates (column `z`,
    * array<double>) to an embedding frame using a stored model —
    * codegen'd literal-matrix arithmetic, no refit, no broadcast. */
  def pcaProjected(s: SparkSession, modelTable: String, emb: DataFrame): DataFrame = {
    val (mean, comps) = loadPcaModel(s, modelTable)
    emb.withColumn("z", array(pcaCoords(s, mean, comps): _*))
  }

  /** [[pcaProjected]] with the read-side freshness gate: verifies the
    * model's stamped source fingerprint against `sourceDir` and fails
    * loudly on mismatch (the production entry point — same contract
    * as the verifying [[ivfNnFromIndex]]). */
  def pcaProjected(s: SparkSession, modelTable: String, emb: DataFrame,
      sourceDir: String): DataFrame = {
    Artifacts.requireFresh(s, modelTable, Artifacts.embeddings(s, sourceDir),
      sourceDir, "PCA model")
    pcaProjected(s, modelTable, emb)
  }

  /** q93: the PERSISTED-MODEL LIFECYCLE as a driver-verified row
    * (q92's PCA sibling) — [[buildPcaModel]] once per dataset through
    * the q92 gate, project the corpus through the STORED model via
    * [[pcaProjected]], and pin in the emitted row:
    *  - `n_vectors` / `k` / `dim`: DuckDB-reproducible shape counts
    *    (the q89 pattern);
    *  - `stored_matches_fresh`: stored-model projections are
    *    BIT-IDENTICAL to a fresh in-session fit's (doubles round-trip
    *    parquet exactly; symmetric exceptAll over the z arrays) — the
    *    PcaModelSpec byte-identity, now oracle-checked;
    *  - `var_bounded`: the q89 energy theorem holds THROUGH the
    *    stored artifact — Σ‖z‖² ≤ Σ‖x − mean‖² with mean and
    *    components read back from the table, so a corrupted or
    *    mis-round-tripped model fails the row. */
  def pcaStoredProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    val tbl = Artifacts.name("pca_q93", dir)
    Artifacts.ensure(s, Seq(tbl), tbl, Artifacts.embeddings(s, dir))(
      buildPcaModel(s, dir, tbl, k))
    // select-then-drop: only the columns the projection needs decide
    // null-exclusion (and label never reaches the scan)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")).na.drop()
    val proj = pcaProjected(s, tbl, emb).select($"vec_id", $"z")
    // fresh fit over the SAME frame buildPcaModel fits (all non-null
    // embeddings, vec_id irrelevant to the fit) so stored vs fresh
    // compares models trained on identical inputs
    val (meanF, compsF) =
      fitPca(Tables.embeddings(s, dir).select($"embedding").na.drop(), k)
    val fresh = emb.select($"vec_id", array(pcaCoords(s, meanF, compsF): _*).as("z"))
    val nDiff = proj.exceptAll(fresh).union(fresh.exceptAll(proj)).count()
    val (mean, _) = loadPcaModel(s, tbl)
    // norm-only fused pass (empty component matrix) — see pcaCoords
    val totalSq = element_at(graft.functions.expressions.pca_project(
      $"embedding", mean, Array.empty, withNormSq = true), 1)
    val zSq = aggregate($"z", lit(0.0), (acc, x) => acc + x * x)
    pcaProjected(s, tbl, emb)
      .agg(count(lit(1)).as("n_vectors"),
        sum(zSq).as("proj"), sum(totalSq).as("tot"))
      .select($"n_vectors",
        lit(k).cast("long").as("k"),
        lit(mean.length).cast("long").as("dim"),
        lit(nDiff == 0).as("stored_matches_fresh"),
        ($"proj" <= $"tot" * 1.000001).as("var_bounded"))
  }

  // count matches the Spark side's select-then-na.drop (rows with a
  // null vec_id or embedding are excluded from the projection)
  val pcaStoredProjectionSql: String =
    """SELECT count(*) AS n_vectors, CAST(8 AS BIGINT) AS k,
      |  (SELECT CAST(max(len(embedding)) AS BIGINT) FROM embeddings) AS dim,
      |  true AS stored_matches_fresh, true AS var_bounded
      |FROM embeddings
      |WHERE vec_id IS NOT NULL AND embedding IS NOT NULL""".stripMargin

  /** Build side of the PERSISTED SKETCH lifecycle: one HLL register
    * array per source over distinct text fingerprints, stored with the
    * source-snapshot stamp (the q92/q93 discipline). At 100 TB these
    * are the per-partition/per-day sketches a pipeline stores so that
    * "how many distinct documents across sources X, Y, any date range"
    * is answered by merging kilobyte register arrays — never by
    * re-scanning raw data. */
  def buildDocSketches(s: SparkSession, dir: String, table: String): Unit = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"source")
      .agg(graft.functions.HllSketch.hll_sketch(
        TextQueries.fingerprint($"text")).as("sketch"))
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    Artifacts.stamp(s, table, Artifacts.documents(s, dir))
  }

  /** Query side: distinct-document estimate from STORED sketches
    * alone. The `sourceDir` form is the verifying read
    * ([[graft.Artifacts.requireFresh]]); the raw form is for callers
    * that just established freshness. */
  def docDistinctFromSketches(s: SparkSession, table: String, sourceDir: String): DataFrame = {
    Artifacts.requireFresh(s, table, Artifacts.documents(s, sourceDir), sourceDir,
      "HLL sketch table")
    docDistinctFromSketches(s, table)
  }

  def docDistinctFromSketches(s: SparkSession, table: String): DataFrame = {
    import s.implicits._
    s.table(table)
      .agg(graft.functions.HllSketch.hll_union_distinct($"sketch").as("est_distinct"))
  }

  /** q96: the PERSISTED-SKETCH LIFECYCLE as a driver-verified row —
    * [[buildDocSketches]] once per dataset (build-if-absent-or-stale,
    * the q92 gate), answer the corpus distinct-document question from
    * the STORED sketches, and pin in the emitted row:
    *  - `n_sources` / `sketch_bytes` / `exact_distinct`: shape counts
    *    DuckDB reproduces independently (exact distinct via the shared
    *    codepoint fingerprint — ONE definition each side);
    *  - `merge_exact`: union-of-stored EQUALS the one-pass direct
    *    sketch — the register max is associative/commutative/
    *    idempotent and per-source grouping partitions the corpus, so
    *    the merged registers are BIT-identical to a single scan's
    *    (the property that makes stored sketches trustworthy at all);
    *  - `err_bounded`: the estimate lands within 3σ (3·1.04/√2048 ≈
    *    6.9%, +2 absolute slack for tiny corpora) of the true count —
    *    the q19 tolerance discipline, here THROUGH the artifact.
    * Validation-priced like q92/q93 (direct sketch + exact distinct
    * exist only to verify; production consumers pay one merge of
    * n_sources × 2 KB register arrays). */
  def hllStoredUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("hll_q96", dir)
    Artifacts.ensure(s, Seq(tbl), tbl, Artifacts.documents(s, dir))(
      buildDocSketches(s, dir, tbl))
    val fp = TextQueries.fingerprint($"text")
    val stored = s.table(tbl).agg(
      graft.functions.HllSketch.hll_union_distinct($"sketch").as("est_stored"),
      count(lit(1)).as("n_sources"),
      // empty store (empty corpus): no sketch rows, so 0 bytes — the
      // coalesces keep the row honest instead of NULL (degenerate-corpus gate)
      coalesce(max(length($"sketch")).cast("long"), lit(0L)).as("sketch_bytes"))
    val direct = Tables.documents(s, dir).agg(
      graft.functions.HllSketch.hll_distinct(fp).as("est_direct"),
      countDistinct(fp).as("exact_distinct"))
    stored.crossJoin(direct).select(
      $"n_sources", $"sketch_bytes", $"exact_distinct",
      coalesce($"est_stored" === $"est_direct", lit(true)).as("merge_exact"),
      coalesce(abs($"est_stored" - $"exact_distinct") <=
        $"exact_distinct" * 0.069 + 2.0, lit(true)).as("err_bounded"))
  }

  // n_sources counts GROUPS, so a NULL source is one more group —
  // count(DISTINCT source) alone would exclude it. The
  // Spark side deliberately keeps the null group: dropping it would
  // break merge_exact (per-source sketches must PARTITION the corpus
  // for union-of-stored ≡ one-pass).
  lazy val hllStoredUnionSql: String =
    s"""SELECT CAST(count(DISTINCT source)
       |    + coalesce(max(CASE WHEN source IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
       |    AS n_sources,
       |  CAST(CASE WHEN count(*) = 0 THEN 0 ELSE 2048 END AS BIGINT) AS sketch_bytes,
       |  CAST(count(DISTINCT ${TextQueries.fingerprintSql("text")}) AS BIGINT)
       |    AS exact_distinct,
       |  true AS merge_exact, true AS err_bounded
       |FROM documents""".stripMargin

  /** The q91 pipeline over any (vec_id, embedding) frame — injectable
    * so planted exact-copy recall has a spec (non-vacuous-spec rule). */
  private[graft] def pcaAnnPairsOver(embIn: DataFrame): DataFrame = {
    val s = embIn.sparkSession
    import s.implicits._
    val k = 8
    val emb = embIn.na.drop()
    val (pairs, samplePairs) = pcaAnnInternals(embIn)
    val audit = samplePairs
      .join(pairs.select($"id_a", $"id_b", lit(1).as("hit")), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_sample_pairs"), count($"hit").as("n_recalled"))
    val structural = pairs.agg(
      coalesce(expr("bool_and(id_a < id_b)"), lit(true)).as("all_ordered"),
      (count(lit(1)) === countDistinct($"id_a", $"id_b")).as("no_dup_pairs"),
      coalesce(expr("bool_and(cosine >= 0.4 AND cosine <= 1.0)"), lit(true))
        .as("cosine_in_range"))
    emb.agg(count(lit(1)).as("n_vectors")).crossJoin(structural).crossJoin(audit)
      .select($"n_vectors", lit(k).cast("long").as("k"), $"n_sample_pairs",
        $"all_ordered", $"no_dup_pairs", $"cosine_in_range",
        // recall floor (≥ 1/3, boundary-honest — see Scaladoc):
        // vacuously true on a sample with no near-dups
        ($"n_recalled" * 3 >= $"n_sample_pairs").as("recall_ok"))
  }

  val pcaAnnPairsSql: String =
    """SELECT (SELECT count(*) FROM embeddings) AS n_vectors,
      |  CAST(8 AS BIGINT) AS k,
      |  (SELECT count(*) FROM embeddings a JOIN embeddings b
      |     ON b.vec_id > a.vec_id
      |    AND a.vec_id % 5 = 0 AND a.vec_id < 2500
      |    AND b.vec_id % 5 = 0 AND b.vec_id < 2500
      |   WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
      |           b.embedding::DOUBLE[]), 6) >= 0.4) AS n_sample_pairs,
      |  true AS all_ordered, true AS no_dup_pairs, true AS cosine_in_range,
      |  true AS recall_ok""".stripMargin

  // ---- q140: product quantization (PQ) ANN ------------------------

  /** PQ geometry: M subspaces × K' centroids each. The 64-dim fixture
    * embeddings split into 8 subspaces of 8 dims with 16 codes each,
    * so a vector compresses to 8 bytes (32× over float32), the
    * Jégou/Douze/Schmid "Product Quantization for Nearest Neighbor
    * Search" layout. Measured on the fixture's near-isotropic random
    * embeddings (PQ's worst case) at sf0.1: m=4 → 66% audit recall at
    * rerank 256; m=8 → 90%; m=16 → 95% at rerank 128 but ~3× the
    * encode cost. */
  private val PqM = 8
  private val PqK = 16
  /** ADC keeps this many candidates per query for the exact re-rank,
    * the recall side (FAISS's `k_factor`): on near-isotropic data the
    * short code is a coarse sieve. Measured at sf0.1 with m=8: depth
    * 64 → 57.5% top-1 audit recall, 128 → 73.8%, 256 → 90.0%. */
  private val PqRerank = 256

  /** Driver-side per-subspace L2 k-means over the bounded trainer
    * sample (the q58 discipline: ≤256 vectors, deterministic init =
    * first K' subvectors, 5 Lloyd iterations, empty clusters keep
    * their previous centroid). Constant driver state:
    * M·K'·(dim/M) doubles. */
  private[graft] def pqCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    import s.implicits._
    val sample: Array[Array[Float]] = Tables.embeddings(s, dir)
      .filter($"vec_id" < 256).orderBy($"vec_id")
      .select($"embedding").as[Array[Float]].collect()
    require(sample.nonEmpty,
      "cannot train PQ codebooks on an empty embeddings corpus")
    // DEGRADE, don't refuse (degenerate-corpus gate): a sub-K' corpus
    // trains min(K', n) codewords per subspace — codes simply range
    // over fewer values; every real SF has n >= 256 so kp == K'
    // wherever an oracle prices this
    val kp = math.min(PqK, sample.length)
    val dim = sample.head.length
    require(dim % PqM == 0, s"embedding dim $dim not divisible by M=$PqM")
    val sub = dim / PqM
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    Array.tabulate(PqM) { m =>
      val pts = sample.map(v => Array.tabulate(sub)(i => v(m * sub + i).toDouble))
      var cent = pts.take(kp).map(_.clone)
      for (_ <- 0 until 5) {
        val sums = Array.fill(kp)(new Array[Double](sub))
        val cnt = new Array[Int](kp)
        pts.foreach { p =>
          val c = (0 until kp).minBy(j => sq(cent(j), p)) // first-min tie rule
          var i = 0; while (i < sub) { sums(c)(i) += p(i); i += 1 }
          cnt(c) += 1
        }
        cent = Array.tabulate(kp)(j =>
          if (cnt(j) == 0) cent(j) else sums(j).map(_ / cnt(j)))
      }
      cent
    }
  }

  /** Scala reference encoder with the IDENTICAL arithmetic order —
    * the cross-implementation check behind `codes_match_model`. */
  private[graft] def pqEncodeModel(cb: Array[Array[Array[Double]]], v: Array[Float]): Array[Int] =
    Array.tabulate(cb.length) { m =>
      val sub = cb(m)(0).length
      val scores = cb(m).indices.map { j =>
        val c = cb(m)(j)
        var dot = 0.0
        var i = 0; while (i < sub) { dot += v(m * sub + i).toDouble * c(i); i += 1 }
        -2.0 * dot + c.map(x => x * x).sum
      }
      scores.indexOf(scores.min) + 1
    }

  /** q140: PRODUCT-QUANTIZATION ANN — the memory-side compression
    * companion to IVF's candidate-side pruning (q58/q92/q116): the
    * corpus is encoded to M small codes per vector (4 bytes here vs
    * 256 for the float32 embedding), and a query is answered by
    * ASYMMETRIC DISTANCE COMPUTATION — one 16-entry lookup table per
    * subspace built once per query, then every corpus code scores
    * with M `element_at`s + adds instead of a dim-length float dot.
    * At 100 TB this is what fits an index in RAM: the scan side
    * never touches raw vectors; only the PqRerank exact re-rank
    * reads them back by key.
    *
    * Self-validating (q92/q116 style — learned codebooks are not
    * SQL-reproducible, so the row carries theorems; the oracle pins
    * the slice count and the booleans):
    *  - `n_queries`: the deterministic query-slice size (vec_id % 25
    *    = 3, re-keyed out-of-corpus; DuckDB reproduces the count);
    *  - `all_answered`: every query produced a served row;
    *  - `codes_match_model`: the codegen'd encoder equals the Scala
    *    reference encoder on a 64-vector sample (bit-identical
    *    argmin arithmetic — catches expression/order bugs);
    *  - `recall_ok`: ADC top-PqRerank → exact re-rank recovers the
    *    true L2 top-1 (self excluded) for ≥ 60% of an absolutely
    *    capped audit slice (q_src < 5000 ⇒ ≤ 200 audits against the
    *    full corpus — O(200·n) like q116's);
    *  - `audit_nonempty`: the audit audited something. */
  def pqAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (nQueries, nServed, nAudited, nHit, codesOk) = pqStats(s, dir)
    Seq((nQueries, nServed == nQueries, codesOk,
        nAudited > 0 && nHit * 100L >= nAudited * 60L, nAudited > 0))
      .toDF("n_queries", "all_answered", "codes_match_model", "recall_ok",
        "audit_nonempty")
  }

  /** The q140 pipeline with its measurements exposed —
    * (n_queries, n_served, n_audited, n_audit_hits, codes_ok). */
  private[graft] def pqStats(s: SparkSession, dir: String): (Long, Long, Long, Long, Boolean) = {
    import s.implicits._
    val cb = pqCodebooks(s, dir)
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    // materialize once: the encode feeds BOTH the ADC scan and the
    // codes_match_model sample; without the checkpoint each report
    // action re-runs it. The encode itself is ONE fused expression
    // ([[graft.functions.PqEncodeExpr]]) — the former per-subspace
    // literal composition unrolled ~1k element_at terms into the
    // projection and blew Janino's 64 KB method limit, silently
    // dropping every PQ encode stage to interpreted execution.
    val codes = emb.select($"vec_id", pq_codes($"embedding", cb).as("codes"))
      .select((Seq($"vec_id") ++
        cb.indices.map(m => element_at($"codes", m + 1).as(s"code$m"))): _*)
      .reliableCheckpoint()

    // queries: deterministic out-of-corpus slice with per-query ADC
    // lookup tables ([[graft.functions.PqAdcTableExpr]] — one fused
    // pass for all M tables, one row per query; shared with q144's
    // stored-serving path). Two-phase select: the fused table is
    // materialized once and the m per-subspace aliases are derived
    // from it (CollapseProject keeps the split — the alias is
    // referenced M times).
    val queries = emb.filter($"vec_id" % 25 === 3)
      .select($"vec_id".as("q_src"), ($"vec_id" + 1000000L).as("q_id"),
        $"embedding".as("q_emb"), pq_adc_table($"embedding", cb).as("qt"))
      .select((Seq($"q_src", $"q_id", $"q_emb") ++
        cb.indices.map(m => element_at($"qt", m + 1).as(s"qt$m"))): _*)

    // ADC scan: M element_at lookups + adds per (query, code) pair
    val adc = codes.join(broadcast(queries), $"vec_id" =!= $"q_src")
      .withColumn("approx",
        cb.indices.map(m => element_at(col(s"qt$m"), col(s"code$m")))
          .reduce(_ + _))
      .groupBy($"q_id", $"q_src")
      .agg(graft.functions.TopKBy.top_k_by(-$"approx", $"vec_id", PqRerank).as("top"))
      .select($"q_id", $"q_src", explode($"top.tie").as("vec_id"))

    // exact re-rank of the PqRerank candidates (raw vectors read back
    // by key only here); squared_l2 is the codegen'd expression — the
    // HOF form ran interpreted per element and dominated the audit
    def sqL2(a: Column, b: Column): Column = squared_l2(a, b)
    val served = adc
      .join(emb, Seq("vec_id"))
      .join(broadcast(queries.select($"q_id", $"q_emb")), Seq("q_id"))
      .withColumn("d", sqL2($"embedding", $"q_emb"))
      .groupBy($"q_id", $"q_src")
      .agg(min(struct($"d", $"vec_id")).as("best"))
      .select($"q_id", $"q_src", $"best.vec_id".as("served_nn"))
      .reliableCheckpoint() // consumed by the audit join AND the count

    // audit: true L2 top-1 by brute force on the capped slice (the
    // query slice is q_src ≡ 3 mod 25, so cap by an absolute id
    // bound: ≤ 200 audited queries at any corpus size — O(200·n))
    val auditQ = queries.filter($"q_src" < 5000)
      .select($"q_id", $"q_emb")
    val exact = auditQ.join(emb, $"vec_id" =!= $"q_id" - 1000000L)
      .withColumn("d", sqL2($"embedding", $"q_emb"))
      .groupBy($"q_id").agg(min(struct($"d", $"vec_id")).as("best"))
      .select($"q_id", $"best.vec_id".as("exact_nn"))
    val audit = served.join(exact, Seq("q_id"))
      .agg(count(lit(1)).as("n_audited"),
        // coalesce: sum over ZERO audited rows is NULL (degenerate
        // corpora can have no query in the audit id range), and
        // getLong on it would throw (degenerate-corpus gate)
        coalesce(sum(when($"served_nn" === $"exact_nn", 1L).otherwise(0L)),
          lit(0L)).as("n_hit"))
      .head()
    val (nAudited, nHit) = (audit.getLong(0), audit.getLong(1))

    // codegen encoder == Scala reference encoder on a bounded sample
    val sampleRows = emb.filter($"vec_id" < 64)
      .join(codes, Seq("vec_id"))
      .select($"vec_id", $"embedding",
        array(cb.indices.map(m => col(s"code$m")): _*).as("cs"))
      .as[(Long, Array[Float], Array[Int])].collect()
    val codesOk = sampleRows.nonEmpty && sampleRows.forall { case (_, v, cs) =>
      pqEncodeModel(cb, v).sameElements(cs) }

    (queries.count(), served.count(), nAudited, nHit, codesOk)
  }

  val pqAnnSql: String = {
    // computed audit witness (the ivfAuditNonemptySql rationale);
    // recall_ok pins its ≥60% theorem exactly where the audit binds
    val nonempty =
      "(SELECT count(*) FROM embeddings WHERE vec_id % 25 = 3 AND vec_id < 5000) > 0"
    s"""SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 25 = 3) AS n_queries,
      |  true AS all_answered, true AS codes_match_model,
      |  $nonempty AS recall_ok, $nonempty AS audit_nonempty""".stripMargin
  }

  // ---- q144: IVF-PQ composed index (IVFADC serving) ----------------

  /** Build the COMPOSED index artifact: ONE bucketed table
    * `(vec_id, cell, code0..code{M-1})` — the PQ codes stored INSIDE
    * the IVF layout (the Jégou/Douze/Schmid IVFADC), bucketed by home
    * cell like q92's index — plus TWO sidecars, the coarse centroids
    * (q92's layout, carrying the stamp) and the PQ codebooks
    * `(m, j, centroid)`.
    * The index table carries NO raw vectors: key + cell + M 1-byte
    * codes per vector instead of 4·dim floats — the RAM-residency
    * win that motivates PQ; only the exact re-rank reads raw vectors
    * back BY KEY from the corpus. Codes quantize the RAW vector, not
    * the cell residual (FAISS `by_residual=false`): codes stay
    * cell-independent (one codebook serves every probe cell) and on
    * the near-isotropic fixture residual coding buys little. */
  def buildIvfPqIndex(s: SparkSession, dir: String, table: String): Unit = {
    import s.implicits._
    val cent = trainCentroids(s, dir)
    val cb = pqCodebooks(s, dir)
    writeIvfIndex(s, dir,
      ivfPqCodeRows(Tables.embeddings(s, dir).select($"vec_id", $"embedding"), cent, cb),
      table, cent)
    writeIvfSidecars(s, dir, table, cent, Some(cb))
  }

  /** q144: SERVE the composed IVF-PQ index from the STORED TABLES
    * ALONE — the read path q92 (stored IVF, raw-vector re-rank) and
    * q140 (corpus-resident PQ, no coarse partition) each exercise
    * half of. An out-of-corpus query (the q116 slice, re-keyed
    * +1e6) is answered end-to-end from the artifact:
    *  1. coarse centroids from the `_centroids` sidecar → probe-cell
    *     projection over the query stream (k cosines, codegen'd);
    *  2. PQ codebooks from the `_pq` sidecar → per-query ADC lookup
    *     tables (M × K' literal arithmetic, one row per query);
    *  3. explode probe cells → one shuffle-hash join against the
    *     bucketed code table (the index side arrives pre-partitioned;
    *     the exchange carries cell + M codes, never vectors);
    *  4. ADC scoring (M `element_at`s + adds per candidate) →
    *     bounded TopKBy sieve of [[pqRerank]] candidates;
    *  5. exact squared-L2 re-rank reading raw vectors BY KEY only.
    * Metric note: the coarse quantizer is q92's cosine IVF unchanged
    * (same centroid sidecar layout); the fine stage is L2 like q140 —
    * the standard IVFADC split of partition heuristic vs rank metric.
    *
    * Self-validating (q116 pattern; learned artifacts are not
    * SQL-reproducible, so the oracle pins the slice count + booleans):
    *  - `n_queries`: DuckDB reproduces the slice count independently;
    *  - `all_answered`: every query produced a served row;
    *  - `restricted_recall_ok`: on an absolutely-capped audit
    *    (src_id % 5 = 0 AND < 2500 → ≤ 500 queries, O(500·n)), the
    *    served answer equals the PROBE-RESTRICTED brute force (exact
    *    L2 over every indexed vector in the probed cells, computed
    *    through a different plan: all-pairs + array_contains instead
    *    of the cell equi-join) for ≥ [[IvfPqRecallFloor]]% of the
    *    audited queries. Where the
    *    ADC sieve keeps fewer candidates than the probed cells hold,
    *    equality is exact (the sf0.01 regime); past that the sieve
    *    is the only loss channel, and the floor prices it;
    *  - `audit_nonempty`: the audit audited something. */
  def ivfPqServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (nQueries, nServed, nAudited, nHit) = ivfPqStats(s, dir)
    Seq((nQueries, nServed == nQueries,
        nAudited > 0 && nHit * 100L >= nAudited * IvfPqRecallFloor, nAudited > 0))
      .toDF("n_queries", "all_answered", "restricted_recall_ok",
        "audit_nonempty")
  }

  /** The q144 pipeline with its measurements exposed —
    * (n_queries, n_served, n_audited, n_audit_hits); the q140
    * pqStats pattern, so specs pin exact counts and the recall
    * floor's margin is measurable. */
  private[graft] def ivfPqStats(s: SparkSession, dir: String): (Long, Long, Long, Long) = {
    val tbl = Artifacts.name("ivfpq_q144", dir)
    ensureIvf(s, dir, tbl, "centroids", "pq")(buildIvfPqIndex(s, dir, tbl))
    val st = ivfPqServeStats(s, dir, tbl, tombstones = None)
    (st._1, st._2, st._3, st._4)
  }

  /** IVF-PQ sidecar loader — the complete state a serving tier holds:
    * coarse centroids + PQ codebooks (k + M·K' rows, constant driver
    * state), read from the stored tables only. Shared by the q144/
    * q146/q147 serving paths and the streaming vector upsert
    * ([[graft.streaming.Pipeline.upsertVectorsBatch]]). */
  private[graft] def loadIvfPqSidecars(s: SparkSession, tbl: String)
  : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val cb: Array[Array[Array[Double]]] = s.table(s"${tbl}_pq")
      .select(col("m"), col("j"), col("centroid")).collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
    (loadCentroids(s, tbl), cb)
  }

  /** The `<tbl>_centroids` sidecar, in cell order (k driver-held rows). */
  private def loadCentroids(s: SparkSession, tbl: String): Array[Array[Double]] =
    s.table(s"${tbl}_centroids").select(col("cell"), col("centroid")).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)

  /** The (vec_id, cell, code0..code{M-1}) encode projection over an
    * embedding frame, given sidecar state — ONE definition shared by
    * the batch build, the incremental upsert, and the streaming
    * sibling, so append-generation codes are structurally identical
    * to build-generation codes. */
  private[graft] def ivfPqCodeRows(emb: DataFrame,
      cent: Array[Array[Double]], cb: Array[Array[Array[Double]]]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val (cell, _) = ivfCells(s, cent)
    emb.select($"vec_id", cell.as("cell"), pq_codes($"embedding", cb).as("codes"))
      .select(Seq($"vec_id", $"cell") ++
        cb.indices.map(m => element_at($"codes", m + 1).as(s"code$m")): _*)
  }

  /** Shared q144/q146/q147 serving + audit core over an ALREADY-FRESH
    * artifact: returns (n_queries, n_served, n_audited, n_audit_hits,
    * served_all_live). `tombstones` is the q147 deletion set — a
    * broadcast anti-join applied to BOTH the serve scan and the audit
    * reference, so the audit answers from the PURGED index like the
    * serve does; `served_all_live` pins that no tombstoned vector was
    * ever served (vacuously true without tombstones). */
  private[graft] def ivfPqServeStats(s: SparkSession, dir: String, tbl: String,
      tombstones: Option[DataFrame]): (Long, Long, Long, Long, Boolean) = {
    import s.implicits._
    val (cent, cb) = loadIvfPqSidecars(s, tbl)
    val (_, probeCol) = ivfCells(s, cent)
    val queries = Tables.embeddings(s, dir)
      .filter($"vec_id" % 7 === 3)
      .select($"vec_id".as("src_id"), ($"vec_id" + 1000000L).as("q_id"),
        $"embedding")
    val assignedQ = queries
      .select($"q_id", $"src_id", $"embedding".as("q_emb"),
        probeCol.as("probe_cells"), pq_adc_table($"embedding", cb).as("qt"))
      .select(Seq($"q_id", $"src_id", $"q_emb", $"probe_cells") ++
        cb.indices.map(m => element_at($"qt", m + 1).as(s"qt$m")): _*)
      .reliableCheckpoint()
    // the probe explode carries ONLY (q_id, src_id, cell): the m ADC
    // lookup tables are ~2k doubles per query, and hanging them on
    // the exploded rows multiplies that payload by nprobe through the
    // cell shuffle (measured: 4.5× exchange volume moving np
    // 4→18 under auto geometry, the whole serve family +2-3× warm at
    // sf1). They rejoin AFTER the cell join as a broadcast keyed on
    // q_id — bounded by the external-query-set contract (the same
    // q182-class bound the audit slice and q191's truth broadcast
    // rely on), so the broadcast is query-count-sized at any corpus
    // scale.
    val probe = assignedQ.select($"q_id", $"src_id",
      explode($"probe_cells").as("cell"))
    def live(df: DataFrame, key: String): DataFrame = tombstones match {
      case Some(t) => df.join(broadcast(t.select($"vec_id".as(key))), Seq(key), "left_anti")
      case None    => df
    }
    val index = live(s.table(tbl), "vec_id")
    val adc = probe.hint("shuffle_hash").join(index, Seq("cell"))
      .filter($"src_id" =!= $"vec_id")
      .join(broadcast(assignedQ.select(
        Seq($"q_id") ++ cb.indices.map(m => col(s"qt$m")): _*)), Seq("q_id"))
      .withColumn("approx",
        cb.indices.map(m => element_at(col(s"qt$m"), col(s"code$m")))
          .reduce(_ + _))
      .groupBy($"q_id")
      .agg(graft.functions.TopKBy.top_k_by(-$"approx", $"vec_id",
        PqRerank).as("top"))
      .select($"q_id", explode($"top.tie").as("vec_id"))
    val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
    val served = adc
      .join(emb, Seq("vec_id")) // raw vectors by key, re-rank only
      .join(broadcast(assignedQ.select($"q_id", $"q_emb")), Seq("q_id"))
      .withColumn("d", squared_l2($"embedding", $"q_emb"))
      .groupBy($"q_id")
      .agg(min(struct($"d", $"vec_id")).as("best"))
      .select($"q_id", $"best.vec_id".as("served_nn"))
      .reliableCheckpoint()
    // audit: probe-restricted exact brute force through a DIFFERENT
    // plan — cells come from the stored index rows, vectors by key
    val auditQ = assignedQ.filter($"src_id" % 5 === 0 && $"src_id" < 2500)
      .select($"q_id", $"src_id", $"q_emb", $"probe_cells")
    val idx = live(s.table(tbl), "vec_id")
      .select($"vec_id".as("b_id"), $"cell".as("cell_b"))
      .join(emb.select($"vec_id".as("b_id"), $"embedding".as("b_emb")),
        Seq("b_id"))
    val ref = auditQ.join(idx, $"src_id" =!= $"b_id")
      .filter(array_contains($"probe_cells", $"cell_b"))
      .withColumn("d", squared_l2($"b_emb", $"q_emb"))
      .groupBy($"q_id")
      .agg(min(struct($"d", $"b_id")).as("r"))
      .select($"q_id", $"r.b_id".as("ref_nn"))
    val audit = served.join(ref, Seq("q_id"))
      .agg(count(lit(1)).as("n_audited"),
        // coalesce: sum over ZERO audited rows is NULL (degenerate
        // corpora can land no query in the audit id range)
        coalesce(sum(when($"served_nn" === $"ref_nn", 1L).otherwise(0L)),
          lit(0L)).as("n_hit"))
      .head()
    val allLive = tombstones match {
      case Some(t) =>
        served.join(broadcast(t.select($"vec_id".as("served_nn"))),
          Seq("served_nn"), "left_semi").count() == 0L
      case None => true
    }
    (queries.count(), served.count(), audit.getLong(0), audit.getLong(1), allLive)
  }

  val ivfPqServeSql: String =
    s"""SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 3) AS n_queries,
      |  true AS all_answered, $ivfAuditNonemptySql AS restricted_recall_ok,
      |  $ivfAuditNonemptySql AS audit_nonempty""".stripMargin

  /** Oracle-pinned percentage of audited IVF-PQ queries whose served
    * answer must equal the probe-restricted brute force. */
  private val IvfPqRecallFloor = 80

  /** q146: IVF-PQ INCREMENTAL UPSERT — the append side of the ANN
    * index lifecycle (build q144 / serve / APPEND here / delete
    * q147), q137's vector sibling: the artifact is built from the
    * base corpus slice (vec_id % 10 ≠ 7) and the remaining slice is
    * then APPENDED as a second bucketed write generation — the
    * nightly new-vectors batch, encoded through the SAME
    * [[ivfPqCodeRows]] projection under the SIDECARS' state (a
    * production upsert never retrains; new vectors quantize under
    * the frozen codebooks, the standard IVFADC maintenance rule).
    * The appended generation lands in the same logical cells
    * ([[Scale.writeBucketed]]); the stamp is the whole corpus's
    * fingerprint, so the gate reuses the upserted artifact.
    *
    * The report adds `n_indexed` — the stored table's row count,
    * which DuckDB reproduces as the FULL corpus count: a lost or
    * mis-bucketed appended generation surfaces as a count mismatch
    * (the q137 loss-detection rule), on top of the q144 serving
    * theorems running over the two-generation artifact. */
  def ivfPqUpsertServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("ivfpq_q146", dir)
    ensureIvf(s, dir, tbl, "centroids", "pq") {
      val cent = trainCentroids(s, dir)
      val cb = pqCodebooks(s, dir)
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      writeIvfIndex(s, dir, ivfPqCodeRows(emb.filter($"vec_id" % 10 =!= 7), cent, cb), tbl, cent)
      // sidecars BEFORE the append: the append generation must encode
      // from the STORED state, as a nightly job would
      writeIvfSidecars(s, dir, tbl, cent, Some(cb))
      val (storedCent, storedCb) = loadIvfPqSidecars(s, tbl)
      writeIvfIndex(s, dir, ivfPqCodeRows(emb.filter($"vec_id" % 10 === 7), storedCent, storedCb),
        tbl, storedCent, "append")
    }
    val nIndexed = s.table(tbl).count()
    val (nQ, nServed, nAudited, nHit, _) =
      ivfPqServeStats(s, dir, tbl, tombstones = None)
    Seq((nQ, nIndexed, nServed == nQ,
        nAudited > 0 && nHit * 100L >= nAudited * IvfPqRecallFloor, nAudited > 0))
      .toDF("n_queries", "n_indexed", "all_answered",
        "restricted_recall_ok", "audit_nonempty")
  }

  val ivfPqUpsertServeSql: String =
    s"""SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 3) AS n_queries,
      |  CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_indexed,
      |  true AS all_answered, $ivfAuditNonemptySql AS restricted_recall_ok,
      |  $ivfAuditNonemptySql AS audit_nonempty""".stripMargin

  /** q147: IVF-PQ TOMBSTONED DELETION — the right-to-be-forgotten
    * path for the vector index, q136's ANN sibling: a deletion set
    * (vec_id % 9 = 4) takes effect AT SERVE TIME via a broadcast
    * anti-join over q144's stored artifact — no rebuild, compaction
    * deferred, exactly how production ANN systems mask deletions
    * between index rebuilds (FAISS IDSelector / Vespa's remove-list).
    * Both the serve scan AND the audit's probe-restricted brute force
    * run over the purged index, so tombstone-serve ≡ purge-and-
    * rebuild on the audited slice; `no_tombstone_served` additionally
    * pins that no deleted vector ever reaches an answer. The oracle
    * reproduces the deletion-set size independently. */
  def ivfPqTombstoneServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("ivfpq_q144", dir) // share q144's artifact
    ensureIvf(s, dir, tbl, "centroids", "pq")(buildIvfPqIndex(s, dir, tbl))
    val tombstones = Tables.embeddings(s, dir)
      .filter($"vec_id" % 9 === 4).select($"vec_id")
    val nTomb = tombstones.count()
    val (nQ, nServed, nAudited, nHit, allLive) =
      ivfPqServeStats(s, dir, tbl, Some(tombstones))
    Seq((nQ, nTomb, nServed == nQ, allLive,
        nAudited > 0 && nHit * 100L >= nAudited * IvfPqRecallFloor, nAudited > 0))
      .toDF("n_queries", "n_tombstoned", "all_answered",
        "no_tombstone_served", "restricted_recall_ok", "audit_nonempty")
  }

  /** q148: IVF-PQ COMPACTION — the deferred physical half of q147's
    * deletion lifecycle (q149's ANN sibling): the code table is
    * rewritten WITHOUT the tombstoned vectors into a new artifact
    * generation (same cell-bucketed layout; sidecars copied with a
    * fresh stamp — compaction never retrains), and serving then runs
    * the plain q144 path with NO tombstone anti-join. The report's
    * `n_live` is the compacted table's row count, which DuckDB
    * reproduces as corpus − deletions: a compaction that loses or
    * resurrects rows is a hash mismatch. IvfIndexSpec additionally
    * pins compact-serve ≡ mask-serve (identical audit profiles on
    * the same query slice). At 100 TB the rewrite is one bucketed
    * anti-join scheduled off the request path. */
  def ivfPqCompactServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Artifacts.name("ivfpq_q144", dir)
    ensureIvf(s, dir, base, "centroids", "pq")(buildIvfPqIndex(s, dir, base))
    val tbl = Artifacts.name("ivfpq_q148", dir)
    ensureIvf(s, dir, tbl, "centroids", "pq") {
      val tombstones = Tables.embeddings(s, dir)
        .filter($"vec_id" % 9 === 4).select($"vec_id")
      // sidecars first: the compacted generation keeps the BASE
      // geometry (compaction never retrains), so its bucket count is
      // the stored cell count, not a re-resolved k
      val (cent, cb) = loadIvfPqSidecars(s, base)
      writeIvfIndex(s, dir,
        s.table(base).join(broadcast(tombstones), Seq("vec_id"), "left_anti"), tbl, cent)
      writeIvfSidecars(s, dir, tbl, cent, Some(cb))
    }
    val nLive = s.table(tbl).count()
    val (nQ, nServed, nAudited, nHit, _) =
      ivfPqServeStats(s, dir, tbl, tombstones = None)
    Seq((nQ, nLive, nServed == nQ,
        nAudited > 0 && nHit * 100L >= nAudited * IvfPqRecallFloor, nAudited > 0))
      .toDF("n_queries", "n_live", "all_answered",
        "restricted_recall_ok", "audit_nonempty")
  }

  val ivfPqCompactServeSql: String =
    s"""SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 3) AS n_queries,
      |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 9 <> 4) AS BIGINT)
      |    AS n_live,
      |  true AS all_answered, $ivfAuditNonemptySql AS restricted_recall_ok,
      |  $ivfAuditNonemptySql AS audit_nonempty""".stripMargin

  val ivfPqTombstoneServeSql: String =
    s"""SELECT (SELECT count(*) FROM embeddings WHERE vec_id % 7 = 3) AS n_queries,
      |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 9 = 4) AS BIGINT)
      |    AS n_tombstoned,
      |  true AS all_answered, true AS no_tombstone_served,
      |  $ivfAuditNonemptySql AS restricted_recall_ok,
      |  $ivfAuditNonemptySql AS audit_nonempty""".stripMargin

  /** Per-source VOCABULARY sketches — q96's artifact pattern with
    * token fingerprints as the sketched item (q83's universe). HLL
    * insertion is duplicate-insensitive, so no distinct pass is
    * needed before the aggregate: ONE corpus scan, constant state
    * per source. */
  private[graft] def buildVocabSketches(s: SparkSession, dir: String, table: String): Unit = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source", explode(split(trim($"text"), "\\s+")).as("tok"))
      .select($"source", TextQueries.fingerprint($"tok").as("fp"))
      .groupBy($"source")
      .agg(graft.functions.HllSketch.hll_sketch($"fp").as("sketch"))
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    Artifacts.stamp(s, table, Artifacts.documents(s, dir))
  }

  /** q141: SKETCHED VOCABULARY-OVERLAP MATRIX — q83's exact
    * cross-source Jaccard needs the distinct (source, fp) self-join:
    * correct, but the exchange carries the full vocabulary × its
    * df-fan-out. This is the MERGEABLE-SKETCH path a 100 TB corpus
    * runs instead: per-source HLL register arrays (2 KB each,
    * build-once artifact), pairwise union estimates by REUSING the
    * q96 union aggregate over exploded pair rows (register max is
    * associative/commutative/idempotent — no new operator needed),
    * and intersections by inclusion–exclusion
    * `|A∩B| ≈ est(A) + est(B) − est(A∪B)`.
    *
    * Self-validation prices the estimator against the EXACT q83
    * answer (oracle-checkable in SQL) on every pair:
    *  - `union_ok`: |est(A∪B) − exact| ≤ 3σ·exact + 2 (the q96
    *    bound, precision 11 ⇒ 3σ = 0.069);
    *  - `inter_ok`: inclusion–exclusion compounds three estimates,
    *    so the bound is additive over their cardinalities:
    *    |est∩ − exact∩| ≤ 0.069·(|A| + |B| + |A∪B|) + 6.
    * At 100 TB: sketches build in one scan; all 190 pair unions
    * touch 2 KB registers — the exact path's fp self-join is the
    * audit tier, not the product. */
  def vocabSketchOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("hll_q141", dir)
    Artifacts.ensure(s, Seq(tbl), tbl, Artifacts.documents(s, dir))(
      buildVocabSketches(s, dir, tbl))
    val sk = s.table(tbl).select($"source", $"sketch")
    val singles = sk.groupBy($"source")
      .agg(graft.functions.HllSketch.hll_union_distinct($"sketch").as("est"))
    val unions = sk.select($"source".as("source_a"), $"sketch")
      .join(sk.select($"source".as("source_b"), $"sketch".as("sketch_b")),
        $"source_a" < $"source_b")
      .select($"source_a", $"source_b",
        explode(array($"sketch", $"sketch_b")).as("one"))
      .groupBy($"source_a", $"source_b")
      .agg(graft.functions.HllSketch.hll_union_distinct($"one").as("est_union"))
    val exact = graft.queries.TrainQueries.sourceOverlap(s, dir)
      .select($"source_a", $"source_b", $"n_common", $"n_a", $"n_b")
    unions
      .join(broadcast(singles.select($"source".as("source_a"), $"est".as("est_a"))),
        Seq("source_a"))
      .join(broadcast(singles.select($"source".as("source_b"), $"est".as("est_b"))),
        Seq("source_b"))
      .join(exact, Seq("source_a", "source_b"))
      .select($"source_a", $"source_b", $"n_common", $"n_a", $"n_b",
        (abs($"est_union" - ($"n_a" + $"n_b" - $"n_common")) <=
          ($"n_a" + $"n_b" - $"n_common") * 0.069 + 2.0).as("union_ok"),
        (abs($"est_a" + $"est_b" - $"est_union" - $"n_common") <=
          ($"n_a" + $"n_b" + ($"n_a" + $"n_b" - $"n_common")) * 0.069 + 6.0)
          .as("inter_ok"))
      .orderBy($"source_a", $"source_b")
  }

  /** Oracle: q83's exact CTEs verbatim; the sketch theorems are
    * stated as constants (register contents are not
    * SQL-reproducible — the q96 precedent). */
  lazy val vocabSketchOverlapSql: String =
    s"""WITH v AS (
      |  SELECT DISTINCT source,
      |    ${TextQueries.fingerprintSql("tok")} AS fp
      |  FROM (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |        FROM documents)),
      |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(count(*) AS BIGINT) AS n_common
      |  FROM v a JOIN v b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, n_common, sa.n AS n_a, sb.n AS n_b,
      |  true AS union_ok, true AS inter_ok
      |FROM pairs
      |JOIN sizes sa ON sa.source = pairs.source_a
      |JOIN sizes sb ON sb.source = pairs.source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** q181: ANCHOR-ROUTING MARGIN AUDIT — route every vector to its
    * max-cosine anchor (the 16 pinned vectors vec_id 0–15: a FIXED,
    * oracle-recomputable codebook, unlike the learned IVF centroids
    * whose audits must self-validate, q58/q92) and measure how DECISIVE
    * each routing is: margin = cos(best) − cos(second). A sharded
    * vector store routed this way (anchor = shard) re-shuffles its
    * low-margin members on any re-anchoring — the per-anchor boundary
    * mass is the migration-risk / routing-stability signal, and the
    * member counts are the shard-balance report. All comparisons run
    * on round(cos, 6) on BOTH engines (the q46 exactness discipline),
    * ties to the lower anchor id; anchors with zero members still
    * appear (the q167/q170 missing-cell rule) with a NULL ppm (q161's
    * one-sided rule).
    * Scale: anchors are a 16-row driver sidecar (the sanctioned
    * bounded collect — the q58 centroid pattern); routing is 16
    * codegen'd literal-array cosines per row, ONE corpus scan, no
    * join, no fan-out; the rollup is a ≤16-row map-side-combined
    * aggregate grid-filled against the anchor range. */
  def anchorRoutingAudit(s: SparkSession, dir: String, nAnchors: Int = 16,
                         boundary: Double = 0.02): DataFrame = {
    import s.implicits._
    // DEGRADE, don't refuse (degenerate-corpus gate): the audit routes
    // to the anchor rows that EXIST below the id cap — a sparse corpus
    // yields fewer anchors, a single anchor yields NULL margins, zero
    // anchors yield the all-empty grid, each exactly the oracle's
    // window semantics. Anchor ids are the REAL vec_ids (the oracle's
    // anchor_id) — the former positional index silently diverged on
    // corpora whose low ids have holes.
    val anchorRows: Array[(Long, Array[Float])] = Tables.embeddings(s, dir)
      .filter($"vec_id" < nAnchors).orderBy($"vec_id")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val grid = s.range(0L, nAnchors.toLong).toDF("anchor_id")
    val routed = if (anchorRows.isEmpty) {
      grid.limit(0).select($"anchor_id",
        lit(0L).as("n_members"), lit(0L).as("n_boundary"))
    } else {
      val scored = array(anchorRows.toIndexedSeq.map { case (id, c) =>
        struct(round(cosine_similarity($"embedding",
            typedlit(c.map(_.toDouble).toSeq)), 6).as("c"),
          lit(id).as("i")) }: _*)
      // total order: cosine DESC (already 6-dp rounded), anchor id ASC
      val sorted = array_sort(scored, (l, r) =>
        when(l("c") > r("c"), -1).otherwise(when(l("c") < r("c"), 1)
          .otherwise(when(l("i") < r("i"), -1).otherwise(1))))
      Tables.embeddings(s, dir)
        .select($"vec_id", sorted.as("s"))
        .select($"vec_id",
          element_at($"s", 1)("i").as("anchor_id"),
          // ANSI-safe second-best: a single-anchor corpus has no
          // runner-up — NULL margin, counted as non-boundary (the
          // oracle's rn=2-absent CASE)
          round(element_at($"s", 1)("c") -
            when(lit(anchorRows.length >= 2), element_at($"s", 2)("c")),
            6).as("margin"))
        .groupBy($"anchor_id")
        .agg(count(lit(1)).as("n_members"),
          sum(when($"margin" < boundary, 1L).otherwise(0L)).as("n_boundary"))
    }
    grid
      .join(routed, Seq("anchor_id"), "left")
      .select($"anchor_id",
        coalesce($"n_members", lit(0L)).as("n_members"),
        coalesce($"n_boundary", lit(0L)).as("n_boundary"))
      .withColumn("boundary_ppm",
        when($"n_members" > 0L,
          expr("CAST(floor(n_boundary * 1000000.0 / n_members) AS BIGINT)")))
      .orderBy($"anchor_id")
  }

  /** Oracle re-derives the routing from the same 16 pinned rows via a
    * ranked window — different mechanism, same (cos6 DESC, id ASC)
    * rule. */
  def anchorRoutingAuditSql(nAnchors: Int = 16, boundary: Double = 0.02): String =
    s"""WITH a AS (
      |  SELECT vec_id AS anchor_id, embedding AS a_emb FROM embeddings
      |  WHERE vec_id < $nAnchors),
      |r AS (
      |  SELECT e.vec_id, a.anchor_id,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], a.a_emb::DOUBLE[]), 6) AS c,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      round(list_cosine_similarity(e.embedding::DOUBLE[], a.a_emb::DOUBLE[]), 6) DESC,
      |      a.anchor_id) AS rn
      |  FROM embeddings e CROSS JOIN a),
      |m AS (
      |  SELECT vec_id,
      |    max(CASE WHEN rn = 1 THEN anchor_id END) AS anchor_id,
      |    round(max(CASE WHEN rn = 1 THEN c END)
      |          - max(CASE WHEN rn = 2 THEN c END), 6) AS margin
      |  FROM r WHERE rn <= 2 GROUP BY vec_id),
      |g AS (
      |  SELECT anchor_id, count(*) AS n_members,
      |    CAST(sum(CASE WHEN margin < $boundary THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary
      |  FROM m GROUP BY 1)
      |SELECT ar.anchor_id, coalesce(g.n_members, 0) AS n_members,
      |  coalesce(g.n_boundary, 0) AS n_boundary,
      |  CASE WHEN coalesce(g.n_members, 0) > 0 THEN
      |    CAST(floor(g.n_boundary * 1000000.0 / g.n_members) AS BIGINT) END AS boundary_ppm
      |FROM (SELECT unnest(range(0, $nAnchors)) AS anchor_id) ar
      |LEFT JOIN g USING (anchor_id)
      |ORDER BY anchor_id""".stripMargin

  /** q186: EMBEDDING CENTROID DRIFT — the covariate-shift audit for
    * the representation a retrieval/dedup stack depends on: per
    * label, the L2 distance between the class centroid computed on
    * the TRAIN slice (q94's hash rule on `vec_id` — the same split
    * assignment the pipeline ships) and on the HELD-OUT slice. A
    * label whose two centroids sit far apart is drifting between what
    * the model trains on and what it is evaluated on — the embedding
    * analogue of q161's value drift and q183's OOV rate.
    *
    * Exactness discipline: per-element values quantize to an integer
    * 1e-4 grid FIRST (one double multiply + round per element —
    * bit-identical cross-engine), so the per-(label, split, dim) sums
    * are exact integers and ORDER-INVARIANT — no float-summation
    * nondeterminism anywhere (q49 absorbs it with output rounding;
    * here the means feed further arithmetic, so the sums must be
    * exact). Each mean is then ONE double division chain, each
    * per-dim squared diff rounds onto an integer 1e-12 grid, and the
    * per-label distance is an exact BIGINT sum of those — doubles
    * only ever pass through single fully-determined expressions.
    *
    * Scale: posexplode → map-side partial agg collapses the corpus
    * into a (label × split × dim)-bounded frame before the ONE
    * exchange; everything after runs on that bounded frame. */
  def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the (label × split × dim)-bounded sum frame feeds both split
    // branches — checkpoint it so the corpus-scanning lineage runs
    // once (the q79 materialize-once rule)
    val agg = Scale.checkpointed(Tables.embeddings(s, dir)
      .select($"vec_id", $"label", posexplode($"embedding").as(Seq("dim", "v")))
      .withColumn("split",
        when(TrainQueries.sampleKey($"vec_id") < 980L, "train").otherwise("heldout"))
      .withColumn("q", expr("CAST(round(CAST(v AS DOUBLE) * 10000, 0) AS BIGINT)"))
      .groupBy($"label", $"split", $"dim")
      .agg(sum($"q").as("sq"), count(lit(1)).as("n")))
    val t = agg.filter($"split" === "train").select($"label", $"dim",
      ($"sq".cast("double") / $"n" / 10000.0).as("mt"), $"n".as("n_train"))
    val h = agg.filter($"split" === "heldout").select($"label", $"dim",
      ($"sq".cast("double") / $"n" / 10000.0).as("mh"), $"n".as("n_heldout"))
    t.join(h, Seq("label", "dim"))
      .withColumn("c", expr("CAST(round((mt - mh) * (mt - mh) * 1e12, 0) AS BIGINT)"))
      .groupBy($"label")
      .agg(max($"n_train").as("n_train"), max($"n_heldout").as("n_heldout"),
        sum($"c").as("dist2_pico"))
      .select($"label", $"n_train", $"n_heldout",
        round(sqrt($"dist2_pico" / 1e12), 6).as("drift_l2"))
      .orderBy($"label")
  }

  val centroidDriftSql: String =
    """WITH x AS (
      |  SELECT label,
      |    CASE WHEN (vec_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 980
      |         THEN 'train' ELSE 'heldout' END AS split,
      |    i AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
      |  FROM embeddings, range(1, 65) t(i)),
      |a AS (
      |  SELECT label, split, dim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS n
      |  FROM x GROUP BY 1, 2, 3),
      |t AS (SELECT label, dim, CAST(sq AS DOUBLE) / n / 10000.0 AS mt, n AS n_train
      |      FROM a WHERE split = 'train'),
      |h AS (SELECT label, dim, CAST(sq AS DOUBLE) / n / 10000.0 AS mh, n AS n_heldout
      |      FROM a WHERE split = 'heldout'),
      |c AS (
      |  SELECT t.label,
      |    CAST(round((mt - mh) * (mt - mh) * 1e12, 0) AS BIGINT) AS c,
      |    n_train, n_heldout
      |  FROM t JOIN h USING (label, dim))
      |SELECT label, max(n_train) AS n_train, max(n_heldout) AS n_heldout,
      |  round(sqrt(CAST(sum(c) AS BIGINT) / 1e12), 6) AS drift_l2
      |FROM c GROUP BY label ORDER BY label""".stripMargin

  // ---- q193: label-noise screen (confident-learning lite) -----------

  /** q193: LABEL-NOISE SCREEN — for every labeled vector, its cosine
    * to its OWN class centroid vs the best FOREIGN class centroid; a
    * vector measurably closer to another class's centroid than its
    * own (`suspect = true`) is the mislabel candidate a training-data
    * pipeline routes to re-annotation (the nearest-centroid member of
    * the confident-learning family). q186 audits whole-class drift
    * between splits; this audits INDIVIDUAL examples against the
    * class structure — the label-quality sibling of q127's text
    * filters.
    *
    * Exactness: centroids come from per-(label, dim) INTEGER-grid
    * sums (q186's 1e-4 grid — exact and order-invariant, no float-
    * summation nondeterminism), each mean element is ONE mirrored
    * double divide, and each cosine is the q46-parity pair
    * (codegen'd [[CosineSimilarity]] ≡ DuckDB list_cosine_similarity
    * on ::DOUBLE[]), rounded to 6 dp BEFORE comparison so the
    * own-vs-foreign verdict and the foreign argmax (cos desc, label
    * asc via one max(struct)) break ties identically cross-engine.
    * The own centroid INCLUDES the vector itself — the audit is of
    * the shipped class structure, not leave-one-out.
    *
    * Plan at 100 TB: one posexplode → map-side-combined
    * (label × dim)-bounded sum frame; the |labels|-row centroid
    * sidecar broadcasts; the corpus then streams through ONE
    * stateless ×|labels| fan-out collapsed by partial aggregation
    * BEFORE its exchange (crossJoin keeps co-partitioning, so the
    * groupBy's map-side combine folds the fan-out back to one row
    * per vector). No window, no checkpoint, no driver state. */
  def labelNoiseScreen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val cent = e.select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .withColumn("q", expr("CAST(round(CAST(v AS DOUBLE) * 10000, 0) AS BIGINT)"))
      .groupBy($"label", $"dim")
      .agg(sum($"q").as("sq"), count(lit(1)).as("n"))
    // reassemble each centroid vector in dim order (array_sort on the
    // (dim, mean) struct — collect_list order is nondeterministic,
    // the sort restores determinism on the 64-entry bounded list)
    val cvec = cent
      .select($"label".as("c_label"),
        struct($"dim", ($"sq".cast("double") / $"n").as("m")).as("dm"))
      .groupBy($"c_label")
      .agg(array_sort(collect_list($"dm")).as("p"))
      .select($"c_label", expr("transform(p, x -> x.m)").as("cv"))
    e.select($"vec_id", $"label", $"embedding")
      .crossJoin(broadcast(cvec))
      .withColumn("cos", round(cosine_similarity($"embedding", $"cv"), 6))
      .groupBy($"vec_id", $"label")
      .agg(
        max(when($"label" === $"c_label", $"cos")).as("own_cos"),
        max(when($"label" =!= $"c_label",
          struct($"cos".as("c"), (-$"c_label").as("nl")))).as("alt"))
      // single-label corpus: max over the empty foreign-when() is
      // null — drop those rows to match the oracle's INNER join on
      // the foreign side (both engines then agree: no foreign class,
      // no noise verdict)
      .filter($"alt".isNotNull)
      .select($"vec_id", $"label", $"own_cos",
        (-$"alt.nl").as("alt_label"), $"alt.c".as("alt_cos"),
        ($"alt.c" > $"own_cos").as("suspect"))
      .orderBy($"vec_id")
  }

  val labelNoiseScreenSql: String =
    """WITH x AS (
      |  SELECT label, i AS dim,
      |    CAST(round(CAST(embedding[i] AS DOUBLE) * 10000, 0) AS BIGINT) AS q
      |  FROM embeddings, range(1, 65) t(i)),
      |c AS (SELECT label AS c_label, dim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS n
      |      FROM x GROUP BY 1, 2),
      |cv AS (SELECT c_label, list(CAST(sq AS DOUBLE) / n ORDER BY dim) AS cv
      |       FROM c GROUP BY 1),
      |p AS (
      |  SELECT e.vec_id, e.label, cv.c_label,
      |    round(list_cosine_similarity(e.embedding::DOUBLE[], cv.cv), 6) AS cos
      |  FROM embeddings e CROSS JOIN cv),
      |own AS (SELECT vec_id, label, cos AS own_cos FROM p WHERE label = c_label),
      |alt AS (
      |  SELECT vec_id, c_label AS alt_label, cos AS alt_cos,
      |    row_number() OVER (PARTITION BY vec_id
      |                       ORDER BY cos DESC, c_label ASC) AS rn
      |  FROM p WHERE label <> c_label)
      |SELECT own.vec_id, own.label, own.own_cos,
      |  alt.alt_label, alt.alt_cos, alt.alt_cos > own.own_cos AS suspect
      |FROM own JOIN alt USING (vec_id) WHERE alt.rn = 1
      |ORDER BY own.vec_id""".stripMargin

  // ---- q194: k-center coreset selection (farthest-point) ------------

  /** q194: K-CENTER CORESET SELECTION — the greedy farthest-point
    * traversal (Gonzalez 1985, the 2-approximation for the k-center
    * objective): seed at vec_id 0, then k−1 times add the vector
    * farthest from its nearest already-chosen center. The selected
    * set is the DIVERSITY coreset a training-data pipeline uses to
    * seed annotation batches, pick few-shot exemplars, or initialize
    * IVF/k-means centroids (q58/q92 consume exactly such seeds) —
    * the complement of q105's curriculum (which orders ALL docs) and
    * q164's per-source diversity cap (which balances GROUPS, not
    * geometry). Output: one row per center in selection order with
    * its member count and coverage radius (the k-center cost).
    *
    * Exactness: distances are squared L2 on the 1e-4 INTEGER grid
    * (q186's quantization) — every per-dim square and every partial
    * sum is an exact integer < 2⁵³ held in a double, so the codegen'd
    * [[SquaredL2]] accumulation is EXACT and order-invariant: no
    * rounding, no IEEE divergence anywhere; argmax ties break
    * (dist desc, vec_id asc) and assignment ties (dist asc, selection
    * order asc), both mirrored in the oracle's unrolled CTE chain.
    *
    * Plan at 100 TB: the traversal is inherently k sequential rounds;
    * each is ONE stateless scan (the current centers ride in as
    * LITERAL 64-double arrays — the q181 pinned-sidecar pattern, no
    * join, no shuffle) topped by TakeOrdered(1); the driver holds
    * exactly k·64 doubles. Total cost O(k²·n·d) as written (each
    * round re-evaluates all centers — at k=8 the re-evaluation is
    * cheaper than caching a running-min column across rounds would
    * be); the quantized corpus is checkpointed once so the k scans
    * re-read parquet-local bytes, not re-derive lineage. */
  def kcenterCoreset(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import s.implicits._
    val g = Scale.checkpointed(
      Tables.embeddings(s, dir).select($"vec_id",
        expr("transform(embedding, x -> round(CAST(x AS DOUBLE) * 10000, 0))").as("gv")))
    // seed at min(vec_id) — NOT a hard-coded id 0, which would throw
    // on corpora whose ids don't start at 0 while the oracle silently
    // returned rows; mirrored in the generated SQL's c1 CTE
    val first = g.orderBy($"vec_id").limit(1).head()
    var centers =
      Vector[(Long, Seq[Double])]((first.getLong(0), first.getSeq[Double](1)))
    var exhausted = false
    while (centers.size < k && !exhausted) {
      val mind = centers.map { case (_, cv) =>
        squared_l2($"gv", typedLit(cv)) }.reduce(least(_, _))
      val next = g.filter(!$"vec_id".isin(centers.map(_._1): _*))
        .select($"vec_id", $"gv", mind.as("mind"))
        .orderBy($"mind".desc, $"vec_id")
        .limit(1).take(1)
      // corpus smaller than k: stop with the centers we have (the
      // oracle's unrolled rounds go empty past this point too)
      if (next.isEmpty) exhausted = true
      else centers = centers :+ ((next(0).getLong(0), next(0).getSeq[Double](1)))
    }
    val ids = centers.zipWithIndex
      .map { case ((id, _), i) => (i + 1, id) }
      .toDF("center_order", "center_id")
    val best = array_min(array(centers.zipWithIndex.map { case ((_, cv), i) =>
      struct(squared_l2($"gv", typedLit(cv)).as("d2"), lit(i + 1).as("ord"))
    }: _*))
    g.select(best.as("b"))
      .groupBy($"b.ord".as("center_order"))
      .agg(count(lit(1)).as("members"), max($"b.d2").cast("long").as("radius2_grid"))
      .join(broadcast(ids), Seq("center_order"))
      .select($"center_order", $"center_id", $"members", $"radius2_grid")
      .orderBy($"center_order")
  }

  /** Unrolled CTE chain mirroring the k−1 greedy rounds (the q182
    * oracle-builder pattern: the SQL is GENERATED for the same k the
    * Spark side runs, each round excluding prior picks explicitly). */
  def kcenterCoresetSql(k: Int = 8): String = {
    def d2(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 65), i -> ($a.gv[i] - $b.gv[i]) * ($a.gv[i] - $b.gv[i])))"
    val rounds = (2 to k).map { i =>
      val excl = (1 until i).map(j => s"SELECT vec_id FROM c$j").mkString(" UNION ALL ")
      val prevM = if (i == 2) "m1" else s"m${i - 1}"
      s"""c$i AS (SELECT vec_id, gv FROM $prevM
         |  WHERE vec_id NOT IN ($excl)
         |  ORDER BY mind DESC, vec_id ASC LIMIT 1),
         |m$i AS (SELECT m.vec_id, m.gv, least(m.mind, ${d2("m", s"c$i")}) AS mind
         |        FROM $prevM m, c$i)""".stripMargin
    }.mkString(",\n")
    val all = (1 to k).map(i => s"SELECT $i AS ord, vec_id AS center_id, gv FROM c$i")
      .mkString(" UNION ALL ")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(range(1, 65), i -> round(CAST(embedding[i] AS DOUBLE) * 10000, 0)) AS gv
       |  FROM embeddings),
       |c1 AS (SELECT vec_id, gv FROM g WHERE vec_id = (SELECT min(vec_id) FROM g)),
       |m1 AS (SELECT g.vec_id, g.gv, ${d2("g", "c1")} AS mind FROM g, c1),
       |$rounds,
       |centers AS ($all),
       |d AS (SELECT g.vec_id, c.ord, c.center_id, ${d2("g", "c")} AS d2
       |      FROM g CROSS JOIN centers c),
       |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |                                   ORDER BY d2 ASC, ord ASC) AS rn FROM d)
       |SELECT ord AS center_order, center_id, count(*) AS members,
       |  CAST(max(d2) AS BIGINT) AS radius2_grid
       |FROM r WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q193_label_noise" -> (labelNoiseScreen _),
    "q194_kcenter_coreset" -> ((s: SparkSession, dir: String) => kcenterCoreset(s, dir)),
    "q186_centroid_drift" -> (centroidDrift _),
    "q181_anchor_routing" -> ((s: SparkSession, dir: String) => anchorRoutingAudit(s, dir)),
    "q141_vocab_sketch_overlap" -> (vocabSketchOverlap _),
    "q140_pq_ann" -> (pqAnn _),
    "q144_ivfpq_serve" -> (ivfPqServe _),
    "q146_ivfpq_upsert_serve" -> (ivfPqUpsertServe _),
    "q147_ivfpq_tombstone_serve" -> (ivfPqTombstoneServe _),
    "q148_ivfpq_compact_serve" -> (ivfPqCompactServe _),
    "q91_pca_ann_pairs" -> (pcaAnnPairs _),
    "q89_pca_validated" -> (pcaValidated _),
    "q76_quantize_embeddings" -> (quantizeEmbeddings _),
    "q49_embedding_dim_stats" -> (embeddingDimStats _),
    "q46_cosine_topk" -> (cosineTopK _),
    "q47_nn_within_label" -> (nnWithinLabel _),
    "q48_ann_lsh" -> (annLsh _),
    "q55_nn_lsh" -> (nnLsh _),
    "q156_hard_negatives" -> (hardNegatives _),
    "q160_dedup_threshold_curve" -> (dedupThresholdCurve _),
    "q58_ivf_nn" -> (ivfNnValidated _),
    "q74_ivf_topk" -> (ivfTopk _),
    "q92_ivf_stored_nn" -> (ivfStoredNn _),
    "q116_ivf_serve" -> (ivfServe _),
    "q93_pca_stored_projection" -> (pcaStoredProjection _),
    "q96_hll_stored_union" -> (hllStoredUnion _),
  )

  val oracles: Map[String, String] = Map(
    "q193_label_noise" -> labelNoiseScreenSql,
    "q194_kcenter_coreset" -> kcenterCoresetSql(),
    "q141_vocab_sketch_overlap" -> vocabSketchOverlapSql,
    "q140_pq_ann" -> pqAnnSql,
    "q144_ivfpq_serve" -> ivfPqServeSql,
    "q146_ivfpq_upsert_serve" -> ivfPqUpsertServeSql,
    "q147_ivfpq_tombstone_serve" -> ivfPqTombstoneServeSql,
    "q148_ivfpq_compact_serve" -> ivfPqCompactServeSql,
    "q91_pca_ann_pairs" -> pcaAnnPairsSql,
    "q89_pca_validated" -> pcaValidatedSql,
    "q46_cosine_topk" -> cosineTopKSql,
    "q181_anchor_routing" -> anchorRoutingAuditSql(),
    "q47_nn_within_label" -> nnWithinLabelSql,
    "q48_ann_lsh" -> annLshSql,
    "q49_embedding_dim_stats" -> embeddingDimStatsSql,
    "q186_centroid_drift" -> centroidDriftSql,
    "q55_nn_lsh" -> nnLshSql,
    "q156_hard_negatives" -> hardNegativesSql,
    "q160_dedup_threshold_curve" -> dedupThresholdCurveSql,
    "q58_ivf_nn" -> ivfNnValidatedSql,
    "q76_quantize_embeddings" -> quantizeEmbeddingsSql,
    "q92_ivf_stored_nn" -> ivfStoredNnSql,
    "q116_ivf_serve" -> ivfServeSql,
    "q93_pca_stored_projection" -> pcaStoredProjectionSql,
    "q96_hll_stored_union" -> hllStoredUnionSql,
  )
}
