package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Artifacts, Tables}
import graft.operators.Scale
import graft.operators.Scale.CheckpointOps
import graft.functions.expressions._

/** Deduplication operators over `documents` — the training-data-
  * pipeline dedup family (north star in BASELINE.json) plus the
  * reference's own dedup semantics (F4 producer dedup, K3
  * insert-ignore; SURVEY §2.3/§2.2).
  *
  * Scale design: every variant reduces to (per-doc signature →
  * shuffle on signature/band key → within-bucket compare). Signatures
  * are map-side (no state), buckets are small by construction, and
  * the candidate-pair verification only touches bucket-mates — never
  * the O(n²) cross product. At 100 TB the shuffle key cardinality
  * (band hash) keeps partitions balanced; skewed mega-buckets would
  * be AQE-split or salted.
  */
object DedupQueries {

  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** n-token shingles (order-sensitive units for MinHash — two docs
    * with the same words in different order are NOT near-dups under
    * shingling, unlike token sets). Pure column ops. */
  private[graft] def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Exact dedup (hash-groupBy on normalized text): keep min doc_id
    * per group — K3 insert-ignore semantics in batch. Group key is the
    * cleaned, lower-cased text; at scale one would group on a 128-bit
    * text hash instead of shipping full texts through the shuffle
    * (same result, smaller exchange) — see `exactDedupByFingerprint`. */
  def exactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(lower(TextQueries.cleanText($"text")).as("norm_text"))
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .select($"keeper_id", $"n_copies")
      .orderBy($"keeper_id")
  }

  val exactDedupSql: String =
    """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY lower(trim(regexp_replace(replace(text, 'RT @', ''), '\s+', ' ', 'g')))
      |ORDER BY keeper_id""".stripMargin

  /** q84: INCREMENTAL INGEST dedup — the nightly-batch op: admit a
    * new batch (here: source src19, the freshest slice) only where
    * its text fingerprint does not already exist in the standing
    * corpus (every other source) AND is not an intra-batch duplicate
    * of an earlier batch doc. Per-lang admission report.
    *
    * Scale shape: the standing index is the distinct-fp relation a
    * production pipeline keeps bucketed on fp (q41's output); the
    * batch LEFT-joins it on the 8-byte key — map-side against the
    * bucketed index, never a text comparison — and the intra-batch
    * check is a min(doc_id) window over the batch's own (tiny) fp
    * groups. Everything after the probe is a 5-group rollup. The
    * fingerprint's collision-merging contract applies (a colliding
    * new doc is dropped as a dup) — identical in the oracle. */
  def incrementalIngest(s: SparkSession, dir: String): DataFrame =
    incrementalIngestOver(Tables.documents(s, dir), batchSource = "src19")

  /** The q84 admission pipeline over any (doc_id, lang, source, text)
    * frame — shared with TextOpsSpec's synthetic-duplicate probes (the
    * fixture corpus has no duplicate texts at the gate SFs, so the
    * already_known and intra-batch branches MUST be exercised on a
    * constructed frame or they are vacuously green). */
  private[graft] def incrementalIngestOver(docs: DataFrame,
      batchSource: String): DataFrame = {
    val history = docs.filter(col("source") =!= batchSource)
      .select(TextQueries.fingerprint(col("text")).as("fp")).distinct()
    val batch = docs.filter(col("source") === batchSource)
      .select(col("doc_id"), col("lang"), TextQueries.fingerprint(col("text")).as("fp"))
    val firstInBatch = Window.partitionBy(col("fp"))
    batch
      .withColumn("first_id", min(col("doc_id")).over(firstInBatch))
      .join(history.withColumn("seen", lit(1)), Seq("fp"), "left")
      .withColumn("admitted", col("seen").isNull && (col("doc_id") === col("first_id")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("batch_docs"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted_docs"),
        sum(when(col("seen").isNotNull, 1L).otherwise(0L)).as("already_known"))
      .withColumn("dropped_docs", col("batch_docs") - col("admitted_docs"))
      .orderBy(col("lang"))
  }

  lazy val incrementalIngestSql: String = {
    val fp = graft.queries.TextQueries.fingerprintSql("text")
    s"""WITH history AS (
      |  SELECT DISTINCT $fp AS fp FROM documents WHERE source <> 'src19'),
      |batch AS (
      |  SELECT doc_id, lang, $fp AS fp FROM documents WHERE source = 'src19'),
      |b AS (
      |  SELECT doc_id, lang, fp,
      |    min(doc_id) OVER (PARTITION BY fp) AS first_id
      |  FROM batch),
      |m AS (
      |  SELECT b.doc_id, b.lang,
      |    (h.fp IS NULL AND b.doc_id = b.first_id) AS admitted,
      |    (h.fp IS NOT NULL) AS seen
      |  FROM b LEFT JOIN history h ON b.fp = h.fp)
      |SELECT lang,
      |  CAST(count(*) AS BIGINT) AS batch_docs,
      |  CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT) AS admitted_docs,
      |  CAST(sum(CASE WHEN seen THEN 1 ELSE 0 END) AS BIGINT) AS already_known,
      |  CAST(count(*) - sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT) AS dropped_docs
      |FROM m GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Exact dedup shuffling only a 64-bit rolling-hash fingerprint
    * (the scale path: the exchange carries 8 bytes/doc, not the
    * text). Oracle reproduces the identical fingerprint. */
  def exactDedupByFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy(TextQueries.fingerprint($"text").as("fp"))
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .select($"keeper_id", $"n_copies", $"fp")
      .orderBy($"keeper_id")
  }

  val exactDedupByFingerprintSql: String =
    s"""SELECT min(doc_id) AS keeper_id, count(*) AS n_copies, fp
      |FROM (
      |  SELECT doc_id,
      |    ${graft.queries.TextQueries.fingerprintSql("text")} AS fp
      |  FROM documents)
      |GROUP BY fp ORDER BY keeper_id""".stripMargin

  /** q123: UNICODE-CANONICAL dedup — group on the fingerprint of
    * [[graft.functions.NormalizeText]]'s canonical form (NFC +
    * accent-strip + ROOT lowercase + whitespace collapse): the
    * encoding-form/case/spacing near-duplicate class that byte-exact
    * q40/q41 miss (café composed vs decomposed, "Hello  World" vs
    * "hello world"). Per-document verdict row so the oracle checks
    * EVERY canonical fingerprint cross-engine, not just group
    * summaries.
    *
    * Scale shape: identical to q41 — the canonicalizer is a
    * stateless codegen'd map, the exchange carries the 8-byte canon
    * fingerprint, and the group join is fp-keyed. The oracle renders
    * the same canonicalization in DuckDB
    * (nfc_normalize → strip_accents → lower → regexp collapse);
    * pipeline agreement on non-ASCII Latin accent classes is
    * spec-pinned in ExpressionsSpec, and the fixture corpus (ASCII)
    * is exact in both engines by construction. */
  def normalizedDedup(s: SparkSession, dir: String): DataFrame =
    normalizedDedupOver(Tables.documents(s, dir))

  /** q123 over an injectable (doc_id, text) frame (non-vacuous-spec rule: the
    * fixture has no canonical-form duplicates, so grouping behavior
    * binds only on constructed variants). */
  private[graft] def normalizedDedupOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs.select($"doc_id",
      TextQueries.fingerprint(normalize_text($"text")).as("canon_fp"))
    val groups = base.groupBy($"canon_fp")
      .agg(count(lit(1)).as("group_size"), min($"doc_id").as("keeper_id"))
    base.join(groups, Seq("canon_fp"))
      .select($"doc_id", $"canon_fp", $"group_size", $"keeper_id",
        ($"doc_id" === $"keeper_id").as("is_keeper"))
      .orderBy($"doc_id")
  }

  lazy val normalizedDedupSql: String = {
    val canon = "trim(regexp_replace(lower(strip_accents(nfc_normalize(text))), " +
      "'\\s+', ' ', 'g'))"
    s"""WITH c AS (
      |  SELECT doc_id,
      |    ${graft.queries.TextQueries.fingerprintSql(canon)} AS canon_fp
      |  FROM documents),
      |g AS (
      |  SELECT canon_fp, count(*) AS group_size, min(doc_id) AS keeper_id
      |  FROM c GROUP BY canon_fp)
      |SELECT doc_id, canon_fp, group_size, keeper_id,
      |  doc_id = keeper_id AS is_keeper
      |FROM c JOIN g USING (canon_fp)
      |ORDER BY doc_id""".stripMargin
  }

  /** N-gram (token-set) Jaccard near-dup pairs, blocked by source +
    * bounded id window (the blocking keeps the oracle O(n·w) — the
    * unblocked scale path is `minhashDedup`, which finds the same
    * high-similarity pairs without enumerating windows).
    *
    * The `(id_a, id_a+50]` window is realized as an EQUI-JOIN key, not
    * a post-join filter: ids bucket into blocks of 50
    * (`blk = doc_id div 50`), the left side explodes into its own and
    * the next block, and the join keys on `(source, blk)`. Every
    * window pair lands in exactly one bucket pairing (b's block is
    * either a's or the adjacent one), so the output is identical to
    * the naive cross-product-then-filter form — but each join bucket
    * holds ≤ 2·50 rows regardless of corpus size, so candidate
    * enumeration is O(n·w), never O(n²) within a source group. */
  // no trailing global sort: the range-partitioner sampling
  // pass re-executes the pair join (the plan's only heavy stage) and
  // the driver's hash compare is row-order-insensitive (the q33/q43
  // precedent; check.py sorts rows before hashing)
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsRaw(s, dir)

  private[graft] def ngramJaccardPairsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blockW = 50
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"source", array_distinct(tokens($"text")).as("toks"))
    val a = docs.select($"doc_id".as("id_a"), $"source", $"toks".as("toks_a"),
        explode(array(($"doc_id" / blockW).cast("long"),
          ($"doc_id" / blockW).cast("long") + 1)).as("blk"))
    val b = docs.select($"doc_id".as("id_b"), $"source", $"toks".as("toks_b"),
        ($"doc_id" / blockW).cast("long").as("blk"))
    a.join(b, Seq("source", "blk"))
      .filter($"id_b" > $"id_a" && $"id_b" <= $"id_a" + blockW)
      .withColumn("jaccard",
        round(size(array_intersect($"toks_a", $"toks_b")).cast("double") /
          size(array_union($"toks_a", $"toks_b")), 4))
      .filter($"jaccard" >= 0.5)
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** Unordered-result note: the Spark side emits these
    * rows UNSORTED — no trailing ORDER BY, because the range sampler
    * would re-execute the heavy final stage purely to order
    * output the driver hashes order-insensitively (check.py sorts
    * rows before hashing). This oracle statement keeps its ORDER BY
    * as the canonical presentation; row order is NOT part of the
    * result contract. */
  val ngramJaccardPairsSql: String =
    """SELECT id_a, id_b, jaccard FROM (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |          / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
      |  FROM (SELECT doc_id, source, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      |        FROM documents) a
      |  JOIN (SELECT doc_id, source, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      |        FROM documents) b
      |    ON a.source = b.source AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50)
      |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** MinHash + LSH dedup (the 100 TB path: no blocking window, no
    * O(n²) output). 3-token shingles (order-sensitive, the standard
    * web-dedup unit) → k=128 minhashes → 16 bands × 8 rows (candidate
    * s-curve centered ≈ J=0.77, near-1 recall at J≥0.9); a doc is a
    * duplicate iff it shares a band bucket with a LOWER doc_id whose
    * signature similarity ≥ 0.9.
    *
    * Scale design notes (this corpus is pathologically self-similar —
    * 74% of all pairs have J≥0.5 — so any emit-all-pairs semantic is
    * inherently quadratic in OUTPUT; the dedup decision is not):
    *  - output is one row per doc (doc_id, keeper_id, is_dup): O(n);
    *  - each doc verifies against only its bucket MINIMUM, not every
    *    bucket-mate: per-band work is linear in bucket size, so a
    *    mega-cluster of identical docs costs O(cluster), not
    *    O(cluster²) — the standard web-dedup trick, trading a small
    *    recall delta (a doc whose bucket-min verify fails stays) for
    *    linear cost;
    *  - verification uses signature-component agreement (O(k), no
    *    token-set join, no second pass over texts).
    * ExpressionsSpec pins exact-copy recall + keeper mapping; the
    * registered q43 form is [[minhashDedupValidated]], which folds
    * those theorems into oracle-pinned booleans. */
  def minhashDedup(s: SparkSession, dir: String): DataFrame =
    minhashDedupCore(s, dir, withFingerprint = false)

  /** Core of [[minhashDedup]]. `withFingerprint = true` additionally
    * carries the rolling-hash text fingerprint through the signature
    * checkpoint and out the final assembly — [[minhashDedupValidated]]
    * needs (keeper decision × fingerprint) per doc, and computing fp
    * in the SAME scan that computes signatures removes the second
    * `documents` scan plus a 5k×5k re-join a profile showed
    * costing ~0.3 s of q43's warm time (at 100 TB it removes an
    * entire table scan, which matters far more). */
  private def minhashDedupCore(s: SparkSession, dir: String,
      withFingerprint: Boolean): DataFrame = {
    import s.implicits._
    val bands = 16
    val rowsPerBand = 8
    val k = bands * rowsPerBand
    // shingling is fused inside the expression (no 13 µs/shingle
    // string materialization — see MinHashSignature's Scaladoc).
    // The signature relation feeds three plan branches (banding, and
    // both sides of the candidate re-join); an EAGER localCheckpoint
    // computes signatures once — the "materialize the signature
    // table" step a production web-dedup pipeline checkpoints before
    // LSH. localCheckpoint over persist(): blocks are freed by the
    // ContextCleaner when the plan is garbage-collected (persist
    // entries pin the CacheManager until an explicit unpersist that
    // no caller could safely issue), and each invocation
    // re-materializes instead of aliasing a prior call's cache.
    val sigCols =
      Seq($"doc_id", minhash_signature(tokens($"text"), n = 3, k = k, seed = 42).as("sig")) ++
        (if (withFingerprint) Seq(TextQueries.fingerprint($"text").as("fp")) else Nil)
    val docs = Tables.documents(s, dir)
      .select(sigCols: _*)
      .reliableCheckpoint()
    // band rows carry only (doc_id, band, band_sig) — 24 bytes/row
    // through the band shuffle, not the 1 KB signature (signatures
    // re-join once per distinct candidate pair below)
    val banded = docs
      .select($"doc_id", posexplode(
        array((0 until bands).map(b => xxhash64(slice($"sig", b * rowsPerBand + 1, rowsPerBand))): _*)))
      .toDF("doc_id", "band", "band_sig")
    val bucketMin = banded.groupBy($"band", $"band_sig")
      .agg(min($"doc_id").as("min_id"))
    val estJ = aggregate(
      zip_with($"sig", $"min_sig", (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / k
    val dropped = banded.join(bucketMin, Seq("band", "band_sig"))
      .filter($"doc_id" > $"min_id")
      .select($"doc_id", $"min_id").distinct()
      .join(docs, Seq("doc_id"))
      .join(docs.select($"doc_id".as("min_id"), $"sig".as("min_sig")), Seq("min_id"))
      .withColumn("est_j", estJ)
      .filter($"est_j" >= 0.9)
      .groupBy($"doc_id")
      .agg(min($"min_id").as("dup_of"),
        round(min_by($"est_j", $"min_id"), 4).as("est_jaccard")) // similarity OF the kept pair
    // no global sort: per-doc decisions need no total order, and the
    // range-sampler would re-execute the assembly join for sampling
    val outCols =
      Seq($"doc_id",
        coalesce($"dup_of", $"doc_id").as("keeper_id"),
        $"dup_of".isNotNull.as("is_dup"),
        coalesce($"est_jaccard", lit(1.0)).as("est_jaccard")) ++
        (if (withFingerprint) Seq($"fp") else Nil)
    docs.join(dropped, Seq("doc_id"), "left")
      .select(outCols: _*)
  }

  /** SimHash near-dup pairs: 64-bit fingerprint, candidates via 4×16
    * bit bands (any identical quarter → candidate; catches all pairs
    * with Hamming ≤ 3), verified by bit_count(xor) ≤ 3. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    simhashPairsRaw(s, dir) // unsorted: the q42 sampling rule

  private def simhashPairsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", simhash64(tokens($"text")).as("fp"))
    val banded = docs.select($"doc_id", $"fp", posexplode(
      array((0 until 4).map(q => shiftrightunsigned($"fp", q * 16).bitwiseAND(lit(0xffffL))): _*)))
      .toDF("doc_id", "fp", "band", "band_val")
    banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.band_val" === $"y.band_val" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        bit_count($"x.fp".bitwiseXOR($"y.fp")).as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
  }

  /** q43 as a SELF-VALIDATING query (the q19/q56/q57 pattern — the
    * murmur-seeded signatures are not SQL-expressible, so the oracle
    * pins the operator's THEOREMS instead):
    *  - `n_docs` / `n_text_groups`: the keeper map covers every doc
    *    exactly once (count + distinct-fingerprint count are both
    *    reproduced independently by DuckDB);
    *  - exact-copy recall: docs with byte-identical text share one
    *    keeper (identical text ⇒ identical signature ⇒ identical band
    *    buckets ⇒ the same bucket-min candidate set, so the keeper
    *    decision is provably equal — a regression here means the
    *    banding or verify join lost determinism);
    *  - keeper_id ≤ doc_id (candidates only come from bucket minima);
    *  - is_dup ⇔ keeper ≠ self; est_jaccard ∈ [0.9, 1].
    * The full LSH dedup (signatures, banding, bucket-min verify,
    * keeper assembly) runs unchanged underneath — the aggregate only
    * folds its per-doc output into pinned booleans. */
  def minhashDedupValidated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // fp rides the signature checkpoint (one documents scan total) —
    // see minhashDedupCore's Scaladoc for the profile numbers.
    minhashDedupCore(s, dir, withFingerprint = true)
      .groupBy($"fp")
      .agg(count(lit(1)).as("n"),
        (countDistinct($"keeper_id") === 1).as("grp_same_keeper"),
        expr("bool_and(keeper_id <= doc_id)").as("grp_keeper_le"),
        expr("bool_and(is_dup = (keeper_id != doc_id))").as("grp_dup_flag"),
        expr("bool_and(est_jaccard between 0.9 and 1.0)").as("grp_ej"))
      // coalesce: sum/bool_and over ZERO groups are NULL on an empty
      // corpus — 0 docs and vacuously-true theorems (the q44 rule)
      .agg(coalesce(sum($"n"), lit(0L)).as("n_docs"),
        count(lit(1)).as("n_text_groups"),
        coalesce(expr("bool_and(grp_same_keeper)"), lit(true)).as("exact_copies_share_keeper"),
        coalesce(expr("bool_and(grp_keeper_le)"), lit(true)).as("keeper_is_min"),
        coalesce(expr("bool_and(grp_dup_flag)"), lit(true)).as("dup_flag_consistent"),
        coalesce(expr("bool_and(grp_ej)"), lit(true)).as("est_jaccard_in_range"))
  }

  val minhashDedupValidatedSql: String =
    s"""SELECT count(*) AS n_docs, count(DISTINCT fp) AS n_text_groups,
      |  true AS exact_copies_share_keeper, true AS keeper_is_min,
      |  true AS dup_flag_consistent, true AS est_jaccard_in_range
      |FROM (
      |  SELECT doc_id,
      |    ${graft.queries.TextQueries.fingerprintSql("text")} AS fp
      |  FROM documents)""".stripMargin

  /** q44 self-validation: the LSH banding theorem — 4 bands over 64
    * bits catch EVERY pair within Hamming ≤ 3 (pigeonhole) — checked
    * in-query against an exhaustive all-pairs sweep of a
    * deterministic id-sample that is CAPPED ABSOLUTELY
    * (doc_id % 50 = 0 AND doc_id < 50000 → ≤ 1,000 docs, ≤ 500k
    * audit pairs at ANY corpus size — an uncapped fraction sample
    * would still be O((n/50)²), the quadratic this operator exists
    * to avoid), plus the structural contracts of the pair list
    * (ordered ids, no duplicates, at least one pair on this
    * self-similar corpus). */
  def simhashPairsValidated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = simhashPairsRaw(s, dir)
    val checks = pairs.agg(
      (count(lit(1)) > 0).as("found_pairs"),
      // vacuous truth over an empty pair frame (the q145 discipline) —
      // bool_and over zero rows is NULL, not a contract violation
      coalesce(expr("bool_and(id_a < id_b)"), lit(true)).as("all_ordered"),
      (count(lit(1)) === countDistinct($"id_a", $"id_b")).as("no_dup_pairs"),
      coalesce(expr("bool_and(hamming <= 3)"), lit(true)).as("hamming_bound"))
    val sub = Tables.documents(s, dir)
      .filter($"doc_id" % 50 === 0 && $"doc_id" < 50000)
      .select($"doc_id", simhash64(tokens($"text")).as("fp"))
    val subPairs = sub.as("x").join(sub.as("y"), $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
        bit_count($"x.fp".bitwiseXOR($"y.fp")).as("h"))
      .filter($"h" <= 3)
    val complete = subPairs
      .join(pairs.select($"id_a", $"id_b", lit(1).as("hit")),
        Seq("id_a", "id_b"), "left_outer")
      .agg(count(lit(1)).as("n_sub"),
        (count(lit(1)) === coalesce(sum($"hit"), lit(0))).as("subset_complete"))
    // has_pairs binds exactly where the exhaustive audit binds:
    // it pins "the banding emitted >= 1 pair" only
    // when the audit slice PROVES near-dup pairs exist (where it is
    // implied by subset_complete, so a silent-empty LSH still fails),
    // and goes STRUCTURALLY VACUOUS on corpora with no qualifying
    // pair — the degenerate recipes now cross-engine-MATCH instead of
    // being a documented residual.
    checks.crossJoin(complete)
      .select(($"found_pairs" || $"n_sub" === 0).as("has_pairs"),
        $"all_ordered", $"no_dup_pairs", $"hamming_bound", $"subset_complete")
  }

  val simhashPairsValidatedSql: String =
    """SELECT true AS has_pairs, true AS all_ordered, true AS no_dup_pairs,
      |  true AS hamming_bound, true AS subset_complete""".stripMargin

  /** Embedding-cosine near-dup pairs within label blocks, via the
    * codegen'd [[graft.functions.CosineSimilarity]] expression.
    * ORACLE TIER: exhaustive O(n²/L) pair enumeration, gated by
    * [[graft.operators.Scale.oracleTierGuard]] — the scale path is
    * [[embeddingNearDupsLsh]] (q54). */
  def embeddingNearDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = graft.operators.Scale.oracleTierGuard(
      Tables.embeddings(s, dir).select($"vec_id", $"label", $"embedding"),
      "q45_embedding_neardups", "q54_embedding_neardups_lsh (LSH-bucketed)")
    val a = e.select($"vec_id".as("id_a"), $"label", $"embedding".as("emb_a"))
    val b = e.select($"vec_id".as("id_b"), $"label", $"embedding".as("emb_b"))
    a.join(b, Seq("label"))
      .filter($"id_b" > $"id_a")
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .filter($"cosine" >= 0.4)
      .select($"id_a", $"id_b", $"cosine") // unsorted: the q42 sampling rule
  }

  /** Unordered-result note: the Spark side emits these
    * rows UNSORTED — no trailing ORDER BY, because the range sampler
    * would re-execute the heavy final stage purely to order
    * output the driver hashes order-insensitively (check.py sorts
    * rows before hashing). This oracle statement keeps its ORDER BY
    * as the canonical presentation; row order is NOT part of the
    * result contract. */
  val embeddingNearDupsSql: String =
    """SELECT id_a, id_b, cosine FROM (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND b.vec_id > a.vec_id)
      |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin

  /** Scale-path sibling of q45:
    * embedding near-dup pairs with LSH-bucket candidate generation +
    * exact cosine re-rank — candidates come from one bucket-keyed
    * shuffle via [[graft.functions.HyperplaneBucket]] (auto plane
    * count, see [[SimilarityQueries.lshBits]]), never a label-block
    * cross product; buckets above [[HotBucketThreshold]] are further
    * split by a second-level hash, so per-bucket pair enumeration is
    * LINEAR in bucket size past the threshold. Near-dup pairs
    * (cosine ≥ 0.4 here) are overwhelmingly bucket-mates (8 sign
    * bits agree with prob ≈ (1−θ/π)^8); the blocked q45 stays as the
    * exhaustive small-sf oracle. Oracle-hash-checked: the integer-
    * derived planes are reproduced as double literals in SQL. */
  def embeddingNearDupsLsh(s: SparkSession, dir: String): DataFrame =
    embeddingNearDupsLshRaw(s, dir) // unsorted: the q42 sampling rule

  /** HOT-BUCKET second-level split. Auto plane
    * sizing pins the EXPECTED bucket size, but a dense semantic
    * cluster collides into one bucket no matter how many first-level
    * planes exist (near-parallel vectors share every sign), so the
    * per-bucket pair enumeration inside it stays quadratic — the
    * measured q106 sf1 residual (8.08× for 10× data). The standard
    * escape: re-hash members of buckets ABOVE a size threshold with
    * EXTRA planes (an independent seed) and enumerate pairs only
    * within (bucket, sub). The modulus doubles with bucket size
    * (table below), so expected sub-bucket size caps at the ~64-row
    * regime the threshold defines and pair volume per bucket is
    * O(size · 64) — LINEAR in the bucket, quadratic only below the
    * threshold. Recall trade, explicit: a second-level plane cuts a
    * tight pair with prob θ/π per plane (tiny for the dense clusters
    * that trigger the split), EXACT duplicates can never separate
    * (identical vectors ⇒ identical sub-hash), and a cluster that
    * fragments yields extra keepers — weaker dedup, never a wrong
    * row, and the DuckDB oracle recomputes the identical rule
    * (ONE table generates both the when-chain and the SQL CASE).
    * Buckets ≤ [[HotBucketThreshold]] keep modulus 1 ⇒ sub = 0 ⇒
    * bit-identical to the pre-split operator (the sf0.01 verify
    * fixture's largest bucket is 36 — the gate output is unchanged). */
  private[graft] val HotBucketThreshold = 64
  /** Seed for the second-level planes: ≥ dim (64), so no component
    * position coincides with the seed-0 first-level stream. */
  private[graft] val HotBucketSeed = 4096
  /** (upper size bound → sub modulus): modulus = 2^⌈log₂(size/64)⌉
    * as pure integer comparisons — bit-exact in both engines, no
    * float log. Capped at 256 (8 planes; a >16k-row single bucket is
    * the recursive-split regime, out of scope for one level). */
  private val HotBucketModulus: Seq[(Int, Int)] =
    Seq(64 -> 1, 128 -> 2, 256 -> 4, 512 -> 8, 1024 -> 16,
      2048 -> 32, 4096 -> 64, 8192 -> 128)
  private val HotBucketMaxModulus = 256

  private def subModulus(bsz: Column): Column =
    HotBucketModulus.tail.foldLeft(
      when(bsz <= HotBucketModulus.head._1, lit(HotBucketModulus.head._2))) {
      case (acc, (lim, m)) => acc.when(bsz <= lim, lit(m))
    }.otherwise(lit(HotBucketMaxModulus))

  private def subModulusSql: String =
    HotBucketModulus.map { case (lim, m) => s"WHEN bsz <= $lim THEN $m" }
      .mkString("CASE ", " ", s" ELSE $HotBucketMaxModulus END")

  /** Unsorted q54 pair graph — shared with q106's clustering, which
    * must not pay (or re-trigger, via the range sampler) a global
    * sort the edge set immediately discards. Candidates are
    * (bucket, sub)-mates under the hot-bucket split above; the bucket
    * sizes come from one map-side-combined aggregate (≤ one row per
    * distinct bucket — broadcastable at priced scale, and O(n/8) rows
    * under auto planes, never corpus-wide state). */
  private[graft] def embeddingNearDupsLshRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
      .select($"vec_id", $"embedding", SimilarityQueries.embBucket(s, dir).as("bucket"))
    val sizes = e.groupBy($"bucket").agg(count(lit(1)).as("bsz"))
    val keyed = e.join(sizes, Seq("bucket"))
      .withColumn("sub",
        hyperplane_bucket($"embedding", 8, HotBucketSeed) % subModulus($"bsz"))
    val a = keyed.select($"vec_id".as("id_a"), $"bucket", $"sub", $"embedding".as("emb_a"))
    val b = keyed.select($"vec_id".as("id_b"), $"bucket", $"sub", $"embedding".as("emb_b"))
    a.join(b, Seq("bucket", "sub"))
      .filter($"id_b" > $"id_a")
      .withColumn("cosine", round(cosine_similarity($"emb_a", $"emb_b"), 6))
      .filter($"cosine" >= 0.4)
      .select($"id_a", $"id_b", $"cosine")
  }

  /** The second-level 8-plane hash as DuckDB SQL — same integer-
    * derived plane matrix at [[HotBucketSeed]]; see
    * [[SimilarityQueries.bucketSql]] for the exactness argument. */
  private def subBitsSql: String =
    (0 until 8).map { p =>
      s"(CASE WHEN list_dot_product(e, " +
        s"${graft.functions.HyperplaneBucket.planeSqlLiteral(p, 64, HotBucketSeed)}) > 0 " +
        s"THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Unordered-result note: the Spark side emits these
    * rows UNSORTED — no trailing ORDER BY, because the range sampler
    * would re-execute the heavy final stage purely to order
    * output the driver hashes order-insensitively (check.py sorts
    * rows before hashing). This oracle statement keeps its ORDER BY
    * as the canonical presentation; row order is NOT part of the
    * result contract. */
  val embeddingNearDupsLshSql: String =
    s"""WITH b AS (${SimilarityQueries.bucketSql}),
      |sz AS (SELECT bucket, count(*) AS bsz FROM b GROUP BY bucket),
      |b2 AS (SELECT b.vec_id, b.e, b.bucket,
      |  ($subBitsSql) % ($subModulusSql) AS sub
      |  FROM b JOIN sz USING (bucket))
      |SELECT id_a, id_b, cosine FROM (
      |  SELECT a.vec_id AS id_a, c.vec_id AS id_b,
      |    round(list_cosine_similarity(a.e, c.e), 6) AS cosine
      |  FROM b2 a JOIN b2 c
      |    ON a.bucket = c.bucket AND a.sub = c.sub AND c.vec_id > a.vec_id)
      |WHERE cosine >= 0.4 ORDER BY id_a, id_b""".stripMargin

  /** q66: dedup CLUSTER assignment — connected components over the
    * near-dup pair graph (the step a production dedup pipeline runs
    * after candidate generation: transitive closure turns pairs into
    * keep-groups; keeping one doc per component is what actually
    * deduplicates, since near-duplication is not transitive
    * pairwise). Edges are [[ngramJaccardPairs]] (q42 — already
    * hash-verified against DuckDB, so both engines agree on the
    * graph); each doc's cluster_id is the MINIMUM doc_id reachable
    * from it.
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING
    * — each round every node takes the min of its own label, its
    * neighbors' labels, and its label's label (path halving). The
    * jump makes convergence O(log diameter) rounds instead of
    * O(diameter): the fixture's window-blocked pairs chain across
    * the whole id range (diameter ≈ n/50), which plain propagation
    * would need ~100 rounds to cross at sf0.1. This driver-
    * coordinated loop over checkpointed DataFrames is the standard
    * Spark shape for connected components (GraphX/GraphFrames run
    * the same alternating-star rounds); each round is two equi-joins
    * + one min-aggregate, all on the doc_id key. The loop stops at
    * fixpoint (no label changed), capped at 30 rounds.
    *
    * Oracle: DuckDB computes the same components by recursive-CTE
    * transitive closure + min per node — a completely different
    * algorithm arriving at the same fixpoint, which is exactly what
    * makes the hash comparison meaningful. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    clusterLabels(s, dir).orderBy($"doc_id")
  }

  /** The unsorted (doc_id, cluster_id) labels behind q66 — shared
    * with q82's impact report, which aggregates them and must not pay
    * (or re-trigger, via the range sampler) a global sort it discards. */
  private[graft] def clusterLabels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // RAW (unsorted) pairs: the public q42 form ends in a global sort
    // whose RangePartitioner sampling pass would re-execute the pair
    // join — a total order the edge set immediately discards
    componentsOver(
      ngramJaccardPairsRaw(s, dir).select($"id_a", $"id_b"),
      Tables.documents(s, dir).select($"doc_id".as("id")))
      .select($"id".as("doc_id"), $"cluster_id")
  }

  /** The connected-components core behind q66 (and q106):
    * min-label propagation with double pointer jumping over ANY
    * (id_a, id_b) edge frame and (id) node frame — the graph source
    * is a parameter, the algorithm is shared. Returns (id,
    * cluster_id = min reachable id). */
  private[graft] def componentsOver(edgesIn: DataFrame, nodes: DataFrame): DataFrame = {
    val s = edgesIn.sparkSession
    import s.implicits._
    val edges = edgesIn
      .reliableCheckpoint() // the pair join runs once, not once per round
    val und = edges.unionByName(
      edges.select($"id_b".as("id_a"), $"id_a".as("id_b")))
    // SEED: label₀ = min over the CLOSED
    // NEIGHBORHOOD — exactly what the first propagation round produces from
    // identity labels, but computed as one aggregate over the edge
    // frame (with identity labels that round's two joins are pure
    // renames, so the old first round paid three frames + a union +
    // a join for what one groupBy delivers). Star-shaped components
    // (the common dedup case: one keeper, k near-copies) are fully
    // labeled by the seed, so the loop's first round is already the
    // no-change fixpoint check. NOTE: seeding by candidate-BUCKET min
    // would be unsound — bucket-mates below the similarity threshold
    // are NOT edges, and their components must stay separate; the
    // neighborhood min only ever propagates along real edges.
    val nbrMin = und.groupBy($"id_a").agg(min($"id_b").as("nb"))
      .withColumnRenamed("id_a", "id")
    var labels = nodes.select($"id")
      .join(nbrMin, Seq("id"), "left")
      .select($"id", least($"id", coalesce($"nb", $"id")).as("cluster_id"))
      .reliableCheckpoint()
    // labels are monotonically non-increasing, so the label SUM
    // strictly decreases on any change — fixpoint detection is one
    // tiny aggregate over the checkpointed frame, no compare join
    var prevSum = labels.agg(coalesce(sum($"cluster_id"), lit(0L))).head().getLong(0)
    var changed = true
    var round0 = 0
    while (changed && round0 < 30) {
      val viaEdges = und
        .join(labels.withColumnRenamed("id", "id_a"), Seq("id_a"))
        .select($"id_b".as("id"), $"cluster_id")
      val viaJump = labels
        .join(labels.select($"id".as("cluster_id"), $"cluster_id".as("jump")),
          Seq("cluster_id"))
        .select($"id", $"jump".as("cluster_id"))
      val hop = labels.unionByName(viaEdges).unionByName(viaJump)
        .groupBy($"id").agg(min($"cluster_id").as("cluster_id"))
      // second pointer jump INSIDE the round's plan: label ←
      // label-of-label once more before materializing. Rounds to
      // fixpoint drop 9 → 5 on the fixture graph; at cluster scale
      // each round is a full shuffle barrier, so halving the round
      // count halves the synchronization cost (locally ~10% — the
      // extra tiny join trades against the per-job floor). LEFT join +
      // coalesce: every label IS a node id, but the guard keeps a row
      // with an unmatched label from being dropped rather than kept.
      val next = hop
        .join(hop.select($"id".as("cluster_id"), $"cluster_id".as("jump2")),
          Seq("cluster_id"), "left")
        .select($"id", coalesce($"jump2", $"cluster_id").as("cluster_id"))
        .reliableCheckpoint()
      val nextSum = next.agg(coalesce(sum($"cluster_id"), lit(0L))).head().getLong(0)
      changed = nextSum != prevSum
      prevSum = nextSum
      labels = next
      round0 += 1
    }
    lastComponentRounds = round0
    labels
  }

  /** Rounds the last [[componentsOver]] call took to fixpoint —
    * instrumentation for the TextOpsSpec convergence assertions (the
    * seed's value IS the round count it saves). */
  @volatile private[graft] var lastComponentRounds: Int = -1

  /** q82: DEDUP IMPACT REPORT — the artifact a dedup run actually
    * ships to its operators: per source, how many documents and
    * tokens survive near-dup removal. Composes the q42 candidate
    * pairs → q66 connected components → keeper policy end to end.
    * The keeper rule falls out of min-label propagation for free:
    * labels initialize to doc_id and only ever decrease to the
    * component minimum, so cluster_id IS the component's min doc_id
    * and `doc_id = cluster_id` selects exactly one keeper per
    * cluster — no extra window or join to pick winners.
    *
    * Scale shape: everything downstream of the (already-iterative)
    * labels frame is one broadcast-sized join against the narrow
    * (doc_id, source, n_tokens) projection plus a 20-group aggregate
    * — the report adds no data-sized work to the clustering itself. */
  def dedupImpact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"source", graft.queries.TextQueries.tokenCount($"text").as("n_toks"))
    docs.join(clusterLabels(s, dir), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("docs_total"),
        sum(when($"doc_id" === $"cluster_id", 1L).otherwise(0L)).as("docs_kept"),
        sum($"n_toks").as("tokens_total"),
        sum(when($"doc_id" === $"cluster_id", $"n_toks").otherwise(0L)).as("tokens_kept"))
      .withColumn("dup_frac",
        expr("(20000 * (docs_total - docs_kept) + docs_total) div (2 * docs_total)") / 10000.0)
      .orderBy($"source")
  }

  /** Labels COMPOSE q66's oracle (itself composing q42's) — one
    * definition of the cluster graph across all three queries. Lazy:
    * `dedupClustersSql` is declared LATER in the object, so a strict
    * val here would interpolate null at object init. */
  lazy val dedupImpactSql: String =
    s"""WITH labels AS (SELECT * FROM ($dedupClustersSql)),
      |d AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_toks
      |  FROM documents),
      |r AS (
      |  SELECT source,
      |    CAST(count(*) AS BIGINT) AS docs_total,
      |    CAST(sum(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
      |    CAST(sum(n_toks) AS BIGINT) AS tokens_total,
      |    CAST(sum(CASE WHEN doc_id = cluster_id THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_kept
      |  FROM d JOIN labels USING (doc_id) GROUP BY 1)
      |SELECT source, docs_total, docs_kept, tokens_total, tokens_kept,
      |  ((20000 * (docs_total - docs_kept) + docs_total) // (2 * docs_total)) / 10000.0 AS dup_frac
      |FROM r ORDER BY source""".stripMargin

  /** q173: QUALITY-AWARE CANONICAL SELECTION — every keeper rule so
    * far (q40/q43/q66/q108) keeps the MINIMUM id: deterministic, but
    * id order is crawl order, and the first-crawled copy of a
    * near-dup cluster is routinely the worst one (truncated fetch,
    * boilerplate-wrapped mirror). Production dedup keeps the BEST
    * copy: per q66 component, the member with the most distinct
    * tokens (q22's richness signal — an exact INTEGER, so the argmax
    * is cross-engine exact; ratios would reintroduce double ties),
    * ties broken by min doc_id. One row per cluster: the keeper, its
    * quality, and the member count — the replacement table a
    * re-keyed corpus joins against.
    * Scale: the labels frame is q66's (shared `clusterLabels`, its
    * O(log d) rounds already priced); downstream is ONE doc_id join
    * against the narrow (doc_id, ndt) projection and ONE
    * max(struct)-aggregate — the argmax travels as 16 bytes of
    * struct state through a map-side-combined exchange, never a
    * per-cluster window over the corpus. */
  def canonicalKeepers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quality = Tables.documents(s, dir).select($"doc_id",
      size(array_distinct(split(trim($"text"), "\\s+"))).cast("long").as("ndt"))
    canonicalKeepersOver(clusterLabels(s, dir), quality)
  }

  /** q173 over injectable (doc_id, cluster_id) labels and (doc_id,
    * ndt) quality frames — the argmax/tie rule gets hand-built specs
    * (the q135 rule). */
  private[graft] def canonicalKeepersOver(labels: DataFrame, quality: DataFrame): DataFrame = {
    val s = labels.sparkSession
    import s.implicits._
    labels.join(quality, Seq("doc_id"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        // lexicographic struct max: highest ndt, then highest -id
        // (= LOWEST doc_id) — the (quality desc, id asc) rule as one
        // mergeable aggregate
        max(struct($"ndt", (-$"doc_id").as("nid"))).as("m"))
      .select($"cluster_id", $"n_members",
        (-$"m.nid").as("keeper_id"),
        $"m.ndt".as("keeper_distinct_tokens"))
      .orderBy($"cluster_id")
  }

  /** Keepers COMPOSE q66's oracle (the q82 rule) and re-derive the
    * argmax by a different mechanism — QUALIFY over a window — so the
    * hash agreement checks the selection rule, not shared code. */
  lazy val canonicalKeepersSql: String =
    s"""WITH labels AS (SELECT * FROM ($dedupClustersSql)),
      |q AS (
      |  SELECT doc_id,
      |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS ndt
      |  FROM documents),
      |j AS (SELECT l.cluster_id, l.doc_id, q.ndt
      |      FROM labels l JOIN q USING (doc_id)),
      |k AS (
      |  SELECT cluster_id, doc_id AS keeper_id, ndt AS keeper_distinct_tokens
      |  FROM j
      |  QUALIFY row_number() OVER (PARTITION BY cluster_id
      |                             ORDER BY ndt DESC, doc_id) = 1),
      |n AS (SELECT cluster_id, count(*) AS n_members FROM j GROUP BY 1)
      |SELECT n.cluster_id, n.n_members, k.keeper_id, k.keeper_distinct_tokens
      |FROM n JOIN k USING (cluster_id) ORDER BY cluster_id""".stripMargin

  /** q177: SYNDICATION MATRIX — WHICH sources mirror WHICH: for every
    * source pair, the number of distinct document FINGERPRINTS (q41's
    * whole-text rolling hash) present in both, with each side's
    * containment ppm. q40/q41 find the duplicate rows, q82 prices the
    * per-source impact, q83 compares vocabularies — none of them says
    * "src3 republishes 40% of src7", which is the signal that decides
    * whether to DROP A SOURCE rather than dedup row by row (syndicated
    * mirrors, licensing feeds, scraper overlap). Only pairs sharing
    * ≥1 fingerprint appear (the q83 sparsity rule).
    * Scale: distinct (source, fp) is ONE exchange over 8-byte rows
    * with map-side dedup; the self-equi-join on fp fans out ≤
    * |sources|² per key regardless of corpus size (the q83 bound);
    * the |pairs|-row rollup joins the |sources|-row size dim by
    * broadcast, ppm double-first (q165 rule). The distinct frame is
    * checkpointed — both join sides and the size dim read it
    * materialized (the q43 lesson). */
  def syndicationMatrix(s: SparkSession, dir: String): DataFrame =
    syndicationMatrixOver(Tables.documents(s, dir))

  /** The q177 pipeline over any (source, text) frame — injectable for
    * hand-built mirror/containment specs (the q135 rule). */
  private[graft] def syndicationMatrixOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val fps = docs
      .select($"source", graft.queries.TextQueries.fingerprint($"text").as("fp"))
      .distinct()
      .reliableCheckpoint()
    val sizes = fps.groupBy($"source").agg(count(lit(1)).as("n"))
    fps.as("a")
      .join(fps.as("b"), $"a.fp" === $"b.fp" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "n_fps_a")), Seq("source_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "n_fps_b")), Seq("source_b"))
      .withColumn("containment_a_ppm",
        expr("CAST(floor(n_shared_fps * 1000000.0 / n_fps_a) AS BIGINT)"))
      .withColumn("containment_b_ppm",
        expr("CAST(floor(n_shared_fps * 1000000.0 / n_fps_b) AS BIGINT)"))
      .select($"source_a", $"source_b", $"n_shared_fps", $"n_fps_a", $"n_fps_b",
        $"containment_a_ppm", $"containment_b_ppm")
      .orderBy($"source_a", $"source_b")
  }

  val syndicationMatrixSql: String =
    s"""WITH f AS (
      |  SELECT DISTINCT source,
      |    ${graft.queries.TextQueries.fingerprintSql("text")} AS fp
      |  FROM documents),
      |sz AS (SELECT source, count(*) AS n FROM f GROUP BY 1),
      |p AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    count(*) AS n_shared_fps
      |  FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT p.source_a, p.source_b,
      |  CAST(p.n_shared_fps AS BIGINT) AS n_shared_fps,
      |  CAST(sa.n AS BIGINT) AS n_fps_a, CAST(sb.n AS BIGINT) AS n_fps_b,
      |  CAST(floor(p.n_shared_fps * 1000000.0 / sa.n) AS BIGINT) AS containment_a_ppm,
      |  CAST(floor(p.n_shared_fps * 1000000.0 / sb.n) AS BIGINT) AS containment_b_ppm
      |FROM p
      |JOIN sz sa ON sa.source = p.source_a
      |JOIN sz sb ON sb.source = p.source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** Edges COMPOSE q42's oracle SQL — one definition of the pair
    * graph; a change to q42's blocking/threshold updates both. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE edges AS (
      |  SELECT id_a, id_b FROM ($ngramJaccardPairsSql)),
      |und AS (SELECT id_a AS a, id_b AS b FROM edges
      |        UNION ALL SELECT id_b, id_a FROM edges),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.id)
      |SELECT id AS doc_id, min(lbl) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** q106: SEMANTIC DEDUP (SemDeDup-class) — the embedding-space
    * sibling of q66/q82: connected components over the q54 LSH
    * cosine-candidate graph, one keeper per component (the min-label
    * rule — cluster_id IS the component's min vec_id, so
    * `vec_id = cluster_id` selects keepers with no extra window).
    * Text near-dup (q42→q66) catches lexical copies; this catches
    * SEMANTIC copies — paraphrases and templated variants whose
    * embeddings agree (cosine ≥ 0.4) while their n-grams differ.
    *
    * Same [[componentsOver]] core as q66: edges come from the
    * bucket-keyed LSH shuffle with the hot-bucket second-level split
    * (never an all-pairs product, and dense clusters no longer pay a
    * quadratic bucket), rounds are
    * O(log diameter) shuffle barriers. The oracle recomputes the
    * components by recursive-CTE closure over the SAME edge SQL (the
    * q54 pair graph is itself hash-verified), so two different
    * algorithms on two engines must land on identical keeper sets. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    componentsOver(
      embeddingNearDupsLshRaw(s, dir).select($"id_a", $"id_b"),
      Tables.embeddings(s, dir).select($"vec_id".as("id")))
      .select($"id".as("vec_id"), $"cluster_id",
        ($"id" === $"cluster_id").as("is_keeper"))
      .orderBy($"vec_id")
  }

  /** Edges COMPOSE q54's oracle SQL — one definition of the embedding
    * pair graph, mirroring the q66/q42 discipline. */
  val semanticDedupSql: String =
    s"""WITH RECURSIVE edges AS (
      |  SELECT id_a, id_b FROM ($embeddingNearDupsLshSql)),
      |und AS (SELECT id_a AS a, id_b AS b FROM edges
      |        UNION ALL SELECT id_b, id_a FROM edges),
      |reach(id, lbl) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.id)
      |SELECT id AS vec_id, min(lbl) AS cluster_id,
      |  (id = min(lbl)) AS is_keeper
      |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin

  /** q131: CHARACTER-LEVEL NEAR-DUP — banded-threshold Levenshtein
    * with COMPLETE length-band blocking. The token-level family
    * (q42 Jaccard, q43 MinHash, q44 SimHash) treats a document as a
    * bag/sequence of whitespace tokens, so it misses the char-level
    * near-dup class: OCR noise, single-character typos inside long
    * words, punctuation drift — edits that leave most tokens changed
    * by one byte. Rule: a pair is a near-dup when
    * `levenshtein(a, b) * 10 <= least(len_a, len_b)` (≤10% of the
    * shorter text edited).
    *
    * Blocking is COMPLETE for that rule, not recall-bounded (unlike
    * q42's same-block-only candidates): any qualifying pair has
    * `|len_a - len_b| <= dist <= maxLen/10`, and both the DP
    * threshold and the band width are DERIVED from the corpus
    * (`maxDist = maxLen div 10`, `W = greatest(64, maxDist + 1)` over
    * the ASCII-pinned domain — one column-pruned length agg; a
    * hardcoded 56/64 would silently drop qualifying pairs past
    * 560-char texts), so `W > maxDist >= dist` and the
    * pair's bands differ by at most 1 at ANY text length.
    * The probe side therefore emits three keys (band-1, band, band+1)
    * and the join stays a pure EQUI-join on (lang, band) — bands are
    * distinct per doc, so each pair matches exactly once and no
    * dedup pass is needed. Per-pair cost is the BANDED DP
    * (`levenshtein(l, r, threshold)` — O(threshold·n), Spark 3.5+)
    * rather than the O(n·m) full matrix; candidates that blow the
    * threshold return -1 and are filtered by the explicit `dist >= 0`
    * guard (without it, -1 passes the ≤10% predicate vacuously);
    * `maxDist >= maxLen/10 >=` any qualifying distance keeps that
    * guard a pure optimization.
    *
    * Cross-engine exactness: Spark's levenshtein counts CHARACTERS
    * while DuckDB's counts UTF-8 BYTES, so the operator pins its
    * domain to ASCII rows (`octet_length = char_length`), where the
    * two definitions coincide — the whole fixture qualifies, and at
    * scale non-ASCII rows route through q123's normalization first.
    *
    * ORACLE TIER: the (lang, band) blocks are
    * COMPLETE but FEW — block cardinality is ~|langs| × maxLen/W, so
    * candidate pairs grow as O(n²/blocks) and the operator cannot
    * run as written at 100× corpus. It is gated by
    * [[graft.operators.Scale.oracleTierGuard]] like q45/q47: past
    * `spark.graft.oracleTier.maxRows` it refuses and points at the
    * recall-bounded token-level family (q42/q44) — the exact ≤10%
    * char-edit rule has no known subquadratic complete blocking. */
  def editDistanceNearDups(s: SparkSession, dir: String): DataFrame =
    editDistanceNearDupsOver(graft.operators.Scale.oracleTierGuard(
      Tables.documents(s, dir), "q131_editdist_neardups",
      "q44_simhash_pairs (recall-bounded token-level SimHash bands)"))

  /** q131 over an injectable (doc_id, lang, text) frame (non-vacuous-spec
    * rule: specs construct corpora with hand-checkable distances). */
  private[graft] def editDistanceNearDupsOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Character-bag histogram (letters+digits+space — the pinned-
    // ASCII fixture alphabet), computed ONCE per doc map-side. Every
    // edit op changes the char multiset's L1 distance by at most 2
    // (ins/del by 1, substitution by ≤2), so lev(a,b) ≥ L1(a,b)/2 —
    // a SOUND lower bound that lets the O(1)-per-pair bag filter
    // discard most candidates before the O(threshold·n) DP ever
    // runs. Counting only a char subset keeps the bound sound
    // (subset L1 ≤ true L1 ⇒ the filter only ever keeps extra
    // pairs). 66 s → ~4 s at sf0.1 on this filter alone.
    // FUSED expressions, not 37 scalar columns: per-char
    // `length − length(translate(·))` columns scan and re-allocate
    // the text 37 times per row — measured 2.2 s per
    // evaluation site at sf0.1, the dominant cost of the whole
    // operator once the DP was bag-filtered. [[CharBagCounts]] builds
    // the same 37 counts in one byte pass and [[IntArrayL1]] folds
    // the same abs-diff sum in one codegen'd loop; both are
    // value-identical to the column compositions (ExpressionsSpec
    // fuzz-pins this), so the candidate algebra — and the oracle —
    // are unchanged. (The lesson about interpreted zip_with
    // lambdas motivated the scalar columns; the fused expressions
    // keep everything inside WholeStageCodegen too, without the
    // 37-scan projection.)
    // The DP filter below is PUSHED DOWN through the rebalancing
    // repartition (RepartitionByExpression is transparent to
    // predicate pushdown), so the verification actually executes in
    // the JOIN stage — which inherits the scan's partitioning. The
    // small fixture parquet is a single row-group ⇒ a 1-task join
    // stage ⇒ the entire O(pairs · threshold · n) DP serialized on
    // one core (measured: 150 s at sf0.1). Spreading the doc frame
    // itself keeps every downstream stage at full parallelism no
    // matter where Catalyst moves the predicate; at 100 TB the scan
    // arrives multi-partition and this exchange is a no-op-sized
    // safety net.
    val ascii = docs.filter(octet_length($"text") === length($"text"))
    // One column-pruned scan for the length domain: maxDist and the
    // band width W are corpus properties, not constants.
    // The single-row collect is the sanctioned bounded-frame pattern;
    // at 100 TB this is a footer-stats-cheap agg over one column.
    val maxLen: Long = ascii
      .agg(coalesce(max(length($"text")), lit(0)).cast("long"))
      .head().getLong(0) // single-row bounded collect
    val maxDist: Int = math.max(1L, maxLen / 10).toInt
    val bandW: Long = math.max(64L, maxDist + 1L)
    val d = ascii
      .select($"doc_id", $"lang", $"text",
        length($"text").cast("long").as("len"),
        expr(s"length(text) div $bandW").as("band"),
        graft.functions.expressions.char_bag($"text").as("bag"))
      .repartition(s.sparkContext.defaultParallelism)
    val build = d.select($"doc_id".as("doc_a"), $"lang",
      $"text".as("text_a"), $"len".as("len_a"), $"band".as("key"),
      $"bag".as("bag_a"))
    val probe = d.select($"doc_id".as("doc_b"), $"lang",
      $"text".as("text_b"), $"len".as("len_b"),
      explode(array($"band" - 1, $"band", $"band" + 1)).as("key"),
      $"bag".as("bag_b"))
    val l1 = graft.functions.expressions.int_array_l1($"bag_a", $"bag_b")
    val survivors = build.join(probe, Seq("lang", "key"))
      .filter($"doc_a" < $"doc_b" &&
        abs($"len_a" - $"len_b") * 10 <= least($"len_a", $"len_b"))
      // lev·10 ≤ least AND L1 ≤ 2·lev  ⇒  L1·5 ≤ least
      .filter(l1 * 5 <= least($"len_a", $"len_b"))
      // (lang, band) blocks are few and skewed (en carries ~40% of
      // docs); the cheap stages above tolerate that, the DP below
      // must not — rebalance the surviving pairs first. The partition
      // count is pinned EXPLICITLY: the pair rows are only tens of MB
      // even when the DP behind them is minutes of CPU, so AQE's
      // size-based coalescing would fold them back into 1-2 tasks
      // (bytes are the wrong cost model for compute-bound stages) —
      // a user-specified count is exempt from coalescing.
      .select($"doc_a", $"doc_b", $"text_a", $"text_b", $"len_a", $"len_b")
      .repartition(s.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
    val matches = survivors
      // PER-PAIR DP band: a pair can
      // only qualify with dist ≤ least(len)/10, so banding the DP at
      // the PAIR's own bound instead of the corpus-wide maxDist does
      // strictly less work per candidate (O(least/10 · n) vs
      // O(maxLen/10 · n)) and returns the identical value for every
      // surviving row — candidates past their own bound now return -1
      // (dropped by the dist >= 0 guard) where they used to return a
      // positive distance dropped by the ≤10% predicate. greatest(1,·)
      // keeps the threshold positive for sub-10-char pairs, where only
      // dist = 0 can qualify either way. Levenshtein's threshold is a
      // full per-row expression since Spark 3.5 (codegen'd).
      .withColumn("dist", expr(
        "levenshtein(text_a, text_b, " +
          "cast(greatest(1L, least(len_a, len_b) div 10) as int))").cast("long"))
      .filter($"dist" >= 0 && $"dist" * 10 <= least($"len_a", $"len_b"))
      .select($"doc_a", $"doc_b", $"len_a", $"len_b", $"dist")
    // Materialize the (tiny) match set before the global sort: the
    // RangePartitioner's sampling pass re-executes its child, which
    // here would re-run the join + bag filter + DP end to end (the
    // q33/q73 sort-before-project lesson, join-shaped).
    matches.reliableCheckpoint().orderBy($"doc_a", $"doc_b")
  }

  /** Oracle: same rule with DuckDB's unbounded levenshtein and a
    * range-band join (the band arithmetic — including the
    * corpus-derived width `greatest(64, maxLen//10 + 1)` — mirrors
    * the Spark side so the candidate sets are identical, not just
    * the survivors).
    * `strlen = length` is the ASCII pin (DuckDB's levenshtein is
    * byte-based — see the Scala doc). The char-bag L1 prefilter is
    * mirrored too — it is part of the operator's candidate algebra
    * (a provable lower bound, zero false negatives), and without it
    * the oracle pays an unbounded levenshtein on every length-band
    * candidate (232 s at sf0.1; 4.6× fewer DP calls with it). */
  val editDistanceNearDupsSql: String = editDistanceNearDupsSqlOver("")

  /** The q131 oracle parameterized by an EXTRA documents predicate —
    * `""` is the registered full-corpus oracle; q145's oracle embeds
    * the audit-slice form (`AND doc_id % 2 = 0 AND doc_id < 4000`) to
    * COMPUTE its audit witness instead of pinning it. NOTE the slice
    * predicate must restrict DOCS (both the band width w and the pair
    * universe), exactly like the Spark audit,
    * which runs editDistanceNearDupsOver on the filtered frame. */
  private[graft] def editDistanceNearDupsSqlOver(extraWhere: String): String = {
    val alphabet = ('a' to 'z') ++ ('0' to '9')
    val bagExprs = alphabet.zipWithIndex.map { case (ch, i) =>
      s"length(text) - length(replace(text, '$ch', '')) AS c$i"
    }.mkString(",\n         ")
    val spaceBag = s"length(text) - length(replace(text, ' ', '')) AS c${alphabet.size}"
    val l1 = (0 to alphabet.size).map(i => s"abs(a.c$i - b.c$i)").mkString(" + ")
    s"""WITH w AS (
      |  SELECT greatest(64, greatest(1, coalesce(max(length(text)), 0) // 10) + 1)
      |    AS bw
      |  FROM documents WHERE strlen(text) = length(text)$extraWhere),
      |d AS (
      |  SELECT doc_id, lang, text, CAST(length(text) AS BIGINT) AS len,
      |         length(text) // (SELECT bw FROM w) AS band,
      |         $bagExprs,
      |         $spaceBag
      |  FROM documents WHERE strlen(text) = length(text)$extraWhere),
      |cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.len AS len_a, b.len AS len_b, a.text AS text_a, b.text AS text_b
      |  FROM d a JOIN d b
      |    ON a.lang = b.lang AND a.doc_id < b.doc_id
      |   AND b.band BETWEEN a.band - 1 AND a.band + 1
      |  WHERE abs(a.len - b.len) * 10 <= least(a.len, b.len)
      |    AND ($l1) * 5 <= least(a.len, b.len))
      |SELECT doc_a, doc_b, len_a, len_b,
      |  CAST(levenshtein(text_a, text_b) AS BIGINT) AS dist
      |FROM cand
      |WHERE levenshtein(text_a, text_b) * 10 <= least(len_a, len_b)
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Band count for the q145 char-level LSH tier: `nBands` equal
    * slices of the 64-bit char-4-gram SimHash. Any pair within
    * Hamming ≤ nBands−1 shares an identical band (pigeonhole), so
    * recall rises with nBands while candidate volume rises with
    * band-value collisions (64/nBands bits per value). 4×16: 65536
    * values per band keeps buckets hash-dispersed at corpus scale. */
  private val EditLshBands = 4

  /** Oracle-pinned percentage of q145's audit pairs (the exact q131
    * set on the capped slice) the LSH tier must find. */
  private val EditLshRecallFloor = 60

  /** q145: CHAR-LEVEL NEAR-DUP AT SCALE — the recall-bounded LSH tier
    * in front of q131's exact rule (q131 itself stays the oracle-tier
    * ground truth). Candidates must share
    *  (1) an identical band of the 64-bit SimHash over CHARACTER
    *      4-GRAMS (the char-level profile word-token SimHash (q44)
    *      cannot see — a one-char edit shifts ≤ 4 grams), and
    *  (2) the same (lang, length-band ± 1) key — q131's completeness
    *      argument reused as a FILTER: any qualifying pair differs by
    *      ≤ maxDist < W in length, so cross-band-distance-2 pairs
    *      cannot qualify and pruning them is lossless.
    * Survivors then pass the UNCHANGED exact verify — char-bag L1
    * lower bound, banded DP, `dist·10 ≤ least(len)` — so emitted
    * pairs satisfy the exact rule; only RECALL is bounded (pairs near
    * the 10% edit boundary have ~40% gram churn and can miss every
    * band). 100 TB shape: each doc lands in nBands hash-dispersed
    * buckets per length key — fan-out is a constant ≤ 3·nBands and
    * bucket sizes are governed by the 64/nBands-bit hash, not by the
    * (lang, band) block census that makes q131 quadratic.
    *
    * Registered as a SELF-VALIDATING report (murmur-seeded SimHash is
    * not SQL-expressible — the q44 oracle pattern): `n_docs` is
    * DuckDB-reproduced; structural contracts (ordered ids, no dup
    * pairs, every pair satisfies the exact rule with a non-negative
    * DP distance) are bool_and-folded; and recall is MEASURED against
    * the exact q131 blocking on an absolutely-capped audit slice
    * (doc_id even and < 4000 → ≤ 2000 docs at ANY corpus size, so
    * the complete-blocking reference stays bounded), pinned ≥
    * [[EditLshRecallFloor]]%. Measured full-corpus recall vs the exact
    * q131 set: 100% at sf0.01 (6/6 pairs), 92.4% at sf0.1 (73/79) —
    * the misses are pairs near the 10% edit boundary, exactly the
    * documented loss channel; more bands buy recall with candidate
    * volume. */
  def editDistanceNearDupsLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val pairs = editDistanceNearDupsLshRaw(docs).reliableCheckpoint()
    val nDocs = docs.filter(octet_length($"text") === length($"text")).count()
    val checks = pairs.agg(
      (count(lit(1)) > 0).as("found_pairs"),
      coalesce(expr("bool_and(doc_a < doc_b)"), lit(true)).as("all_ordered"),
      (count(lit(1)) === countDistinct($"doc_a", $"doc_b")).as("no_dup_pairs"),
      coalesce(expr("bool_and(dist >= 0 AND dist * 10 <= least(len_a, len_b))"),
        lit(true)).as("rule_holds"))
    val slice = docs.filter($"doc_id" % 2 === 0 && $"doc_id" < 4000)
    val exact = editDistanceNearDupsOver(slice)
      .select($"doc_a", $"doc_b")
    val audit = exact
      .join(pairs.select($"doc_a", $"doc_b", lit(1).as("hit")),
        Seq("doc_a", "doc_b"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce($"hit", lit(0))).as("n_hit"))
      .select(($"n_exact" > 0 && $"n_hit" * 100L >= $"n_exact" * EditLshRecallFloor)
          .as("audit_recall_ok"),
        ($"n_exact" > 0).as("audit_nonempty"))
    // has_pairs binds exactly where the exact-blocking audit binds:
    // when the audit finds qualifying pairs the
    // recall floor already forces the LSH to surface some, so
    // found_pairs must hold; with no audit pair the witness is
    // STRUCTURALLY VACUOUS — degenerate recipes cross-engine-MATCH
    // instead of being documented residuals.
    checks.crossJoin(audit).select(lit(nDocs).as("n_docs"),
      ($"found_pairs" || !$"audit_nonempty").as("has_pairs"),
      $"all_ordered", $"no_dup_pairs", $"rule_holds",
      $"audit_recall_ok", $"audit_nonempty")
  }

  /** q145's pair pipeline over an injectable (doc_id, lang, text)
    * frame (non-vacuous-spec rule). Emits (doc_a, doc_b, len_a, len_b, dist). */
  private[graft] def editDistanceNearDupsLshRaw(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bandBits = 64 / EditLshBands
    val mask = (1L << bandBits) - 1
    val ascii = docs.filter(octet_length($"text") === length($"text"))
    val maxLen: Long = ascii
      .agg(coalesce(max(length($"text")), lit(0)).cast("long"))
      .head().getLong(0)
    val maxDist: Int = math.max(1L, maxLen / 10).toInt
    val bandW: Long = math.max(64L, maxDist + 1L)
    // Repartition BEFORE the projection, then materialize ONCE: the
    // char-4-gram SimHash + 37-bag projection is the per-doc heavy
    // step here, and projected after the scan it inherits the scan's
    // partitioning — the fixture's single row-group would serialize
    // ~4 s of shingle work on one core (measured; the q131 pushdown
    // lesson, projection-shaped). The checkpoint then feeds BOTH join
    // sides and the late text fetch without recomputing the shingle
    // scan. The shingle fingerprint is the fused SimHashCharGrams;
    // the unfused
    // `simhash64(transform(sequence(...), i -> substring(text, i, 4)))`
    // runs an interpreted lambda materializing a per-row gram array —
    // value-identical by the fuzz-pinned expression contract.
    val d = ascii
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", $"lang", $"text",
        length($"text").cast("long").as("len"),
        expr(s"length(text) div $bandW").as("lband"),
        graft.functions.expressions.simhash_char4($"text").as("fp"),
        // fused one-pass bag — see editDistanceNearDupsOver
        graft.functions.expressions.char_bag($"text").as("bag"))
      .reliableCheckpoint()
    val simBands = array((0 until EditLshBands).map(b =>
      struct(lit(b).as("sbi"),
        shiftrightunsigned($"fp", b * bandBits).bitwiseAND(lit(mask)).as("sbv"))): _*)
    // LATE TEXT MATERIALIZATION: the explode → join → distinct chain
    // carries ids, lengths, and the 37 int bag columns ONLY — at
    // 100 TB the candidate exchange must never ship documents. Texts
    // are fetched BY KEY from the checkpointed doc frame just before
    // the DP, once per surviving pair.
    val build = d
      .select($"doc_id".as("doc_a"), $"lang",
        $"len".as("len_a"), $"lband".as("lkey"),
        explode(simBands).as("sb"), $"bag".as("bag_a"))
      .select(col("doc_a"), col("lang"), col("len_a"),
        col("lkey"), col("sb.sbi").as("sbi"), col("sb.sbv").as("sbv"),
        col("bag_a"))
    val probe = d
      .select($"doc_id".as("doc_b"), $"lang",
        $"len".as("len_b"), $"lband", explode(simBands).as("sb"),
        $"bag".as("bag_b"))
      .select(col("doc_b"), col("lang"), col("len_b"),
        col("sb.sbi").as("sbi"), col("sb.sbv").as("sbv"),
        explode(array(col("lband") - 1, col("lband"), col("lband") + 1))
          .as("lkey"), col("bag_b"))
    val l1 = graft.functions.expressions.int_array_l1($"bag_a", $"bag_b")
    val cand = build.join(probe, Seq("lang", "sbi", "sbv", "lkey"))
      .filter($"doc_a" < $"doc_b" &&
        abs($"len_a" - $"len_b") * 10 <= least($"len_a", $"len_b"))
      .filter(l1 * 5 <= least($"len_a", $"len_b"))
      // a pair can collide in up to EditLshBands band indexes — dedup the
      // candidate PAIRS (8-byte id pairs + lengths), then rebalance
      // for the DP like q131 (bytes are the wrong cost model for the
      // DP stage)
      .select($"doc_a", $"doc_b", $"len_a", $"len_b")
      .distinct()
      .repartition(s.sparkContext.defaultParallelism,
        col("doc_a"), col("doc_b"))
    cand
      .join(d.select($"doc_id".as("doc_a"), $"text".as("text_a")), Seq("doc_a"))
      .join(d.select($"doc_id".as("doc_b"), $"text".as("text_b")), Seq("doc_b"))
      // per-pair DP band — same transformation as q131 (see the
      // editDistanceNearDupsOver comment): identical survivors and
      // distances, strictly less DP work per candidate
      .withColumn("dist", expr(
        "levenshtein(text_a, text_b, " +
          "cast(greatest(1L, least(len_a, len_b) div 10) as int))").cast("long"))
      .filter($"dist" >= 0 && $"dist" * 10 <= least($"len_a", $"len_b"))
      .select($"doc_a", $"doc_b", $"len_a", $"len_b", $"dist")
  }

  val editDistanceNearDupsLshSql: String = {
    // the audit witness is COMPUTED: DuckDB re-derives "the exact
    // blocking finds >= 1 pair on the audit slice" through the q131
    // CTE restricted to the same slice the Spark audit scans, so the
    // oracle matches the engine's honest `false` on degenerate
    // corpora; audit_recall_ok pins its recall theorem exactly where
    // that witness binds. has_pairs is the SAME literal-true pin it
    // always was, but the Spark side now computes it as
    // found_pairs OR NOT audit_nonempty: binding
    // wherever the audit proves pairs exist, structurally vacuous on
    // degenerate corpora — so all three degen recipes MATCH.
    val auditExists = "(SELECT count(*) FROM (" +
      editDistanceNearDupsSqlOver(" AND doc_id % 2 = 0 AND doc_id < 4000") +
      ") audit_pairs) > 0"
    s"""SELECT CAST((SELECT count(*) FROM documents
      |             WHERE strlen(text) = length(text)) AS BIGINT) AS n_docs,
      |  true AS has_pairs, true AS all_ordered, true AS no_dup_pairs,
      |  true AS rule_holds,
      |  $auditExists AS audit_recall_ok,
      |  $auditExists AS audit_nonempty""".stripMargin
  }

  /** q133: NEAR-SUPERSET DETECTION — gram-set CONTAINMENT via
    * rare-anchor candidate generation. Jaccard resemblance (q42/q43)
    * is symmetric: a short document wholly quoted inside a much
    * longer one scores LOW (the union is dominated by the container)
    * and every resemblance-based dedup misses it. Containment
    * `|grams(A) ∩ grams(B)| / min(|A|, |B|)` scores that pair ~1.0 —
    * the quote-inclusion / boilerplate-wrapping / doc-embeds-doc
    * class.
    *
    * Candidate generation anchors on RARE grams only (2 <= df <=
    * [[ContainmentRareCap]]): a gram shared by d docs fans out to
    * O(d²) candidate pairs, so capping df bounds per-anchor fan-out
    * at cap² while near-supersets — which share many grams, most of
    * them rare in a large corpus — are still anchored by any one of
    * them. Pairs whose ONLY shared grams are corpus-common (df >
    * cap) are not candidates: the documented recall rule (the q43
    * banding precedent), and exactly the pairs containment is not
    * for (boilerplate sharing is q122's signal).
    *
    * The true intersection is then computed only for candidates:
    * candidate pairs join to A's grams (doc-keyed) and meet B's on
    * (doc_b, fp) — cost O(|candidates| × grams/doc), never the fp
    * df² blow-up of a full fp self-join. Grams ride every exchange
    * as the 8-byte [[TextQueries.fingerprint]] (the q41/q79/q122
    * tradeoff); [[graft.queries.TrainQueries.gramFps]] is the ONE
    * shingle definition shared with q122/q79. */
  val ContainmentRareCap = 10

  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentPairsOver(Tables.documents(s, dir))

  /** q133 over an injectable (doc_id, text) frame; `minGrams`/`cap`
    * exposed so specs can pin the rare-anchor recall rule itself. */
  private[graft] def containmentPairsOver(
      docs0: DataFrame, cap: Int = ContainmentRareCap,
      minGrams: Int = 20): DataFrame = {
    val s = docs0.sparkSession
    import s.implicits._
    val docs = docs0.select($"doc_id", $"text")
    val g = TrainQueries.gramFps(docs, n = 8)
    val sz = g.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val anchors = g.groupBy($"fp").agg(count(lit(1)).as("d"))
      .filter($"d" >= 2 && $"d" <= cap)
      .select($"fp")
    val anchored = g.join(anchors, Seq("fp"))
    val cand = anchored.select($"fp", $"doc_id".as("doc_a"))
      .join(anchored.select($"fp", $"doc_id".as("doc_b")), Seq("fp"))
      .filter($"doc_a" < $"doc_b")
      .select($"doc_a", $"doc_b").distinct()
    val inter = cand
      .join(g.select($"doc_id".as("doc_a"), $"fp"), Seq("doc_a"))
      .join(g.select($"doc_id".as("doc_b"), $"fp"), Seq("doc_b", "fp"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sz.select($"doc_id".as("doc_a"), $"n".as("n_a")), Seq("doc_a"))
      .join(sz.select($"doc_id".as("doc_b"), $"n".as("n_b")), Seq("doc_b"))
      .filter($"n_a" >= minGrams && $"n_b" >= minGrams &&
        $"n_shared" * 2 >= least($"n_a", $"n_b"))
      .select($"doc_a", $"doc_b", $"n_a", $"n_b", $"n_shared",
        // integer half-up 4 dp (the half-up rounding rule)
        (expr("(20000 * n_shared + least(n_a, n_b)) div (2 * least(n_a, n_b))") / 10000.0)
          .as("containment"))
      .orderBy($"doc_a", $"doc_b")
  }

  // ---- q158: stored near-dup index + batch screening serve ----------

  /** Pinned constants of the standing near-dup index (the oracle
    * reproduces all three verbatim). */
  private[graft] val NdiRareCap = 10
  private[graft] val NdiBatchSource = "src19"
  private[graft] val NdiThresholdPermille = 300L

  /** q158: NEAR-DUP SCREENING AGAINST A STANDING INDEX — q84's
    * near-duplicate sibling, and the ingest-time question a running
    * pipeline actually asks: "which documents of TONIGHT'S batch
    * near-duplicate something already in the corpus?" — without
    * rescanning the corpus. The standing artifact is the history's
    * 8-gram fingerprint postings (fp, df, doc_id) — df DENORMALIZED
    * onto the row (q150's layout rule) so serve-time anchor pruning
    * (df ≤ $NdiRareCap, q133's rare-anchor recall contract: common
    * boilerplate grams are stop-listed as candidate sources, per-
    * anchor fan-out capped at df·|batch-side|) is a row predicate,
    * not a join — plus a (doc_id, n_grams) counts sidecar for exact
    * Jaccard denominators. Serve computes the batch slice's grams
    * fresh (the batch is NOT in the index), probes rare anchors on
    * the 8-byte key, then computes the TRUE intersection only for
    * candidates via doc-keyed joins (q133's verify shape) and
    * reports pairs with Jaccard ≥ 0.3 in the integer half-up 4 dp
    * rule. Exchanges carry gram fingerprints and candidate ids —
    * never texts, never the corpus (the index is build-once,
    * fingerprint-stamped, rebuild-on-drift like q92/q134).
    *
    * The ORACLE recomputes the whole thing from raw documents with
    * the same gram fold, anchor cap, and threshold — so the stored
    * postings, the denormalized df, and the counts sidecar must all
    * round-trip exactly. */
  def neardupIndexServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("ndi_q158", dir)
    TextQueries.ensureDocs(s, dir, tbl, "counts") {
      val hist = Tables.documents(s, dir)
        .filter($"source" =!= NdiBatchSource).select($"doc_id", $"text")
      val g = TrainQueries.gramFps(hist, n = 8)
      val dfs = g.groupBy($"fp").agg(count(lit(1)).as("df"))
      Scale.writeBucketed(g.join(dfs, Seq("fp")).select($"fp", $"df", $"doc_id"),
        tbl, "fp", 32, Seq("doc_id"))
      Scale.writeBucketed(g.groupBy($"doc_id").agg(count(lit(1)).as("n_grams")),
        s"${tbl}_counts", "doc_id", 32)
      TextQueries.writeMeta(s, tbl, Artifacts.documents(s, dir), "fp", "n_grams")
    }
    screenAgainstIndex(
      Tables.documents(s, dir)
        .filter($"source" === NdiBatchSource).select($"doc_id", $"text"),
      s.table(tbl), s.table(s"${tbl}_counts"))
  }

  /** q158's serve chain over any (doc_id, text) batch frame and the
    * stored (fp, df, doc_id) postings + (doc_id, n_grams) counts —
    * ONE definition shared by the registered batch query and the
    * streaming ingest guard ([[graft.streaming.Pipeline
    * .screenNeardupBatch]]), so stream ≡ batch screening is
    * structural, not coincidental (the postingsOf rule). */
  private[graft] def screenAgainstIndex(batchDocs: DataFrame,
      p: DataFrame, cnt: DataFrame): DataFrame = {
    val s = batchDocs.sparkSession
    import s.implicits._
    val bg = TrainQueries.gramFps(batchDocs, n = 8)
    val bsz = bg.groupBy($"doc_id").agg(count(lit(1)).as("nb"))
    val cand = bg.select($"fp", $"doc_id".as("batch_id"))
      .join(p.filter($"df" <= NdiRareCap).select($"fp", $"doc_id".as("hist_id")), Seq("fp"))
      .select($"batch_id", $"hist_id").distinct()
    val inter = cand
      .join(bg.select($"doc_id".as("batch_id"), $"fp"), Seq("batch_id"))
      .join(p.select($"doc_id".as("hist_id"), $"fp"), Seq("hist_id", "fp"))
      .groupBy($"batch_id", $"hist_id").agg(count(lit(1)).as("n_shared"))
    inter
      .join(bsz.select($"doc_id".as("batch_id"), $"nb"), Seq("batch_id"))
      .join(cnt.select($"doc_id".as("hist_id"), $"n_grams".as("nh")), Seq("hist_id"))
      .filter($"n_shared" * 1000L >= lit(NdiThresholdPermille) * ($"nb" + $"nh" - $"n_shared"))
      .select($"batch_id", $"hist_id", $"nb", $"nh", $"n_shared",
        (expr("(20000 * n_shared + (nb + nh - n_shared)) div (2 * (nb + nh - n_shared))") / 10000.0)
          .as("jaccard"))
      .orderBy($"batch_id", $"hist_id")
  }

  /** Oracle: the q133 gram CTE split by source, the same anchor cap,
    * true-intersection chain, and threshold — recomputed from raw
    * documents so the stored artifact must round-trip exactly. */
  val neardupIndexServeSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct(list_transform(
      |      range(1, greatest(len(toks) - 6, 1)),
      |      i -> ${TextQueries.fingerprintSql("array_to_string(toks[i : i+7], ' ')")}))) AS fp
      |  FROM t WHERE len(toks) >= 8),
      |hg AS (SELECT doc_id, fp FROM g WHERE source <> '$NdiBatchSource'),
      |bg AS (SELECT doc_id, fp FROM g WHERE source = '$NdiBatchSource'),
      |hdf AS (SELECT fp, count(*) AS df FROM hg GROUP BY fp),
      |hsz AS (SELECT doc_id, count(*) AS nh FROM hg GROUP BY doc_id),
      |bsz AS (SELECT doc_id, count(*) AS nb FROM bg GROUP BY doc_id),
      |cand AS (
      |  SELECT DISTINCT b.doc_id AS batch_id, h.doc_id AS hist_id
      |  FROM bg b JOIN hg h USING (fp) JOIN hdf USING (fp)
      |  WHERE hdf.df <= $NdiRareCap),
      |inter AS (
      |  SELECT c.batch_id, c.hist_id, count(*) AS n_shared
      |  FROM cand c
      |  JOIN bg ON bg.doc_id = c.batch_id
      |  JOIN hg ON hg.doc_id = c.hist_id AND hg.fp = bg.fp
      |  GROUP BY c.batch_id, c.hist_id)
      |SELECT i.batch_id, i.hist_id,
      |  CAST(b.nb AS BIGINT) AS nb, CAST(h.nh AS BIGINT) AS nh,
      |  CAST(i.n_shared AS BIGINT) AS n_shared,
      |  ((20000 * i.n_shared + (b.nb + h.nh - i.n_shared))
      |    // (2 * (b.nb + h.nh - i.n_shared))) / 10000.0 AS jaccard
      |FROM inter i
      |JOIN bsz b ON b.doc_id = i.batch_id
      |JOIN hsz h ON h.doc_id = i.hist_id
      |WHERE i.n_shared * 1000 >= $NdiThresholdPermille * (b.nb + h.nh - i.n_shared)
      |ORDER BY batch_id, hist_id""".stripMargin

  /** Oracle: the q122 gram CTE verbatim (same fingerprint fold), then
    * the same anchor/candidate/intersection chain in SQL. */
  val containmentPairsSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      range(1, greatest(len(toks) - 6, 1)),
      |      i -> ${TextQueries.fingerprintSql("array_to_string(toks[i : i+7], ' ')")}))) AS fp
      |  FROM t WHERE len(toks) >= 8),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |anchors AS (SELECT fp FROM g GROUP BY fp
      |            HAVING count(*) >= 2 AND count(*) <= $ContainmentRareCap),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM g a JOIN anchors USING (fp) JOIN g b USING (fp)
      |  WHERE a.doc_id < b.doc_id),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, count(*) AS n_shared
      |  FROM cand c
      |  JOIN g ga ON ga.doc_id = c.doc_a
      |  JOIN g gb ON gb.doc_id = c.doc_b AND gb.fp = ga.fp
      |  GROUP BY c.doc_a, c.doc_b)
      |SELECT i.doc_a, i.doc_b, sa.n AS n_a, sb.n AS n_b, i.n_shared,
      |  ((20000 * i.n_shared + least(sa.n, sb.n))
      |    // (2 * least(sa.n, sb.n))) / 10000.0 AS containment
      |FROM inter i
      |JOIN sz sa ON sa.doc_id = i.doc_a
      |JOIN sz sb ON sb.doc_id = i.doc_b
      |WHERE sa.n >= 20 AND sb.n >= 20
      |  AND i.n_shared * 2 >= least(sa.n, sb.n)
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q187: NEAR-DUP SPLIT LEAKAGE — the audit that MOTIVATES q157's
    * cluster-aware split: under the naive q94 hash split, how many
    * near-duplicate pairs straddle the train/eval boundary? Each such
    * pair is an eval document whose near-verbatim twin sits in
    * training — q126 reports this for EXACT chunk repeats, this for
    * the ≥ 0.5-Jaccard near-dup class q42 detects (same candidate
    * chain — the ONE pair-generation definition, so the leakage
    * report can never disagree with the dedup operator about what a
    * near-dup is). Output: the crossing pairs with their split
    * assignments; the count going to zero is the acceptance test for
    * switching the pipeline from q94 to q157.
    *
    * Scale: inherits q42's bounded candidate generation (source +
    * id-window blocking, no all-pairs); the split columns are
    * stateless hash maps on ids already in hand; the crossing filter
    * drops everything else before the tiny output sort. */
  def splitLeakNeardups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ngramJaccardPairsRaw(s, dir)
      .withColumn("split_a", TrainQueries.splitOf($"id_a"))
      .withColumn("split_b", TrainQueries.splitOf($"id_b"))
      .filter($"split_a" =!= $"split_b")
      .select($"id_a", $"id_b", $"split_a", $"split_b", $"jaccard")
      .orderBy($"id_a", $"id_b")
  }

  val splitLeakNeardupsSql: String =
    """WITH p AS (
      |  SELECT id_a, id_b, jaccard FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |            / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
      |    FROM (SELECT doc_id, source, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      |          FROM documents) a
      |    JOIN (SELECT doc_id, source, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
      |          FROM documents) b
      |      ON a.source = b.source AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 50)
      |  WHERE jaccard >= 0.5),
      |s AS (
      |  SELECT p.*,
      |    CASE WHEN (id_a % 1000000007) * 2654435761 % 1000000007 % 1000 < 980
      |           THEN 'train'
      |         WHEN (id_a % 1000000007) * 2654435761 % 1000000007 % 1000 < 990
      |           THEN 'val' ELSE 'test' END AS split_a,
      |    CASE WHEN (id_b % 1000000007) * 2654435761 % 1000000007 % 1000 < 980
      |           THEN 'train'
      |         WHEN (id_b % 1000000007) * 2654435761 % 1000000007 % 1000 < 990
      |           THEN 'val' ELSE 'test' END AS split_b
      |  FROM p)
      |SELECT id_a, id_b, split_a, split_b, jaccard
      |FROM s WHERE split_a <> split_b
      |ORDER BY id_a, id_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_split_leak_neardups" -> (splitLeakNeardups _),
    "q131_editdist_neardups" -> (editDistanceNearDups _),
    "q145_editdist_neardups_lsh" -> (editDistanceNearDupsLsh _),
    "q133_containment_pairs" -> (containmentPairs _),
    "q106_semantic_dedup" -> (semanticDedup _),
    "q66_dedup_clusters" -> (dedupClusters _),
    "q82_dedup_impact" -> (dedupImpact _),
    "q173_canonical_keepers" -> (canonicalKeepers _),
    "q177_syndication_matrix" -> (syndicationMatrix _),
    "q84_incremental_ingest" -> (incrementalIngest _),
    "q158_neardup_index_serve" -> (neardupIndexServe _),
    "q40_exact_dedup" -> (exactDedup _),
    "q41_fingerprint_dedup" -> (exactDedupByFingerprint _),
    "q123_normalized_dedup" -> (normalizedDedup _),
    "q42_ngram_jaccard_pairs" -> (ngramJaccardPairs _),
    "q43_minhash_dedup" -> (minhashDedupValidated _),
    "q44_simhash_pairs" -> (simhashPairsValidated _),
    "q45_embedding_neardups" -> (embeddingNearDups _),
    "q54_embedding_neardups_lsh" -> (embeddingNearDupsLsh _),
  )

  val oracles: Map[String, String] = Map(
    "q187_split_leak_neardups" -> splitLeakNeardupsSql,
    "q131_editdist_neardups" -> editDistanceNearDupsSql,
    "q145_editdist_neardups_lsh" -> editDistanceNearDupsLshSql,
    "q133_containment_pairs" -> containmentPairsSql,
    "q40_exact_dedup" -> exactDedupSql,
    "q41_fingerprint_dedup" -> exactDedupByFingerprintSql,
    "q123_normalized_dedup" -> normalizedDedupSql,
    "q42_ngram_jaccard_pairs" -> ngramJaccardPairsSql,
    "q66_dedup_clusters" -> dedupClustersSql,
    "q106_semantic_dedup" -> semanticDedupSql,
    "q82_dedup_impact" -> dedupImpactSql,
    "q173_canonical_keepers" -> canonicalKeepersSql,
    "q177_syndication_matrix" -> syndicationMatrixSql,
    "q84_incremental_ingest" -> incrementalIngestSql,
    "q158_neardup_index_serve" -> neardupIndexServeSql,
    "q43_minhash_dedup" -> minhashDedupValidatedSql,
    "q44_simhash_pairs" -> simhashPairsValidatedSql,
    "q45_embedding_neardups" -> embeddingNearDupsSql,
    "q54_embedding_neardups_lsh" -> embeddingNearDupsLshSql,
  )
}
