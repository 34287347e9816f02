package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Artifacts, Tables}
import graft.operators.Scale.CheckpointOps

/** Training-data pipeline ASSEMBLY operators — the steps between a
  * cleaned/deduped corpus and a training run: rebalanced sampling,
  * sequence packing, repetition filtering, PII scrubbing. These sit
  * alongside the dedup (q40-q45, q54, q66), quality (q22/q27) and
  * text-analysis (q20-q24) families; everything here is
  * map-side-dominant (the only shuffle in the family is q70's
  * per-source window), so the family scales linearly with corpus
  * size.
  */
object TrainQueries {

  /** Deterministic per-row sampling key in [0, 1000): a Knuth
    * multiplicative hash of the primary key, reduced mod a prime then
    * mod 1000. Pure integer arithmetic — reproducible in any engine,
    * stable under task retries / AQE re-planning (unlike `rand()` or
    * `df.sample`, whose draws depend on partition layout), and
    * monotone in rate: raising a stratum's rate strictly grows its
    * sample (hash-threshold sampling), so refreshes are incremental.
    * The key is reduced mod p BEFORE the multiply — (pk·a) mod p ≡
    * ((pk mod p)·a) mod p — so the product stays ≤ p·a ≈ 2.7e18 <
    * Long.MaxValue for ANY non-negative key (a bare pk·a would
    * overflow — and under ANSI mode throw — past pk ≈ 3.5e9). */
  private[graft] def sampleKey(pk: Column): Column =
    pmod(pmod(pk, lit(1000000007L)) * lit(2654435761L), lit(1000000007L)) % 1000L

  /** q69: stratified REBALANCING sample — the language-mixture
    * operator of a training-data pipeline: downsample the dominant
    * stratum (en, 44% of the corpus) toward parity with the rest.
    * Per-stratum keep-rates (permille) ride in on a broadcast literal
    * dim; the filter itself is a stateless map-side predicate — no
    * shuffle, no rand(), nothing driver-side. At 100 TB this is a
    * single scan that emits the rebalanced corpus. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = Seq(("en", 250L), ("de", 700L), ("es", 700L), ("fr", 700L), ("zh", 700L))
      .toDF("lang", "rate_permille")
    Tables.documents(s, dir)
      .join(broadcast(rates), Seq("lang"))
      .filter(sampleKey($"doc_id") < $"rate_permille")
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |JOIN (VALUES ('en', 250), ('de', 700), ('es', 700), ('fr', 700), ('zh', 700))
      |  AS rates(lang, rate_permille) USING (lang)
      |WHERE (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < rate_permille
      |ORDER BY doc_id""".stripMargin

  /** q70: token-budget sequence PACKING (concat-and-chunk): within
    * each source, documents are laid end-to-end in doc_id order and
    * the token stream is cut into fixed 2048-token packs; a document
    * belongs to the pack where it STARTS (long documents simply span
    * into the following packs, which stay counted by their own
    * starters). All-integer arithmetic — exact in both engines.
    *
    * The running sum is a TWO-LEVEL exact prefix sum, not one window
    * per source: a `Window.partitionBy(source)` caps parallelism at
    * the number of sources (20 here — and a 100 TB corpus with a
    * handful of sources would serialize entirely). Instead: (1)
    * cumsum within deterministic doc_id-range SHARDS of a source
    * (sources × shards parallel window partitions), (2) per-shard
    * token totals — a tiny aggregate, one row per shard — turned
    * into running shard offsets by a window over that aggregate, (3)
    * broadcast-join the offsets back and add. Identical cum values
    * to the single-window formulation (shards are doc_id-ordered
    * ranges), which is exactly what the unchanged single-window
    * oracle SQL verifies. */
  def tokenPack(s: SparkSession, dir: String, budget: Long = 2048L,
                shardSize: Long = 1000L): DataFrame =
    tokenPackWith(s, dir, budget, shardSize, TextQueries.bpeishTokenCount(col("text")))

  /** [[tokenPack]] with a pluggable per-document token cost — the
    * same two-level prefix-sum plan under any counting currency
    * (q70: the `\w+|[^\w\s]` pre-token count; q99: true BPE subword
    * counts via [[graft.functions.Bpe]]). */
  private[graft] def tokenPackWith(s: SparkSession, dir: String, budget: Long,
                shardSize: Long, cost: Column): DataFrame = {
    import s.implicits._
    packedDocs(s, dir, budget, shardSize, cost)
      .groupBy($"source", $"pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .orderBy($"source", $"pack_id")
  }

  /** The shared per-DOCUMENT packing frame under q70's rule: (source,
    * doc_id, n_tokens, cum, pack_id) via the two-level exact prefix
    * sum. q70/q99 aggregate it per pack; q118 projects the per-doc
    * loader manifest from it. */
  private[graft] def packedDocs(s: SparkSession, dir: String, budget: Long,
                shardSize: Long, cost: Column): DataFrame =
    packedDocsOver(Tables.documents(s, dir), budget, shardSize, cost)

  /** The two-level packing prefix sum over ANY (source, doc_id, text)
    * frame — q70/q99/q118 run it on the raw corpus; q129 runs it on
    * the filtered+deduped survivor frame. */
  private[graft] def packedDocsOver(docs: DataFrame, budget: Long,
                shardSize: Long, cost: Column): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .select($"source", $"doc_id", cost.cast("long").as("n_tokens"))
      .withColumn("shard", expr(s"doc_id div $shardSize"))
    val wLocal = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wShard = Window.partitionBy($"source").orderBy($"shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one row per (source, shard): the window below runs over the
    // tiny aggregate, never the corpus
    val offsets = base.groupBy($"source", $"shard")
      .agg(sum($"n_tokens").as("shard_sum"))
      .withColumn("offset", sum($"shard_sum").over(wShard) - $"shard_sum")
      .select($"source", $"shard", $"offset")
    base
      .withColumn("local_cum", sum($"n_tokens").over(wLocal))
      .join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("cum", $"local_cum" + $"offset")
      .withColumn("pack_id", expr(s"(cum - n_tokens) div $budget"))
  }

  /** q118: PACK MANIFEST — the per-document metadata a training data
    * loader actually consumes from q70's packing: which pack each
    * document starts in, its token offset WITHIN that pack (where its
    * attention-mask span begins), and how many of its tokens spill
    * into the following pack(s) (a long document spans packs under
    * the concat-and-chunk rule). Pure integer projections of the same
    * two-level prefix sum — no new shuffle beyond q70's plan; the
    * oracle extends q70's SQL chain with the same arithmetic. Spans
    * reconstruct the packs exactly: within a pack, documents abut
    * (start_off of doc k+1 = start_off of doc k + n_tokens, mod
    * budget and spill — pinned in TrainOpsSpec). */
  def packManifest(s: SparkSession, dir: String, budget: Long = 2048L,
                shardSize: Long = 1000L): DataFrame = {
    import s.implicits._
    packedDocs(s, dir, budget, shardSize, TextQueries.bpeishTokenCount(col("text")))
      .withColumn("start_off", expr(s"(cum - n_tokens) % $budget"))
      .withColumn("spill_tokens",
        greatest(lit(0L), $"start_off" + $"n_tokens" - lit(budget)))
      .select($"source", $"pack_id", $"doc_id", $"n_tokens",
        $"start_off", $"spill_tokens")
      .orderBy($"source", $"pack_id", $"doc_id")
  }

  def packManifestSql(budget: Long = 2048L): String =
    s"""WITH toks AS (
      |  SELECT source, doc_id,
      |    len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tokens
      |  FROM documents),
      |cum AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM toks)
      |SELECT source, (cum - n_tokens) // $budget AS pack_id, doc_id,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  (cum - n_tokens) % $budget AS start_off,
      |  CAST(greatest(0, (cum - n_tokens) % $budget + n_tokens - $budget) AS BIGINT)
      |    AS spill_tokens
      |FROM cum ORDER BY source, pack_id, doc_id""".stripMargin

  // DuckDB sum() over BIGINT yields HUGEINT, which pandas/pyarrow read
  // as float64 — the driver's repr-sensitive hash then sees `1435.0` vs
  // Spark's `1435` and mismatches even though every value is equal (the
  // exact failure the oracle check flags). Both the window cum and
  // the output sum are therefore CAST back to BIGINT.
  val tokenPackSql: String =
    """WITH toks AS (
      |  SELECT source, doc_id,
      |    len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens
      |  FROM documents),
      |cum AS (
      |  SELECT source, doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM toks)
      |SELECT source, (cum - n_tokens) // 2048 AS pack_id,
      |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM cum GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin

  /** q71: REPETITION scoring (the Gopher-class duplicate-n-gram
    * filter signal): fraction of word 2-grams that are repeats of an
    * earlier 2-gram in the same document. Pure per-row array math
    * over the tokenizer output — stateless, map-side, no shuffle.
    * The `if` guards Spark's `sequence(1, 0)`, which would generate a
    * DESCENDING range (not an empty one) for single-token documents. */
  /** The q71 scoring stack over any (doc_id, text) frame — shared by
    * the registered query and TrainOpsSpec's hand-checked one-row
    * probes, so the tests exercise the query's own columns rather
    * than a drift-prone copy. */
  private[graft] def repetitionScored(docs: DataFrame): DataFrame = {
    val bigrams = expr(
      """CASE WHEN size(_toks) < 2 THEN array()
        |ELSE transform(sequence(1, size(_toks) - 1),
        |       i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))
        |END""".stripMargin)
    docs
      .withColumn("_toks", split(trim(col("text")), "\\s+"))
      .withColumn("_bi", bigrams)
      .select(col("doc_id"),
        size(col("_bi")).cast("long").as("n_bigrams"),
        (size(col("_bi")) - size(array_distinct(col("_bi")))).cast("long").as("n_dup"))
      // 4 dp ratio in INTEGER arithmetic (the half-up rounding-tie
      // rule): floor((20000·d + b)/(2b)) is half-up rounding of
      // 10000·d/b, identical in both engines at any scale — a double
      // round(d/b, 4) diverges on true 4 dp midpoints (e.g. 7/160).
      // `keep` compares the UNROUNDED ratio: 5·d ≤ b ⟺ d/b ≤ 0.2.
      .withColumn("dup_frac",
        when(col("n_bigrams") === 0, lit(0.0d))
          .otherwise(expr("(20000 * n_dup + n_bigrams) div (2 * n_bigrams)") / 10000.0d))
      .withColumn("keep", col("n_dup") * 5 <= col("n_bigrams"))
  }

  def repetitionScore(s: SparkSession, dir: String): DataFrame = {
    // sort-before-project (see TextQueries.tokenStats): the bigram
    // build must not run a second time under the range sampler
    val s0 = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id"))
    repetitionScored(s0)
  }

  val repetitionScoreSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS bi
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |        FROM documents)),
      |c AS (
      |  SELECT doc_id, len(bi) AS n_bigrams,
      |    len(bi) - len(list_distinct(bi)) AS n_dup
      |  FROM b)
      |SELECT doc_id, n_bigrams, n_dup,
      |  CASE WHEN n_bigrams = 0 THEN 0.0
      |       ELSE ((20000 * n_dup + n_bigrams) // (2 * n_bigrams)) / 10000.0
      |  END AS dup_frac,
      |  n_dup * 5 <= n_bigrams AS keep
      |FROM c ORDER BY doc_id""".stripMargin

  /** PII scrub patterns — RE2-safe (no backreferences/lookaround) so
    * the same pattern strings run in Java regex and DuckDB. Order
    * matters: emails first (an address may contain digits), then IPs
    * (dotted octets), then phones — which REQUIRE a word-boundary
    * start, a ≤3-digit leading group and a separator after it, so a
    * bare digit run is never phone-matched and an ISO datetime's
    * 4-digit year can't lead a match — and finally bare ≥9-digit
    * runs as generic IDs. Known residual ambiguity (documented, not
    * fixable with RE2-safe syntax alone): dashed numeric SPANS like
    * '01-01 - 2020' are syntactically phone-shaped and will redact;
    * a production scrubber adds contextual validation on top. */
  private[graft] val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\+?\\b\\d{1,3}[) -][\\d() -]{5,}\\d" -> "<PHONE>",
    "\\b\\d{9,}\\b" -> "<ID>")

  /** q73: PII REDACTION — the compliance scrub every shipped training
    * corpus runs: emails, IPv4s, phone-shaped digit runs and long ID
    * numbers replaced by typed placeholder tokens, with a per-doc
    * redaction count. Chained codegen'd regexp_replace — stateless
    * map-side, no shuffle. The fixture corpus is word-salad with NO
    * PII-shaped substrings (verified; every count is 0 and the
    * fingerprint equals the original's), so the cross-engine oracle
    * here proves the PIPELINE (regex dialect parity + fingerprint of
    * the output); the redaction behavior itself is pinned on
    * synthetic strings in TrainOpsSpec. */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // each pattern is COUNTED on the text as it stands after the
    // previous redactions (not on the original), so n_pii equals the
    // number of replacements actually performed — counting all
    // patterns against the original would double-count overlaps
    // (e.g. an IP embedded in an email's domain). The placeholders
    // contain no digits/@, so they can never re-match. The whole
    // chain runs as ONE fused RegexScrub pass (one matcher traversal
    // per pattern; the old regexp_extract_all counting pass
    // duplicated the regex work and allocated a match array per
    // doc-pattern just to take its length). The sort runs on the
    // NARROW (doc_id, text) relation before the scrub projection:
    // global orderBy plans a RangePartitioner sampling pass that
    // re-executes its child, so sorting after the projection would
    // run every regex twice (the q33 lesson).
    val scrub = graft.functions.expressions.regex_scrub($"text", piiPatterns)
    Tables.documents(s, dir)
      .select($"doc_id", $"text").orderBy($"doc_id")
      .select($"doc_id",
        scrub.getField("n_matches").as("n_pii"),
        TextQueries.fingerprint(scrub.getField("redacted")).as("redacted_fp"))
  }

  val piiRedactSql: String = {
    // DuckDB single-quoted strings take backslashes literally, so the
    // Java pattern strings embed unchanged (none contains a quote).
    // Counts mirror the Spark side: pattern i is counted on the text
    // AFTER patterns 1..i−1 were applied.
    var cur = "text"
    val countExprs = List.newBuilder[String]
    for ((pat, tag) <- piiPatterns) {
      countExprs += s"len(regexp_extract_all($cur, '$pat'))"
      cur = s"regexp_replace($cur, '$pat', '$tag', 'g')"
    }
    val redacted = cur
    val nPii = countExprs.result().mkString(" + ")
    s"""SELECT doc_id,
       |  $nPii AS n_pii,
       |  ${TextQueries.fingerprintSql(redacted)} AS redacted_fp
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q75: WEIGHTED SOURCE MIXING — the "data mixture" operator: build
    * a training order in which each source appears in proportion to
    * its weight (the standard per-source rank/weight interleave —
    * deterministic, no rand()). A source with weight 3 contributes 3×
    * the docs of a weight-1 source to ANY prefix of the mixture, so a
    * training run that stops early still sees the configured mix.
    *
    * The per-source rank uses q70's TWO-LEVEL construction (not
    * `row_number() OVER (PARTITION BY source)` directly on the corpus
    * — the low-cardinality-window anti-pattern
    * the PlanSpec lint now rejects; a rank is just a prefix COUNT, so
    * the same shard/offset split applies): (1) row_number within each
    * (source, doc_id div 1000) shard, (2) shard row-counts → running
    * offsets via a window over the tiny per-shard aggregate, (3)
    * broadcast the offsets back; rank = local rank + offset. Shard
    * order is doc_id order by construction, so the rank is exactly
    * the single-window oracle's. Then a global top-k on the mix key,
    * which Catalyst plans as TakeOrderedAndProject (per-partition
    * top-k + bounded merge — no range-sampling pass, the plan that
    * survives 100 TB). */
  def sourceMix(s: SparkSession, dir: String, take: Int = 1000): DataFrame = {
    import s.implicits._
    // heavier weights for the low-numbered sources; literal dim like q69
    val weights = (0 until 20).map(i => (s"src$i", if (i < 5) 3L else 1L))
      .toDF("source", "weight")
    val base = Tables.documents(s, dir)
      .join(broadcast(weights), Seq("source"))
      .withColumn("shard", expr("doc_id div 1000"))
    val wLocal = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
    val wShard = Window.partitionBy($"source").orderBy($"shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one row per (source, shard): the offset window runs over the
    // tiny aggregate, never the corpus
    val offsets = base.groupBy($"source", $"shard")
      .agg(count(lit(1)).as("shard_n"))
      .withColumn("offset", sum($"shard_n").over(wShard) - $"shard_n")
      .select($"source", $"shard", $"offset")
    base
      .withColumn("local_rn", row_number().over(wLocal))
      .join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("rn", ($"local_rn" + $"offset").cast("int"))
      // rank/weight interleave: position of a doc in the mixture is
      // its per-source rank scaled by 1/weight; double division is
      // deterministic IEEE — identical in both engines for hashing
      .withColumn("mix_key", $"rn".cast("double") / $"weight")
      .select($"doc_id", $"source", $"weight", $"rn", $"mix_key")
      .orderBy($"mix_key", $"source", $"doc_id")
      .limit(take)
  }

  /** q124: TEMPERATURE-SAMPLED MIXTURE ALLOCATION — the "how many
    * documents from each source" step (UniMax/multilingual-temperature
    * style): weight each source by count^(1/2) — the τ=2 temperature
    * that upweights small sources against the head — then apportion a
    * fixed document budget by LARGEST-REMAINDER so the allocations
    * are integers that sum EXACTLY to the budget. q75 interleaves
    * under GIVEN weights; this COMPUTES the weights from corpus
    * statistics, which is the step run when the mixture is data-
    * driven rather than hand-tuned.
    *
    * All-integer cross-engine arithmetic: the only float op is
    * `floor(sqrt(n))` — IEEE sqrt is correctly rounded, so both
    * engines see the same double and the same floor (exact integer
    * sqrt is NOT claimed; the weight is a deterministic shared
    * surrogate). Apportionment = base `div` + remainder ranking, all
    * BIGINT.
    *
    * Scale shape: one map-side-combined count per source (tiny
    * aggregate), then windows/joins over the ≤#sources-row frame —
    * nothing corpus-sized past the first aggregate; the empty window
    * partition specs run over ~20 rows by construction (the q70
    * offsets rule). */
  def mixtureAllocation(s: SparkSession, dir: String, budget: Long = 10000L): DataFrame =
    mixtureAllocationOver(Tables.documents(s, dir), budget)

  /** q124 over an injectable (source, …) frame — specs pin the
    * sum-to-budget and remainder-tie rules on hand-built counts. */
  private[graft] def mixtureAllocationOver(docs: DataFrame, budget: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val counts = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt($"n_docs".cast("double"))).cast("long"))
    val tot = counts.agg(sum($"weight").as("tot_w"))
    val based = counts.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * weight) div tot_w"))
      .withColumn("rem", expr(s"($budget * weight) % tot_w"))
    val leftover = based.agg((lit(budget) - sum($"base")).as("leftover"))
    // remainder ranking over the ≤#sources-row frame (empty partition
    // spec is deliberate: the input is already a tiny aggregate)
    val byRem = Window.orderBy($"rem".desc, $"source")
    based.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(byRem))
      .select($"source", $"n_docs", $"weight",
        ($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L)).as("alloc_docs"))
      .orderBy($"source")
  }

  def mixtureAllocationSql(budget: Long = 10000L): String =
    s"""WITH c AS (
      |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
      |w AS (
      |  SELECT source, n_docs, CAST(floor(sqrt(n_docs)) AS BIGINT) AS weight
      |  FROM c),
      |t AS (
      |  SELECT source, n_docs, weight,
      |    CAST(sum(weight) OVER () AS BIGINT) AS tot_w FROM w),
      |b AS (
      |  SELECT source, n_docs, weight, tot_w,
      |    ($budget * weight) // tot_w AS base,
      |    ($budget * weight) % tot_w AS rem
      |  FROM t),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
      |    CAST($budget - sum(base) OVER () AS BIGINT) AS leftover
      |  FROM b)
      |SELECT source, n_docs, weight,
      |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc_docs
      |FROM r ORDER BY source""".stripMargin

  val sourceMixSql: String =
    """SELECT doc_id, source, weight, rn, mix_key FROM (
      |  SELECT doc_id, source, weight,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
      |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS DOUBLE)
      |      / weight AS mix_key
      |  FROM documents
      |  JOIN (SELECT 'src' || CAST(range AS VARCHAR) AS source,
      |               CASE WHEN range < 5 THEN 3 ELSE 1 END AS weight
      |        FROM range(20)) w USING (source))
      |ORDER BY mix_key, source, doc_id LIMIT 1000""".stripMargin

  /** q78: DOCUMENT CHUNKING with overlap — the context-window
    * splitter every RAG/pretraining pipeline runs: fixed 32-token
    * chunks on a 24-token stride (8-token overlap), one output row
    * per chunk with its token count and a cross-engine rolling-hash
    * fingerprint of the chunk text. Stateless map-side explode — a
    * doc's chunks never leave its input partition, so the operator
    * has NO shuffle at any scale (the export sort is the only
    * exchange, and it runs on the narrow sorted input: chunk rows
    * inherit the doc sort because posexplode preserves row order).
    * Chunk count for an n-token doc is ((n−1) div stride) + 1 —
    * tokenizing "" yields [""] in BOTH engines (len 1), so n ≥ 1
    * always and the formula never degenerates. */
  def docChunks(s: SparkSession, dir: String, chunk: Int = 32,
      stride: Int = 24): DataFrame =
    docChunksOver(Tables.documents(s, dir), chunk, stride)

  /** The q78 chunk frame over any (doc_id, text) frame — shared by
    * the registered query and q126's leakage audit (whose spec
    * constructs cross-split duplicates the fixture may not have). */
  private[graft] def docChunksOver(docs: DataFrame, chunk: Int = 32,
      stride: Int = 24): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"doc_id", $"text").orderBy($"doc_id") // sort-before-project
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .select($"doc_id", $"toks",
        posexplode(sequence(lit(0), floor((size($"toks") - 1) / stride).cast("int"))))
      .withColumn("start", $"col" * stride)
      .select($"doc_id", $"pos".cast("long").as("chunk_idx"),
        size(slice($"toks", $"start" + 1, lit(chunk))).cast("long").as("n_chunk_tokens"),
        TextQueries.fingerprint(concat_ws(" ", slice($"toks", $"start" + 1, lit(chunk))))
          .as("chunk_fp"))
  }

  /** q126: CROSS-SPLIT CHUNK LEAKAGE — the eval-integrity audit at
    * the CONTEXT-WINDOW granularity: how many distinct 32-token
    * chunks (q78's unit) occur in more than one of q94's
    * train/val/test splits. Document-level splitting leaks evaluation
    * signal whenever the SAME passage recurs across documents that
    * land in different splits — exactly the duplication q108 measures
    * WITHIN the corpus, here crossed with the split assignment. q79
    * answers "does held-out text appear in training?" for a designated
    * holdout via n-grams; this audits the production split itself at
    * chunk granularity and reports every split pair.
    *
    * Scale shape: distinct (split, fp) — one shuffle on the 8-byte
    * chunk fingerprint; then a fp-group collect_set whose state is
    * bounded by the 3 split names; the 3-row pair dim joins by
    * array-membership (broadcast nested loop over 3 rows — linear in
    * the multi-split fp count, which the ≥2 filter keeps to the
    * leakage set itself). Fixed 3-row output, zeros included. */
  def splitChunkLeakage(s: SparkSession, dir: String): DataFrame =
    splitChunkLeakageOver(Tables.documents(s, dir))

  private[graft] def splitChunkLeakageOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pairDim = Seq(("test", "train"), ("test", "val"), ("train", "val"))
      .toDF("split_a", "split_b")
    val sp = docChunksOver(docs)
      .select(splitOf($"doc_id").as("split"), $"chunk_fp").distinct()
    val byFp = sp.groupBy($"chunk_fp").agg(collect_set($"split").as("sl"))
      .filter(size($"sl") >= 2)
    pairDim.join(byFp,
        array_contains($"sl", $"split_a") && array_contains($"sl", $"split_b"),
        "left")
      .groupBy($"split_a", $"split_b")
      .agg(count($"chunk_fp").as("n_shared_chunks"))
      .orderBy($"split_a", $"split_b")
  }

  lazy val splitChunkLeakageSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |i AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, (len(toks)-1) // 24 + 1)) AS chunk_idx
      |  FROM t),
      |c AS (
      |  SELECT doc_id,
      |    ${TextQueries.fingerprintSql(
             "array_to_string(toks[chunk_idx*24+1 : chunk_idx*24+32], ' ')")} AS chunk_fp
      |  FROM i),
      |sp AS (
      |  SELECT DISTINCT
      |    CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 980
      |           THEN 'train'
      |         WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 990
      |           THEN 'val'
      |         ELSE 'test' END AS split,
      |    chunk_fp
      |  FROM c),
      |f AS (
      |  SELECT chunk_fp, list_sort(list(split)) AS sl
      |  FROM sp GROUP BY chunk_fp HAVING count(*) >= 2),
      |pairs AS (
      |  SELECT * FROM (VALUES ('test', 'train'), ('test', 'val'),
      |    ('train', 'val')) v(split_a, split_b))
      |SELECT p.split_a, p.split_b,
      |  CAST(count(f.chunk_fp) AS BIGINT) AS n_shared_chunks
      |FROM pairs p LEFT JOIN f
      |  ON list_contains(f.sl, p.split_a) AND list_contains(f.sl, p.split_b)
      |GROUP BY p.split_a, p.split_b
      |ORDER BY p.split_a, p.split_b""".stripMargin

  /** q108: CHUNK-LEVEL EXACT DEDUP — the step between q78 chunking
    * and q70/q99 packing in a real pipeline: identical context
    * windows recur ACROSS documents (boilerplate, quotes, templated
    * passages) even when the documents themselves are not duplicates,
    * and training on them re-weights the corpus. Composes q78's chunk
    * fingerprints with the q40 keeper discipline: the keeper of each
    * fingerprint group is its (doc_id, chunk_idx) minimum.
    *
    * Scale shape: ONE shuffle on the 64-bit chunk fingerprint (the
    * 8-byte scale representation — q41's rule), then a row_number
    * window over fingerprint groups, which are near-singleton by
    * construction (the lint's low-cardinality-partition trap does not
    * apply; group size is the duplication multiplicity, not the
    * corpus). No join back — the window IS the keeper assignment. */
  def chunkDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"chunk_fp").orderBy($"doc_id", $"chunk_idx")
    docChunks(s, dir)
      .withColumn("is_keeper", row_number().over(w) === 1)
      // materialize before the export sort (range-sampler re-execute rule)
      .reliableCheckpoint()
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Chunks COMPOSE q78's oracle verbatim — one definition of the
    * chunk grid and fingerprint across both queries. */
  lazy val chunkDedupSql: String =
    s"""WITH chunks AS ($docChunksSql)
      |SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_fp,
      |  row_number() OVER (PARTITION BY chunk_fp ORDER BY doc_id, chunk_idx) = 1
      |    AS is_keeper
      |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin

  /** q109: DEDUP-AWARE CHUNK PACKING — the closing step of the chunk
    * pipeline (q78 chunk → q108 dedup → pack): keeper chunks packed
    * into fixed context windows, the frame a trainer actually
    * consumes. Same fractional-pack rule as q70
    * (`pack_id = (cum − n) div budget` over the global
    * (doc_id, chunk_idx) order) with the q95 two-level construction:
    * per-shard running sums + ONE deliberate single-task exclusive
    * prefix over the ≤shards-row aggregate (no corpus-wide window,
    * no "No Partition Defined" warning; see [[shuffleOrderOver]] for
    * why the structural form beats the declarative alternatives). */
  def chunkPack(s: SparkSession, dir: String, budget: Long = 256L,
      shardSize: Long = 100L): DataFrame = {
    import s.implicits._
    val base = chunkDedup(s, dir).filter($"is_keeper")
      .select($"doc_id", $"chunk_idx", $"n_chunk_tokens")
      .withColumn("shard", expr(s"doc_id div $shardSize"))
    val wLocal = Window.partitionBy($"shard").orderBy($"doc_id", $"chunk_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy($"shard").agg(sum($"n_chunk_tokens").as("n"))
      .coalesce(1).sortWithinPartitions($"shard")
      .select($"shard", $"n").as[(Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (sh, n) => val off = acc; acc += n; (sh, off) }
      }.toDF("shard", "offset")
    base
      .withColumn("local_cum", sum($"n_chunk_tokens").over(wLocal))
      .join(broadcast(offsets), Seq("shard"))
      .withColumn("cum", $"local_cum" + $"offset")
      .withColumn("pack_id", expr(s"(cum - n_chunk_tokens) div $budget"))
      .groupBy($"pack_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum($"n_chunk_tokens").as("n_tokens"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .orderBy($"pack_id")
  }

  /** Packs COMPOSE q108's oracle (which composes q78's) — the whole
    * chunk pipeline is one definition chain across three queries. */
  lazy val chunkPackSql: String =
    s"""WITH dedup AS ($chunkDedupSql),
      |keep AS (
      |  SELECT doc_id, chunk_idx, n_chunk_tokens FROM dedup WHERE is_keeper),
      |cum AS (
      |  SELECT doc_id, chunk_idx, n_chunk_tokens,
      |    CAST(sum(n_chunk_tokens) OVER (ORDER BY doc_id, chunk_idx
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM keep)
      |SELECT (cum - n_chunk_tokens) // 256 AS pack_id,
      |  count(*) AS n_chunks, CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM cum GROUP BY 1 ORDER BY pack_id""".stripMargin

  val docChunksSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |i AS (
      |  SELECT doc_id, toks,
      |    unnest(range(0, (len(toks)-1) // 24 + 1)) AS chunk_idx
      |  FROM t),
      |c AS (
      |  SELECT doc_id, chunk_idx,
      |    toks[chunk_idx*24+1 : chunk_idx*24+32] AS ctoks
      |  FROM i)
      |SELECT doc_id, chunk_idx, CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
      |  ${TextQueries.fingerprintSql("array_to_string(ctoks, ' ')")} AS chunk_fp
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** DISTINCT (doc_id, fp) n-gram fingerprint rows of a
    * (doc_id, text) frame — the shared gram representation of q79
    * contamination and q122 dup-ngram fraction. Grams cross the
    * exchange as the 8-byte cross-engine fingerprint
    * ([[TextQueries.fingerprint]] — the q41/q79/q81 tradeoff), and a
    * doc's own fps are `array_distinct`ed BEFORE the explode so
    * within-doc repetition (q71's separate signal) cannot inflate
    * cross-doc counts. Docs shorter than n tokens contribute no rows
    * (the empty-array branch guards Spark's descending
    * `sequence(1, 0)`). */
  private[graft] def gramFps(src: DataFrame, n: Int): DataFrame = {
    val s = src.sparkSession
    import s.implicits._
    // fused codegen'd expression — value-identical to the former
    // array_distinct(transform(..., fingerprint(concat_ws(" ",
    // slice(toks, i, n))))) composition, without the interpreted
    // lambda + per-gram slice/concat allocations (see [[graft
    // .functions.GramFps]]); the < n guard lives inside (empty array
    // → explode drops the row, as before)
    src
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .select($"doc_id",
        explode(graft.functions.expressions.gram_fps($"toks", n)).as("fp"))
  }

  /** q122: CROSS-CORPUS DUPLICATED-NGRAM FRACTION — the Gopher-class
    * corpus-level boilerplate signal sitting between q71 (repetition
    * WITHIN a document) and q79 (contamination ACROSS the held-out
    * split): for each document, the fraction of its distinct 8-grams
    * that also occur in at least one OTHER document. High values
    * flag templated text (headers, licensing blocks, scraped
    * navigation) that exact dedup (q40) misses because the wrapping
    * differs and near-dup (q42-q44) misses when the shared span is a
    * minority of the doc.
    *
    * Scale shape: one groupBy over the 8-byte fp space (map-side
    * combined; per-doc fps are distinct, so `count(*)` IS the
    * distinct-doc count — no count_distinct state), filtered to the
    * ≥2-doc dup set; one fp-keyed shuffle join back; one doc_id
    * aggregate. Cost is O(total grams) end to end — no all-pairs
    * anything, the 100 TB shape. Docs with <8 tokens report 0 via
    * the left join + coalesce (the q79 rule); integer half-up 4 dp
    * division keeps the fraction engine-exact. */
  def dupNgramFraction(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    dupNgramFractionOver(Tables.documents(s, dir), n)

  /** q122 over an injectable (doc_id, text) frame (non-vacuous-spec rule:
    * specs construct corpora where the dup/unique boundary is
    * hand-checkable). */
  private[graft] def dupNgramFractionOver(docs: DataFrame, n: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // COUNT-1 COMPLEMENT reshape: a plan that explodes the gram fps
    // TWICE (once into the ≥2-doc dup-fp aggregate, once as the join
    // probe), joins the corpus-gram stream against the dup set, and
    // re-aggregates every gram row by doc_id — at broadcast-defying
    // scale that is two corpus-gram
    // exchanges plus an fp-keyed join of the whole gram stream.
    // Identity used instead: per-doc fps are DISTINCT (gramFps), so
    //   n_dup(doc) = n_grams(doc) − |fps of doc with corpus count 1|
    // and a count-1 fp's min(doc_id) IS its only owner. One explode,
    // one fp-keyed exchange (count + min carry 16 bytes of mergeable
    // state), then a doc-keyed aggregate over ONLY the count-1 fps;
    // n_grams is map-side size(gram_fps(·)) — no explode, no shuffle.
    val uniqPerDoc = gramFps(docs.select($"doc_id", $"text"), n)
      .groupBy($"fp")
      .agg(count(lit(1)).as("nfp"), min($"doc_id").as("doc_id"))
      .filter($"nfp" === 1)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_uniq"))
    docs
      .select($"doc_id",
        coalesce(size(graft.functions.expressions.gram_fps(
          split(trim($"text"), "\\s+"), n)).cast("long"), lit(0L)).as("n_grams"))
      .join(uniqPerDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_grams",
        ($"n_grams" - coalesce($"n_uniq", lit(0L))).as("n_dup"))
      .select($"doc_id", $"n_grams", $"n_dup",
        // integer-cents half-up division (the half-up rounding rule)
        when($"n_grams" === 0, lit(0.0))
          .otherwise(
            expr("(20000 * n_dup + n_grams) div (2 * n_grams)") / 10000.0)
          .as("dup_frac")) // unsorted: a sampling pass would re-run the
      // map-side gram count; hash compare is row-order-insensitive
  }

  /** Unordered-result note: the Spark side emits these
    * rows UNSORTED — no trailing ORDER BY, because the range sampler
    * would re-execute the heavy final stage purely to order
    * output the driver hashes order-insensitively (check.py sorts
    * rows before hashing). This oracle statement keeps its ORDER BY
    * as the canonical presentation; row order is NOT part of the
    * result contract. */
  val dupNgramFractionSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      range(1, greatest(len(toks) - 6, 1)),
      |      i -> ${TextQueries.fingerprintSql("array_to_string(toks[i : i+7], ' ')")}))) AS fp
      |  FROM t WHERE len(toks) >= 8),
      |dup AS (SELECT fp FROM g GROUP BY fp HAVING count(*) >= 2),
      |per AS (
      |  SELECT doc_id, count(*) AS n_grams,
      |    CAST(sum(CASE WHEN fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_dup
      |  FROM g GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(per.n_grams, 0) AS n_grams,
      |  coalesce(per.n_dup, 0) AS n_dup,
      |  CASE WHEN coalesce(per.n_grams, 0) = 0 THEN 0.0
      |       ELSE ((20000 * coalesce(per.n_dup, 0) + per.n_grams)
      |             // (2 * per.n_grams)) / 10000.0 END AS dup_frac
      |FROM documents d LEFT JOIN per USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q127: DOCUMENT FILTER STACK — the FineWeb/Gopher-class keep/drop
    * gate a pretraining pipeline runs over the cleaned corpus, fusing
    * five independent signals into one verdict with a REASONS BITMASK
    * (so downstream can audit WHY a doc dropped, not just that it
    * did):
    *   1  LENGTH   n_tokens < 20 or > 10000
    *   2  REPEAT   within-doc duplicate bigrams > 5% (the stack runs
    *               stricter than q71's standalone 20% gate)
    *   4  DUPNGRAM cross-corpus duplicated 8-grams > 20% (q122)
    *   8  LOWSTOP  fewer than 2 stopword hits (the Gopher "must
    *               contain ≥2 of a tiny stop set" heuristic)
    *   16 LOWDIV   distinct-token ratio < 0.5
    * keep = reasons == 0. Every rule BINDS on the gate fixture
    * (43/102/47/112/281 docs respectively at sf0.01) — no vacuous
    * conjuncts. All-integer comparisons (k·x > y forms), so the
    * verdict is engine-exact with no rounding boundary.
    *
    * Scale shape: signals 1/2/8/16 are a stateless single-pass map
    * over the token array; signal 4 reuses q122's machinery — one
    * fp-space aggregate + one fp join + one doc_id join. Nothing
    * here exceeds q122's own cost; the map-side signals are free
    * riders on the same scan. */
  def filterStack(s: SparkSession, dir: String): DataFrame =
    filterStackOver(Tables.documents(s, dir))

  /** The q127 per-record signal columns staged from `textCol` — ONE
    * definition shared by batch q127 and the streaming
    * [[graft.streaming.Pipeline.withQualityVerdict]] enrichment, so
    * stream and batch can only ever score a record identically (the
    * withSplit parity rule). Legal on unbounded plans (stateless
    * maps). Emits `_q_n/_q_stops/_q_dist/_q_nbi/_q_dupbi`. */
  private[graft] def withQualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val bigrams = expr(
      """CASE WHEN size(_q_toks) < 2 THEN array()
        |ELSE transform(sequence(1, size(_q_toks) - 1),
        |       i -> concat(element_at(_q_toks, i), ' ', element_at(_q_toks, i + 1)))
        |END""".stripMargin)
    df.withColumn("_q_toks", split(trim(col(textCol)), "\\s+"))
      .withColumn("_q_bi", bigrams)
      .withColumn("_q_n", size(col("_q_toks")).cast("long"))
      .withColumn("_q_stops",
        size(regexp_extract_all(col(textCol),
          lit("\\b(the|a|and|of|to|in|is)\\b"), lit(0))).cast("long"))
      .withColumn("_q_dist", size(array_distinct(col("_q_toks"))).cast("long"))
      .withColumn("_q_nbi", size(col("_q_bi")).cast("long"))
      .withColumn("_q_dupbi",
        (size(col("_q_bi")) - size(array_distinct(col("_q_bi")))).cast("long"))
      .drop("_q_toks", "_q_bi")
  }

  /** The four STATELESS rule bits (1 length / 2 repeat / 8 lowstop /
    * 16 lowdiv) over the staged signal columns. Bit 4 (cross-corpus
    * duplicated n-grams) needs corpus-wide state and exists only on
    * the batch path — the stream stamps these four. */
  private[graft] def statelessReasonBits: Column =
    when(col("_q_n") < 20 || col("_q_n") > 10000, 1L).otherwise(0L) +
      when(col("_q_nbi") > 0 && col("_q_dupbi") * 20 > col("_q_nbi"), 2L)
        .otherwise(0L) +
      when(col("_q_stops") < 2, 8L).otherwise(0L) +
      when(col("_q_dist") * 2 < col("_q_n"), 16L).otherwise(0L)

  private[graft] val qualitySignalCols: Seq[String] =
    Seq("_q_n", "_q_stops", "_q_dist", "_q_nbi", "_q_dupbi")

  private[graft] def filterStackOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // count-1 complement reshape — see [[dupNgramFractionOver]]:
    // nd = ng − n_uniq with ng computed map-side, so the dup-gram
    // signal costs ONE gram explode + ONE fp exchange instead of two
    // explodes, an fp join of the gram stream, and a gram-stream
    // re-aggregate. Rule bit unchanged: nd·5 > ng.
    val uniqPerDoc = gramFps(docs.select($"doc_id", $"text"), 8)
      .groupBy($"fp")
      .agg(count(lit(1)).as("nfp"), min($"doc_id").as("doc_id"))
      .filter($"nfp" === 1)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_uniq"))
    val base = withQualitySignals(docs.select($"doc_id", $"text"), "text")
      .select($"doc_id", col("_q_n").as("n_tokens"),
        statelessReasonBits.as("stateless_bits"),
        coalesce(size(graft.functions.expressions.gram_fps(
          split(trim($"text"), "\\s+"), 8)).cast("long"), lit(0L)).as("ng"))
    base.join(uniqPerDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        ($"stateless_bits"
          + when(($"ng" - coalesce($"n_uniq", lit(0L))) * 5 > $"ng", 4L)
            .otherwise(0L)).as("reasons"))
      .withColumn("keep", $"reasons" === 0L) // unsorted: q122's unsorted-output rule
  }

  /** The q127 verdict chain as a reusable CTE body (ends with `v`:
    * doc_id, n_tokens, reasons), parameterized by the base relation —
    * q127 runs it on `documents`, q129's assembly oracle on the
    * deduped survivor CTE, so the two can never disagree about what
    * "keep" means. */
  def filterStackCtes(base: String = "documents"): String =
    s"""t AS (
      |  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM $base),
      |g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      range(1, greatest(len(toks) - 6, 1)),
      |      i -> ${TextQueries.fingerprintSql("array_to_string(toks[i : i+7], ' ')")}))) AS fp
      |  FROM t WHERE len(toks) >= 8),
      |dup AS (SELECT fp FROM g GROUP BY fp HAVING count(*) >= 2),
      |per AS (
      |  SELECT doc_id, count(*) AS ng,
      |    CAST(sum(CASE WHEN fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nd
      |  FROM g GROUP BY 1),
      |s AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    len(regexp_extract_all(text, '\\b(the|a|and|of|to|in|is)\\b')) AS stops,
      |    len(list_distinct(toks)) AS dist,
      |    len(toks) - 1 AS nbi,
      |    (len(toks) - 1) - len(list_distinct(list_transform(
      |      range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]))) AS dupbi
      |  FROM t),
      |v AS (
      |  SELECT s.doc_id, s.n_tokens,
      |    CAST(CASE WHEN s.n_tokens < 20 OR s.n_tokens > 10000 THEN 1 ELSE 0 END
      |      + CASE WHEN s.nbi > 0 AND s.dupbi * 20 > s.nbi THEN 2 ELSE 0 END
      |      + CASE WHEN coalesce(per.nd, 0) * 5 > coalesce(per.ng, 0)
      |             THEN 4 ELSE 0 END
      |      + CASE WHEN s.stops < 2 THEN 8 ELSE 0 END
      |      + CASE WHEN s.dist * 2 < s.n_tokens THEN 16 ELSE 0 END
      |      AS BIGINT) AS reasons
      |  FROM s LEFT JOIN per USING (doc_id))""".stripMargin

  /** Unordered-result note: the Spark side emits these
    * rows UNSORTED — no trailing ORDER BY, because the range sampler
    * would re-execute the heavy final stage purely to order
    * output the driver hashes order-insensitively (check.py sorts
    * rows before hashing). This oracle statement keeps its ORDER BY
    * as the canonical presentation; row order is NOT part of the
    * result contract. */
  val filterStackSql: String =
    s"""WITH ${filterStackCtes()}
      |SELECT doc_id, n_tokens, reasons, reasons = 0 AS keep
      |FROM v ORDER BY doc_id""".stripMargin

  /** q129: CORPUS ASSEMBLY — the end-to-end composition a pretraining
    * data job actually runs, as ONE declarative plan: q41's
    * fingerprint dedup keeps one copy per text, q127's filter stack
    * drops low-quality survivors, and q70's two-level prefix sum
    * packs what remains into 2048-token windows — output is the
    * per-(source, pack) loader summary. Stage ORDER is part of the
    * pinned semantics: dedup runs FIRST so exact copies cannot
    * pollute the filter's cross-corpus duplicated-8-gram statistic
    * (an exact-dup pair would otherwise mark BOTH copies as
    * boilerplate and drop them, where the assembled corpus should
    * keep exactly one), and the dup-gram signal is then computed over
    * the DEDUPED corpus — the statistic a production filter actually
    * uses.
    *
    * The point of registering the COMPOSITION (beyond its stages,
    * each already oracle-checked) is interop: stage boundaries are
    * DataFrames, so Catalyst fuses the stages into one plan — no
    * materialization between "jobs". The oracle rebuilds the
    * identical chain from the q41 window + [[filterStackCtes]]
    * (re-based onto the deduped CTE) + q70's cum window, so engine
    * agreement covers the STAGE WIRING (which doc survives into
    * which pack), not just each stage alone. */
  def corpusAssembly(s: SparkSession, dir: String, budget: Long = 2048L,
      shardSize: Long = 1000L): DataFrame =
    corpusAssemblyOver(Tables.documents(s, dir), budget, shardSize)

  /** q129 over an injectable (doc_id, source, text) frame — the spec
    * pins the stage-order semantics (a quality-dropped doc must not
    * shadow a kept duplicate) on constructed data. */
  /** q129/q143's stage 1 — the ONE definition of the assembly's
    * dedup pass: q41 keeper discipline over the raw corpus
    * (near-singleton fp groups, the q108 rule — not a corpus
    * window), materialized once because several downstream branches
    * consume it. */
  private[graft] def assemblyDeduped(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val w = Window.partitionBy($"fp").orderBy($"doc_id")
    graft.operators.Scale.checkpointed(docs
      .withColumn("fp", TextQueries.fingerprint($"text"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"source", $"doc_id", $"text"))
  }

  private[graft] def corpusAssemblyOver(docs: DataFrame, budget: Long = 2048L,
      shardSize: Long = 1000L): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val deduped = assemblyDeduped(docs)
    // stage 2: the filter stack over the DEDUPED corpus (its dup-gram
    // statistic now measures real boilerplate, not exact copies)
    val kept = filterStackOver(deduped).filter($"keep").select($"doc_id")
    // stage 3: q70 packing of the survivors
    packedDocsOver(deduped.join(kept, Seq("doc_id")), budget, shardSize,
        TextQueries.bpeishTokenCount(col("text")))
      .groupBy($"source", $"pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tokens").as("n_tokens"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
      .orderBy($"source", $"pack_id")
  }

  /** q143: ASSEMBLY FUNNEL REPORT — per-source drop attribution
    * through the q129 pipeline: raw docs → after exact dedup → after
    * the quality filter stack → packed tokens and pack count. This
    * is the provenance table a data team reads before a training
    * run: WHERE documents disappeared (dedup vs quality), and what
    * each source actually contributes to the final token budget —
    * q82 reports dedup's impact alone, q127 reports filter reasons
    * per doc; this rolls the WHOLE composed pipeline up per source.
    * Stage definitions are shared with q129 ([[assemblyDeduped]],
    * [[filterStackOver]], [[packedDocsOver]]) so the funnel can never
    * drift from the pipeline it audits; the oracle recomposes the
    * same SQL chain re-rolled per source. Output is |sources| rows;
    * every stage frame aggregates map-side before the ≤|sources|-row
    * broadcast joins. */
  def assemblyFunnel(s: SparkSession, dir: String, budget: Long = 2048L,
      shardSize: Long = 1000L): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val deduped = assemblyDeduped(docs)
    val raw = docs.groupBy($"source").agg(count(lit(1)).as("n_raw"))
    val afterDedup = deduped.groupBy($"source").agg(count(lit(1)).as("n_after_dedup"))
    // materialize-once (the q79 rule): `kept` feeds BOTH the
    // per-source rollup and the packing branch — without a checkpoint
    // the filter stack's 8-gram dup statistic (its dominant cost)
    // executes twice, once per consuming action. Token counts ride in
    // the checkpoint so neither branch re-tokenizes.
    val kept = graft.operators.Scale.checkpointed(deduped
      .join(filterStackOver(deduped).filter($"keep").select($"doc_id"), Seq("doc_id"))
      .withColumn("n_toks", TextQueries.bpeishTokenCount($"text")))
    val afterFilter = kept.groupBy($"source").agg(
      count(lit(1)).as("n_after_filter"),
      sum($"n_toks").as("n_tokens"))
    val packs = packedDocsOver(kept, budget, shardSize, col("n_toks"))
      .groupBy($"source").agg(countDistinct($"pack_id").as("n_packs"))
    raw
      .join(broadcast(afterDedup), Seq("source"), "left")
      .join(broadcast(afterFilter), Seq("source"), "left")
      .join(broadcast(packs), Seq("source"), "left")
      .select($"source", $"n_raw",
        coalesce($"n_after_dedup", lit(0L)).as("n_after_dedup"),
        coalesce($"n_after_filter", lit(0L)).as("n_after_filter"),
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_packs", lit(0L)).as("n_packs"))
      .orderBy($"source")
  }

  def assemblyFunnelSql(budget: Long = 2048L): String =
    s"""WITH dd AS (
      |  SELECT source, doc_id, text FROM (
      |    SELECT source, doc_id, text,
      |      row_number() OVER (
      |        PARTITION BY ${TextQueries.fingerprintSql("text")}
      |        ORDER BY doc_id) AS rn
      |    FROM documents) WHERE rn = 1),
      |${filterStackCtes("dd")},
      |surv AS (
      |  SELECT d.source, d.doc_id,
      |    len(regexp_extract_all(d.text, '\\w+|[^\\w\\s]')) AS n_toks
      |  FROM dd d JOIN (SELECT doc_id FROM v WHERE reasons = 0) k
      |    USING (doc_id)),
      |cum AS (
      |  SELECT source, doc_id, n_toks,
      |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM surv),
      |raw AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw
      |        FROM documents GROUP BY 1),
      |ad AS (SELECT source, CAST(count(*) AS BIGINT) AS n_after_dedup
      |       FROM dd GROUP BY 1),
      |af AS (SELECT source, CAST(count(*) AS BIGINT) AS n_after_filter,
      |         CAST(sum(n_toks) AS BIGINT) AS n_tokens
      |       FROM surv GROUP BY 1),
      |pk AS (SELECT source,
      |         CAST(count(DISTINCT (cum - n_toks) // $budget) AS BIGINT) AS n_packs
      |       FROM cum GROUP BY 1)
      |SELECT raw.source, raw.n_raw,
      |  coalesce(ad.n_after_dedup, 0) AS n_after_dedup,
      |  coalesce(af.n_after_filter, 0) AS n_after_filter,
      |  coalesce(af.n_tokens, 0) AS n_tokens,
      |  coalesce(pk.n_packs, 0) AS n_packs
      |FROM raw
      |LEFT JOIN ad USING (source)
      |LEFT JOIN af USING (source)
      |LEFT JOIN pk USING (source)
      |ORDER BY source""".stripMargin

  def corpusAssemblySql(budget: Long = 2048L): String =
    s"""WITH dd AS (
      |  SELECT source, doc_id, text FROM (
      |    SELECT source, doc_id, text,
      |      row_number() OVER (
      |        PARTITION BY ${TextQueries.fingerprintSql("text")}
      |        ORDER BY doc_id) AS rn
      |    FROM documents) WHERE rn = 1),
      |${filterStackCtes("dd")},
      |surv AS (
      |  SELECT d.source, d.doc_id,
      |    len(regexp_extract_all(d.text, '\\w+|[^\\w\\s]')) AS n_toks
      |  FROM dd d JOIN (SELECT doc_id FROM v WHERE reasons = 0) k
      |    USING (doc_id)),
      |cum AS (
      |  SELECT source, doc_id, n_toks,
      |    CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM surv)
      |SELECT source, (cum - n_toks) // $budget AS pack_id,
      |  count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM cum GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin

  /** q79: TRAIN/TEST CONTAMINATION — the eval-integrity check run
    * before every training job: which held-out documents share long
    * n-grams with the training corpus. Test set = src0, train = the
    * rest; an 8-gram is the standard contamination unit. Grams are
    * joined as 64-bit rolling-hash FINGERPRINTS, not strings — the
    * fingerprint is the scale representation (8 bytes through the
    * exchange instead of ~50-char grams) and it is the SAME
    * cross-engine hash the oracle computes, so the equi-join is
    * hash-checked end to end. Plan: both sides explode to distinct
    * (doc, fp) / (fp) rows, one shuffle each into a semi-join-shaped
    * aggregate. Docs shorter than 8 tokens have no grams and are
    * reported with n_grams = 0 via the left join + coalesce.
    *
    * The bloom prefilter is WIRED IN, not just "ready":
    * at 100 TB the train side is ~the whole corpus and its distinct
    * 8-gram space is what crosses the exchange; a 1M-bit Bloom built
    * over the (small) held-out side's grams (q72's operator — one
    * fixed 128 KB driver artifact) drops every train gram that cannot
    * match BEFORE the shuffle, shrinking the train exchange to ~the
    * test-gram cardinality (+ the false-positive tail). Correct by
    * the no-false-negative theorem: every matching gram survives the
    * filter, and false positives are discarded by the exact equi-join
    * — the oracle hash (unchanged single-join SQL) verifies exactly
    * that. The test-gram frame is checkpointed once and feeds both
    * the bloom build and the probe join. */
  def contamination(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    contaminationOver(Tables.documents(s, dir), n)

  /** q79 over an injectable documents frame (the non-vacuous-spec rule: the
    * empty-held-out branch can't bind on the fixture, which always
    * has src0 rows — the spec constructs a frame without them). */
  private[graft] def contaminationOver(docs: DataFrame, n: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    def gramFps(src: DataFrame): DataFrame = TrainQueries.gramFps(src, n)
    val test = docs.filter($"source" === "src0").select($"doc_id", $"text")
    val train = docs.filter($"source" =!= "src0").select($"doc_id", $"text")
    // the held-out gram frame feeds the bloom aggregation AND the
    // probe join — materialize it once (re-deriving would tokenize
    // and fingerprint the held-out corpus twice)
    val testG = graft.operators.Scale.checkpointed(gramFps(test))
    // bloom_build over ZERO rows (empty or all-short held-out set)
    // aggregates to null — skip the prefilter rather than NPE; the
    // final frame is empty anyway (it starts from `test`)
    val bloom = Option(testG
      .agg(graft.functions.BloomFilter.bloom_build($"fp"))
      .head().getAs[Array[Byte]](0))
    val trainG = gramFps(train)
    val trainFps = bloom.fold(trainG)(b =>
        trainG.filter(graft.functions.BloomFilter.bloom_contains($"fp", b)))
      .select($"fp").distinct()
    // the left join against the (bloom-thinned, distinct) train set
    // marks each held-out gram hit-or-miss; a single aggregate
    // produces both counts
    val perDoc = testG
      .join(trainFps.withColumn("hit", lit(1)), Seq("fp"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), count($"hit").as("n_hit"))
    test.select($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_hit", lit(0L)).as("n_hit"),
        // integer-cents half-up division (the half-up rounding rule);
        // coalesce INSIDE the arithmetic — n_grams/n_hit are null (not
        // 0) for short docs at this point in the plan
        when(coalesce($"n_grams", lit(0L)) === 0, lit(0.0))
          .otherwise(
            expr("(20000 * coalesce(n_hit, 0) + n_grams) div (2 * n_grams)") / 10000.0)
          .as("contamination_frac"),
        (coalesce($"n_hit", lit(0L)) > 0).as("is_contaminated"))
      .orderBy($"doc_id")
  }

  val contaminationSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, source, fp FROM (
      |    SELECT doc_id, source,
      |      unnest(list_distinct(list_transform(
      |        range(1, greatest(len(toks) - 6, 1)),
      |        i -> ${TextQueries.fingerprintSql("array_to_string(toks[i : i+7], ' ')")}))) AS fp
      |    FROM t WHERE len(toks) >= 8)),
      |test_g AS (SELECT doc_id, fp FROM g WHERE source = 'src0'),
      |train_g AS (SELECT DISTINCT fp FROM g WHERE source <> 'src0'),
      |grams AS (SELECT doc_id, count(*) AS n_grams FROM test_g GROUP BY 1),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_hit FROM test_g
      |  WHERE fp IN (SELECT fp FROM train_g) GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(grams.n_grams, 0) AS n_grams,
      |  coalesce(hits.n_hit, 0) AS n_hit,
      |  CASE WHEN coalesce(grams.n_grams, 0) = 0 THEN 0.0
      |       ELSE ((20000 * coalesce(hits.n_hit, 0) + grams.n_grams)
      |             // (2 * grams.n_grams)) / 10000.0 END AS contamination_frac,
      |  coalesce(hits.n_hit, 0) > 0 AS is_contaminated
      |FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
      |LEFT JOIN grams USING (doc_id)
      |LEFT JOIN hits USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q172: LONGEST CONTAMINATED SPAN — q79 counts WHICH held-out
    * grams the training corpus contains; this measures HOW LONG the
    * contiguous overlap runs. A held-out doc sharing 20 scattered
    * 8-grams is boilerplate noise; one sharing a 150-token unbroken
    * span is verbatim leakage the model can memorize — the standard
    * decontamination rule keys on span length, not gram count, so
    * this is the operator that decides what q79 only flags. Grams
    * are POSITIONAL here (no array_distinct — position is the
    * signal), hits chain by the gaps-and-islands identity
    * `pos − row_number()` (consecutive hit positions share an island
    * key), and a k-island of consecutive hit grams certifies an
    * unbroken k+n−1-token span. Short (<n tokens) and clean docs
    * report zeros via the left join (the q79 rule).
    * Scale: the train side is bloom-thinned before its distinct
    * exchange exactly as q79 (no-false-negative theorem; false
    * positives die in the exact semi-join); the islands window
    * partitions per held-out doc over its HIT positions only — frames
    * bounded by document length, never corpus-wide (the q63 rule). */
  def contaminationSpan(s: SparkSession, dir: String, n: Int = 8): DataFrame =
    contaminationSpanOver(Tables.documents(s, dir), n)

  /** q172 over an injectable documents frame (the non-vacuous-spec rule: the
    * island-chaining arithmetic gets hand-built shared-span specs). */
  private[graft] def contaminationSpanOver(docs: DataFrame, n: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val test = docs.filter($"source" === "src0").select($"doc_id", $"text")
    val train = docs.filter($"source" =!= "src0").select($"doc_id", $"text")
    // positional held-out grams; feeds the bloom build AND the probe
    val testG = graft.operators.Scale.checkpointed(test
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .select($"doc_id",
        posexplode(when(size($"toks") >= n,
            transform(sequence(lit(1), size($"toks") - (n - 1)),
              i => TextQueries.fingerprint(concat_ws(" ", slice($"toks", i, lit(n))))))
          .otherwise(array().cast("array<long>"))))
      .withColumnRenamed("col", "fp"))
    val bloom = Option(testG
      .agg(graft.functions.BloomFilter.bloom_build($"fp"))
      .head().getAs[Array[Byte]](0))
    val trainG = gramFps(train, n)
    val trainFps = bloom.fold(trainG)(b =>
        trainG.filter(graft.functions.BloomFilter.bloom_contains($"fp", b)))
      .select($"fp").distinct()
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val spans = testG
      .join(trainFps, Seq("fp"), "left_semi")
      .withColumn("island", $"pos" - row_number().over(w))
      .groupBy($"doc_id", $"island").agg(count(lit(1)).as("run"))
      .groupBy($"doc_id")
      .agg(sum($"run").as("n_hit"), max($"run").as("max_run"))
    test.select($"doc_id").join(spans, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_hit", lit(0L)).as("n_hit_grams"),
        coalesce($"max_run" + (n - 1), lit(0L)).as("max_span_tokens"))
      .orderBy($"doc_id")
  }

  val contaminationSpanSql: String =
    s"""WITH t AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, source, toks,
      |    unnest(range(1, greatest(len(toks) - 6, 1))) AS pos
      |  FROM t WHERE len(toks) >= 8),
      |g AS (
      |  SELECT doc_id, source, pos,
      |    ${TextQueries.fingerprintSql("array_to_string(toks[pos : pos+7], ' ')")} AS fp
      |  FROM p),
      |train_g AS (SELECT DISTINCT fp FROM g WHERE source <> 'src0'),
      |h AS (
      |  SELECT doc_id, pos,
      |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM g WHERE source = 'src0' AND fp IN (SELECT fp FROM train_g)),
      |runs AS (SELECT doc_id, island, count(*) AS run FROM h GROUP BY 1, 2),
      |spans AS (
      |  SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_hit, max(run) AS max_run
      |  FROM runs GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(spans.n_hit, 0) AS n_hit_grams,
      |  coalesce(spans.max_run + 7, 0) AS max_span_tokens
      |FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
      |LEFT JOIN spans USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q182: EXACT-SUBSTRING DECONTAMINATION — the third member of the
    * contamination family, and the one with the strongest contract:
    * q79 flags APPROXIMATE gram overlap, q172 measures span LENGTH,
    * this reports byte-exact verbatim hits of an eval probe string
    * inside a training document — the rule actual benchmark
    * decontamination uses (a fixed-width probe window from each
    * held-out doc, any training doc containing it verbatim is a
    * leak). Probe = the 60-char window starting at len/4 of every
    * held-out (`src0`) doc of ≥ 80 chars; output = every
    * (eval_id, train_id) pair where the training text contains the
    * probe as an exact substring.
    *
    * Engine: all probes compile into ONE Aho–Corasick automaton
    * (driver-side, bounded: the probe frame is the EVAL benchmark
    * set — thousands of short strings at any corpus scale, the same
    * bounded-sidecar class as the IVF centroid frames), which rides
    * to every task as a codegen reference object. The 100 TB train
    * corpus is then scanned in a SINGLE pass, O(len + hits) per
    * document regardless of the probe count — no per-pattern scans,
    * no corpus-sized gram shuffle (q79's shape, wrong for a small
    * exact probe set), no nested-loop `contains`. The hit frame
    * (true leaks only) checkpoints before the final sort so the
    * RangePartitioner's sampling pass re-reads the tiny pair frame,
    * not the corpus scan. See [[graft.functions.AhoCorasick]].
    * Cite: decontamination against the reference's cleaned corpus —
    * sentiment_analysis.py:213-238 feeds model training from the
    * stored tweets; this is the guard a training pipeline runs ahead
    * of that read. */
  def decontamPairs(s: SparkSession, dir: String): DataFrame =
    decontamPairsOver(Tables.documents(s, dir))

  /** Compile the held-out probe windows of `docs` into ONE automaton.
    * Bounded collect: the probe side is the held-out EVAL set (the
    * benchmark being protected), never the corpus — same bounded
    * sidecar contract as the IVF centroid/codebook collects. */
  private[graft] def evalProbeAutomaton(docs: DataFrame): graft.functions.AhoCorasick.Automaton = {
    val s = docs.sparkSession
    import s.implicits._
    val probeFrame = docs
      .filter($"source" === "src0" && length($"text") >= 80)
      .select($"doc_id",
        $"text".substr(greatest(lit(1), floor(length($"text") / 4)).cast("int"), lit(60)))
    // the probe side must be an eval benchmark (thousands of rows),
    // never a corpus split
    val probes = cappedProbes(probeFrame, cap =>
      s"decontamination probe set exceeds $cap rows — the probe side must be a " +
        "bounded eval benchmark, not a corpus split; the compiled automaton is a " +
        "driver-built broadcast sidecar and grows with it. Shrink the probe set " +
        "or raise spark.graft.decontam.maxProbes.")
      .map(r => (r.getLong(0), r.getString(1)))
    graft.functions.AhoCorasick.build(probes)
  }

  /** The bounded-sidecar contract of every eval-bounded driver collect
    * (q182's probe set, q191's truth pairs, query terms and rank tail,
    * q198's triage feed), enforced in the collect itself: the collect
    * reads at most cap+1 rows of `frame` and fails with `overCap(cap)`
    * when more than `cap` came back, so the guard pays no full pass and
    * no separate count.
    * The cap is `spark.graft.decontam.maxProbes` (default 100000),
    * clamped to Int range before the limit: a configured cap ≥
    * Int.MaxValue would overflow to a negative limit and fail the query
    * instead of applying the guard, and a collect beyond 2³¹ rows is
    * impossible anyway. */
  private[graft] def cappedProbes(frame: DataFrame, overCap: Long => String): Array[Row] = {
    val cap = math.min(
      frame.sparkSession.conf.getOption("spark.graft.decontam.maxProbes")
        .getOrElse("100000").toLong,
      Int.MaxValue - 1L)
    val rows = frame.limit(cap.toInt + 1).collect()
    require(rows.length <= cap, overCap(cap))
    rows
  }

  /** The ONE scan chain shared by the registered batch query and the
    * streaming ingest guard ([[graft.streaming.Pipeline
    * .screenDecontamBatch]]) — stream ≡ batch screening is
    * structural, not re-implemented. `train` is (doc_id, text). */
  private[graft] def decontamHits(train: DataFrame,
      ac: graft.functions.AhoCorasick.Automaton): DataFrame = {
    val s = train.sparkSession
    import s.implicits._
    train.select($"doc_id".as("train_id"),
        explode(graft.functions.AhoCorasick.ac_match_ids($"text", ac)).as("eval_id"))
      .select($"eval_id", $"train_id")
  }

  /** q182 over an injectable documents frame (the non-vacuous-spec rule: the
    * constructed specs plant probes mid-document and at edit sites). */
  private[graft] def decontamPairsOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    graft.operators.Scale.checkpointed(decontamHitsOver(docs))
      .orderBy($"eval_id", $"train_id")
  }

  /** q182's (eval_id, train_id) hit pairs of `docs`, unsorted and not
    * materialized: the probe automaton is built (one capped collect),
    * the training scan is planned. q191 collects these as its truth
    * pairs, so it pays neither q182's checkpoint nor its sort. */
  private[graft] def decontamHitsOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    decontamHits(docs.filter($"source" =!= "src0").select($"doc_id", $"text"),
      evalProbeAutomaton(docs))
  }

  val decontamPairsSql: String =
    """WITH ev AS (
      |  SELECT doc_id AS eval_id,
      |    substr(text, greatest(1, length(text) // 4), 60) AS pat
      |  FROM documents WHERE source = 'src0' AND length(text) >= 80),
      |tr AS (SELECT doc_id AS train_id, text FROM documents WHERE source <> 'src0')
      |SELECT e.eval_id, t.train_id
      |FROM ev e JOIN tr t ON contains(t.text, e.pat)
      |ORDER BY eval_id, train_id""".stripMargin

  /** q198: END-TO-END DECONTAMINATION REPORT — the
    * q191→q196→q197 triage arc closed with q182's verifier, as ONE
    * query: for every (eval doc, evidence_rank ≤ m) row of q197's
    * span-offsets feed, re-check the claimed span VERBATIM against
    * the candidate training document and report two independent
    * booleans a reviewer acts on:
    *
    *   - `verified`      — the span's token sequence occurs verbatim
    *     ANYWHERE in the candidate (the q182 rule). q197's spans come
    *     from rolling-hash gram fingerprints, so this is a genuine
    *     re-derivation, not a tautology: a fingerprint-collision span
    *     reads `false` here.
    *   - `offset_exact`  — the candidate's tokens at the CLAIMED
    *     `train_start` equal the span (pins the offsets themselves;
    *     `verified ∧ ¬offset_exact` would localize an offset bug,
    *     `¬verified` a collision).
    *
    * Engine composition, narrated for 100 TB: the triage feed is
    * eval-bounded (≤ m rows per eval doc — the same bounded-sidecar
    * class as q182's probe windows, enforced by the same cap conf),
    * so the span strings collect to the driver and compile into ONE
    * Aho–Corasick automaton ([[graft.functions.AhoCorasick]] —
    * O(len + hits) per document, no per-pattern scans). The corpus is
    * pruned to the ≤ m·|eval| CANDIDATE documents by an `isin` on the
    * bounded id set before the automaton runs, so the verify pass
    * touches candidate docs only — the corpus-sized work is q197's
    * (one gram pass, eval side broadcast), already priced. Matching
    * runs over whitespace-NORMALIZED text (tokens joined by one
    * space) because spans are TOKEN sequences — the gram family's
    * definition — not raw-byte windows. DuckDB re-derives both flags
    * from raw text through the composed q197 SQL. */
  def decontamReport(s: SparkSession, dir: String, n: Int = 8,
      m: Int = 3): DataFrame = {
    import s.implicits._
    val outCols = Seq("eval_id", "evidence_rank", "train_id", "span_tokens",
      "eval_start", "eval_end", "train_start", "verified", "offset_exact")
    val docs = Tables.documents(s, dir)
    val triage = TextQueries.spanEvidenceOffsets(s, dir, n, m)
    val evalToks = docs.filter($"source" === "src0")
      .select($"doc_id".as("eval_id"), split(trim($"text"), "\\s+").as("etoks"))
    // probe string = the claimed span's tokens, single-space joined
    // (slice is 1-based; eval_start is 0-based)
    val probeFrame = triage.join(evalToks, Seq("eval_id"))
      .withColumn("probe", concat_ws(" ",
        slice($"etoks", ($"eval_start" + 1).cast("int"), $"span_tokens".cast("int"))))
      .drop("etoks")
    val rows = cappedProbes(probeFrame, cap =>
      s"decontamination triage feed exceeds $cap rows — the eval side must be a " +
        "bounded benchmark; raise spark.graft.decontam.maxProbes if it genuinely is.")
    if (rows.isEmpty) {
      // degenerate corpora with no cross-source span hits: empty
      // report, same schema
      return Seq.empty[(Long, Long, Long, Long, Long, Long, Long, Boolean, Boolean)]
        .toDF(outCols: _*)
    }
    val pdf = rows.toSeq.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.getAs[Long]("eval_id"), r.getAs[Long]("evidence_rank"),
        r.getAs[Long]("train_id"), r.getAs[Long]("span_tokens"),
        r.getAs[Long]("eval_start"), r.getAs[Long]("eval_end"),
        r.getAs[Long]("train_start"), r.getAs[String]("probe"))
    }.toDF("pid" +: outCols.take(7) :+ "probe": _*)
    val ac = graft.functions.AhoCorasick.build(
      rows.zipWithIndex.map { case (r, i) => (i.toLong, r.getAs[String]("probe")) })
    val candIds = rows.map(_.getAs[Long]("train_id")).distinct.toSeq
    val cand = docs.filter($"source" =!= "src0")
      .filter($"doc_id".isin(candIds: _*))
      .select($"doc_id".as("train_id"), split(trim($"text"), "\\s+").as("ttoks"))
      .withColumn("ntext", concat_ws(" ", $"ttoks"))
    val acHits = cand.select($"train_id",
        explode(graft.functions.AhoCorasick.ac_match_ids($"ntext", ac)).as("pid"))
      .distinct().withColumn("hit", lit(true))
    pdf.join(acHits, Seq("pid", "train_id"), "left")
      .join(cand.select($"train_id", $"ttoks"), Seq("train_id"))
      .withColumn("verified", coalesce($"hit", lit(false)))
      .withColumn("offset_exact", concat_ws(" ",
        slice($"ttoks", ($"train_start" + 1).cast("int"),
          $"span_tokens".cast("int"))) === $"probe")
      .select(outCols.map(col): _*)
      .orderBy($"eval_id", $"evidence_rank")
  }

  /** DuckDB re-derives BOTH flags from raw text through the composed
    * q197 SQL (list slices are 1-based inclusive, matching the Spark
    * side's `slice`). */
  def decontamReportSql(n: Int = 8, m: Int = 3): String =
    s"""WITH triage AS (${TextQueries.spanEvidenceOffsetsSql(n, m)}),
      |tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
      |        FROM documents),
      |p AS (
      |  SELECT t.*, array_to_string(
      |      e.tk[t.eval_start + 1 : t.eval_start + t.span_tokens], ' ') AS probe
      |  FROM triage t JOIN tok e ON e.doc_id = t.eval_id)
      |SELECT p.eval_id, p.evidence_rank, p.train_id, p.span_tokens,
      |  p.eval_start, p.eval_end, p.train_start,
      |  contains(array_to_string(c.tk, ' '), p.probe) AS verified,
      |  (array_to_string(c.tk[p.train_start + 1 : p.train_start + p.span_tokens],
      |     ' ') = p.probe) AS offset_exact
      |FROM p JOIN tok c ON c.doc_id = p.train_id
      |ORDER BY eval_id, evidence_rank""".stripMargin

  /** q183: TRAIN-VOCABULARY OOV RATE — the held-out coverage check a
    * tokenizer/vocab decision needs: build the top-`k` token
    * vocabulary from the TRAIN split only (q94's hash split — the
    * same assignment rule everywhere, so this composes with the split
    * the pipeline actually ships), then measure what fraction of
    * val/test token OCCURRENCES fall outside it, per (split, lang).
    * The train/eval asymmetry is the point: q117 tracks vocabulary
    * growth over time and q168 head-mass within one corpus; this is
    * the generalization question — how well does the training vocab
    * cover text it will be evaluated on, and which languages suffer.
    *
    * Scale: token counting partial-aggregates map-side before the one
    * corpus-sized exchange (tokens → (tok, count)); the top-k vocab is
    * `TakeOrderedAndProject` over the VOCAB-sized count frame (no
    * corpus-wide sort, deterministic (count DESC, tok ASC) tie-break);
    * the eval probe joins against `broadcast(vocab)` — k rows, a
    * CONSTANT parameter, never corpus- or vocabulary-scaled (the q138
    * rule) — so the eval side never shuffles before its bounded
    * (split, lang) rollup. All-integer arithmetic; half-up 4 dp rate. */
  def oovRate(s: SparkSession, dir: String, k: Int = 200): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val evalToks = docs.withColumn("split", splitCol)
      .filter($"split" =!= "train")
      .select($"split", $"lang", explode(split(trim($"text"), "\\s+")).as("tok"))
    oovRollup(evalToks, trainVocab(docs, k), $"split", $"lang")
      .orderBy($"split", $"lang")
  }

  /** The top-`k` train-split vocabulary — (count DESC, tok ASC)
    * tie-break, `TakeOrderedAndProject` over the vocab-sized count
    * frame. The batch q183 builds it inline; the streaming guard
    * stores it once as the standing artifact it screens against. */
  private[graft] def trainVocab(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.filter(splitOf($"doc_id") === "train")
      .select(explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok").limit(k).select($"tok")
  }

  /** The ONE OOV aggregation shared by the registered batch query and
    * the streaming vocab-drift guard ([[graft.streaming.Pipeline
    * .screenOovBatch]]) — stream ≡ batch is structural. `toks` must
    * carry `tok` plus the grouping keys; the vocab join is
    * `broadcast(k rows)`, a constant, never corpus-scaled. */
  private[graft] def oovRollup(toks: DataFrame, vocab: DataFrame,
      keys: Column*): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    toks.join(broadcast(vocab.select($"tok", lit(1).as("in_vocab"))),
        Seq("tok"), "left")
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when($"in_vocab".isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        expr("(20000 * n_oov + n_tokens) div (2 * n_tokens)") / 10000.0)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def oovRateSql(k: Int = 200): String =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 980
      |           THEN 'train'
      |         WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 990
      |           THEN 'val'
      |         ELSE 'test' END AS split,
      |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |  FROM documents),
      |v AS (
      |  SELECT tok FROM (
      |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
      |    FROM t WHERE split = 'train' GROUP BY tok)
      |  WHERE rn <= $k),
      |e AS (
      |  SELECT t.split, t.lang,
      |    CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM t LEFT JOIN v ON t.tok = v.tok
      |  WHERE t.split <> 'train')
      |SELECT split, lang,
      |  count(*) AS n_tokens,
      |  CAST(sum(oov) AS BIGINT) AS n_oov,
      |  ((20000 * CAST(sum(oov) AS BIGINT) + count(*)) // (2 * count(*))) / 10000.0 AS oov_rate
      |FROM e GROUP BY split, lang
      |ORDER BY split, lang""".stripMargin

  /** q185: TRUNCATION-LOSS REPORT — q154's complement in the
    * sequence-length decision: padding waste prices a max-len set TOO
    * LONG (short docs burn pad tokens), truncation loss prices it TOO
    * SHORT (long docs lose their tails). For a grid of candidate max
    * sequence lengths, per source: how many documents would truncate
    * and what fraction of the corpus token mass falls off the end.
    * Together the two reports bracket the max-len sweet spot; per
    * source because a length cap hits long-form sources asymmetrically
    * (the mixture-shift side effect a global number hides). Same
    * whitespace token basis as q154 so the two reports compose.
    *
    * Counts are exact integers; the ppm ratio multiplies DOUBLE-FIRST
    * (q165's overflow rule — `tokens_lost · 10⁶` as BIGINT would wrap
    * inside the 100 TB range; the IEEE double path is
    * correctly-rounded, bit-identical cross-engine). Scale: one
    * stateless map to (source, n_tokens), a CONSTANT ×|grid| explode,
    * one bounded (max_len, source) rollup that partial-aggregates
    * map-side — the audit costs a single corpus pass. */
  def truncationLoss(s: SparkSession, dir: String,
      grid: Seq[Int] = Seq(64, 128, 256, 512)): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source", TextQueries.tokenCount($"text").as("n_tokens"))
      .select($"source", $"n_tokens",
        explode(array(grid.map(g => lit(g.toLong)): _*)).as("max_len"))
      .groupBy($"max_len", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_tokens" > $"max_len", 1L).otherwise(0L)).as("n_truncated"),
        sum(greatest($"n_tokens" - $"max_len", lit(0L))).as("tokens_lost"),
        sum($"n_tokens").as("total_tokens"))
      .select($"max_len", $"source", $"n_docs", $"n_truncated", $"tokens_lost",
        expr("CAST(floor(tokens_lost * 1000000.0 / total_tokens) AS BIGINT)")
          .as("loss_ppm"))
      .orderBy($"max_len", $"source")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def truncationLossSql(grid: Seq[Int] = Seq(64, 128, 256, 512)): String =
    s"""WITH t AS (
      |  SELECT source,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |x AS (
      |  SELECT g.max_len, t.source, t.n_tokens
      |  FROM t CROSS JOIN (SELECT unnest([${grid.mkString(", ")}]) AS max_len) g)
      |SELECT CAST(max_len AS BIGINT) AS max_len, source,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN n_tokens > max_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
      |  CAST(sum(greatest(n_tokens - max_len, 0)) AS BIGINT) AS tokens_lost,
      |  CAST(floor(sum(greatest(n_tokens - max_len, 0)) * 1000000.0 / sum(n_tokens)) AS BIGINT) AS loss_ppm
      |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q189: STORED-VOCAB OOV SERVE — the artifact lifecycle for the
    * q183 vocabulary, under the q92/q97 build-once/query-many
    * discipline: the top-k train vocabulary persists as a stamped
    * table (source fingerprint from parquet footer stats), and the
    * held-out OOV report is served FROM THE STORE — the nightly
    * coverage report that must not re-scan and re-rank the training
    * corpus it already summarized. Build-if-absent-or-stale through
    * [[graft.Artifacts.ensure]] (the q92 gate). `vocab_k` counts the
    * stored rows the serve actually read — the oracle recomputes it from raw data,
    * so a serve that bypassed or truncated the artifact cannot
    * match. Output otherwise ≡ q183 by construction: store +
    * round-trip must be lossless. */
  def vocabStoredOov(s: SparkSession, dir: String, k: Int = 200): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("vocab_q189", dir)
    val now = Artifacts.documents(s, dir)
    Artifacts.ensure(s, Seq(tbl), tbl, now) {
      // a 0-row vocabulary (empty corpus, or an empty train split) is
      // stamped like any other and reused
      trainVocab(Tables.documents(s, dir), k)
        .write.mode("overwrite").format("parquet").saveAsTable(tbl)
      Artifacts.stamp(s, tbl, now)
    }
    val vocab = s.table(tbl).select($"tok")
    val evalToks = Tables.documents(s, dir).withColumn("split", splitCol)
      .filter($"split" =!= "train")
      .select($"split", $"lang", explode(split(trim($"text"), "\\s+")).as("tok"))
    oovRollup(evalToks, vocab, $"split", $"lang")
      .crossJoin(broadcast(vocab.agg(count(lit(1)).as("vocab_k"))))
      .orderBy($"split", $"lang")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def vocabStoredOovSql(k: Int = 200): String =
    s"""WITH t AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 980
      |           THEN 'train'
      |         WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 990
      |           THEN 'val'
      |         ELSE 'test' END AS split,
      |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |  FROM documents),
      |v AS (
      |  SELECT tok FROM (
      |    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
      |    FROM t WHERE split = 'train' GROUP BY tok)
      |  WHERE rn <= $k),
      |e AS (
      |  SELECT t.split, t.lang,
      |    CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM t LEFT JOIN v ON t.tok = v.tok
      |  WHERE t.split <> 'train')
      |SELECT split, lang,
      |  count(*) AS n_tokens,
      |  CAST(sum(oov) AS BIGINT) AS n_oov,
      |  ((20000 * CAST(sum(oov) AS BIGINT) + count(*)) // (2 * count(*))) / 10000.0 AS oov_rate,
      |  (SELECT count(*) FROM v) AS vocab_k
      |FROM e GROUP BY split, lang
      |ORDER BY split, lang""".stripMargin

  /** q81: CORPUS-FREQUENCY quality signal — the unigram-LM proxy
    * behind Gopher/FineWeb-style "rare token" filters: per document,
    * how many of its tokens are corpus-rare (total corpus frequency ≤
    * `rareMax`) plus the min/max corpus frequency seen in the doc.
    * All-integer arithmetic (counts + the half-up 4 dp ratio) — exact
    * cross-engine at any scale; no logs, no doubles until the final
    * display ratio.
    *
    * Plan, narrated for 100 TB: tokens pre-aggregate to (doc_id, fp,
    * count) map-side BEFORE any exchange — the per-doc duplicate
    * compaction is free partial aggregation; corpus frequency is then
    * a window SUM over the fp partitions of the compacted frame; the
    * per-doc rollup is the last exchange, pre-aggregated map-side
    * again. THREE exchanges total — (doc, fp) compaction, fp window,
    * doc_id rollup (PlanSpec pins the count) — nothing driver-side,
    * no joins, and every exchange carries the compacted (doc, fp, c)
    * relation, never raw tokens. Tokens are identified by their
    * rolling-hash fingerprint (the same 8-byte scale representation
    * as q41/q79): two distinct tokens that collide merge their
    * frequencies — the standard, deliberate fingerprint-dedup
    * tradeoff, identical in the oracle because DuckDB computes the
    * same hash. */
  def rareTokenStats(s: SparkSession, dir: String, rareMax: Long = 2L): DataFrame = {
    import s.implicits._
    val perDocTok = Tables.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"doc_id", TextQueries.fingerprint($"tok").as("fp"))
      .agg(count(lit(1)).as("c"))
    val withFreq = perDocTok
      .withColumn("freq", sum($"c").over(Window.partitionBy($"fp")))
    withFreq
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sum(when($"freq" <= rareMax, $"c").otherwise(lit(0L))).as("n_rare"),
        min($"freq").as("min_freq"),
        max($"freq").as("max_freq"))
      .withColumn("rare_frac",
        expr("(20000 * n_rare + n_tokens) div (2 * n_tokens)") / 10000.0)
      .orderBy($"doc_id")
  }

  /** Parameterized like the Spark side — a non-default `rareMax` must
    * flow to BOTH or the oracle answers a different question. */
  def rareTokenStatsSql(rareMax: Long = 2L): String =
    s"""WITH pt AS (
      |  SELECT doc_id,
      |    ${TextQueries.fingerprintSql("tok")} AS fp,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |        FROM documents)
      |  GROUP BY 1, 2),
      |f AS (
      |  SELECT doc_id, c,
      |    CAST(sum(c) OVER (PARTITION BY fp) AS BIGINT) AS freq
      |  FROM pt),
      |d AS (
      |  SELECT doc_id,
      |    CAST(sum(c) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN freq <= $rareMax THEN c ELSE 0 END) AS BIGINT) AS n_rare,
      |    min(freq) AS min_freq, max(freq) AS max_freq
      |  FROM f GROUP BY 1)
      |SELECT doc_id, n_tokens, n_rare, min_freq, max_freq,
      |  ((20000 * n_rare + n_tokens) // (2 * n_tokens)) / 10000.0 AS rare_frac
      |FROM d ORDER BY doc_id""".stripMargin

  /** q83: CROSS-SOURCE VOCABULARY OVERLAP — the mixture diagnostic
    * run before blending corpora: pairwise Jaccard similarity of the
    * distinct-token vocabularies of every source pair (near-identical
    * vocabularies ⇒ the sources are probably the same crawl twice;
    * disjoint ⇒ a domain gap the mixture weights should know about).
    *
    * Plan: distinct (source, token-fp) is one exchange over 8-byte
    * fingerprints with map-side partial dedup; the pair build is a
    * self-equi-join on fp whose per-key fan-out is bounded by the
    * SOURCE COUNT (≤ 20² pairs per fingerprint regardless of corpus
    * size — never a data-sized cross product); per-pair counts and
    * the 20-row size dim are tiny aggregates, the dim rides in on a
    * broadcast twice. The vocab frame is localCheckpointed: both the
    * join's two sides and the size dim read the materialized distinct
    * set instead of re-tokenizing the corpus three times (the q43
    * lesson). Only pairs sharing ≥1 token appear — Jaccard 0 pairs
    * carry no signal and would make the output quadratic in sources.
    * Vocabularies are sets of token FINGERPRINTS (q81's documented
    * tradeoff): colliding tokens merge, identically in the oracle. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = Tables.documents(s, dir)
      .select($"source", explode(split(trim($"text"), "\\s+")).as("tok"))
      .select($"source", TextQueries.fingerprint($"tok").as("fp"))
      .distinct()
      .reliableCheckpoint()
    val sizes = vocab.groupBy($"source").agg(count(lit(1)).as("n"))
    vocab.as("a")
      .join(vocab.as("b"), $"a.fp" === $"b.fp" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes).withColumnRenamed("source", "source_a")
        .withColumnRenamed("n", "n_a"), Seq("source_a"))
      .join(broadcast(sizes).withColumnRenamed("source", "source_b")
        .withColumnRenamed("n", "n_b"), Seq("source_b"))
      .select($"source_a", $"source_b", $"n_common", $"n_a", $"n_b",
        (expr("(20000 * n_common + (n_a + n_b - n_common)) div (2 * (n_a + n_b - n_common))")
          / 10000.0).as("jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  val sourceOverlapSql: String =
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
      |  ((20000 * n_common + (sa.n + sb.n - n_common))
      |   // (2 * (sa.n + sb.n - n_common))) / 10000.0 AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.source = pairs.source_a
      |JOIN sizes sb ON sb.source = pairs.source_b
      |ORDER BY source_a, source_b""".stripMargin

  /** q85: QUALITY-RANKED BUDGET SELECTION — the data-selection
    * operator: per source, admit documents in quality order (distinct
    * token count desc, doc_id asc as the deterministic tiebreak)
    * until a token budget is spent; a doc is kept iff its cumulative
    * token count stays within budget. All-integer — exact
    * cross-engine.
    *
    * The running sum uses q70's TWO-LEVEL prefix-sum construction,
    * with the quality value itself as the shard key: (1) cumsum
    * within each (source, quality) band ordered by doc_id, (2) band
    * totals → running offsets via a window over the tiny per-band
    * aggregate ordered by quality desc, (3) broadcast the offsets
    * back. A naive Window.partitionBy(source) caps parallelism at
    * the source count; this form keeps sources × bands partitions
    * while computing the identical cumulative sum, which is exactly
    * what the single-window oracle SQL verifies. */
  def budgetSelect(s: SparkSession, dir: String, budget: Long = 800L): DataFrame =
    budgetSelectWith(s, dir, budget, TextQueries.tokenCount(col("text")))

  /** [[budgetSelect]] with a pluggable token cost (q85: whitespace
    * tokens; q98: BPE subword tokens) — selection order (quality
    * desc, doc_id) is currency-independent; only the budget's
    * currency changes. */
  private[graft] def budgetSelectWith(s: SparkSession, dir: String, budget: Long,
      cost: Column): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"source", $"doc_id",
        cost.cast("long").as("n_tokens"),
        size(array_distinct(split(trim($"text"), "\\s+"))).cast("long").as("quality"))
    val wLocal = Window.partitionBy($"source", $"quality").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wBand = Window.partitionBy($"source").orderBy($"quality".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = base.groupBy($"source", $"quality")
      .agg(sum($"n_tokens").as("band_sum"))
      .withColumn("offset", sum($"band_sum").over(wBand) - $"band_sum")
      .select($"source", $"quality", $"offset")
    base
      .withColumn("local_cum", sum($"n_tokens").over(wLocal))
      .join(broadcast(offsets), Seq("source", "quality"))
      .withColumn("cum_tokens", $"local_cum" + $"offset")
      .filter($"cum_tokens" <= budget)
      .select($"source", $"doc_id", $"quality", $"n_tokens", $"cum_tokens")
      .orderBy($"source", $"doc_id")
  }

  /** Parameterized like the Spark side (the q81 rule): a non-default
    * budget must flow to BOTH sides. */
  def budgetSelectSql(budget: Long = 800L): String =
    s"""WITH q AS (
      |  SELECT source, doc_id,
      |    len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
      |    len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS quality
      |  FROM documents),
      |c AS (
      |  SELECT source, doc_id, quality, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY source
      |      ORDER BY quality DESC, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM q)
      |SELECT source, doc_id, CAST(quality AS BIGINT) AS quality,
      |  CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
      |FROM c WHERE cum_tokens <= $budget
      |ORDER BY source, doc_id""".stripMargin

  /** q152: CROSS-SOURCE CALIBRATED SELECTION — the fairness step in
    * front of any global data-selection pass: raw quality scores are
    * NOT comparable across sources (a web-scrape's "high quality" and
    * a curated corpus's "low quality" can be the same number), so
    * selecting globally on the raw score starves whole sources.
    * Calibration rank-normalizes each document WITHIN its source to a
    * ppm percentile — `cal_ppm = ((rk − 1)·10⁶) div (n_src − 1)` with
    * rk ordered (quality asc, doc_id) — and the global top-k then
    * selects on the CALIBRATED score, interleaving every source's
    * best documents regardless of raw-scale differences. ALL-INTEGER
    * (the q114/q124 rule): ranks and floor divisions only, exact
    * cross-engine; single-document sources pin cal to 10⁶ (both
    * engines via the same CASE).
    *
    * The per-source rank uses q70/q85's TWO-LEVEL construction with
    * quality as the shard key: row_number within each
    * (source, quality) band + band-count running offsets over the
    * tiny per-band aggregate — a naive Window.partitionBy(source)
    * would cap parallelism at the source count and sort each
    * source's full corpus slice on one task; this form keeps
    * sources × bands partitions and the offsets frame is bounded by
    * the QUALITY DOMAIN (distinct-token-count values), not the
    * corpus. Global top-k plans as TakeOrderedAndProject. */
  def calibratedSelect(s: SparkSession, dir: String, k: Int = 500): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
      .select($"source", $"doc_id",
        size(array_distinct(split(trim($"text"), "\\s+"))).cast("long").as("quality"))
    val wLocal = Window.partitionBy($"source", $"quality").orderBy($"doc_id")
    val wBand = Window.partitionBy($"source").orderBy($"quality")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bands = base.groupBy($"source", $"quality")
      .agg(count(lit(1)).as("band_n"))
    val offsets = bands
      .withColumn("offset", sum($"band_n").over(wBand) - $"band_n")
      .select($"source", $"quality", $"offset")
    val nSrc = bands.groupBy($"source").agg(sum($"band_n").as("n_src"))
    base
      .withColumn("local_rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("source", "quality"))
      .join(broadcast(nSrc), Seq("source"))
      .withColumn("rk", $"local_rn" + $"offset")
      .withColumn("cal_ppm",
        when($"n_src" === 1L, lit(1000000L))
          .otherwise(expr("((rk - 1) * 1000000) div (n_src - 1)")))
      .select($"source", $"doc_id", $"quality", $"cal_ppm")
      .orderBy($"cal_ppm".desc, $"source", $"doc_id")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def calibratedSelectSql(k: Int = 500): String =
    s"""WITH q AS (
      |  SELECT source, doc_id,
      |    len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS quality
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, quality,
      |    row_number() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY source) AS n_src
      |  FROM q)
      |SELECT source, doc_id, CAST(quality AS BIGINT) AS quality,
      |  CAST(CASE WHEN n_src = 1 THEN 1000000
      |       ELSE ((rk - 1) * 1000000) // (n_src - 1) END AS BIGINT) AS cal_ppm
      |FROM r
      |ORDER BY cal_ppm DESC, source, doc_id LIMIT $k""".stripMargin

  /** q157: CLUSTER-CONSISTENT SPLIT ASSIGNMENT — the leakage-SAFE
    * split: q126 DETECTS near-duplicate chunks straddling train/test;
    * this PREVENTS the document-level version by keying the q94
    * hash-threshold split on the dedup CLUSTER representative
    * (q66's min-label component id) instead of the doc's own id — a
    * document and all its near-duplicates land in the same split BY
    * CONSTRUCTION, so an eval doc can never have a training-set twin.
    * Keeps q94's virtues (disjoint+exhaustive, growth-stable,
    * retry-stable) at cluster granularity. Output is the integrity
    * report: per split, docs, clusters, and how many docs MOVED
    * relative to the naive per-doc split — the measured cost of
    * leakage-safety.
    *
    * Plan: the pair graph + components are q66's established cost
    * (O(log d) label-propagation rounds); the report adds one
    * 3-key aggregate with a map-side-combined distinct on 8-byte
    * cluster ids. Oracle composes q66's recursive-CTE closure with
    * q94's split CASE — engine components and oracle closure must
    * agree on every label for the 3-row report to hash-match. */
  def clusterSplit(s: SparkSession, dir: String): DataFrame =
    clusterSplitOver(DedupQueries.clusterLabels(s, dir))

  /** q157's report core over any (doc_id, cluster_id) label frame —
    * specs pin the straddle-prevention theorem on constructed
    * clusters whose members' naive splits disagree. */
  private[graft] def clusterSplitOver(labels: DataFrame): DataFrame = {
    val s = labels.sparkSession
    import s.implicits._
    labels
      .withColumn("split", splitOf($"cluster_id"))
      .withColumn("moved", splitOf($"doc_id") =!= $"split")
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct($"cluster_id").as("n_clusters"),
        sum(when($"moved", 1L).otherwise(0L)).as("n_moved"))
      .orderBy($"split")
  }

  /** Oracle COMPOSES q66's closure + q94's split CASE (the one
    * definition of each — a change to either updates this too). */
  lazy val clusterSplitSql: String = {
    def splitCase(k: String): String =
      s"""CASE WHEN ($k % 1000000007) * 2654435761 % 1000000007 % 1000 < 980 THEN 'train'
         |         WHEN ($k % 1000000007) * 2654435761 % 1000000007 % 1000 < 990 THEN 'val'
         |         ELSE 'test' END""".stripMargin
    s"""WITH labels AS (SELECT * FROM (${DedupQueries.dedupClustersSql})),
      |a AS (
      |  SELECT doc_id, cluster_id,
      |    ${splitCase("cluster_id")} AS split,
      |    ${splitCase("doc_id")} AS naive
      |  FROM labels)
      |SELECT split, count(*) AS n_docs,
      |  CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
      |  CAST(sum(CASE WHEN naive <> split THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
      |FROM a GROUP BY split ORDER BY split""".stripMargin
  }

  /** q164: DIVERSIFIED TOP-K SELECTION — global best-k with a hard
    * per-source cap (≤ m per source in the final k): the balanced-
    * batch / search-diversification rule that keeps one prolific
    * source from filling the whole selection even when its raw
    * quality dominates (q152 fixes CALIBRATION; this fixes
    * REPRESENTATION — both are needed and they compose). The
    * per-source cap uses the bounded [[graft.functions.TopKBy]]
    * aggregate — each map partition keeps ≤ m candidates per source,
    * the exchange carries ≤ m·sources·partitions structs, NO
    * rank-window sort-shuffle (the q104 shape) — and the global k is
    * a TakeOrderedAndProject. */
  def diversifiedTopk(s: SparkSession, dir: String, m: Int = 5, k: Int = 50): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"source", $"doc_id",
        size(array_distinct(split(trim($"text"), "\\s+"))).cast("long").as("quality"))
      .groupBy($"source")
      .agg(graft.functions.TopKBy.top_k_by($"quality", $"doc_id", m, strict = true).as("top"))
      .select($"source", explode($"top").as("t"))
      .select($"source", $"t.tie".as("doc_id"), $"t.ord".cast("long").as("quality"))
      .orderBy($"quality".desc, $"source", $"doc_id")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def diversifiedTopkSql(m: Int = 5, k: Int = 50): String =
    s"""WITH q AS (
      |  SELECT source, doc_id,
      |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS quality
      |  FROM documents),
      |r AS (
      |  SELECT source, doc_id, quality,
      |    row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rn
      |  FROM q)
      |SELECT source, doc_id, quality FROM r WHERE rn <= $m
      |ORDER BY quality DESC, source, doc_id LIMIT $k""".stripMargin

  /** q166: K-ANONYMITY GROUP SUPPRESSION REPORT — the pre-release
    * governance check: which (lang, source) cells are too small to
    * publish (a cell with < k members risks re-identification /
    * membership inference, the small-cell suppression rule every data
    * release applies)? One map-side-combined aggregate, one row per
    * cell with its keep verdict and the token mass a suppression
    * would cost — ALL-INTEGER, ≤ |langs|·|sources| rows out at any
    * corpus size. (q73 redacts PII INSIDE text; this governs which
    * SLICES may ship at all — the two privacy layers compose.) */
  def kanonSuppress(s: SparkSession, dir: String, k: Long = 20L): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"lang", $"source", TextQueries.tokenCount($"text").as("nt"))
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"nt").as("n_tokens"))
      .withColumn("kept", $"n_docs" >= k)
      .orderBy($"lang", $"source")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def kanonSuppressSql(k: Long = 20L): String =
    s"""SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens,
      |  count(*) >= $k AS kept
      |FROM documents GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** q167: SPLIT REPRESENTATIVENESS AUDIT — is the held-out data
    * DISTRIBUTED like the training data? q94 guarantees the split is
    * disjoint/exhaustive/growth-stable, but a hash split can still
    * leave an eval band unrepresentative by chance (tiny val/test
    * slices); this audits each eval split against train on the
    * token-LENGTH distribution: docs bucket by `least(n_tokens div
    * bucketW, cap)` (all-integer, q86's fixed-bucket discipline) and
    * each (eval split, bucket) cell gets the two-sample chi-square
    * contribution vs train — PER-CELL doubles only, no double
    * summation anywhere (the q114/q161 contract: +,−,×,÷ over
    * exactly-represented integers, expected counts DOUBLE-FIRST per
    * the q165 overflow rule). Buckets observed in train but absent
    * from the eval split DO appear (ca=0 — under-representation is
    * exactly the signal), via the distinct-bucket grid; eval splits
    * empty at tiny SFs are excluded whole (na>0∧nb>0, q161's
    * one-sided rule), and grid cells empty in BOTH sides of a pair
    * carry no signal and are dropped on both engines.
    * Scale: one corpus scan → one ≤3·(cap+1)-row partial-agg
    * exchange; the grid/totals/chi-square all run on that bounded
    * frame. */
  def splitBalance(s: SparkSession, dir: String, bucketW: Long = 16L,
                   cap: Long = 9L): DataFrame =
    splitBalanceOver(
      Tables.documents(s, dir)
        .select(col("doc_id"), TextQueries.tokenCount(col("text")).as("nt")),
      bucketW, cap)

  /** The q167 pipeline over any (doc_id, nt) frame — injectable so
    * the empty-split exclusion and zero-cell rules have constructed
    * specs (the q135 rule). */
  private[graft] def splitBalanceOver(docs: DataFrame, bucketW: Long = 16L,
                                      cap: Long = 9L): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // checkpoint the ≤3·(cap+1)-row cell frame: four downstream
    // consumers (buckets, train, eval grid, totals) must not each
    // re-derive it from the corpus scan (the q140 shared-frame rule)
    val counts = graft.operators.Scale.checkpointed(docs
      .select(splitOf($"doc_id").as("split"),
        expr(s"least(nt div $bucketW, $cap)").as("bucket"))
      .groupBy($"split", $"bucket").agg(count(lit(1)).as("c")))
    // bounded from here: ≤ 3·(cap+1) rows
    val buckets = counts.select($"bucket").distinct()
    val train = counts.filter($"split" === "train").select($"bucket", $"c".as("cb"))
    val evals = buckets
      .crossJoin(Seq("test", "val").toDF("split"))
      .join(counts, Seq("split", "bucket"), "left")
      .withColumn("ca", coalesce($"c", lit(0L))).drop("c")
      .join(train, Seq("bucket"), "left")
      .withColumn("cb", coalesce($"cb", lit(0L)))
    val totals = evals.groupBy($"split")
      .agg(sum($"ca").as("na"), sum($"cb").as("nb"))
      .filter($"na" > 0L && $"nb" > 0L)
    evals.join(broadcast(totals), Seq("split"))
      .filter($"ca" + $"cb" > 0L)
      .withColumn("ea", ($"ca" + $"cb").cast("double") * $"na" / ($"na" + $"nb"))
      .withColumn("eb", ($"ca" + $"cb").cast("double") * $"nb" / ($"na" + $"nb"))
      .withColumn("chi2", round(
        ($"ca" - $"ea") * ($"ca" - $"ea") / $"ea" +
        ($"cb" - $"eb") * ($"cb" - $"eb") / $"eb", 4))
      .select($"split", $"bucket", $"ca", $"cb", $"chi2")
      .orderBy($"split", $"bucket")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def splitBalanceSql(bucketW: Long = 16L, cap: Long = 9L): String = {
    def splitCase: String =
      """CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 980
        |         THEN 'train'
        |       WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 990
        |         THEN 'val'
        |       ELSE 'test' END""".stripMargin
    s"""WITH t AS (
      |  SELECT $splitCase AS split,
      |    least(len(regexp_split_to_array(trim(text), '\\s+')) // $bucketW, $cap) AS bucket
      |  FROM documents),
      |c AS (SELECT split, bucket, count(*) AS c FROM t GROUP BY 1, 2),
      |bk AS (SELECT DISTINCT bucket FROM c),
      |ev AS (
      |  SELECT s.split, bk.bucket,
      |    coalesce(e.c, 0) AS ca, coalesce(tr.c, 0) AS cb
      |  FROM bk CROSS JOIN (VALUES ('test'), ('val')) AS s(split)
      |  LEFT JOIN c e ON e.split = s.split AND e.bucket = bk.bucket
      |  LEFT JOIN c tr ON tr.split = 'train' AND tr.bucket = bk.bucket),
      |tot AS (
      |  SELECT split, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      |  FROM ev GROUP BY 1 HAVING sum(ca) > 0 AND sum(cb) > 0),
      |x AS (
      |  SELECT ev.split, ev.bucket, ev.ca, ev.cb,
      |    CAST(ev.ca + ev.cb AS DOUBLE) * t.na / (t.na + t.nb) AS ea,
      |    CAST(ev.ca + ev.cb AS DOUBLE) * t.nb / (t.na + t.nb) AS eb
      |  FROM ev JOIN tot t USING (split) WHERE ev.ca + ev.cb > 0)
      |SELECT split, bucket, CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
      |  round((ca - ea) * (ca - ea) / ea + (cb - eb) * (cb - eb) / eb, 4) AS chi2
      |FROM x ORDER BY split, bucket""".stripMargin
  }

  /** One-task exclusive prefix sum over a tiny keyed aggregate — the
    * q95/q105 offsets construction factored out: rows arrive as
    * (key, n), leave as (key, offset) with offset = Σ n of all
    * SMALLER keys. The single deliberate task is bounded by the KEY
    * DOMAIN (shards, token-length values), never the corpus. */
  private def prefixOffsets(grouped: DataFrame): DataFrame = {
    val s = grouped.sparkSession
    import s.implicits._
    grouped.coalesce(1).sortWithinPartitions($"key")
      .select($"key", $"n").as[(Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (k, n) => val off = acc; acc += n; (k, off) }
      }.toDF("key", "offset")
  }

  /** q154: PADDING-WASTE DIAGNOSTIC of batch construction — the
    * training-efficiency question every fixed-shape trainer asks:
    * how many pad tokens does a batching policy burn? Documents are
    * grouped into fixed-size batches of 32 under two policies —
    * ARRIVAL order (doc_id) and LENGTH-SORTED order (n_tokens,
    * doc_id), the standard bucketed-batching remedy — and each
    * batch pads every member to its longest doc. Output: one row per
    * policy with batch count, total pad tokens, and the pad fraction
    * in ppm — counts are exact integers; the ppm ratio multiplies
    * DOUBLE-FIRST (`floor(pad·10⁶.0 / (pad + real))` — q165's
    * overflow rule: a BIGINT `pad·10⁶` would wrap past ~9·10¹² pad
    * tokens, inside the 100 TB range; the double path is
    * correctly-rounded IEEE, bit-identical cross-engine). The
    * length-sorted row quantifies exactly how much compute
    * length-bucketing recovers on this corpus.
    *
    * Scale shape: each policy's global rank uses the q95/q105
    * two-level construction — arrival shards by doc_id RANGE (range,
    * not hash, so shard order IS id order; step from the footer-stats
    * max id), length-sorted bands by the n_tokens value itself (the
    * q85 rule) — local row_number within shard/band + one-task
    * prefix offsets over the tiny aggregate. NO corpus-wide window
    * at any scale; the per-batch rollup exchanges corpus/32 keys. */
  def paddingWaste(s: SparkSession, dir: String, batch: Int = 32): DataFrame = {
    import s.implicits._
    val shards = shuffleShards(s)
    val maxId = Artifacts.documents(s, dir).maxId
    val step = (maxId + shards.toLong) / shards.toLong // ceil((maxId+1)/shards)
    val base = Tables.documents(s, dir)
      .select($"doc_id", TextQueries.tokenCount($"text").as("n_tokens"))

    def ranked(withKey: DataFrame, order: Seq[Column]): DataFrame = {
      val wLocal = Window.partitionBy($"key").orderBy(order: _*)
      val offs = prefixOffsets(withKey.groupBy($"key").agg(count(lit(1)).as("n")))
      withKey.withColumn("local", row_number().over(wLocal).cast("long"))
        .join(broadcast(offs), Seq("key"))
        .select($"n_tokens", expr(s"(offset + local - 1) div $batch").as("batch"))
    }
    val arrival = ranked(base.withColumn("key", expr(s"doc_id div $step")),
      Seq($"doc_id"))
    val bylen = ranked(base.withColumn("key", $"n_tokens"), Seq($"doc_id"))

    def rollup(r: DataFrame, name: String): DataFrame =
      r.groupBy($"batch")
        .agg(count(lit(1)).as("cnt"), max($"n_tokens").as("mx"),
          sum($"n_tokens").as("sm"))
        .agg(count(lit(1)).as("n_batches"),
          sum($"cnt" * $"mx" - $"sm").as("total_pad"),
          sum($"sm").as("tot"))
        .select(lit(name).as("policy"), $"n_batches", $"total_pad",
          expr("CAST(floor(total_pad * 1000000.0 / (total_pad + tot)) AS BIGINT)").as("pad_ppm"))
    rollup(arrival, "arrival").unionByName(rollup(bylen, "length_sorted"))
      .orderBy($"policy")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def paddingWasteSql(batch: Int = 32): String =
    s"""WITH q AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |ra AS (
      |  SELECT n_tokens,
      |    (row_number() OVER (ORDER BY doc_id) - 1) // $batch AS batch FROM q),
      |rl AS (
      |  SELECT n_tokens,
      |    (row_number() OVER (ORDER BY n_tokens, doc_id) - 1) // $batch AS batch FROM q),
      |ba AS (
      |  SELECT batch, count(*) AS cnt, max(n_tokens) AS mx,
      |    CAST(sum(n_tokens) AS BIGINT) AS sm FROM ra GROUP BY batch),
      |bl AS (
      |  SELECT batch, count(*) AS cnt, max(n_tokens) AS mx,
      |    CAST(sum(n_tokens) AS BIGINT) AS sm FROM rl GROUP BY batch),
      |ta AS (
      |  SELECT 'arrival' AS policy, count(*) AS n_batches,
      |    CAST(sum(cnt * mx - sm) AS BIGINT) AS total_pad,
      |    CAST(sum(sm) AS BIGINT) AS tot FROM ba),
      |tl AS (
      |  SELECT 'length_sorted' AS policy, count(*) AS n_batches,
      |    CAST(sum(cnt * mx - sm) AS BIGINT) AS total_pad,
      |    CAST(sum(sm) AS BIGINT) AS tot FROM bl)
      |SELECT policy, n_batches, total_pad,
      |  CAST(floor(total_pad * 1000000.0 / (total_pad + tot)) AS BIGINT) AS pad_ppm
      |FROM (SELECT * FROM ta UNION ALL SELECT * FROM tl)
      |ORDER BY policy""".stripMargin

  /** q155: DATA-CONSTRAINED EPOCH ALLOCATION (waterfilling) — the
    * "how many epochs of each source" step of a token-budgeted run
    * when repetition is capped (the data-constrained-scaling recipe:
    * repeating data helps up to a few epochs, then stops): allocate a
    * token budget B = (19·T) div 10 (1.9 corpus passes — derived from
    * the corpus so the op binds at every SF, and close enough to the
    * 2-epoch cap that the SMALLEST sources hit it under the
    * temperature upweighting — both branches fire on the fixture,
    * checked at both gate SFs) across sources under
    * sqrt-temperature weights (q124's rule, upweighting small
    * sources) with a HARD per-source cap of `rep` = 2 epochs. Exact
    * integer waterfilling: sources sorted by the pinned ratio key
    * `(cap·10³) div w` (milli-precision; scale 10³ keeps the product
    * below 2⁶³ up to ~9·10¹⁵ tokens per source — a 10⁹ scale would
    * silently wrap at ~4.6·10⁹, inside the operating range) fill
    * until their cap binds — a source is
    * capped iff its fair share of the remaining budget exceeds its
    * cap ((B − Cprev)·w > cap·Wfrom, exact BIGINT cross-products),
    * and the capped set is the running-AND prefix (min-over-flag
    * window) of that test in ratio order; the remaining budget
    * splits among uncapped sources by largest remainder (q124's
    * apportionment), so Σ alloc = B EXACTLY. `epochs_milli` =
    * (alloc·1000) div n_tokens is the per-source repetition factor
    * the training loader consumes. ALL-INTEGER except the correctly-
    * rounded `floor(sqrt)` weight (the q124 surrogate rule).
    *
    * Scale shape: ONE map-side-combined per-source token aggregate
    * is the only corpus-sized step; every window below it runs over
    * the ≤|sources|-row frame (the q70/q124 bounded-frame rule).
    * (At extreme corpora the BIGINT cross-products bound the token
    * unit: T^1.5 must stay below 2⁶³ — beyond ~4·10¹² tokens,
    * express budgets in kilo-tokens; semantics unchanged.) */
  def epochAllocation(s: SparkSession, dir: String, rep: Long = 2L): DataFrame = {
    import s.implicits._
    epochAllocationOver(
      Tables.documents(s, dir)
        .select($"source", TextQueries.tokenCount($"text").as("nt"))
        .groupBy($"source").agg(sum($"nt").as("n_tokens")),
      rep)
  }

  /** q155's waterfilling core over an injectable (source, n_tokens)
    * frame — specs pin the capped/uncapped split, sum-to-budget, and
    * cap-respect theorems on hand-built counts (the q124 rule). */
  private[graft] def epochAllocationOver(src0: DataFrame, rep: Long): DataFrame = {
    val s = src0.sparkSession
    import s.implicits._
    val src = src0
      .withColumn("w", floor(sqrt($"n_tokens".cast("double"))).cast("long"))
      .withColumn("cap", $"n_tokens" * rep)
    val keyed = src.crossJoin(broadcast(src.agg(sum($"n_tokens").as("t"))))
      .withColumn("budget", expr("(19 * t) div 10"))
      .withColumn("ratio_key", expr("(cap * 1000) div w"))
    // every window below runs over the ≤|sources|-row frame — the
    // empty partition spec is deliberate (the q124 rule)
    val wOrd = Window.orderBy($"ratio_key", $"source")
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wFrom = wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val marked = keyed
      .withColumn("cprev", coalesce(sum($"cap").over(wPrev), lit(0L)))
      .withColumn("wfrom", sum($"w").over(wFrom))
      .withColumn("flag",
        when($"cap" * $"wfrom" < ($"budget" - $"cprev") * $"w", 1L).otherwise(0L))
      .withColumn("capped", min($"flag").over(wRun))
      .withColumn("ccap", coalesce(sum(when($"capped" === 1L, $"cap")).over(wAll), lit(0L)))
      .withColumn("wun", coalesce(sum(when($"capped" === 0L, $"w")).over(wAll), lit(0L)))
      .withColumn("brem", $"budget" - $"ccap")
      .withColumn("base",
        when($"capped" === 1L, $"cap").otherwise(expr("(brem * w) div wun")))
      .withColumn("rem",
        when($"capped" === 1L, lit(-1L)).otherwise(expr("(brem * w) % wun")))
    val wRem = Window.orderBy($"rem".desc, $"source")
    marked
      .withColumn("rk", row_number().over(wRem).cast("long"))
      .withColumn("leftover",
        $"brem" - sum(when($"capped" === 0L, $"base").otherwise(lit(0L))).over(wAll))
      .withColumn("alloc_tokens",
        when($"capped" === 1L, $"cap")
          .otherwise($"base" + when($"rk" <= $"leftover", 1L).otherwise(0L)))
      .select($"source", $"n_tokens", $"cap".as("cap_tokens"), $"alloc_tokens",
        expr("(alloc_tokens * 1000) div n_tokens").as("epochs_milli"))
      .orderBy($"source")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def epochAllocationSql(rep: Long = 2L): String =
    s"""WITH c AS (
      |  SELECT source,
      |    CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |k AS (
      |  SELECT source, n_tokens, CAST(floor(sqrt(n_tokens)) AS BIGINT) AS w,
      |    n_tokens * $rep AS cap, CAST(sum(n_tokens) OVER () AS BIGINT) AS t
      |  FROM c),
      |b AS (
      |  SELECT *, (19 * t) // 10 AS budget, (cap * 1000) // w AS ratio_key FROM k),
      |m AS (
      |  SELECT *,
      |    CAST(coalesce(sum(cap) OVER (ORDER BY ratio_key, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cprev,
      |    CAST(sum(w) OVER (ORDER BY ratio_key, source
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS wfrom
      |  FROM b),
      |f AS (
      |  SELECT *, CASE WHEN cap * wfrom < (budget - cprev) * w THEN 1 ELSE 0 END AS flag
      |  FROM m),
      |g AS (
      |  SELECT *, min(flag) OVER (ORDER BY ratio_key, source
      |    ROWS UNBOUNDED PRECEDING) AS capped FROM f),
      |t2 AS (
      |  SELECT *,
      |    CAST(coalesce(sum(CASE WHEN capped = 1 THEN cap END) OVER (), 0) AS BIGINT) AS ccap,
      |    CAST(coalesce(sum(CASE WHEN capped = 0 THEN w END) OVER (), 0) AS BIGINT) AS wun
      |  FROM g),
      |a AS (
      |  SELECT *, budget - ccap AS brem,
      |    CASE WHEN capped = 1 THEN cap ELSE ((budget - ccap) * w) // wun END AS base,
      |    CASE WHEN capped = 1 THEN -1 ELSE ((budget - ccap) * w) % wun END AS rem
      |  FROM t2),
      |r AS (
      |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk,
      |    CAST(brem - sum(CASE WHEN capped = 0 THEN base ELSE 0 END) OVER () AS BIGINT) AS leftover
      |  FROM a)
      |SELECT source, n_tokens, cap AS cap_tokens,
      |  CAST(CASE WHEN capped = 1 THEN cap
      |       ELSE base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END END AS BIGINT) AS alloc_tokens,
      |  CAST((CASE WHEN capped = 1 THEN cap
      |        ELSE base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END END * 1000) // n_tokens
      |    AS BIGINT) AS epochs_milli
      |FROM r ORDER BY source""".stripMargin

  /** q94: DETERMINISTIC TRAIN/VAL/TEST SPLIT ASSIGNMENT — the
    * split step every training pipeline runs before anything touches
    * the data. Membership is a pure function of the PRIMARY KEY
    * ([[sampleKey]] thresholds 980/990 of 1000 → ~98/1/1), which buys
    * the three properties a 100 TB pipeline needs and `rand()`/
    * `df.randomSplit` cannot give:
    *  - **disjoint + exhaustive** by construction (one CASE over one
    *    hash — a doc is in exactly one split);
    *  - **stable under growth**: appending new documents NEVER moves
    *    an existing document between splits (no re-shuffle of the
    *    held-out set when the corpus is refreshed — the property that
    *    keeps old eval results comparable), asserted by
    *    TrainOpsSpec on a doubled corpus;
    *  - **stable under retries/AQE**: no partition-dependent
    *    randomness.
    * Execution is a stateless map-side projection + a 3-group
    * aggregate: one scan, one tiny exchange, at any scale. The
    * emitted per-split report (counts, token sums, id range) is
    * integer-exact for DuckDB to reproduce. */
  /** The split CASE over any non-negative numeric key — shared by
    * batch q94 and the streaming enrichment sibling
    * ([[graft.streaming.Pipeline.withSplit]]): ONE definition, so
    * stream and batch can only ever assign identical splits (parity
    * pinned in StreamingPipelineSpec). */
  def splitOf(pk: Column): Column = {
    val h = sampleKey(pk)
    when(h < 980L, "train").when(h < 990L, "val").otherwise("test")
  }

  private def splitCol: Column = splitOf(col("doc_id"))

  def splitAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(splitCol.as("split"), $"doc_id",
        TextQueries.tokenCount($"text").as("n_tokens"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"),
        min($"doc_id").as("min_doc_id"), max($"doc_id").as("max_doc_id"))
      .orderBy($"split")
  }

  val splitAssignSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      |    CASE WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 980
      |           THEN 'train'
      |         WHEN (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 < 990
      |           THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      |FROM t GROUP BY split ORDER BY split""".stripMargin

  /** The q94 pipeline over any (doc_id, text) frame — injectable so
    * the growth-stability and all-three-splits-populated properties
    * have a spec on a corpus large enough to bind (the fixture's 500
    * ids may leave the 1%-bands thin; non-vacuous-spec rule). */
  private[graft] def splitAssignOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", splitCol.as("split"))
  }

  /** q95: GLOBAL SHUFFLE ORDINAL — the "shuffle the corpus before
    * training" step: assign every document a contiguous position
    * 0..n−1 in a SEEDED pseudorandom permutation, deterministically.
    * The permutation key is (doc_id·a) mod p with p = 1000003 prime
    * and a = 2654435761 coprime to p — a true bijection on [0, p), so
    * documents with doc_id < p collide never and larger corpora only
    * tie-break by doc_id. Same reproducibility properties as
    * [[sampleKey]]: stable under retries, engine-independent integer
    * arithmetic.
    *
    * The GLOBAL ordinal is the classic scale trap: a bare
    * `row_number() OVER (ORDER BY key)` funnels the corpus through
    * ONE task. This is the two-level construction instead (the
    * q67/q70/q85 pattern): (1) per-shard rank over
    * [[shuffleShards]] key-RANGE shards (shard = key div
    * ⌈p/shards⌉ — range, not hash, so shard order IS key order), (2)
    * shard row-counts → running offsets via a triangle join over the
    * ≤shards-row aggregate, (3) broadcast offsets back; ordinal =
    * offset + local rank − 1. Identical to the oracle's single
    * window at ANY shard count (the two-level construction is
    * shard-count invariant — pinned by TrainOpsSpec across shuffle-
    * partition counts {1, 7, 256}). */
  def shuffleOrder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shuffleOrderOver(Tables.documents(s, dir).select($"doc_id"))
  }

  /** q115: WEIGHTED SAMPLE — pick k documents with probability
    * increasing in a weight column (n_chars here: favor long
    * documents), deterministically. Each doc gets a "clock"
    * `priority = (h · 1000) div weight` from the q69 multiplicative
    * hash h ∈ [0, p) — a doc with twice the weight halves its
    * expected clock — and the k SMALLEST clocks win (ties by doc_id).
    * This is hash-clock priority sampling: the deterministic,
    * refresh-stable analogue of Efraimidis–Spirakis exponential
    * clocks (whose −ln(u)/w keys would break cross-engine exactness —
    * `ln` is not correctly-rounded; the integer clock is exact and
    * reproducible anywhere). Selection is monotone in weight and
    * stable under corpus growth: adding documents never reorders two
    * existing clocks, so incremental refreshes only ever swap tail
    * members in or out.
    *
    * Plan at 100 TB: a stateless map computes the clock (no shuffle);
    * the global bottom-k plans as TakeOrderedAndProject —
    * per-partition top-k then one bounded merge, never a corpus-wide
    * sort. The driver sees k rows. */
  def weightedSample(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    import s.implicits._
    val p = 1000000007L
    Tables.documents(s, dir)
      .filter($"n_chars" > 0L)
      .select($"doc_id", $"source", $"n_chars",
        expr(s"(pmod(pmod(doc_id, ${p}L) * 2654435761L, ${p}L) * 1000) div n_chars")
          .as("priority"))
      .orderBy($"priority", $"doc_id")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def weightedSampleSql(k: Int = 100): String =
    s"""SELECT doc_id, source, n_chars,
       |  (doc_id % 1000000007) * 2654435761 % 1000000007 * 1000 // n_chars AS priority
       |FROM documents WHERE n_chars > 0
       |ORDER BY priority, doc_id LIMIT $k""".stripMargin

  /** q117: VOCABULARY GROWTH CURVE — how fast the training stream
    * introduces new tokens under the q95 seeded order: each token's
    * FIRST-occurrence ordinal, bucketed into `bins` equal slices of
    * the corpus, with the cumulative vocabulary count per slice. The
    * curve is the data-mixing diagnostic a pre-training run reads to
    * see whether late curriculum slices still contribute vocabulary
    * (a flat tail = the stream has gone lexically stale).
    *
    * Plan at 100 TB: the q95 ordinal construction (two-level, shard-
    * count invariant) joins back on doc_id; tokens compact to their
    * 8-byte fingerprint before the min-ordinal aggregate (the q81
    * exchange discipline — one row per distinct fp crosses the
    * wire); the ≤bins-row cumulative sum reuses q95's structural
    * one-task running sum (coalesce + sortWithinPartitions +
    * mapPartitions over the compacted aggregate) instead of an
    * unpartitioned window, so no corpus row ever meets a global
    * window and the "No Partition Defined" warning never appears.
    * Fingerprint collisions merge vocabulary entries — the same
    * deliberate 8-byte tradeoff as q41/q79/q81, identical in the
    * oracle because DuckDB computes the same hash. */
  def vocabGrowth(s: SparkSession, dir: String, bins: Int = 20): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val ord = shuffleOrderOver(docs.select($"doc_id"))
      .select($"doc_id", $"ordinal")
    val n = docs.agg(count(lit(1)).as("n"))
    val firstOcc = docs.select($"doc_id", $"text").join(ord, Seq("doc_id"))
      .select($"ordinal", explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy(TextQueries.fingerprint($"tok").as("fp"))
      .agg(min($"ordinal").as("first_ord"))
    val binned = firstOcc.crossJoin(broadcast(n))
      .withColumn("bin", expr(s"(first_ord * $bins) div n"))
      .groupBy($"bin").agg(count(lit(1)).as("new_tokens"))
    binned
      .coalesce(1).sortWithinPartitions($"bin")
      .select($"bin", $"new_tokens")
      .as[(Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (bin, nt) => acc += nt; (bin, nt, acc) }
      }.toDF("bin", "new_tokens", "cum_tokens")
      .orderBy($"bin")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def vocabGrowthSql(bins: Int = 20): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    (doc_id % 1000003) * 2654435761 % 1000003 AS shuffle_key
       |  FROM documents),
       |o AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS ordinal
       |  FROM t),
       |n AS (SELECT count(*) AS n FROM documents),
       |toks AS (
       |  SELECT o.ordinal,
       |    unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS tok
       |  FROM documents d JOIN o USING (doc_id)),
       |first_occ AS (
       |  SELECT ${TextQueries.fingerprintSql("tok")} AS fp,
       |    min(ordinal) AS first_ord
       |  FROM toks GROUP BY 1),
       |binned AS (
       |  SELECT (first_ord * $bins) // n AS bin, count(*) AS new_tokens
       |  FROM first_occ CROSS JOIN n GROUP BY 1)
       |SELECT bin, new_tokens,
       |  CAST(sum(new_tokens) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS cum_tokens
       |FROM binned ORDER BY bin""".stripMargin

  /** Second-level shard count for the global-ordinal constructions
    * (q95, q105, q117, q119, q154): the session's
    * `spark.sql.shuffle.partitions`, so the per-shard rank stage runs
    * one task per configured slot. Any count yields identical
    * ordinals, since range shards compose order (TrainOpsSpec sweeps
    * the shuffle-partition count). */
  private[graft] def shuffleShards(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  /** The q95 pipeline over any (doc_id) frame — injectable so the
    * permutation theorem (ordinals are exactly 0..n−1; keys collide
    * never below p) has a spec on a corpus big enough to populate
    * every shard. */
  private[graft] def shuffleOrderOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val p = 1000003L
    val shards = shuffleShards(s)
    val step = (p + shards - 1L) / shards
    val base = docs
      .select($"doc_id",
        pmod(pmod($"doc_id", lit(p)) * lit(2654435761L), lit(p)).as("shuffle_key"))
      // integral `div`, not `/`: double division + cast could truncate
      // to the wrong shard on an exact-boundary quotient
      .withColumn("shard", expr(s"shuffle_key div $step"))
    val wLocal = Window.partitionBy($"shard").orderBy($"shuffle_key", $"doc_id")
    // shard offsets = EXCLUSIVE prefix sum of shard counts over the
    // COMPACTED ≤shards-row aggregate, computed in ONE deliberate
    // task: coalesce(1) + in-partition sort + a running-sum
    // mapPartitions. Single-task work on ≤shards rows is this
    // level's design; stating it structurally (instead of an
    // unpartitioned window) keeps WindowExec's "No Partition
    // Defined" warning — the #1 signal cluster ops teams grep for —
    // out of the logs. The two declarative
    // alternatives measured worse: a lit-partitioned window
    // constant-folds back to an EMPTY partition spec (warning
    // returns), and a triangle self-join re-plans the aggregate —
    // three source scans in the final adaptive plan, no
    // ReusedExchange. mapPartitions here is confined to the tiny
    // aggregate, never the corpus.
    val offsets = base.groupBy($"shard").agg(count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions($"shard")
      .select($"shard", $"n")
      .as[(Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (shard, n) => val off = acc; acc += n; (shard, off) }
      }.toDF("shard", "offset")
    base
      .withColumn("local_rank", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("shard"))
      .select($"doc_id", $"shuffle_key",
        ($"offset" + $"local_rank" - 1L).as("ordinal"))
      .orderBy($"ordinal")
  }

  val shuffleOrderSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    (doc_id % 1000003) * 2654435761 % 1000003 AS shuffle_key
      |  FROM documents)
      |SELECT doc_id, shuffle_key,
      |  CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS ordinal
      |FROM t ORDER BY ordinal""".stripMargin

  /** q105: CURRICULUM ORDER — the training-order composition of q85's
    * quality signal and q95's seeded shuffle: documents are binned by
    * quality (bin = quality div binWidth), bins are consumed
    * high-quality-first, and WITHIN a bin the order is the q95 seeded
    * pseudorandom permutation — the "start clean, shuffle within
    * difficulty band" curriculum a pre-training run wants, fully
    * deterministic and growth-auditable.
    *
    * Scale shape: the global position is the q95 two-level
    * construction with a TWO-PART partition key — per-(bin, shard)
    * rank windows (bounded partitions, parallelism = bins × shards),
    * offsets from an exclusive prefix sum over the compacted
    * ≤ bins·shards-row aggregate in one deliberate task, broadcast
    * back. No corpus-wide window, no single-task sort, and the same
    * shard-count invariance as q95 (any [[shuffleShards]] yields
    * identical positions — range shards compose order). */
  def curriculumOrder(s: SparkSession, dir: String, binWidth: Long = 8L): DataFrame = {
    import s.implicits._
    val p = 1000003L
    val shards = shuffleShards(s)
    val step = (p + shards - 1L) / shards
    val base = Tables.documents(s, dir)
      .select($"doc_id",
        size(array_distinct(split(trim($"text"), "\\s+"))).cast("long").as("quality"))
      .withColumn("bin", expr(s"quality div $binWidth"))
      .withColumn("shuffle_key",
        pmod(pmod($"doc_id", lit(p)) * lit(2654435761L), lit(p)))
      .withColumn("shard", expr(s"shuffle_key div $step"))
    val wLocal = Window.partitionBy($"bin", $"shard").orderBy($"shuffle_key", $"doc_id")
    // exclusive prefix sum over the tiny (bin, shard) aggregate in ONE
    // deliberate task, bins DESCENDING (high quality first) — the q95
    // structural form, kept window-free for the same log-hygiene reason
    val offsets = base.groupBy($"bin", $"shard").agg(count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions($"bin".desc, $"shard".asc)
      .select($"bin", $"shard", $"n").as[(Long, Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (bin, shard, n) => val off = acc; acc += n; (bin, shard, off) }
      }.toDF("bin", "shard", "offset")
    base
      .withColumn("local_rank", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("bin", "shard"))
      .select($"doc_id", $"quality", $"bin", $"shuffle_key",
        ($"offset" + $"local_rank" - 1L).as("curriculum_pos"))
      .orderBy($"curriculum_pos")
  }

  def curriculumOrderSql(binWidth: Long = 8L): String =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS quality,
       |    (doc_id % 1000003) * 2654435761 % 1000003 AS shuffle_key
       |  FROM documents)
       |SELECT doc_id, quality, quality // $binWidth AS bin, shuffle_key,
       |  CAST(row_number() OVER (ORDER BY quality // $binWidth DESC, shuffle_key, doc_id) - 1
       |    AS BIGINT) AS curriculum_pos
       |FROM q ORDER BY curriculum_pos""".stripMargin

  /** q104: EXACT-k PER-STRATUM SAMPLE — the companion to q69's
    * rate-based sampling: q69 keeps a deterministic ~permille of each
    * stratum (size varies with the data); this keeps EXACTLY k
    * documents per source (eval sets, few-shot pools, per-source
    * spot-audit batches all want fixed counts). Selection is the k
    * smallest [[sampleKey]] values per source (ties by doc_id) — a
    * seeded, engine-independent pseudorandom choice, reproducible
    * run-to-run and in the DuckDB oracle.
    *
    * The scale point: exact-k-per-group is the classic
    * `row_number() OVER (PARTITION BY g ORDER BY h)` trap — a
    * corpus-wide sort-shuffle where every row of a 100 TB table
    * crosses the wire to be ranked and then mostly discarded. This
    * plans as the bounded [[graft.functions.TopKBy]] aggregate
    * instead: each map partition keeps at most k candidates per
    * source, the exchange carries ≤ k·sources·partitions tiny
    * structs, and the explode recovers rows. Same two-phase bounded
    * shape as q17 (pinned in PlanSpec there); output is
    * oracle-identical to the window form at any partitioning. */
  def exactStratifiedSample(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import s.implicits._
    val h = sampleKey($"doc_id")
    Tables.documents(s, dir)
      .select($"source", $"doc_id", h.as("sample_h"))
      // best-first = (ord DESC, tie ASC); ord = -h makes "smallest h
      // first", tie = doc_id resolves the ~1/1000 hash collisions
      .groupBy($"source")
      .agg(graft.functions.TopKBy.top_k_by(-$"sample_h", $"doc_id", k, strict = true).as("top"))
      .select($"source", explode($"top").as("t"))
      .select($"source",
        $"t.tie".as("doc_id"),
        (-$"t.ord").cast("long").as("sample_h"))
      .orderBy($"source", $"doc_id")
  }

  def exactStratifiedSampleSql(k: Int = 10): String =
    s"""WITH h AS (
       |  SELECT source, doc_id,
       |    (doc_id % 1000000007) * 2654435761 % 1000000007 % 1000 AS sample_h
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, sample_h,
       |    row_number() OVER (PARTITION BY source ORDER BY sample_h, doc_id) AS rn
       |  FROM h)
       |SELECT source, doc_id, CAST(sample_h AS BIGINT) AS sample_h
       |FROM r WHERE rn <= $k
       |ORDER BY source, doc_id""".stripMargin

  /** q119: PER-DOCUMENT NOVELTY under the q95 training order — for
    * each document, how much of it the model has "already seen":
    * `seen_frac` = fraction of its token OCCURRENCES whose
    * fingerprint first occurred at an EARLIER ordinal, plus the count
    * of vocabulary types this document introduces (`novel_types`).
    * The doc-granular complement of q117's corpus curve: a
    * late-ordinal document with seen_frac 1.0 and no novel types is
    * the first candidate a data-pruning pass drops.
    *
    * Plan at 100 TB: tokens compact map-side to (doc, fp, c) — the
    * q81 discipline — then ONE fp-keyed join against the fp →
    * min(ordinal) aggregate of the SAME compacted frame (8-byte keys
    * both sides), then the per-doc rollup. Ratio in integer half-up
    * 4 dp arithmetic (q81's rule) so both engines agree on exact
    * midpoints; ties inside a document (its own first occurrence)
    * count as novel, not seen — `first_ord < ordinal` strictly. */
  def noveltyScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val ord = shuffleOrderOver(docs.select($"doc_id"))
      .select($"doc_id", $"ordinal")
    val perDocTok = docs.select($"doc_id", $"text").join(ord, Seq("doc_id"))
      .select($"doc_id", $"ordinal",
        explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"doc_id", $"ordinal", TextQueries.fingerprint($"tok").as("fp"))
      .agg(count(lit(1)).as("c"))
    val firstOcc = perDocTok.groupBy($"fp")
      .agg(min($"ordinal").as("first_ord"))
    perDocTok.join(firstOcc, Seq("fp"))
      .groupBy($"doc_id", $"ordinal")
      .agg(sum($"c").as("n_tokens"),
        sum(when($"first_ord" < $"ordinal", $"c").otherwise(lit(0L))).as("n_seen"),
        sum(when($"first_ord" === $"ordinal", lit(1L)).otherwise(lit(0L)))
          .as("novel_types"))
      .withColumn("seen_frac",
        expr("(20000 * n_seen + n_tokens) div (2 * n_tokens)") / 10000.0)
      .orderBy($"doc_id")
  }

  val noveltyScoreSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    (doc_id % 1000003) * 2654435761 % 1000003 AS shuffle_key
      |  FROM documents),
      |o AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS BIGINT) AS ordinal
      |  FROM t),
      |pt AS (
      |  SELECT doc_id, ordinal, ${TextQueries.fingerprintSql("tok")} AS fp,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM (
      |    SELECT d.doc_id, o.ordinal,
      |      unnest(regexp_split_to_array(trim(d.text), '\\s+')) AS tok
      |    FROM documents d JOIN o USING (doc_id))
      |  GROUP BY 1, 2, 3),
      |fo AS (SELECT fp, min(ordinal) AS first_ord FROM pt GROUP BY 1)
      |SELECT doc_id, ordinal,
      |  CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN first_ord < ordinal THEN c ELSE 0 END) AS BIGINT) AS n_seen,
      |  CAST(sum(CASE WHEN first_ord = ordinal THEN 1 ELSE 0 END) AS BIGINT) AS novel_types,
      |  ((20000 * CAST(sum(CASE WHEN first_ord < ordinal THEN c ELSE 0 END) AS BIGINT)
      |      + CAST(sum(c) AS BIGINT))
      |    // (2 * CAST(sum(c) AS BIGINT))) / 10000.0 AS seen_frac
      |FROM pt JOIN fo USING (fp)
      |GROUP BY doc_id, ordinal ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q104_exact_stratified_sample" -> ((s: SparkSession, dir: String) => exactStratifiedSample(s, dir)),
    "q105_curriculum_order" -> ((s: SparkSession, dir: String) => curriculumOrder(s, dir)),
    "q115_weighted_sample" -> ((s: SparkSession, dir: String) => weightedSample(s, dir)),
    "q117_vocab_growth" -> ((s: SparkSession, dir: String) => vocabGrowth(s, dir)),
    "q118_pack_manifest" -> ((s: SparkSession, dir: String) => packManifest(s, dir)),
    "q119_novelty_score" -> (noveltyScore _),
    "q94_split_assign" -> (splitAssign _),
    "q95_shuffle_order" -> (shuffleOrder _),
    "q75_source_mix" -> ((s: SparkSession, dir: String) => sourceMix(s, dir)),
    "q124_mixture_allocation" -> ((s: SparkSession, dir: String) => mixtureAllocation(s, dir)),
    "q78_doc_chunks" -> ((s: SparkSession, dir: String) => docChunks(s, dir)),
    "q108_chunk_dedup" -> (chunkDedup _),
    "q126_split_chunk_leakage" -> (splitChunkLeakage _),
    "q109_chunk_pack" -> ((s: SparkSession, dir: String) => chunkPack(s, dir)),
    "q79_contamination" -> ((s: SparkSession, dir: String) => contamination(s, dir)),
    "q122_dup_ngram_fraction" -> ((s: SparkSession, dir: String) => dupNgramFraction(s, dir)),
    "q127_filter_stack" -> (filterStack _),
    "q129_corpus_assembly" -> ((s: SparkSession, dir: String) => corpusAssembly(s, dir)),
    "q69_stratified_sample" -> (stratifiedSample _),
    "q70_token_pack" -> ((s: SparkSession, dir: String) => tokenPack(s, dir)),
    "q71_repetition_score" -> (repetitionScore _),
    "q73_pii_redact" -> (piiRedact _),
    "q81_rare_token_stats" -> ((s: SparkSession, dir: String) => rareTokenStats(s, dir)),
    "q83_source_overlap" -> (sourceOverlap _),
    "q143_assembly_funnel" -> ((s: org.apache.spark.sql.SparkSession, dir: String) => assemblyFunnel(s, dir)),
    "q85_budget_select" -> ((s: SparkSession, dir: String) => budgetSelect(s, dir)),
    "q152_calibrated_select" -> ((s: SparkSession, dir: String) => calibratedSelect(s, dir)),
    "q154_padding_waste" -> ((s: SparkSession, dir: String) => paddingWaste(s, dir)),
    "q155_epoch_allocation" -> ((s: SparkSession, dir: String) => epochAllocation(s, dir)),
    "q157_cluster_split" -> (clusterSplit _),
    "q164_diversified_topk" -> ((s: SparkSession, dir: String) => diversifiedTopk(s, dir)),
    "q166_kanon_suppress" -> ((s: SparkSession, dir: String) => kanonSuppress(s, dir)),
    "q167_split_balance" -> ((s: SparkSession, dir: String) => splitBalance(s, dir)),
    "q172_contamination_span" -> ((s: SparkSession, dir: String) => contaminationSpan(s, dir)),
    "q182_decontam_pairs" -> (decontamPairs _),
    "q198_decontam_report" -> ((s: SparkSession, dir: String) => decontamReport(s, dir)),
    "q183_oov_rate" -> ((s: SparkSession, dir: String) => oovRate(s, dir)),
    "q185_truncation_loss" -> ((s: SparkSession, dir: String) => truncationLoss(s, dir)),
    "q189_vocab_stored_oov" -> ((s: SparkSession, dir: String) => vocabStoredOov(s, dir)),
  )

  val oracles: Map[String, String] = Map(
    "q104_exact_stratified_sample" -> exactStratifiedSampleSql(),
    "q115_weighted_sample" -> weightedSampleSql(),
    "q117_vocab_growth" -> vocabGrowthSql(),
    "q118_pack_manifest" -> packManifestSql(),
    "q119_novelty_score" -> noveltyScoreSql,
    "q105_curriculum_order" -> curriculumOrderSql(),
    "q94_split_assign" -> splitAssignSql,
    "q95_shuffle_order" -> shuffleOrderSql,
    "q75_source_mix" -> sourceMixSql,
    "q124_mixture_allocation" -> mixtureAllocationSql(),
    "q152_calibrated_select" -> calibratedSelectSql(),
    "q154_padding_waste" -> paddingWasteSql(),
    "q155_epoch_allocation" -> epochAllocationSql(),
    "q157_cluster_split" -> clusterSplitSql,
    "q164_diversified_topk" -> diversifiedTopkSql(),
    "q166_kanon_suppress" -> kanonSuppressSql(),
    "q167_split_balance" -> splitBalanceSql(),
    "q172_contamination_span" -> contaminationSpanSql,
    "q182_decontam_pairs" -> decontamPairsSql,
    "q198_decontam_report" -> decontamReportSql(),
    "q183_oov_rate" -> oovRateSql(),
    "q185_truncation_loss" -> truncationLossSql(),
    "q189_vocab_stored_oov" -> vocabStoredOovSql(),
    "q78_doc_chunks" -> docChunksSql,
    "q108_chunk_dedup" -> chunkDedupSql,
    "q126_split_chunk_leakage" -> splitChunkLeakageSql,
    "q109_chunk_pack" -> chunkPackSql,
    "q79_contamination" -> contaminationSql,
    "q122_dup_ngram_fraction" -> dupNgramFractionSql,
    "q127_filter_stack" -> filterStackSql,
    "q129_corpus_assembly" -> corpusAssemblySql(),
    "q69_stratified_sample" -> stratifiedSampleSql,
    "q70_token_pack" -> tokenPackSql,
    "q71_repetition_score" -> repetitionScoreSql,
    "q73_pii_redact" -> piiRedactSql,
    "q81_rare_token_stats" -> rareTokenStatsSql(),
    "q83_source_overlap" -> sourceOverlapSql,
    "q143_assembly_funnel" -> assemblyFunnelSql(),
    "q85_budget_select" -> budgetSelectSql(),
  )
}
