package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.{Artifacts, Tables}
import graft.operators.Scale
import graft.operators.Scale.CheckpointOps
import graft.queries.Export._

/** Text-analysis operators over the `documents` fixture — the
  * reference's text path (C1 clean, F1 filter, SURVEY §2.3/§2.8) plus
  * the training-data-pipeline text ops (token counting, quality
  * scoring, fingerprinting, language stats).
  *
  * Everything here is pure `org.apache.spark.sql.functions` — no UDFs
  * — so the whole stage stays inside WholeStageCodegen and the text
  * column is the only wide column read (column pruning reaches the
  * scan). At 100 TB these are embarrassingly parallel map-side ops:
  * no shuffle except the final group-bys, which partial-aggregate
  * map-side first.
  */
object TextQueries {

  /** C1 clean_text as a Column: remove every "RT @" occurrence (the
    * reference's str.replace removes all, twitter_streamer.py:91),
    * collapse whitespace runs, trim. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "RT @", ""), "\\s+", " "))

  /** Whitespace token count (training-pipeline token counting). */
  def tokenCount(c: Column): Column = size(split(trim(c), "\\s+")).cast("long")

  /** BPE-ish token count: word-pieces and punctuation as separate
    * tokens (the `\w+|[^\w\s]` pre-tokenizer regex most BPE vocab
    * trainers apply before merges) — a closer LLM-token estimate than
    * whitespace splitting. */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")

  /** Char-level polynomial rolling hash (document fingerprinting):
    * fp = fold(codepoints, 0)((acc, cp) => (acc*31 + cp) mod 1e9+7),
    * via the codegen'd [[graft.functions.CodepointRollingHash]]
    * expression. (The earlier `aggregate(split(c,""))` formulation
    * split per UTF-8 byte and mapped non-ASCII bytes to U+FFFD,
    * colliding distinct non-ASCII documents and diverging from the
    * oracle's per-character unicode() fold.) */
  def fingerprint(c: Column): Column =
    graft.functions.expressions.codepoint_rolling_hash(c)

  /** The DuckDB rendering of [[fingerprint]] over an arbitrary SQL
    * string expression — the ONE definition of the cross-engine hash
    * on the oracle side (eight oracles embed it). Any change to
    * [[graft.functions.CodepointRollingHash]] must change this in
    * lockstep, and nowhere else. */
  def fingerprintSql(input: String): String =
    // the list_filter matters only for the EMPTY string: DuckDB's
    // string_split('', '') yields [''] and unicode('') is -1, which
    // would hash '' to -1 where the Spark fold (a loop that never
    // runs) gives 0 — a boundary divergence the degenerate-corpus
    // gate catches on q101's empty-merge-list fingerprint
    s"""list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_filter(string_split($input, ''), ch -> ch <> ''),
       |        ch -> CAST(unicode(ch) AS BIGINT))),
       |    (acc, x) -> (acc * 31 + x) % 1000000007)""".stripMargin

  /** C1 + F1: clean then keep non-empty English docs.
    * Cite: twitter_streamer.py:86-96 (clean), 159-161 (filter). */
  def cleanFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("cleaned_text", cleanText($"text"))
      .filter($"lang" === "en" && length($"cleaned_text") > 0)
      .select($"doc_id", $"cleaned_text", $"source")
      .orderBy($"doc_id")
  }

  val cleanFilterSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(replace(text, 'RT @', ''), '\s+', ' ', 'g')) AS cleaned_text,
      |  source
      |FROM documents
      |WHERE lang = 'en'
      |  AND length(trim(regexp_replace(replace(text, 'RT @', ''), '\s+', ' ', 'g'))) > 0
      |ORDER BY doc_id""".stripMargin

  /** Per-document token statistics. The narrow (doc_id, text) input
    * sorts BEFORE the tokenizing projection: a global orderBy plans a
    * RangePartitioner sampling job that re-executes its child, so a
    * sort above the projection would run every tokenizer pass twice
    * (the q33/q73 lesson); projections preserve the sorted order. */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text").orderBy($"doc_id")
      .select($"doc_id",
        tokenCount($"text").as("n_tokens"),
        bpeishTokenCount($"text").as("n_bpeish_tokens"),
        length($"text").cast("long").as("len_chars"),
        round(length($"text").cast("double") / tokenCount($"text"), 4).as("chars_per_token"))
  }

  val tokenStatsSql: String =
    """SELECT doc_id,
      |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      |  len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpeish_tokens,
      |  length(text) AS len_chars,
      |  round(CAST(length(text) AS DOUBLE) / len(regexp_split_to_array(trim(text), '\s+')), 4) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Training-pipeline quality scoring: stopword ratio, distinct-token
    * ratio, mean token length — the length/punct/stopword heuristics
    * class. regexp_extract_all keeps it codegen'd (no UDF). */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = tokenCount($"text")
    val stops = size(regexp_extract_all($"text", lit("\\b(the|a|and|of|to|in|is)\\b"), lit(0))).cast("long")
    // sort-before-project: see tokenStats
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"text").orderBy($"doc_id")
      .select($"doc_id", $"lang",
        toks.as("n_tokens"),
        stops.as("n_stopwords"),
        round(stops.cast("double") / toks, 4).as("stop_ratio"),
        size(array_distinct(split(trim($"text"), "\\s+"))).cast("long").as("n_distinct_tokens"),
        round(size(array_distinct(split(trim($"text"), "\\s+"))).cast("double") / toks, 4)
          .as("distinct_ratio"))
  }

  val qualityScoreSql: String =
    """SELECT doc_id, lang,
      |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      |  len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is)\b')) AS n_stopwords,
      |  round(CAST(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is)\b')) AS DOUBLE)
      |        / len(regexp_split_to_array(trim(text), '\s+')), 4) AS stop_ratio,
      |  len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_distinct_tokens,
      |  round(CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
      |        / len(regexp_split_to_array(trim(text), '\s+')), 4) AS distinct_ratio
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language × source corpus statistics (the F1 filter generalized to
    * a profile of the corpus). */
  def langStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 4).as("avg_chars"),
        round(avg(tokenCount($"text").cast("double")), 4).as("avg_tokens"),
        countDistinct($"source").as("n_sources"))
      .domainOrdered($"lang")
  }

  val langStatsSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  round(avg(n_chars), 4) AS avg_chars,
      |  round(avg(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)), 4) AS avg_tokens,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Char-level rolling-hash fingerprint per document. */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"text").orderBy($"doc_id") // sort-before-project: see tokenStats
      .select($"doc_id", fingerprint($"text").as("fp"))
  }

  val docFingerprintSql: String =
    s"""SELECT doc_id,
      |  ${fingerprintSql("text")} AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The training-data quality GATE (filter form of q22 — the op a
    * 100 TB pipeline actually runs: keep documents whose heuristics
    * fall inside the accept band, drop boilerplate/degenerate text).
    * Pure codegen'd predicates over the scan; at scale this is a
    * map-side filter with no shuffle at all. */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = tokenCount($"text")
    val distinct = size(array_distinct(split(trim($"text"), "\\s+"))).cast("long")
    val distinctRatio = distinct.cast("double") / toks
    Tables.documents(s, dir)
      .withColumn("n_tokens", toks)
      .withColumn("distinct_ratio", round(distinctRatio, 4))
      .filter($"n_tokens".between(10, 120) && $"distinct_ratio" >= 0.35)
      .select($"doc_id", $"lang", $"n_tokens", $"distinct_ratio")
      .orderBy($"doc_id")
  }

  val qualityFilterSql: String =
    """SELECT doc_id, lang, n_tokens, distinct_ratio FROM (
      |  SELECT doc_id, lang,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
      |    round(CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS DOUBLE)
      |          / len(regexp_split_to_array(trim(text), '\s+')), 4) AS distinct_ratio
      |  FROM documents)
      |WHERE n_tokens BETWEEN 10 AND 120 AND distinct_ratio >= 0.35
      |ORDER BY doc_id""".stripMargin

  /** q65: TF-IDF top terms per document — the classic training-data
    * relevance/keyword primitive. Plan shape: one explode → (doc,
    * term) map-side-combined count → BROADCAST join against the
    * vocabulary-bounded df aggregate → per-doc top-3 window
    * (WindowGroupLimit bounds the sort) → checkpointed export sort.
    *
    * The df side: a count-window form would shuffle the ENTIRE tf
    * relation on term just to count rows per term — then shuffle it
    * AGAIN on doc_id for the rank window. The
    * df aggregate's exchange instead carries at most vocab×partitions
    * partially-combined rows, the broadcast join adds no exchange on
    * the tf side, and tf's own groupBy exchange is reused between the
    * df branch and the join branch (AQE stage reuse), so tf crosses
    * the wire once, not three times. (An A/B rejected a
    * SHUFFLE df join — the broadcast form is the one that removes an
    * exchange rather than adding one.)
    *
    * The idf is the BM25-style RATIONAL form
    * `(N − df + 0.5)/(df + 0.5)` rather than the logarithmic one:
    * +,−,×,÷ are IEEE-exact so both engines compute bit-identical
    * doubles, while `ln` is not correctly-rounded and could flip a
    * 4 dp rounding at a boundary — the same determinism rule as the
    * sqrt-based scorer (sqrt IS correctly-rounded). */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("term"))
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    // one row per (doc, term) in tf ⇒ per-term row count IS the
    // document frequency
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term")
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round($"tf" * ($"n" - $"df" + 0.5) / ($"df" + 0.5), 4))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"doc_id", $"rank", $"term", $"tfidf")
      // materialize the (3·n_docs)-row result once, then sort: the
      // RangePartitioner sampling pass would otherwise re-execute the
      // explode→agg→window stack a second time (same rationale as
      // q43's signature checkpoint; the checkpointed slice is 3 rows
      // per doc, far smaller than the work above it)
      .reliableCheckpoint()
      .orderBy($"doc_id", $"rank")
  }

  val tfidfTopTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, rank, term, tfidf FROM (
      |  SELECT tf.doc_id, tf.term,
      |    round(tf.tf * (n.n - df.df + 0.5) / (df.df + 0.5), 4) AS tfidf,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY round(tf.tf * (n.n - df.df + 0.5) / (df.df + 0.5), 4) DESC,
      |               tf.term) AS rank
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** q87: CORPUS TOP BIGRAMS — the vocabulary/phrase-table builder:
    * global top-50 word bigrams by frequency (count desc, bigram asc
    * as the deterministic tiebreak). Bigrams pre-aggregate map-side
    * (partial count) before the one shuffle; the global top-k plans
    * as TakeOrderedAndProject — per-partition top-50 + a bounded
    * merge, no total sort, no range-sampling pass. The exchange
    * carries one row per DISTINCT bigram, and the driver sees 50
    * rows: the shape that survives any corpus size. */
  def topBigrams(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import s.implicits._
    val bigrams = expr(
      """CASE WHEN size(_toks) < 2 THEN array()
        |ELSE transform(sequence(1, size(_toks) - 1),
        |       i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))
        |END""".stripMargin)
    Tables.documents(s, dir)
      .withColumn("_toks", split(trim($"text"), "\\s+"))
      .select(explode(bigrams).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def topBigramsSql(k: Int = 50): String =
    s"""WITH b AS (
      |  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS bigram
      |  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents)
      |  WHERE len(t) >= 2)
      |SELECT bigram, count(*) AS n FROM b
      |GROUP BY bigram ORDER BY n DESC, bigram LIMIT $k""".stripMargin

  /** q168: HEAD-MASS CONCENTRATION — how top-heavy is the token
    * distribution? For k ∈ {1, 10, 100}: the share of all token
    * OCCURRENCES covered by the k most frequent types (the Zipf-head
    * diagnostic of corpus diversity — a boilerplate-heavy or
    * template-generated corpus concentrates mass in a tiny head,
    * which q71/q122 measure per-document but nothing measured
    * corpus-wide). No logarithms, no slope fit: exact integer masses,
    * with the final ppm share multiplied DOUBLE-FIRST
    * (`floor(mass·10⁶.0/total)` — the q165 overflow rule; a BIGINT
    * `mass·10⁶` would wrap past ~9·10¹² tokens, inside the 100 TB
    * range).
    *
    * Plan at 100 TB: explode → ONE map-side-combined groupBy(token)
    * (the exchange carries one row per DISTINCT type — the only
    * corpus-bounded shuffle); top-max(k) plans as
    * TakeOrderedAndProject (per-partition top-100 + bounded merge, no
    * vocabulary-wide sort); ranking/joins/rollups all run on that
    * ≤100-row frame (the bounded-frame window rule) with the 1-row
    * totals broadcast in. Tie-break (count desc, token asc) is pinned
    * on both engines so rank — and therefore every head set — is
    * deterministic. */
  def headMass(s: SparkSession, dir: String, ks: Seq[Long] = Seq(1L, 10L, 100L)): DataFrame =
    headMassOver(Tables.documents(s, dir), ks)

  /** The q168 pipeline over any (text) frame — injectable for
    * hand-checkable constructed-corpus specs (the q135 rule). */
  private[graft] def headMassOver(docs: DataFrame, ks: Seq[Long] = Seq(1L, 10L, 100L)): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // checkpoint the vocabulary-bounded count frame: both the totals
    // aggregate and the top-k consume it, and without the lineage cut
    // each would re-run the corpus scan + explode (the q140
    // shared-frame rule; state is O(|vocab|), never the corpus)
    val counts = graft.operators.Scale.checkpointed(docs
      .select(explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("n")))
    val totals = counts.agg(sum($"n").as("total_mass"), count(lit(1)).as("n_types"))
    // TakeOrderedAndProject: ≤ max(k) rows survive; the empty-spec
    // window below runs on that bounded frame only (the q124 rule)
    val top = counts.orderBy($"n".desc, $"tok").limit(ks.max.toInt)
      .withColumn("rk", row_number().over(Window.orderBy($"n".desc, $"tok")).cast("long"))
    top.crossJoin(broadcast(ks.toDF("k")))
      .filter($"rk" <= $"k")
      .groupBy($"k")
      .agg(count(lit(1)).as("head_types"), sum($"n").as("head_mass"))
      .crossJoin(broadcast(totals))
      .withColumn("head_ppm",
        expr("CAST(floor(head_mass * 1000000.0 / total_mass) AS BIGINT)"))
      .select($"k", $"head_types", $"head_mass", $"total_mass", $"n_types", $"head_ppm")
      .orderBy($"k")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def headMassSql(ks: Seq[Long] = Seq(1L, 10L, 100L)): String = {
    val kvals = ks.map(k => s"($k)").mkString(", ")
    s"""WITH tk AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents),
      |c AS (SELECT tok, count(*) AS n FROM tk GROUP BY tok),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total_mass, count(*) AS n_types FROM c),
      |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rk FROM c),
      |h AS (
      |  SELECT k, count(*) AS head_types, CAST(sum(n) AS BIGINT) AS head_mass
      |  FROM r JOIN (VALUES $kvals) AS ks(k) ON r.rk <= ks.k
      |  GROUP BY k)
      |SELECT CAST(k AS BIGINT) AS k, head_types, head_mass, total_mass, n_types,
      |  CAST(floor(head_mass * 1000000.0 / total_mass) AS BIGINT) AS head_ppm
      |FROM h CROSS JOIN t ORDER BY k""".stripMargin
  }

  /** q171: SIMPSON TOKEN CONCENTRATION per source — the
    * collision-probability diversity index of each source's token
    * distribution: λ = Σ nᵢ(nᵢ−1) / (N(N−1)), the chance two tokens
    * drawn without replacement are the SAME type. The per-source
    * complement to q168's corpus-wide head mass: q168 says how
    * top-heavy the whole corpus is; λ ranks SOURCES by internal
    * repetitiveness (a templated crawl scores high, diverse prose
    * low) — the source-level mixing signal q124/q75 consume. Chosen
    * over entropy precisely because it is a RATIONAL statistic:
    * exact integer numerator and denominator, no logarithms (the
    * all-integer rule), with ppm formed by an identical 5-step IEEE
    * sequence (two correctly-rounded casts, ×10⁶, −1, ÷) on both
    * engines.
    * Scale: the numerator Σ nᵢ(nᵢ−1) sums squares of per-type counts
    * — Long wraps past nᵢ ≈ 3·10⁹ occurrences of ONE type, real at
    * 100 TB — so products and sums ride DECIMAL(38,0) (Spark decimal
    * ⇄ DuckDB HUGEINT, both exact 128-bit) and only the final
    * already-bounded ppm leaves as BIGINT. One map-side-combined
    * groupBy(source, token) exchange (the q114 per-slice vocab
    * frame), then a |sources|-row rollup. */
  def simpsonConcentration(s: SparkSession, dir: String): DataFrame =
    simpsonConcentrationOver(Tables.documents(s, dir))

  /** The q171 pipeline over any (source, text) frame — injectable for
    * hand-checkable rational-arithmetic specs (the q135 rule). */
  private[graft] def simpsonConcentrationOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val nDec = $"n".cast("decimal(19,0)")
    val counts = docs
      .select($"source", explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("n"))
    counts
      .groupBy($"source")
      .agg(sum($"n").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(nDec * (nDec - lit(1))).as("num"))
      // the one inexact step, mirrored verbatim in the oracle:
      // cast(num)→double, cast(N)→double, ×10⁶, (N−1), ÷, floor
      .withColumn("nd", $"n_tokens".cast("double"))
      .withColumn("simpson_ppm",
        when($"n_tokens" >= 2L,
          floor($"num".cast("double") * 1000000.0 / ($"nd" * ($"nd" - 1.0)))
            .cast("long")))
      .select($"source", $"n_tokens", $"n_types", $"simpson_ppm")
      .orderBy($"source")
  }

  val simpsonConcentrationSql: String =
    """WITH tk AS (
      |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, count(*) AS n FROM tk GROUP BY 1, 2),
      |s AS (
      |  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
      |    count(*) AS n_types,
      |    sum(CAST(n AS HUGEINT) * (n - 1)) AS num
      |  FROM c GROUP BY 1)
      |SELECT source, n_tokens, CAST(n_types AS BIGINT) AS n_types,
      |  CASE WHEN n_tokens >= 2 THEN CAST(floor(
      |    CAST(num AS DOUBLE) * 1000000.0 /
      |    (CAST(n_tokens AS DOUBLE) * (CAST(n_tokens AS DOUBLE) - 1.0))) AS BIGINT)
      |  END AS simpson_ppm
      |FROM s ORDER BY source""".stripMargin

  /** q175: BOILERPLATE PREFIX DETECTION per source — the C4/Gopher
    * scrub signal the per-doc filters can't see: a scraped source
    * routinely stamps the SAME leading phrase on every page
    * ("Subscribe to our newsletter…"), which q71/q122 only notice
    * once the whole doc is duplicated. Per source: the most frequent
    * leading 4-token prefix and the ppm of the source's docs carrying
    * it — a high-coverage prefix is a strip-rule candidate. Argmax
    * rule pinned to (count DESC, prefix ASC) and realized WITHOUT a
    * per-source window over the corpus: one groupBy(source, prefix)
    * exchange (map-side combined; the only corpus-sized shuffle),
    * then max-count + min-prefix-at-max as two aggregates over that
    * frame (the oracle re-derives the same pick via a
    * fully-deterministic ranked window — different mechanism, same
    * rule). Coverage ppm is double-first (the q165 overflow rule).
    * Sources whose every doc is shorter than 4 tokens have no prefix
    * and are absent by design. */
  def boilerplatePrefix(s: SparkSession, dir: String, n: Int = 4): DataFrame =
    boilerplatePrefixOver(Tables.documents(s, dir), n)

  /** The q175 pipeline over any (source, text) frame — injectable for
    * hand-built argmax/tie specs (the q135 rule). */
  private[graft] def boilerplatePrefixOver(docs: DataFrame, n: Int = 4): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = split(trim($"text"), "\\s+")
    val counts = docs
      .select($"source",
        when(size(toks) >= n, concat_ws(" ", slice(toks, 1, n))).as("prefix"))
      .filter($"prefix".isNotNull)
      .groupBy($"source", $"prefix").agg(count(lit(1)).as("n"))
    val best = counts.groupBy($"source").agg(max($"n").as("n_top"))
      .withColumnRenamed("source", "src_b") // disambiguate the self-join
    val pick = counts
      .join(broadcast(best), $"source" === $"src_b" && $"n" === $"n_top")
      .groupBy($"source", $"n_top")
      .agg(min($"prefix").as("prefix"))
    val totals = docs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    pick.join(broadcast(totals), Seq("source"))
      .withColumn("coverage_ppm",
        expr("CAST(floor(n_top * 1000000.0 / n_docs) AS BIGINT)"))
      .select($"source", $"prefix", $"n_top".as("n_docs_with_prefix"),
        $"n_docs", $"coverage_ppm")
      .orderBy($"source")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def boilerplatePrefixSql(n: Int = 4): String =
    s"""WITH t AS (
      |  SELECT source, regexp_split_to_array(trim(text), '\\s+') AS toks
      |  FROM documents),
      |p AS (
      |  SELECT source, array_to_string(toks[1 : $n], ' ') AS prefix
      |  FROM t WHERE len(toks) >= $n),
      |c AS (SELECT source, prefix, count(*) AS n FROM p GROUP BY 1, 2),
      |r AS (
      |  SELECT source, prefix, n,
      |    row_number() OVER (PARTITION BY source ORDER BY n DESC, prefix) AS rn
      |  FROM c),
      |d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
      |SELECT r.source, r.prefix, CAST(r.n AS BIGINT) AS n_docs_with_prefix,
      |  CAST(d.n_docs AS BIGINT) AS n_docs,
      |  CAST(floor(r.n * 1000000.0 / d.n_docs) AS BIGINT) AS coverage_ppm
      |FROM r JOIN d USING (source) WHERE r.rn = 1 ORDER BY r.source""".stripMargin

  /** q114: TOKEN-DISTRIBUTION DIVERGENCE between two corpus slices —
    * the domain-shift / domain-mix diagnostic of a training-data
    * pipeline: which tokens are most over- or under-represented in
    * the `en` slice vs the rest, ranked by the two-sample chi-square
    * statistic. (The chi-square form is chosen over KL/G² PRECISELY
    * because it needs no logarithm: counts are exact integers, the
    * expected counts and the statistic use only +,−,×,÷ — IEEE-exact
    * operations that produce bit-identical doubles in both engines —
    * so the 4 dp rounding is deterministic. `ln` is not
    * correctly-rounded; see the q65 idf note.)
    *
    * Plan at 100 TB: explode → one groupBy(token) with conditional
    * partial sums (map-side combined, the exchange carries one row
    * per DISTINCT token); the 1-row class totals cross-join in as a
    * broadcast; top-k plans as TakeOrderedAndProject (per-partition
    * top-50 + bounded merge — no corpus-wide sort). Nothing scales
    * with corpus size except the one vocabulary-bounded exchange. */
  def tokenDivergence(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(when($"lang" === "en", lit(1L)).otherwise(lit(0L)).as("isa"),
        explode(split(trim($"text"), "\\s+")).as("tok"))
    val counts = toks.groupBy($"tok")
      .agg(sum($"isa").as("ca"), sum(lit(1L) - $"isa").as("cb"))
    val totals = counts.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
    counts.crossJoin(broadcast(totals))
      // expected counts under the pooled distribution; the integer
      // product (ca+cb)*na is exact in BIGINT long before the one
      // division makes it a double. try_divide mirrors DuckDB's
      // NULL-on-zero-divisor rule (degenerate-corpus gate: a one-
      // language corpus has ea or eb = 0 and its chi2 is NULL on
      // both engines, never an ANSI error); on nonzero divisors it
      // is the identical double division
      .withColumn("ea", try_divide(($"ca" + $"cb") * $"na", $"na" + $"nb"))
      .withColumn("eb", try_divide(($"ca" + $"cb") * $"nb", $"na" + $"nb"))
      .withColumn("chi2", round(
        try_divide(($"ca" - $"ea") * ($"ca" - $"ea"), $"ea") +
        try_divide(($"cb" - $"eb") * ($"cb" - $"eb"), $"eb"), 4))
      .select($"tok", $"ca", $"cb", $"chi2")
      .orderBy($"chi2".desc, $"tok")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). The SQL
    * spells every arithmetic step with the same association order as
    * the Column expressions — that textual discipline is what makes
    * the double bit-identical. */
  def tokenDivergenceSql(k: Int = 50): String =
    s"""WITH toks AS (
      |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS isa,
      |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |  FROM documents),
      |counts AS (
      |  SELECT tok, CAST(sum(isa) AS BIGINT) AS ca,
      |    CAST(sum(1 - isa) AS BIGINT) AS cb
      |  FROM toks GROUP BY tok),
      |totals AS (
      |  SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
      |  FROM counts)
      |SELECT tok, ca, cb,
      |  round((ca - ea) * (ca - ea) / ea + (cb - eb) * (cb - eb) / eb, 4) AS chi2
      |FROM (
      |  SELECT tok, ca, cb,
      |    (ca + cb) * na / (na + nb) AS ea,
      |    (ca + cb) * nb / (na + nb) AS eb
      |  FROM counts CROSS JOIN totals)
      |ORDER BY chi2 DESC, tok LIMIT $k""".stripMargin

  /** q132: PER-SOURCE ADAPTIVE QUALITY FLOOR — exact decile
    * thresholding via a BOUNDED-DOMAIN HISTOGRAM, no sort and no
    * window. Fixed quality cutoffs (q27, q127) misfire across
    * heterogeneous sources: a threshold tuned for encyclopedic text
    * guts a forum crawl and passes everything in a books corpus. The
    * adaptive rule drops, per source, the docs STRICTLY BELOW that
    * source's p10 of the distinct-token-ratio — each source loses
    * (about) its own worst decile regardless of its absolute level.
    *
    * Exactness: the metric is the all-integer
    * `v = (n_distinct · 10000) div n_tokens` (floor division — no
    * float boundary), so v lives in the BOUNDED domain [0, 10000].
    * That makes the EXACT p10 computable without any corpus-wide
    * sort: per-source histogram `(source, v) → c` (one map-side-
    * combined aggregate), then the threshold is the smallest v whose
    * running count reaches `k = ceil(n/10)` — found by one
    * [[EventQueries.lowerQuantiles]] fold over the ≤10001-entry sorted
    * histogram. Aggregation state is
    * bounded by the VALUE DOMAIN, not the corpus, which is what makes
    * this the 100 TB exact-quantile pattern (GK/q56 is the companion
    * for unbounded domains, at ε precision). The ≤|sources| threshold
    * rows broadcast back onto the doc stream — docs never shuffle.
    *
    * Contrast: q56 (GK sketch) answers approximate quantiles over
    * unbounded domains; this answers EXACT quantiles over bounded
    * ones — both O(1)-state per group, different trade. */
  def adaptiveQualityFloor(s: SparkSession, dir: String): DataFrame =
    adaptiveQualityFloorOver(Tables.documents(s, dir))

  /** The all-integer distinct-token-ratio metric on the bounded
    * [0, 10000] grid — the ONE definition shared by q132 (per-source
    * floor) and q190 (per-doc quantile normalization), so the two
    * quality operators can never disagree about the score. */
  private[graft] def dtrMetric(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = split(trim($"text"), "\\s+")
    docs
      .select($"doc_id", $"source",
        size(array_distinct(toks)).cast("long").as("nd"),
        size(toks).cast("long").as("nt"))
      .withColumn("v", expr("(nd * 10000) div nt"))
      .select($"doc_id", $"source", $"v")
  }

  /** q132 over an injectable (doc_id, source, text) frame. */
  private[graft] def adaptiveQualityFloorOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val m = dtrMetric(docs)
    val hist = m.groupBy($"source", $"v").agg(count(lit(1)).as("c"))
    val thr = hist.groupBy($"source")
      .agg(sort_array(collect_list(struct($"v", $"c"))).as("h"),
        sum($"c").as("n"))
      .select($"source", EventQueries.lowerQuantiles($"h", $"n", 10)("p10").as("floor_v"))
    m.join(broadcast(thr), Seq("source"))
      .select($"doc_id", $"source", $"v", $"floor_v",
        ($"v" >= $"floor_v").as("kept"))
      .orderBy($"doc_id")
  }

  /** Oracle: same histogram, thresholded with a cumulative window
    * over the bounded value domain (the oracle may sort; the engine
    * may not). */
  val adaptiveQualityFloorSql: String =
    """WITH m AS (
      |  SELECT doc_id, source,
      |    (len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 10000)
      |      // len(regexp_split_to_array(trim(text), '\s+')) AS v
      |  FROM documents),
      |hist AS (SELECT source, v, count(*) AS c FROM m GROUP BY source, v),
      |tot AS (SELECT source, count(*) AS n FROM m GROUP BY source),
      |cum AS (
      |  SELECT h.source, h.v,
      |    sum(h.c) OVER (PARTITION BY h.source ORDER BY h.v) AS cum, t.n
      |  FROM hist h JOIN tot t USING (source)),
      |thr AS (SELECT source, min(v) AS floor_v FROM cum
      |        WHERE cum >= (n + 9) // 10 GROUP BY source)
      |SELECT m.doc_id, m.source, m.v, thr.floor_v,
      |  m.v >= thr.floor_v AS kept
      |FROM m JOIN thr USING (source)
      |ORDER BY doc_id""".stripMargin

  // ---- q134/q136: persisted inverted index + boolean serving -------

  /** Pinned boolean-retrieval query: docs containing ALL of the
    * required terms and NONE of the excluded one. Constants, not
    * runtime input — the oracle must reproduce them verbatim. */
  private[graft] val InvRequiredTerms = Seq("vector", "stream")
  private[graft] val InvExcludedTerm = "window"

  /** Build the postings artifact: one (term, doc_id) row per DISTINCT
    * term occurrence, bucketed AND sorted by term. Two layout
    * effects make serve-time term lookups index-priced rather than
    * corpus-priced: the sortBy(term) ordering gives every parquet
    * row group a tight term min/max, so the pushed `term IN (...)`
    * predicate skips non-matching row groups wholesale (pinned in
    * TextOpsSpec); and the bucket spec localizes any future
    * term-keyed join/aggregate without a shuffle. (Spark's
    * auto-bucketed-scan rule declines the bucketed READ for the pure
    * lookup — no exchange is saved — so the row-group skip, not
    * bucket pruning, is what bounds the scan there.) The meta
    * sidecar stamps the shared source fingerprint (q92/q96/q97
    * lifecycle) plus posting/vocabulary counts. */
  /** THE postings definition — one (term, doc_id) row per DISTINCT
    * term occurrence. Single definition shared by the batch build
    * (q134), the batch upsert (q137), and the streaming maintenance
    * sibling ([[graft.streaming.Pipeline.upsertPostingsBatch]]), so
    * stream ≡ batch parity is structural, not coincidental. */
  private[graft] def postingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(split(trim(col("text")), "\\s+"))).as("term"))

  private[graft] def buildInvertedIndex(s: SparkSession, dir: String, table: String): Unit = {
    writePostings(postingsOf(Tables.documents(s, dir)), table)
    writeMeta(s, table, Artifacts.documents(s, dir))
  }

  /** Write (or `append` to) a postings artifact: 32 buckets on term,
    * sorted by (term, doc_id), the layout every postings family and
    * its streaming maintenance share. */
  private[graft] def writePostings(postings: DataFrame, table: String,
      mode: String = "overwrite"): Unit =
    Scale.writeBucketed(postings, table, "term", 32, Seq("doc_id"), mode)

  /** Write the `<table>_meta` sidecar of a postings artifact — the
    * stored table's posting count and distinct-`key` count — and
    * stamp it with `now`: the last write of every build. */
  private[graft] def writeMeta(s: SparkSession, table: String, now: Artifacts.Stamp,
      key: String = "term", keyCount: String = "n_terms"): Unit = {
    s.table(table).agg(count(lit(1)).as("n_postings"), count_distinct(col(key)).as(keyCount))
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}_meta")
    Artifacts.stamp(s, s"${table}_meta", now)
  }

  /** Build-if-absent-or-stale gate of a documents-derived artifact:
    * `tbl`, its `<tbl>_<sidecar>` tables and the `<tbl>_meta` sidecar
    * that carries the stamp. */
  private[graft] def ensureDocs(s: SparkSession, dir: String, tbl: String,
      sidecars: String*)(build: => Unit): Unit =
    Artifacts.ensure(s, tbl +: (sidecars :+ "meta").map(x => s"${tbl}_$x"), s"${tbl}_meta",
      Artifacts.documents(s, dir))(build)

  private def invIndexTable(s: SparkSession, dir: String): String = {
    val tbl = Artifacts.name("inv_q134", dir)
    ensureDocs(s, dir, tbl)(buildInvertedIndex(s, dir, tbl))
    tbl
  }

  /** Boolean serve from the stored postings only: required terms via
    * a bucket-pruned scan + doc-keyed count (postings are distinct
    * per (term, doc), so `count(*) = |required|` IS the AND), the
    * excluded term via an anti-join. The exchange carries only the
    * matched posting rows (Σ df of the queried terms — the classic
    * search-engine cost model), never the corpus. */
  private def serveBoolean(s: SparkSession, tbl: String): DataFrame = {
    import s.implicits._
    val p = s.table(tbl)
    p.filter($"term".isin(InvRequiredTerms: _*))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
      .filter($"n_hits" === InvRequiredTerms.size)
      .join(p.filter($"term" === InvExcludedTerm).select($"doc_id"),
        Seq("doc_id"), "left_anti")
  }

  /** q134: STORED INVERTED INDEX + BOOLEAN RETRIEVAL — the exact-
    * match serving path of a training-data corpus (membership / "is
    * this phrase in the training set" tooling, the infini-gram-class
    * lookup): build the postings artifact once, then answer
    * `+vector +stream -window` from the stored tables alone. The
    * DuckDB oracle recomputes the answer from raw documents — so the
    * build → store → serve chain must preserve exact term-set
    * semantics end to end. */
  def invertedIndexServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    serveBoolean(s, invIndexTable(s, dir))
      .select($"doc_id", $"n_hits").orderBy($"doc_id")
  }

  val invertedIndexServeSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS term
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, count(*) AS n_hits FROM toks
      |  WHERE term IN (${InvRequiredTerms.map(t => s"'$t'").mkString(", ")})
      |  GROUP BY doc_id HAVING count(*) = ${InvRequiredTerms.size})
      |SELECT doc_id, n_hits FROM pos
      |WHERE doc_id NOT IN (SELECT doc_id FROM toks WHERE term = '$InvExcludedTerm')
      |ORDER BY doc_id""".stripMargin

  /** q136: TOMBSTONED DELETION over the stored index — the
    * right-to-be-forgotten serving path. A deletion request
    * (doc_id % 10 = 3, the deterministic stand-in for a GDPR batch)
    * must take effect at SERVE time without rebuilding the postings
    * artifact: the serve chain anti-joins a tombstone set, and the
    * oracle rebuilds the answer from the PURGED corpus — so serving
    * through tombstones must be indistinguishable from physically
    * deleting and re-indexing. At 100 TB the tombstone set is
    * deletion-request-sized (broadcast anti-join); the index rewrite
    * is deferred to compaction instead of blocking the request. */
  def invertedIndexPurgeServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tombstones = Tables.documents(s, dir)
      .filter($"doc_id" % 10 === 3).select($"doc_id")
    serveBoolean(s, invIndexTable(s, dir))
      .join(broadcast(tombstones), Seq("doc_id"), "left_anti")
      .select($"doc_id", $"n_hits").orderBy($"doc_id")
  }

  /** Oracle: the q134 chain over the corpus WITH the deletion applied
    * at the source — tombstone-serve ≡ purge-and-rebuild. */
  val invertedIndexPurgeServeSql: String =
    s"""WITH purged AS (SELECT * FROM documents WHERE doc_id % 10 <> 3),
      |toks AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS term
      |  FROM purged),
      |pos AS (
      |  SELECT doc_id, count(*) AS n_hits FROM toks
      |  WHERE term IN (${InvRequiredTerms.map(t => s"'$t'").mkString(", ")})
      |  GROUP BY doc_id HAVING count(*) = ${InvRequiredTerms.size})
      |SELECT doc_id, n_hits FROM pos
      |WHERE doc_id NOT IN (SELECT doc_id FROM toks WHERE term = '$InvExcludedTerm')
      |ORDER BY doc_id""".stripMargin

  /** q149: INDEX COMPACTION — the deferred physical half of q136's
    * deletion lifecycle (mask at serve time → COMPACT when
    * convenient): the stored postings are rewritten WITHOUT the
    * tombstoned docs into a new artifact generation (same bucketed
    * layout, meta re-stamped with the compacted counts + the shared
    * source fingerprint), and serving then needs NO tombstone
    * anti-join at all — the masked rows are physically gone. The
    * ORACLE IS THE IDENTITY: q136's purge-and-rebuild SQL verbatim,
    * so mask-serve ≡ compact-serve ≡ rebuild is hash-checked at both
    * SFs — the deletion lifecycle's three forms must be
    * indistinguishable. At 100 TB compaction is one bucketed
    * anti-join rewrite scheduled off the request path; the
    * tombstone set stays broadcast-sized. */
  def invertedIndexCompactServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("inv_q149", dir)
    ensureDocs(s, dir, tbl) {
      val base = invIndexTable(s, dir) // ensure the live artifact is fresh
      val tombstones = Tables.documents(s, dir)
        .filter($"doc_id" % 10 === 3).select($"doc_id")
      val compacted = s.table(base)
        .join(broadcast(tombstones), Seq("doc_id"), "left_anti")
      writePostings(compacted, tbl)
      writeMeta(s, tbl, Artifacts.documents(s, dir))
    }
    serveBoolean(s, tbl) // no anti-join: the deletions are physical now
      .select($"doc_id", $"n_hits").orderBy($"doc_id")
  }

  /** q137: INCREMENTAL POSTINGS UPSERT — the append side of the index
    * lifecycle (build q134 / serve / delete q136 / APPEND here): the
    * artifact is built from the base corpus slice (doc_id % 10 ≠ 7)
    * and the remaining slice is then APPENDED as a second bucketed
    * write — the nightly new-documents batch. Spark's datasource
    * bucketing tags every file with its bucket id, so an appended
    * write with the SAME bucketBy spec lands new files in the same
    * logical buckets and the serve-time bucket-pruned scan reads
    * both generations transparently. The meta sidecar is stamped
    * with the POST-append fingerprint, so the lifecycle gate reuses
    * the upserted artifact and rebuilds+re-appends only on source
    * drift. The oracle answers from the FULL corpus — a lost or
    * mis-bucketed appended posting shows up as a missing doc in the
    * result set. */
  def invertedIndexUpsertServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("inv_q137", dir)
    ensureDocs(s, dir, tbl) {
      val docs = Tables.documents(s, dir)
      writePostings(postingsOf(docs.filter($"doc_id" % 10 =!= 7)), tbl)
      writePostings(postingsOf(docs.filter($"doc_id" % 10 === 7)), tbl, "append")
      writeMeta(s, tbl, Artifacts.documents(s, dir))
    }
    serveBoolean(s, tbl)
      .select($"doc_id", $"n_hits").orderBy($"doc_id")
  }

  /** q138: TEXTRANK TERM CENTRALITY — keyword extraction as bounded-
    * iteration PageRank over the token co-occurrence graph (Mihalcea
    * & Tarau's TextRank), the iterative-scoring sibling of q66's
    * label propagation: components ask "connected?", this asks "how
    * central?". Nodes are vocabulary terms; edges are adjacent-token
    * pairs (both directions, self-pairs dropped) weighted by corpus
    * frequency; three damped power-iteration rounds.
    *
    * ALL-INTEGER arithmetic (the q114/q124 rule): scores live at
    * scale 10^6, a round is
    *   score'(i) = 150000 + (850 · Σ_j (score(j)·w(j,i)) div W(j)) div 1000
    * — floor divisions only, no float accumulation, so three rounds
    * are bit-identical cross-engine and the DuckDB oracle re-runs
    * them as three unrolled CTEs.
    *
    * Scale shape: ONE corpus scan feeds a map-side-combined edge
    * aggregate (the exchange carries one row per DISTINCT directed
    * pair — vocabulary²-bounded, not corpus-bounded); every
    * iteration then joins the vocabulary-sized score frame against
    * the vocabulary²-bounded edge frame WITHOUT a broadcast hint
    * (the score frame has one row per distinct
    * token — at web-corpus vocabulary a forced broadcast ships
    * multi-GB to every executor, 3×; size-aware planning/AQE
    * broadcasts it only while it actually fits, and both sides hash
    * on the term key otherwise). PlanSpec pins the absence of the
    * hint. Corpus size buys edge WEIGHT, not state. */
  def textRankTerms(s: SparkSession, dir: String, k: Int = 20, iters: Int = 3): DataFrame = {
    import s.implicits._
    val adj = expr(
      """CASE WHEN size(_toks) < 2 THEN array()
        |ELSE filter(transform(sequence(1, size(_toks) - 1),
        |       i -> struct(element_at(_toks, i) AS s, element_at(_toks, i + 1) AS d)),
        |     p -> p.s != p.d) END""".stripMargin)
    val e0 = Tables.documents(s, dir)
      .withColumn("_toks", split(trim($"text"), "\\s+"))
      .select(explode(adj).as("p"))
      .select($"p.s".as("src"), $"p.d".as("dst"))
    val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
      .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    val wt = edges.groupBy($"src").agg(sum($"w").as("wtot"))
    val ew = edges.join(wt, "src")
    var scores = wt.select($"src".as("term"), lit(1000000L).as("score"))
    for (_ <- 1 to iters) {
      scores = ew.join(scores, $"src" === $"term")
        .select($"dst", expr("(score * w) div wtot").as("c"))
        .groupBy($"dst").agg(expr("150000 + (850 * sum(c)) div 1000").as("score"))
        .select($"dst".as("term"), $"score")
    }
    scores.orderBy($"score".desc, $"term").limit(k)
  }

  val textRankTermsSql: String =
    """WITH t AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |e0 AS (
      |  SELECT t[i] AS src, t[i+1] AS dst
      |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
      |  WHERE len(t) >= 2 AND t[i] <> t[i+1]),
      |edges AS (
      |  SELECT src, dst, count(*) AS w FROM (
      |    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0)
      |  GROUP BY src, dst),
      |wt AS (SELECT src, sum(w) AS wtot FROM edges GROUP BY src),
      |r0 AS (SELECT src AS term, CAST(1000000 AS BIGINT) AS score FROM wt),
      |r1 AS (SELECT e.dst AS term, CAST(150000 + (850 * sum((r.score * e.w) // w2.wtot)) // 1000 AS BIGINT) AS score
      |       FROM edges e JOIN r0 r ON r.term = e.src JOIN wt w2 ON w2.src = e.src GROUP BY e.dst),
      |r2 AS (SELECT e.dst AS term, CAST(150000 + (850 * sum((r.score * e.w) // w2.wtot)) // 1000 AS BIGINT) AS score
      |       FROM edges e JOIN r1 r ON r.term = e.src JOIN wt w2 ON w2.src = e.src GROUP BY e.dst),
      |r3 AS (SELECT e.dst AS term, CAST(150000 + (850 * sum((r.score * e.w) // w2.wtot)) // 1000 AS BIGINT) AS score
      |       FROM edges e JOIN r2 r ON r.term = e.src JOIN wt w2 ON w2.src = e.src GROUP BY e.dst)
      |SELECT term, score FROM r3 ORDER BY score DESC, term LIMIT 20""".stripMargin

  // ---- q150: stored BM25 index + ranked retrieval ------------------

  /** Pinned ranked-retrieval query terms (constants, not runtime
    * input — the oracle must reproduce them verbatim). */
  private[graft] val Bm25Terms = Seq("vector", "stream", "spark")
  private[graft] val Bm25K = 20

  /** q150: STORED BM25 INDEX + RANKED RETRIEVAL — the ranked sibling
    * of q134's boolean serve, and the retrieval operator a
    * training-data pipeline runs for corpus search, contamination
    * triage and hard-negative mining. Three stored artifacts make
    * serving index-priced: term-frequency postings
    * (term, doc_id, tf, dl) — dl DENORMALIZED onto the posting row
    * (the impact-ordered-postings layout) so scoring never joins a
    * doc-length table; a lexicon (term, df) so idf needs |q| rows,
    * not a corpus pass; and the meta sidecar carrying (n_docs,
    * sum_dl) so avgdl is two stored integers. Serve-time exchanges
    * carry Σ df of the queried terms — the search-engine cost model —
    * never the corpus.
    *
    * SCORING IS EXACT CROSS-ENGINE: BM25 with the RATIONAL idf
    * `(N − df + 0.5)/(df + 0.5)` (q65's rule — ln is not
    * correctly-rounded; +,−,×,÷ are), k1 = 1.2, b = 0.75; each
    * per-(term,doc) partial is floored to ppm fixed point BEFORE the
    * per-doc sum, so the sum is BIGINT — exact and order-independent
    * (a double Σ would round differently under Spark's partial
    * aggregation than under DuckDB's serial sum). The oracle
    * recomputes from raw documents with the identical association
    * order, so build → store → serve must preserve tf/df/dl/avgdl
    * end to end. */
  def bm25TopkServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("bm25_q150", dir)
    ensureDocs(s, dir, tbl, "vocab") {
      val toks = Tables.documents(s, dir)
        .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("term"))
      val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      // per-doc token total rides along as a window-free rollup: sum
      // of tf within doc (vocabulary-per-doc-bounded aggregate)
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      writePostings(tf.join(dl, "doc_id").select($"term", $"doc_id", $"tf", $"dl"), tbl)
      // lexicon: postings are one row per (term, doc) ⇒ count IS df
      Scale.writeBucketed(s.table(tbl).groupBy($"term").agg(count(lit(1)).as("df")),
        s"${tbl}_vocab", "term", 32)
      // coalesce: sum over an EMPTY corpus slice is NULL and would
      // poison the stored meta (degenerate-corpus gate)
      dl.agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"dl"), lit(0L)).as("sum_dl"))
        .write.mode("overwrite").format("parquet").saveAsTable(s"${tbl}_meta")
      Artifacts.stamp(s, s"${tbl}_meta", Artifacts.documents(s, dir))
    }
    // corpus stats from the 1-row meta sidecar (bounded collect);
    // sum_dl/n_docs are exact integers < 2^53 so the double division
    // is correctly rounded — bit-identical to the oracle's
    val m = s.table(s"${tbl}_meta").select($"n_docs", $"sum_dl").head()
    val nDocs = m.getLong(0)
    // empty index: no postings exist, so avgdl never reaches a score —
    // any finite value avoids the 0/0 NaN (degenerate-corpus gate)
    val avgdl = if (nDocs == 0L) 1.0 else m.getLong(1).toDouble / nDocs
    val p = s.table(tbl).filter($"term".isin(Bm25Terms: _*))
    val v = s.table(s"${tbl}_vocab").filter($"term".isin(Bm25Terms: _*))
    // every arithmetic step below mirrors the oracle's association
    // order exactly (the q114 textual discipline)
    val idf = (($"df" * lit(-1L) + lit(nDocs)) + lit(0.5)) / ($"df" + lit(0.5))
    val tfn = ($"tf" * lit(2.2)) /
      ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / lit(avgdl))))
    p.join(broadcast(v), "term")
      .select($"doc_id",
        floor(lit(1000000.0) * idf * tfn).cast("long").as("sc"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms_hit"), sum($"sc").as("score_bm25"))
      .orderBy($"score_bm25".desc, $"doc_id")
      .limit(Bm25K)
  }

  val bm25TopkServeSql: String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      |  FROM documents),
      |tfall AS (
      |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
      |dl AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tfall GROUP BY doc_id),
      |stats AS (
      |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
      |df AS (
      |  SELECT term, count(*) AS df FROM tfall
      |  WHERE term IN ($terms) GROUP BY term),
      |scored AS (
      |  SELECT t.doc_id,
      |    CAST(floor(1000000.0
      |      * (((t.df * -1 + s.n_docs) + 0.5) / (t.df + 0.5))
      |      * ((t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * (t.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))))
      |      AS BIGINT) AS sc
      |  FROM (SELECT f.doc_id, f.tf, l.dl, d.df
      |        FROM tfall f
      |        JOIN df d USING (term)
      |        JOIN dl l ON l.doc_id = f.doc_id
      |        WHERE f.term IN ($terms)) t
      |  CROSS JOIN stats s)
      |SELECT doc_id, count(*) AS n_terms_hit, CAST(sum(sc) AS BIGINT) AS score_bm25
      |FROM scored GROUP BY doc_id
      |ORDER BY score_bm25 DESC, doc_id LIMIT $Bm25K""".stripMargin
  }

  // ---- q151: positional index + exact phrase retrieval -------------

  /** Pinned phrase (constants — the oracle reproduces them). */
  private[graft] val PhraseTerms = Seq("hash", "join")

  /** q151: POSITIONAL INVERTED INDEX + EXACT PHRASE RETRIEVAL — the
    * membership query q134's bag-of-terms postings cannot answer:
    * "which documents contain this exact PHRASE, and how often" (the
    * infini-gram / training-set-membership lookup, and the exactness
    * tier of contamination checking: q79 flags n-gram overlap,
    * this proves verbatim adjacency). The stored artifact extends
    * postings with the token POSITION — (term, doc_id, pos), one row
    * per OCCURRENCE — same bucketed-by-term, sorted layout as q134,
    * so term lookups stay row-group-skip-priced. A k-term phrase is
    * answered entirely from the index: k term-pruned scans joined on
    * (doc_id, pos − offset) — each side df-sized, never the corpus —
    * then a per-doc occurrence count. The oracle recomputes adjacency
    * from raw text, so stored positions must survive the round trip
    * exactly (an off-by-one in pos shows up as zero matches). */
  def phraseIndexServe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tbl = Artifacts.name("pos_q151", dir)
    ensureDocs(s, dir, tbl) {
      writePostings(Tables.documents(s, dir)
        .select($"doc_id", posexplode(split(trim($"text"), "\\s+")))
        .select($"doc_id", $"col".as("term"), ($"pos" + 1).cast("long").as("pos")), tbl)
      writeMeta(s, tbl, Artifacts.documents(s, dir))
    }
    val p = s.table(tbl)
    // anchor on the first term; each later term joins on
    // (doc_id, pos + offset) — df-sized scans, index-priced serve
    val anchor = p.filter($"term" === PhraseTerms.head)
      .select($"doc_id", $"pos")
    val matched = PhraseTerms.zipWithIndex.tail.foldLeft(anchor) {
      case (acc, (t, i)) =>
        val pi = p.filter($"term" === t)
          .select($"doc_id", ($"pos" - lit(i.toLong)).as("pos"))
        acc.join(pi, Seq("doc_id", "pos"))
    }
    matched.groupBy($"doc_id").agg(count(lit(1)).as("n_occ"))
      .orderBy($"doc_id")
  }

  val phraseIndexServeSql: String = {
    val joins = PhraseTerms.zipWithIndex.tail.map { case (t, i) =>
      s"JOIN toks p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i AND p$i.term = '$t'"
    }.mkString("\n  |  ")
    s"""WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(t) AS term,
      |    unnest(range(1, len(t) + 1)) AS pos
      |  FROM t)
      |SELECT p0.doc_id, count(*) AS n_occ
      |FROM toks p0
      |  $joins
      |WHERE p0.term = '${PhraseTerms.head}'
      |GROUP BY p0.doc_id ORDER BY p0.doc_id""".stripMargin
  }

  // ---- q165: collocation extraction (chi-square) -------------------

  /** q165: COLLOCATION EXTRACTION — which adjacent token pairs are
    * statistically BOUND (occur together far more than independence
    * predicts), ranked by the chi-square of observed vs expected
    * bigram count (the Manning–Schütze collocation test; q87 ranks
    * bigrams by RAW count, which just surfaces frequent words — this
    * normalizes away unigram frequency and surfaces genuine
    * multiword units, the phrase-vocabulary candidates a tokenizer/
    * dictionary builder consumes). Expected count
    * e = (n_first · n_second) / N is computed DOUBLE-FIRST
    * (`CAST(n_first AS DOUBLE) · n_second / N` — each IEEE op
    * correctly rounded, bit-identical cross-engine, and the double
    * product cannot overflow where a BIGINT product would at
    * web-corpus counts); the statistic (n_ab − e)²/e follows the
    * q114 per-cell contract (no double summation anywhere). A
    * min-count floor (n_ab ≥ 5) keeps hapax noise out.
    *
    * Plan at 100 TB: one bigram explode → map-side-combined
    * (first, second) count (the exchange carries DISTINCT bigrams);
    * the two marginal frames aggregate from the bigram frame itself
    * (vocabulary-bounded) and join back on their token keys WITHOUT
    * broadcast hints (the q138 vocabulary rule); the 1-row total
    * broadcasts; top-k is TakeOrderedAndProject. */
  def collocations(s: SparkSession, dir: String, k: Int = 30, minCount: Long = 5L): DataFrame = {
    import s.implicits._
    val pairs = expr(
      """CASE WHEN size(_toks) < 2 THEN array()
        |ELSE transform(sequence(1, size(_toks) - 1),
        |       i -> struct(element_at(_toks, i) AS a, element_at(_toks, i + 1) AS b))
        |END""".stripMargin)
    val bi = Tables.documents(s, dir)
      .withColumn("_toks", split(trim($"text"), "\\s+"))
      .select(explode(pairs).as("p"))
      .groupBy($"p.a".as("a"), $"p.b".as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val nFirst = bi.groupBy($"a").agg(sum($"n_ab").as("n_first"))
    val nSecond = bi.groupBy($"b").agg(sum($"n_ab").as("n_second"))
    val tot = bi.agg(sum($"n_ab").as("n"))
    bi.filter($"n_ab" >= minCount)
      .join(nFirst, Seq("a"))
      .join(nSecond, Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("e", $"n_first".cast("double") * $"n_second" / $"n")
      .withColumn("chi2", round(($"n_ab" - $"e") * ($"n_ab" - $"e") / $"e", 4))
      .select(concat_ws(" ", $"a", $"b").as("bigram"), $"n_ab", $"chi2")
      .orderBy($"chi2".desc, $"bigram")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def collocationsSql(k: Int = 30, minCount: Long = 5L): String =
    s"""WITH t AS (
      |  SELECT regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
      |bi AS (
      |  SELECT t[i] AS a, t[i+1] AS b, count(*) AS n_ab
      |  FROM t, LATERAL (SELECT unnest(range(1, len(t))) AS i) s
      |  WHERE len(t) >= 2 GROUP BY 1, 2),
      |nf AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_first FROM bi GROUP BY a),
      |ns AS (SELECT b, CAST(sum(n_ab) AS BIGINT) AS n_second FROM bi GROUP BY b),
      |tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM bi),
      |x AS (
      |  SELECT bi.a, bi.b, bi.n_ab,
      |    CAST(nf.n_first AS DOUBLE) * ns.n_second / tot.n AS e
      |  FROM bi JOIN nf USING (a) JOIN ns USING (b) CROSS JOIN tot
      |  WHERE bi.n_ab >= $minCount)
      |SELECT a || ' ' || b AS bigram, CAST(n_ab AS BIGINT) AS n_ab,
      |  round((n_ab - e) * (n_ab - e) / e, 4) AS chi2
      |FROM x ORDER BY chi2 DESC, bigram LIMIT $k""".stripMargin

  // ---- q153: inverse-frequency surprisal scoring --------------------

  /** q153: PER-DOCUMENT SURPRISAL — rank documents by how RARE their
    * tokens are corpus-wide: the integer surrogate of unigram-LM
    * perplexity that data-pruning passes use to surface unusual /
    * high-information documents (and, at the top of the ranking,
    * boilerplate-free candidates for curriculum tail stages). The
    * per-token weight is `tot div cnt(t)` — the floored inverse
    * unigram probability — and the doc score is the token-count-
    * normalized sum `(Σ c·w) div n_tokens`. ALL-BIGINT (the
    * q114/q124 rule): no ln, no float accumulation, exact
    * cross-engine. (q119 scores novelty AGAINST A TRAINING ORDER;
    * q81 reports corpus-level rare-token stats; this scores each
    * document's rarity unconditionally.)
    *
    * Plan at 100 TB: explode compacts map-side to (doc, tok, c) —
    * the q81 discipline — then ONE tok-keyed join against the
    * vocabulary-bounded count frame WITHOUT a broadcast hint (the
    * q138 rule: at web-corpus vocabulary a forced broadcast ships
    * multi-GB; AQE broadcasts only while it fits), then a per-doc
    * rollup and a TakeOrderedAndProject top-k. The 1-row total
    * crosses in as a broadcast. */
  def surprisalScore(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import s.implicits._
    val tc = Tables.documents(s, dir)
      .select($"doc_id", explode(split(trim($"text"), "\\s+")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val vocab = tc.groupBy($"tok").agg(sum($"c").as("cnt"))
    val tot = vocab.agg(sum($"cnt").as("tot"))
    tc.join(vocab, "tok")
      .crossJoin(broadcast(tot))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
        sum($"c" * expr("tot div cnt")).as("wsum"))
      .select($"doc_id", $"n_tokens",
        expr("wsum div n_tokens").as("surprisal"))
      .orderBy($"surprisal".desc, $"doc_id")
      .limit(k)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def surprisalScoreSql(k: Int = 50): String =
    s"""WITH tc AS (
      |  SELECT doc_id, tok, count(*) AS c FROM (
      |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |    FROM documents)
      |  GROUP BY doc_id, tok),
      |vocab AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cnt FROM tc GROUP BY tok),
      |stats AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM vocab)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  CAST(sum(c * (s.tot // v.cnt)) // sum(c) AS BIGINT) AS surprisal
      |FROM tc JOIN vocab v USING (tok) CROSS JOIN stats s
      |GROUP BY doc_id
      |ORDER BY surprisal DESC, doc_id LIMIT $k""".stripMargin

  /** q190: CROSS-SOURCE SCORE QUANTILE NORMALIZATION — the transform
    * that makes per-source quality scores COMPARABLE before a global
    * selection: each document's distinct-token-ratio (q132's metric,
    * the ONE shared [[dtrMetric]] definition) is replaced by its
    * within-source ECDF percentile. A global budget cut on the raw
    * score (q85) systematically favors whichever source scores high
    * in absolute terms; after quantile normalization "top 20%" means
    * the same thing in every source — q132 picks one cutoff per
    * source, this re-scores every document onto the common [0,1]
    * scale those decisions compose over.
    *
    * Exactness + scale: the metric lives on the bounded [0, 10000]
    * integer grid, so the exact ECDF needs NO corpus-wide sort or
    * per-row window — a (source, v) histogram (map-side combined),
    * a running sum over the DOMAIN-BOUNDED histogram frame (≤ 10001
    * rows per source — the q63 bounded-frame rule), and a broadcast
    * join back (bounded by the same domain, never corpus-scaled).
    * The percentile is integer half-up 4 dp: (cum ≤ n docs at-or-
    * below v) / n_source. */
  def scoreQuantileNorm(s: SparkSession, dir: String): DataFrame =
    scoreQuantileNormOver(Tables.documents(s, dir))

  /** q190 over an injectable documents frame (the non-vacuous-spec rule). */
  private[graft] def scoreQuantileNormOver(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val m = dtrMetric(docs)
    val hist = m.groupBy($"source", $"v").agg(count(lit(1)).as("c"))
    // the running sum's window partitions on `source` alone, which is
    // low-card — sanctioned ONLY because its input is the (source, v)
    // aggregate (the two-level rule the PlanSpec lint enforces); the
    // checkpoint sits ABOVE the window so the corpus-scanning lineage
    // runs once (q79 rule) and the per-source total derives from the
    // cum frame itself (max cum), not a second pass over hist
    val w = Window.partitionBy($"source").orderBy($"v")
    val cum = graft.operators.Scale.checkpointed(
      hist.withColumn("cum", sum($"c").over(w)))
    val n = cum.groupBy($"source").agg(max($"cum").as("n"))
    m.join(broadcast(cum.join(n, Seq("source"))), Seq("source", "v"))
      .select($"doc_id", $"source", $"v",
        (expr("(20000 * cum + n) div (2 * n)") / 10000.0).as("pct"))
      .orderBy($"doc_id")
  }

  val scoreQuantileNormSql: String =
    """WITH m AS (
      |  SELECT doc_id, source,
      |    (len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) * 10000)
      |      // len(regexp_split_to_array(trim(text), '\s+')) AS v
      |  FROM documents),
      |hist AS (SELECT source, v, count(*) AS c FROM m GROUP BY source, v),
      |tot AS (SELECT source, count(*) AS n FROM m GROUP BY source),
      |cum AS (
      |  SELECT h.source, h.v,
      |    sum(h.c) OVER (PARTITION BY h.source ORDER BY h.v) AS cum, t.n
      |  FROM hist h JOIN tot t USING (source))
      |SELECT m.doc_id, m.source, m.v,
      |  ((20000 * cum.cum + cum.n) // (2 * cum.n)) / 10000.0 AS pct
      |FROM m JOIN cum USING (source, v)
      |ORDER BY doc_id""".stripMargin

  /** q191: RETRIEVAL-QUALITY EVAL (twin rank) — the IR eval harness
    * over the engine's own retrieval stack: every held-out document
    * that HAS a verbatim twin in the training corpus (the q182
    * ground truth — the one relevance labeling this dataset carries
    * that needs no human judgments) becomes a query; BM25 (q150's
    * exact ppm arithmetic, identical k1/b/rational-idf and
    * association order) ranks the training docs; the report gives
    * THE RANK AT WHICH THE KNOWN TWIN SURFACES, per truth pair, with
    * the candidate-set size for context. This is the measurement
    * that decides whether the retrieval index can DRIVE
    * decontamination triage and hard-negative mining — and on this
    * templated corpus it reports the honest negative finding that
    * term-bag BM25 mid-packs a verbatim twin among its near-dup
    * siblings (rank ≈ 30–110 of ~470 candidates at the oracle SFs):
    * span-level evidence (q172/q182), not bag scoring, is what
    * isolates verbatim leakage. A null rank means the twin shared no
    * queried term at all.
    *
    * Query formulation bounds the work: each query is its doc's `m`
    * RAREST corpus terms ((df ASC, term ASC) tie-break — determinism
    * both engines); candidates are the posting-list union of those
    * terms — Σ df of the queried terms, the search-engine cost model
    * (q150's serve note), never a corpus scan per query. Eval terms
    * absent from the corpus drop out of the query on BOTH engines (they
    * cannot rank anything). Scoring floors each (term, doc) partial to
    * ppm BEFORE the per-doc sum — BIGINT, order-independent, exact
    * cross-engine.
    *
    * Execution contract: a warm call plans and runs only the stages
    * its answer needs. Its bounded frames are three eval-bounded driver
    * collects, each under the `spark.graft.decontam.maxProbes` cap
    * ([[TrainQueries.cappedProbes]]):
    *  1. the truth pairs: q182's hits, unsorted and unmaterialized
    *     ([[TrainQueries.decontamHitsOver]]);
    *  2. the query terms (≤ m per truth eval), picked by the one window;
    *     the corpus stats ride that scan as an observation;
    *  3. the rank tail ([[retrievalTail]]): one (eval_id, train_id)
    *     aggregate, at most one row per truth pair plus one per eval.
    * The truth evals, truth pairs and query terms go back into the
    * plan as literal sets (`isin`), which start no job; the query terms
    * also join the postings as one broadcast. The output rows are
    * assembled on the driver. The twin's rank is COUNTED
    * (1 + |candidates strictly ahead|), never taken from a sort over the
    * candidates — same value as the oracle's row_number. */
  def retrievalEval(s: SparkSession, dir: String, m: Int = 8): DataFrame = {
    val (truth, tail) = retrievalTail(s, dir, m)
    val rows = retrievalCollect(tail, "rank tail")
    // tail rows: (eval_id, train_id or NULL, n_candidates, n_better);
    // every group of one eval counts the same candidate rows
    val nCand = rows.groupMapReduce(_.getLong(0))(_.getLong(2))(math.max)
    val rank = rows.filterNot(_.isNullAt(1)).map(r =>
      (r.getLong(0), r.getLong(1)) -> Math.toIntExact(r.getLong(3) + 1L)).toMap
    val out = truth.map { case (e, t) =>
      Row(e, t, rank.get((e, t)).map(Int.box).orNull, nCand.getOrElse(e, 0L))
    }
    // unsorted (the q42/q127 unsorted-output rule): the driver's compare
    // hashes rows order-insensitively; the oracle SQL keeps its ORDER BY
    // as documentation of the canonical presentation order
    s.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      StructField("eval_id", LongType), StructField("train_id", LongType),
      StructField("twin_rank", IntegerType), StructField("n_candidates", LongType,
        nullable = false))))
  }

  /** One of q191's eval-bounded driver collects, under the probe cap. */
  private def retrievalCollect(frame: DataFrame, what: String): Array[Row] =
    TrainQueries.cappedProbes(frame, cap =>
      s"q191 $what: more than $cap rows — the eval side must be a bounded " +
        "benchmark; raise spark.graft.decontam.maxProbes if it genuinely is.")

  /** q191's truth pairs and the frame that scores and ranks them: its
    * rows are (eval_id, train_id, n_candidates, n_better), one per
    * (truth eval, scored twin) and one with a NULL train_id per truth
    * eval none of whose twins scored. PlanSpec pins this frame's plan. */
  private[graft] def retrievalTail(s: SparkSession, dir: String,
      m: Int): (Array[(Long, Long)], DataFrame) = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val truth = retrievalCollect(TrainQueries.decontamHitsOver(docs), "truth pairs")
      .map(r => (r.getLong(0), r.getLong(1)))
    val train = docs.filter($"source" =!= "src0")
    // SCAN-VS-MATERIALIZE, measured: a checkpointed (doc_id, toks, dl)
    // feeding df, the corpus stats and the scoring tf was a WASH at
    // sf0.1 (6.2–6.9 s warm both ways) — the token arrays are no
    // smaller than the text they came from, and the scans enjoy
    // source-filter pushdown — so each consumer re-scans and re-splits
    val toksD = train.select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
    // the corpus stats are an observation on the df scan, so they cost
    // no job of their own. When that scan is provably empty, AQE prunes
    // it and the observation comes back without values: that is the
    // empty training corpus (n_docs 0, avgdl 1.0, the degenerate-corpus
    // gate), and no candidate can score then anyway.
    val statsObs = Observation("q191_corpus_stats")
    val dfT = toksD
      .observe(statsObs, count(lit(1)).as("n_docs"),
        sum(size($"toks").cast("long")).as("s_dl"))
      .select(explode(array_distinct($"toks")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val truthEvals = truth.map(_._1).distinct.toSeq
    val evalToks = docs.filter($"source" === "src0" && $"doc_id".isin(truthEvals: _*))
      .select($"doc_id".as("eval_id"),
        explode(array_distinct(split(trim($"text"), "\\s+"))).as("term"))
    val wQ = Window.partitionBy($"eval_id").orderBy($"df".asc, $"term".asc)
    val qterms = retrievalCollect(
      evalToks.join(dfT, "term")
        .withColumn("rn", row_number().over(wQ)).filter($"rn" <= m)
        .select($"eval_id", $"term", $"df"), "query terms")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val stats = statsObs.get
    val nDocs = stats.get("n_docs").fold(0L)(_.asInstanceOf[Long])
    val sDl = stats.get("s_dl").flatMap(Option(_)).fold(0L)(_.asInstanceOf[Long])
    val avgdl = if (nDocs == 0L) 1.0 else sDl.toDouble / nDocs
    // every arithmetic step mirrors q150's oracle association order
    val idf = (($"df" * lit(-1L) + lit(nDocs)) + lit(0.5)) / ($"df" + lit(0.5))
    val tfn = ($"tf" * lit(2.2)) /
      ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl" / lit(avgdl))))
    // posting rows for queried terms only: the literal term set prunes
    // the token stream BEFORE any exchange, so only the Σ df posting
    // rows shuffle (the search-engine cost model). dl rides each
    // surviving row, so scoring needs no join back to a doc-length
    // frame. BOTH scoring aggregates repartition EXPLICITLY by their
    // group key: the posting rows are tiny in BYTES but each carries
    // real aggregation work, so AQE's byte-based coalescing would fold
    // these exchanges to one partition and serialize the scoring on one
    // core (measured 3.0 → 1.1 s at sf0.1). A user repartition is exempt
    // from coalescing; defaultParallelism keeps it scale-adaptive.
    val tfQ = toksD
      .select($"doc_id", size($"toks").cast("long").as("dl"),
        explode($"toks").as("term"))
      .filter($"term".isin(qterms.map(_._2).distinct.toSeq: _*))
      .repartition(s.sparkContext.defaultParallelism, $"doc_id", $"term")
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), max($"dl").as("dl"))
    val scored = broadcast(qterms.toSeq.toDF("eval_id", "term", "df"))
      .join(tfQ, "term")
      .select($"eval_id", $"doc_id",
        floor(lit(1000000.0) * idf * tfn).cast("long").as("sc"))
      .repartition(s.sparkContext.defaultParallelism, $"eval_id", $"doc_id")
      .groupBy($"eval_id", $"doc_id").agg(sum($"sc").as("score"))
    // the twins' scores (≤ one per truth pair) broadcast into ONE tail
    // aggregate over the candidates: keyed by each eval's twins (a NULL
    // train_id when none scored), every group of one eval counts that
    // eval's candidate rows, and n_better counts the candidates strictly
    // ahead of its twin under (score DESC, doc_id ASC)
    val twins = scored
      .filter(struct($"eval_id", $"doc_id").isin(truth.toSeq.map { case (e, t) =>
        struct(lit(e).as("eval_id"), lit(t).as("doc_id")) }: _*))
      .select($"eval_id", $"doc_id".as("train_id"), $"score".as("t_score"))
    val tail = scored.join(broadcast(twins), Seq("eval_id"), "left")
      .groupBy($"eval_id", $"train_id")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when($"score" > $"t_score" ||
          ($"score" === $"t_score" && $"doc_id" < $"train_id"), 1L)
          .otherwise(0L)).as("n_better"))
    (truth, tail)
  }

  /** Parameterized like the Spark side (the q81 rule). */
  /** Unordered-result note: the Spark side emits these
    * rows UNSORTED — no trailing ORDER BY, because the range sampler
    * would re-execute the heavy final stage purely to order
    * output the driver hashes order-insensitively (check.py sorts
    * rows before hashing). This oracle statement keeps its ORDER BY
    * as the canonical presentation; row order is NOT part of the
    * result contract. */
  def retrievalEvalSql(m: Int = 8): String =
    s"""WITH truth AS (
      |  SELECT DISTINCT e.doc_id AS eval_id, t.doc_id AS train_id
      |  FROM (SELECT doc_id, substr(text, greatest(1, length(text) // 4), 60) AS pat
      |        FROM documents WHERE source = 'src0' AND length(text) >= 80) e
      |  JOIN (SELECT doc_id, text FROM documents WHERE source <> 'src0') t
      |    ON contains(t.text, e.pat)),
      |toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
      |  FROM documents WHERE source <> 'src0'),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
      |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs,
      |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |et AS (
      |  SELECT doc_id AS eval_id,
      |    unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS term
      |  FROM documents WHERE source = 'src0'),
      |qt AS (
      |  SELECT eval_id, term, df FROM (
      |    SELECT e.eval_id, e.term, d.df,
      |      row_number() OVER (PARTITION BY e.eval_id
      |                         ORDER BY d.df ASC, e.term ASC) AS rn
      |    FROM et e JOIN dft d USING (term))
      |  WHERE rn <= $m),
      |scored AS (
      |  SELECT q.eval_id, tf.doc_id,
      |    CAST(sum(CAST(floor(1000000.0
      |      * (((q.df * -1 + s.n_docs) + 0.5) / (q.df + 0.5))
      |      * ((tf.tf * 2.2)
      |         / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / s.avgdl)))))
      |      AS BIGINT)) AS BIGINT) AS score
      |  FROM qt q
      |  JOIN tf ON tf.term = q.term
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT eval_id, doc_id,
      |    row_number() OVER (PARTITION BY eval_id
      |                       ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM scored),
      |nc AS (SELECT eval_id, count(*) AS n_candidates FROM ranked GROUP BY 1)
      |SELECT t.eval_id, t.train_id, r.rank AS twin_rank,
      |  coalesce(nc.n_candidates, 0) AS n_candidates
      |FROM truth t
      |LEFT JOIN ranked r ON r.eval_id = t.eval_id AND r.doc_id = t.train_id
      |LEFT JOIN nc ON nc.eval_id = t.eval_id
      |ORDER BY t.eval_id, t.train_id""".stripMargin

  // ---- q196: span-evidence retrieval (verbatim-overlap ranking) -----

  /** q196: SPAN-EVIDENCE RETRIEVAL — rank candidate training documents
    * for each eval document by their LONGEST COMMON VERBATIM TOKEN
    * SPAN. This operationalizes q191's spec-pinned honest negative:
    * BM25 mid-packs a verbatim twin among equal-bag
    * impostors because bag-of-terms scoring cannot see adjacency;
    * span evidence isolates it — the membership/contamination ranking
    * ("did we train on this, verbatim?") a training-data pipeline
    * wants where q79 flags overlap and q182 proves window hits.
    *
    * Plan, narrated for 100 TB: positional 8-gram fingerprints on
    * both sides via the codegen'd [[graft.functions.GramFpsSeq]] (the
    * fuzz-pinned GramFps algebra, order preserved — one corpus pass,
    * no per-gram strings). The eval side (source = src0) is an EVAL
    * BENCHMARK — bounded by the same contract that caps q182's probe
    * automaton — so it BROADCASTS and the corpus-side gram stream
    * never shuffles: matches surface map-side, and only the HIT rows
    * reach the windowed run-length pass. Hits are sparse by
    * construction (an 8-gram fingerprint collision IS a verbatim
    * 8-token overlap, up to the rolling-hash collision rate), so the
    * (eval, train, diag) window partitions are tiny and Σ-hits-sized,
    * never corpus-sized. A common span of L tokens is a maximal run
    * of consecutive eval positions on one DIAGONAL (tpos − epos):
    * islands via epos − row_number, span = run + n − 1; top-1 per
    * eval by (span DESC, train_id ASC). Fully oracle-checked — the
    * rolling-hash gram family is SQL-expressible (unlike the murmur
    * LSH tiers), so DuckDB re-derives spans from raw text. */
  def spanEvidence(s: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    def grams(side: DataFrame, idCol: String, posCol: String): DataFrame =
      side.select(col("doc_id").as(idCol),
        posexplode(graft.functions.expressions.gram_fps_seq(
          split(trim(col("text")), "\\s+"), n)))
        .toDF(idCol, posCol, "fp")
    val evalG = grams(docs.filter($"source" === "src0"), "eval_id", "epos")
    val trainG = grams(docs.filter($"source" =!= "src0"), "train_id", "tpos")
    val hits = trainG.join(broadcast(evalG), Seq("fp"))
      .select($"eval_id", $"train_id", $"epos", ($"tpos" - $"epos").as("diag"))
    val wRun = Window.partitionBy($"eval_id", $"train_id", $"diag").orderBy($"epos")
    val spans = hits
      .withColumn("isl", $"epos" - row_number().over(wRun))
      .groupBy($"eval_id", $"train_id", $"diag", $"isl")
      .agg(count(lit(1)).as("run"))
      .groupBy($"eval_id", $"train_id")
      .agg(max($"run" + (n - 1)).cast("long").as("span_tokens"))
    val wTop = Window.partitionBy($"eval_id")
      .orderBy($"span_tokens".desc, $"train_id".asc)
    spans.withColumn("rn", row_number().over(wTop)).filter($"rn" === 1)
      .select($"eval_id", $"train_id".as("best_train_id"), $"span_tokens")
      .orderBy($"eval_id")
  }

  /** Parameterized like the Spark side (the q81 rule). Positions are
    * 1-based here and 0-based in Spark — diagonals and island keys
    * are DIFFERENCES, so the base cancels. */
  def spanEvidenceSql(n: Int = 8): String = {
    val fp = fingerprintSql(s"array_to_string(tk[pos:pos+${n - 1}], ' ')")
    s"""WITH t AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS tk
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, source, tk,
      |    unnest(range(1, len(tk) - ${n - 2})) AS pos
      |  FROM t WHERE len(tk) >= $n),
      |g AS (
      |  SELECT doc_id, source, pos, $fp AS fp FROM g0),
      |h AS (
      |  SELECT e.doc_id AS eval_id, r.doc_id AS train_id,
      |    e.pos AS epos, r.pos - e.pos AS diag
      |  FROM g e JOIN g r ON e.fp = r.fp
      |  WHERE e.source = 'src0' AND r.source <> 'src0'),
      |runs AS (
      |  SELECT eval_id, train_id, diag,
      |    epos - row_number() OVER (PARTITION BY eval_id, train_id, diag
      |                              ORDER BY epos) AS isl
      |  FROM h),
      |spans AS (
      |  SELECT eval_id, train_id, CAST(max(run + ${n - 1}) AS BIGINT) AS span_tokens
      |  FROM (SELECT eval_id, train_id, diag, isl, count(*) AS run
      |        FROM runs GROUP BY eval_id, train_id, diag, isl)
      |  GROUP BY eval_id, train_id),
      |ranked AS (
      |  SELECT eval_id, train_id, span_tokens,
      |    row_number() OVER (PARTITION BY eval_id
      |                       ORDER BY span_tokens DESC, train_id) AS rn
      |  FROM spans)
      |SELECT eval_id, CAST(train_id AS BIGINT) AS best_train_id, span_tokens
      |FROM ranked WHERE rn = 1 ORDER BY eval_id""".stripMargin
  }

  // ---- q197: span-evidence triage feed (top-m with offsets) ---------

  /** q197: SPAN-EVIDENCE TRIAGE FEED — q196 extended to the TOP-M
    * candidate training documents per eval doc, each with the best
    * span's TOKEN OFFSETS in both documents (0-based, inclusive end):
    * the drop-in work queue for the q182 decontamination pipeline —
    * a reviewer (or the Aho–Corasick verifier) jumps straight to
    * `eval[eval_start..eval_end]` / `train[train_start..]` instead of
    * re-searching the documents q196 only ranked. Same plan shape and
    * the same 100 TB contract as q196 (bounded eval side broadcasts;
    * corpus grams never shuffle; only hit rows reach the windowed
    * run-length pass) — the only additions are `min(epos)` carried
    * through the island aggregation (one extra agg column, no new
    * exchange) and the per-pair best-run tiebreak (span DESC,
    * eval_start ASC, diag ASC — fully deterministic, so DuckDB
    * re-derives offsets bit-for-bit from raw text). */
  def spanEvidenceOffsets(s: SparkSession, dir: String, n: Int = 8,
      m: Int = 3): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val best = spanPairsOver(docs.filter($"source" === "src0"),
      docs.filter($"source" =!= "src0"), n)
    val wTop = Window.partitionBy($"eval_id")
      .orderBy($"span_tokens".desc, $"train_id".asc)
    best.withColumn("evidence_rank", row_number().over(wTop))
      .filter($"evidence_rank" <= m)
      .select($"eval_id", $"evidence_rank".cast("long").as("evidence_rank"),
        $"train_id", $"span_tokens", $"eval_start", $"eval_end", $"train_start")
      .orderBy($"eval_id", $"evidence_rank")
  }

  /** The PAIR-LEVEL span-evidence chain behind q197 and the streaming
    * ingest guard ([[graft.streaming.Pipeline.screenSpanBatch]] —
    * stream ≡ batch is structural, the non-vacuous-spec rule): best common
    * span per (eval, train) pair with offsets, over injectable
    * frames. Per-pair results carry NO cross-train-document state, so
    * a micro-batch of train docs screens to exactly the rows the
    * whole-corpus pass would produce for those docs. Plan contract as
    * documented on q196/q197: the eval side broadcasts, corpus grams
    * never shuffle, windows only over per-pair hit rows. */
  private[graft] def spanPairsOver(evalDocs: DataFrame, trainDocs: DataFrame,
      n: Int = 8): DataFrame = {
    val s = evalDocs.sparkSession
    import s.implicits._
    def grams(side: DataFrame, idCol: String, posCol: String): DataFrame =
      side.select(col("doc_id").as(idCol),
        posexplode(graft.functions.expressions.gram_fps_seq(
          split(trim(col("text")), "\\s+"), n)))
        .toDF(idCol, posCol, "fp")
    val evalG = grams(evalDocs, "eval_id", "epos")
    val trainG = grams(trainDocs, "train_id", "tpos")
    val hits = trainG.join(broadcast(evalG), Seq("fp"))
      .select($"eval_id", $"train_id", $"epos", ($"tpos" - $"epos").as("diag"))
    val wRun = Window.partitionBy($"eval_id", $"train_id", $"diag").orderBy($"epos")
    val runs = hits
      .withColumn("isl", $"epos" - row_number().over(wRun))
      .groupBy($"eval_id", $"train_id", $"diag", $"isl")
      .agg(count(lit(1)).as("run"), min($"epos").as("estart"))
    val wBest = Window.partitionBy($"eval_id", $"train_id")
      .orderBy($"run".desc, $"estart".asc, $"diag".asc)
    runs.withColumn("rb", row_number().over(wBest)).filter($"rb" === 1)
      .select($"eval_id", $"train_id",
        ($"run" + (n - 1)).cast("long").as("span_tokens"),
        $"estart".cast("long").as("eval_start"),
        ($"estart" + $"run" + (n - 2)).cast("long").as("eval_end"),
        ($"estart" + $"diag").cast("long").as("train_start"))
  }

  /** Offsets re-derived by DuckDB from raw text; its 1-based token
    * positions are shifted to the Spark side's 0-based ones at the
    * end (diagonals/islands are differences, so the base cancels
    * everywhere else). */
  def spanEvidenceOffsetsSql(n: Int = 8, m: Int = 3): String = {
    val fp = fingerprintSql(s"array_to_string(tk[pos:pos+${n - 1}], ' ')")
    s"""WITH t AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS tk
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, source, tk,
      |    unnest(range(1, len(tk) - ${n - 2})) AS pos
      |  FROM t WHERE len(tk) >= $n),
      |g AS (
      |  SELECT doc_id, source, pos, $fp AS fp FROM g0),
      |h AS (
      |  SELECT e.doc_id AS eval_id, r.doc_id AS train_id,
      |    e.pos AS epos, r.pos - e.pos AS diag
      |  FROM g e JOIN g r ON e.fp = r.fp
      |  WHERE e.source = 'src0' AND r.source <> 'src0'),
      |runs AS (
      |  SELECT eval_id, train_id, diag, isl,
      |    count(*) AS run, min(epos) AS estart
      |  FROM (SELECT eval_id, train_id, diag, epos,
      |          epos - row_number() OVER (PARTITION BY eval_id, train_id, diag
      |                                    ORDER BY epos) AS isl
      |        FROM h)
      |  GROUP BY eval_id, train_id, diag, isl),
      |best AS (
      |  SELECT eval_id, train_id,
      |    CAST(run + ${n - 1} AS BIGINT) AS span_tokens,
      |    CAST(estart - 1 AS BIGINT) AS eval_start,
      |    CAST(estart - 1 + run + ${n - 2} AS BIGINT) AS eval_end,
      |    CAST(estart - 1 + diag AS BIGINT) AS train_start,
      |    row_number() OVER (PARTITION BY eval_id, train_id
      |                       ORDER BY run DESC, estart, diag) AS rb
      |  FROM runs),
      |ranked AS (
      |  SELECT eval_id, train_id, span_tokens, eval_start, eval_end, train_start,
      |    row_number() OVER (PARTITION BY eval_id
      |                       ORDER BY span_tokens DESC, train_id) AS evidence_rank
      |  FROM best WHERE rb = 1)
      |SELECT eval_id, CAST(evidence_rank AS BIGINT) AS evidence_rank,
      |  CAST(train_id AS BIGINT) AS train_id, span_tokens,
      |  eval_start, eval_end, train_start
      |FROM ranked WHERE evidence_rank <= $m
      |ORDER BY eval_id, evidence_rank""".stripMargin
  }

  // ---- q192: characteristic tokens per source (PMI lift) ------------

  /** q192: CHARACTERISTIC TOKENS PER SOURCE — the tokens each source
    * is DISPROPORTIONATELY made of, ranked by pointwise-mutual-
    * information lift p(t|s)/p(t) = (n_st·N)/(n_s·n_t). This is the
    * source-fingerprinting report a mixture designer reads before
    * weighting sources (q69/q196 consume the decision; q114's
    * chi-square says HOW MUCH a source diverges, this says BY WHICH
    * TOKENS — the Damerau "characteristic vocabulary" view), and the
    * domain-classifier feature list a C4-style pipeline trains on.
    * Raw frequency (q87) just surfaces globally common words; lift
    * normalizes the unigram prior away.
    *
    * Exactness: all four counts are exact integers off ONE token
    * exchange; the lift is ONE mirrored IEEE chain
    * (`CAST(n_st AS DOUBLE) · N / n_s / n_t` — double-first so no
    * BIGINT product can wrap at web-corpus counts, each op correctly
    * rounded and bit-identical cross-engine), rounded to 6 dp BEFORE
    * ranking so ties break identically (q46 discipline; tie → token
    * asc). A min-count floor (n_st ≥ 5) keeps hapax noise out, the
    * same floor as q165.
    *
    * Plan at 100 TB: one explode → map-side-combined (source, token)
    * count — the ONLY corpus-sized exchange, carrying one row per
    * DISTINCT (source, token); it is checkpointed because three
    * aggregates and the final join all re-read it (the q79
    * materialize-once rule). The marginals join back size-aware with
    * NO broadcast hint (the q138 vocabulary rule — n_t is
    * vocabulary-sized); the 1-row total broadcasts; the per-source
    * top-k window runs over the vocabulary-bounded joined frame
    * (two-level rule), never the corpus. */
  def characteristicTokens(s: SparkSession, dir: String, k: Int = 3,
                           minCount: Long = 5L): DataFrame = {
    import s.implicits._
    val cst = graft.operators.Scale.checkpointed(
      Tables.documents(s, dir)
        .select($"source", explode(split(trim($"text"), "\\s+")).as("token"))
        .groupBy($"source", $"token")
        .agg(count(lit(1)).as("n_st")))
    val cs = cst.groupBy($"source").agg(sum($"n_st").as("n_s"))
    val ct = cst.groupBy($"token").agg(sum($"n_st").as("n_t"))
    val tot = cst.agg(sum($"n_st").as("n"))
    val scored = cst.filter($"n_st" >= minCount)
      .join(cs, Seq("source"))
      .join(ct, Seq("token"))
      .crossJoin(broadcast(tot))
      .withColumn("lift", round($"n_st".cast("double") * $"n" / $"n_s" / $"n_t", 6))
    val w = Window.partitionBy($"source").orderBy($"lift".desc, $"token")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"source", $"token", $"n_st", $"lift", $"rank")
      .orderBy($"source", $"rank")
  }

  /** Parameterized like the Spark side (the q81 rule). */
  def characteristicTokensSql(k: Int = 3, minCount: Long = 5L): String =
    s"""WITH t AS (
      |  SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      |  FROM documents),
      |cst AS (SELECT source, token, count(*) AS n_st FROM t GROUP BY 1, 2),
      |cs AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM cst GROUP BY 1),
      |ct AS (SELECT token, CAST(sum(n_st) AS BIGINT) AS n_t FROM cst GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_st) AS BIGINT) AS n FROM cst),
      |scored AS (
      |  SELECT cst.source, cst.token, cst.n_st,
      |    round(CAST(cst.n_st AS DOUBLE) * tot.n / cs.n_s / ct.n_t, 6) AS lift
      |  FROM cst JOIN cs USING (source) JOIN ct USING (token) CROSS JOIN tot
      |  WHERE cst.n_st >= $minCount),
      |ranked AS (
      |  SELECT source, token, n_st, lift,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY lift DESC, token ASC) AS rank
      |  FROM scored)
      |SELECT source, token, CAST(n_st AS BIGINT) AS n_st, lift, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= $k ORDER BY source, rank""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q192_characteristic_tokens" -> ((s: SparkSession, dir: String) => characteristicTokens(s, dir)),
    "q196_span_evidence" -> ((s: SparkSession, dir: String) => spanEvidence(s, dir)),
    "q197_span_offsets" -> ((s: SparkSession, dir: String) => spanEvidenceOffsets(s, dir)),
    "q191_retrieval_eval" -> ((s: SparkSession, dir: String) => retrievalEval(s, dir)),
    "q190_score_quantile_norm" -> (scoreQuantileNorm _),
    "q150_bm25_topk" -> (bm25TopkServe _),
    "q151_phrase_index_serve" -> (phraseIndexServe _),
    "q153_surprisal_score" -> ((s: SparkSession, dir: String) => surprisalScore(s, dir)),
    "q165_collocations" -> ((s: SparkSession, dir: String) => collocations(s, dir)),
    "q132_adaptive_floor" -> (adaptiveQualityFloor _),
    "q134_inverted_index_serve" -> (invertedIndexServe _),
    "q136_index_tombstone_serve" -> (invertedIndexPurgeServe _),
    "q149_index_compact_serve" -> (invertedIndexCompactServe _),
    "q137_index_upsert_serve" -> (invertedIndexUpsertServe _),
    "q138_textrank_terms" -> ((s: SparkSession, dir: String) => textRankTerms(s, dir)),
    "q114_token_divergence" -> ((s: SparkSession, dir: String) => tokenDivergence(s, dir)),
    "q27_quality_filter" -> (qualityFilter _),
    "q20_clean_filter" -> (cleanFilter _),
    "q21_token_stats" -> (tokenStats _),
    "q22_quality_score" -> (qualityScore _),
    "q23_lang_stats" -> (langStats _),
    "q24_doc_fingerprint" -> (docFingerprint _),
    "q65_tfidf_top_terms" -> (tfidfTopTerms _),
    "q87_top_bigrams" -> ((s: SparkSession, dir: String) => topBigrams(s, dir)),
    "q168_head_mass" -> ((s: SparkSession, dir: String) => headMass(s, dir)),
    "q171_simpson_concentration" -> (simpsonConcentration _),
    "q175_boilerplate_prefix" -> ((s: SparkSession, dir: String) => boilerplatePrefix(s, dir)),
  )

  val oracles: Map[String, String] = Map(
    "q150_bm25_topk" -> bm25TopkServeSql,
    "q151_phrase_index_serve" -> phraseIndexServeSql,
    "q153_surprisal_score" -> surprisalScoreSql(),
    "q165_collocations" -> collocationsSql(),
    "q132_adaptive_floor" -> adaptiveQualityFloorSql,
    "q190_score_quantile_norm" -> scoreQuantileNormSql,
    "q191_retrieval_eval" -> retrievalEvalSql(),
    "q196_span_evidence" -> spanEvidenceSql(),
    "q197_span_offsets" -> spanEvidenceOffsetsSql(),
    "q192_characteristic_tokens" -> characteristicTokensSql(),
    "q134_inverted_index_serve" -> invertedIndexServeSql,
    "q136_index_tombstone_serve" -> invertedIndexPurgeServeSql,
    // q149 compacts the SAME deletion set q136 masks — the oracle is
    // the identity: mask-serve ≡ compact-serve ≡ purge-and-rebuild
    "q149_index_compact_serve" -> invertedIndexPurgeServeSql,
    // q137 serves the FULL corpus after the append — the q134 answer
    // is the correctness bar for the upsert path
    "q137_index_upsert_serve" -> invertedIndexServeSql,
    "q138_textrank_terms" -> textRankTermsSql,
    "q27_quality_filter" -> qualityFilterSql,
    "q20_clean_filter" -> cleanFilterSql,
    "q21_token_stats" -> tokenStatsSql,
    "q22_quality_score" -> qualityScoreSql,
    "q23_lang_stats" -> langStatsSql,
    "q24_doc_fingerprint" -> docFingerprintSql,
    "q65_tfidf_top_terms" -> tfidfTopTermsSql,
    "q114_token_divergence" -> tokenDivergenceSql(),
    "q87_top_bigrams" -> topBigramsSql(),
    "q168_head_mass" -> headMassSql(),
    "q171_simpson_concentration" -> simpsonConcentrationSql,
    "q175_boilerplate_prefix" -> boilerplatePrefixSql(),
  )
}
