package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Export._
import graft.functions.{Ensemble, TextBlobOps, TextBlobScore, Vader, VaderScore}

/** Sentiment pipeline queries (SURVEY §2.8 C2–C9, §3.2).
  *
  * Two tiers:
  *  1. Oracle-checked: a lexicon-count sentiment scorer whose whole
  *     computation (regexp counts → VADER normalization → C2
  *     thresholds → summary aggregation, and the C4–C6 ensemble
  *     arithmetic) is reproducible in DuckDB SQL — this pins the
  *     *rule/threshold* semantics against an independent engine.
  *  2. Rows-only: the full [[Vader]]/[[TextBlobOps]] analyzers (rich
  *     rule set not expressible in SQL) — deterministic, covered by
  *     ScalaTest goldens instead.
  *
  * Scale: tier-1 is pure codegen'd expressions (map-side only until
  * the final small aggregate); tier-2 is two deterministic JVM UDFs
  * evaluated once per row — no shuffle, no state; at 100 TB both are
  * scan-bound.
  */
object SentimentQueries {

  private val PosPat = "\\b(fast|big|merge|join)\\b"
  private val NegPat = "\\b(slow|dup|small|filter)\\b"

  /** Tier-1 scorer: signed lexicon count, VADER-normalized
    * (x/sqrt(x²+15), SURVEY C7 note), classified with the reference's
    * C2 thresholds (±0.05, sentiment_analysis.py:224-229). */
  def lexiconSentiment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pos = size(regexp_extract_all($"text", lit(PosPat), lit(0))).cast("long")
    val neg = size(regexp_extract_all($"text", lit(NegPat), lit(0))).cast("long")
    val diff = (pos - neg).cast("double")
    val compound = round(diff / sqrt(diff * diff + lit(15.0)), 4)
    // sort-before-project (see TextQueries.tokenStats): the range
    // sampler must not re-run the lexicon regexes
    Tables.documents(s, dir)
      .select($"doc_id", $"text").orderBy($"doc_id")
      .select($"doc_id",
        pos.as("n_pos"), neg.as("n_neg"),
        compound.as("compound"),
        Ensemble.vaderLabel(compound).as("sentiment"))
  }

  val lexiconSentimentSql: String =
    """SELECT doc_id, n_pos, n_neg, compound,
      |  CASE WHEN compound >= 0.05 THEN 'positive'
      |       WHEN compound <= -0.05 THEN 'negative'
      |       ELSE 'neutral' END AS sentiment
      |FROM (
      |  SELECT doc_id, n_pos, n_neg,
      |    round((n_pos - n_neg) / sqrt((n_pos - n_neg) * (n_pos - n_neg) + 15.0), 4) AS compound
      |  FROM (
      |    SELECT doc_id,
      |      CAST(len(regexp_extract_all(text, '\b(fast|big|merge|join)\b')) AS BIGINT) AS n_pos,
      |      CAST(len(regexp_extract_all(text, '\b(slow|dup|small|filter)\b')) AS BIGINT) AS n_neg
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** GET /summary over tier-1 labels (A1+A3+W3 on sentiment output —
    * the reference's flagship query shape, sentiment_analysis.py:
    * 450-519). */
  def sentimentSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lexiconSentiment(s, dir)
      .groupBy($"sentiment")
      .agg(count(lit(1)).as("n_docs"),
        round(coalesce(avg($"compound"), lit(0.0)), 4).as("avg_compound"),
        round(coalesce(sum($"n_pos"), lit(0L)).cast("double"), 2).as("total_pos"),
        round(coalesce(sum($"n_neg"), lit(0L)).cast("double"), 2).as("total_neg"))
      .domainOrdered($"n_docs".desc, $"sentiment")
  }

  val sentimentSummarySql: String =
    """SELECT sentiment, count(*) AS n_docs,
      |  round(coalesce(avg(compound), 0.0), 4) AS avg_compound,
      |  round(CAST(coalesce(sum(n_pos), 0) AS DOUBLE), 2) AS total_pos,
      |  round(CAST(coalesce(sum(n_neg), 0) AS DOUBLE), 2) AS total_neg
      |FROM (
      |  SELECT doc_id, n_pos, n_neg,
      |    round((n_pos - n_neg) / sqrt((n_pos - n_neg) * (n_pos - n_neg) + 15.0), 4) AS compound,
      |    CASE WHEN round((n_pos - n_neg) / sqrt((n_pos - n_neg) * (n_pos - n_neg) + 15.0), 4) >= 0.05 THEN 'positive'
      |         WHEN round((n_pos - n_neg) / sqrt((n_pos - n_neg) * (n_pos - n_neg) + 15.0), 4) <= -0.05 THEN 'negative'
      |         ELSE 'neutral' END AS sentiment
      |  FROM (
      |    SELECT doc_id,
      |      len(regexp_extract_all(text, '\b(fast|big|merge|join)\b')) AS n_pos,
      |      len(regexp_extract_all(text, '\b(slow|dup|small|filter)\b')) AS n_neg
      |    FROM documents))
      |GROUP BY sentiment ORDER BY n_docs DESC, sentiment""".stripMargin

  /** C4–C6 ensemble arithmetic oracle-checked on numeric stand-ins:
    * two pseudo-analyzer labels derived from events.value, combined
    * with the exact reference weights/thresholds
    * (sentiment_analysis.py:280-307). */
  def ensembleEvents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vaderL = when($"value" >= 100.0, "positive")
      .when($"value" <= 20.0, "negative").otherwise("neutral")
    val tbL = when($"value" >= 150.0, "positive")
      .when($"value" <= 10.0, "negative").otherwise("neutral")
    val combined = Ensemble.combinedScore(vaderL, tbL)
    Tables.events(s, dir)
      .select($"event_id",
        Ensemble.finalLabel(combined).as("final_sentiment"),
        round(Ensemble.confidence(combined, vaderL, tbL), 4).as("confidence_score"))
      .groupBy($"final_sentiment")
      .agg(count(lit(1)).as("n_events"),
        round(avg($"confidence_score"), 4).as("avg_confidence"))
      .domainOrdered($"n_events".desc, $"final_sentiment")
  }

  val ensembleEventsSql: String =
    """SELECT final_sentiment, count(*) AS n_events,
      |  round(avg(confidence_score), 4) AS avg_confidence
      |FROM (
      |  SELECT event_id,
      |    CASE WHEN combined > 0.1 THEN 'positive'
      |         WHEN combined < -0.1 THEN 'negative' ELSE 'neutral' END AS final_sentiment,
      |    round(least(abs(combined) * CASE WHEN v = t THEN 1.2 ELSE 1.0 END, 1.0), 4) AS confidence_score
      |  FROM (
      |    SELECT event_id, v, t,
      |      (CASE v WHEN 'positive' THEN 1.0 WHEN 'negative' THEN -1.0 ELSE 0.0 END) * 0.6 +
      |      (CASE t WHEN 'positive' THEN 1.0 WHEN 'negative' THEN -1.0 ELSE 0.0 END) * 0.4 AS combined
      |    FROM (
      |      SELECT event_id,
      |        CASE WHEN value >= 100.0 THEN 'positive'
      |             WHEN value <= 20.0 THEN 'negative' ELSE 'neutral' END AS v,
      |        CASE WHEN value >= 150.0 THEN 'positive'
      |             WHEN value <= 10.0 THEN 'negative' ELSE 'neutral' END AS t
      |      FROM events)))
      |GROUP BY final_sentiment ORDER BY n_events DESC, final_sentiment""".stripMargin

  /** Tier-2: full VADER-style analyzer over cleaned docs (rows-only;
    * goldens in SentimentSpec, 60 pinned per-doc values).
    *
    * Deliberately NO global orderBy: a total order on a per-doc map
    * output buys nothing semantically, and the range-partitioner's
    * sampling pass would execute the whole analyzer projection a
    * second time (measured 2× at sf0.1) — at 100 TB an unnecessary
    * total order is exactly the operator you delete. Same rationale
    * for the other per-doc analyzer queries below. */
  def vaderDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("v", VaderScore.vader_score(TextQueries.cleanText($"text")))
      .select($"doc_id", $"v.compound".as("compound"), $"v.positive".as("positive"),
        $"v.negative".as("negative"), $"v.neutral".as("neutral"))
  }

  /** Tier-2: full TextBlob-style analyzer (rows-only; goldens in
    * SentimentSpec). No global sort — see [[vaderDocs]]. */
  def textblobDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("t", TextBlobScore.textblob_score(TextQueries.cleanText($"text")))
      .select($"doc_id", $"t.polarity".as("polarity"), $"t.subjectivity".as("subjectivity"))
  }

  /** Tier-2: the complete C9 analyze_text block (both analyzers +
    * ensemble) over documents — the enriched-tweet sentiment columns.
    * No global sort — see [[vaderDocs]]. */
  def analyzeDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Ensemble.withSentiment(
      Tables.documents(s, dir).withColumn("cleaned_text", TextQueries.cleanText($"text")),
      "cleaned_text")
      .select($"doc_id", $"sentiment_compound", $"textblob_polarity",
        $"vader_sentiment", $"textblob_sentiment", $"final_sentiment", $"confidence_score")
  }

  /** q33 as a SELF-VALIDATING query (the q19/q56/q57 pattern): run
    * the full VADER analyzer over every document and emit its
    * theorems as booleans the DuckDB oracle pins `true` —
    *  - totality: every doc gets a non-null score;
    *  - compound ∈ [-1,1] (the x/√(x²+α) normalization's range);
    *  - pos/neg/neu proportions each ∈ [0,1] and sum to 1 (±0.002,
    *    the analyzer rounds proportions to 3dp);
    *  - no valenced tokens (pos=neg=0) ⇒ compound = 0.
    * The analyzer still runs once per row (the aggregate consumes
    * it), so this measures and exercises exactly the work of the
    * score-emitting form ([[vaderDocs]], which remains the API
    * surface with per-doc goldens in SentimentSpec). */
  def vaderDocsValidated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // coalesce: bool_and over ZERO docs is NULL, not a violated
    // theorem — vacuous truth on empty corpora (the q44 discipline,
    // held by the degenerate-corpus gate)
    vaderDocs(s, dir).agg(
      count(lit(1)).as("n_docs"),
      coalesce(expr("bool_and(compound is not null and positive is not null and negative is not null and neutral is not null)"), lit(true)).as("all_scored"),
      coalesce(expr("bool_and(compound between -1 and 1)"), lit(true)).as("compound_in_range"),
      coalesce(expr("bool_and(positive between 0 and 1 and negative between 0 and 1 and neutral between 0 and 1)"), lit(true)).as("props_in_range"),
      coalesce(expr("bool_and(abs(positive + negative + neutral - 1.0) <= 0.002)"), lit(true)).as("props_sum_one"),
      coalesce(expr("bool_and(not (positive = 0 and negative = 0) or compound = 0)"), lit(true)).as("no_valence_zero_compound"))
  }

  val vaderDocsValidatedSql: String =
    """SELECT count(*) AS n_docs, true AS all_scored, true AS compound_in_range,
      |  true AS props_in_range, true AS props_sum_one, true AS no_valence_zero_compound
      |FROM documents""".stripMargin

  /** q34 self-validation: TextBlob polarity ∈ [-1,1], subjectivity ∈
    * [0,1], totality — pinned true by the oracle (see
    * [[vaderDocsValidated]] for the pattern rationale). */
  def textblobDocsValidated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    textblobDocs(s, dir).agg(
      count(lit(1)).as("n_docs"),
      coalesce(expr("bool_and(polarity is not null and subjectivity is not null)"), lit(true)).as("all_scored"),
      coalesce(expr("bool_and(polarity between -1 and 1)"), lit(true)).as("polarity_in_range"),
      coalesce(expr("bool_and(subjectivity between 0 and 1)"), lit(true)).as("subjectivity_in_range"))
  }

  val textblobDocsValidatedSql: String =
    """SELECT count(*) AS n_docs, true AS all_scored,
      |  true AS polarity_in_range, true AS subjectivity_in_range
      |FROM documents""".stripMargin

  /** q35 self-validation: the C9 composite block's ensemble theorems,
    * RE-DERIVED from the output columns through an independent
    * expression tree and compared — final label must equal the
    * C4–C6 arithmetic applied to the two analyzer labels, and the
    * confidence must equal the agreement-boosted |combined| — plus
    * label totality and confidence range. A wiring mistake between
    * the analyzer struct and the ensemble columns fails these. */
  def analyzeDocsValidated(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = Seq("positive", "negative", "neutral")
    val combined2 = Ensemble.combinedScore($"vader_sentiment", $"textblob_sentiment")
    val expectedFinal = Ensemble.finalLabel(combined2)
    val expectedConf = round(Ensemble.confidence(combined2, $"vader_sentiment", $"textblob_sentiment"), 4)
    analyzeDocs(s, dir).agg(
      count(lit(1)).as("n_docs"),
      coalesce(expr(s"bool_and(vader_sentiment in ('${labels.mkString("','")}') and " +
        s"textblob_sentiment in ('${labels.mkString("','")}') and " +
        s"final_sentiment in ('${labels.mkString("','")}'))"), lit(true)).as("labels_valid"),
      coalesce(expr("bool_and(confidence_score between 0 and 1)"), lit(true)).as("confidence_in_range"),
      coalesce(expr("bool_and(sentiment_compound between -1 and 1 and textblob_polarity between -1 and 1)"), lit(true)).as("scores_in_range"),
      coalesce(min($"final_sentiment" === expectedFinal), lit(true)).as("ensemble_label_consistent"),
      coalesce(min($"confidence_score" === expectedConf), lit(true)).as("confidence_consistent"))
  }

  val analyzeDocsValidatedSql: String =
    """SELECT count(*) AS n_docs, true AS labels_valid, true AS confidence_in_range,
      |  true AS scores_in_range, true AS ensemble_label_consistent, true AS confidence_consistent
      |FROM documents""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_lexicon_sentiment" -> (lexiconSentiment _),
    "q31_sentiment_summary" -> (sentimentSummary _),
    "q32_ensemble_events" -> (ensembleEvents _),
    "q33_vader_docs" -> (vaderDocsValidated _),
    "q34_textblob_docs" -> (textblobDocsValidated _),
    "q35_analyze_docs" -> (analyzeDocsValidated _),
  )

  val oracles: Map[String, String] = Map(
    "q30_lexicon_sentiment" -> lexiconSentimentSql,
    "q31_sentiment_summary" -> sentimentSummarySql,
    "q32_ensemble_events" -> ensembleEventsSql,
    "q33_vader_docs" -> vaderDocsValidatedSql,
    "q34_textblob_docs" -> textblobDocsValidatedSql,
    "q35_analyze_docs" -> analyzeDocsValidatedSql,
  )
}
