package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Ensemble, TextBlobOps, Vader}
import graft.streaming.Pipeline

/** Engine façade mirroring the reference's Flask surface (SURVEY
  * §2.11, route table sentiment_analysis.py:575-715). Each endpoint
  * is exactly one operator composition over the `tweets` DataFrame;
  * `store` REUSES the pipeline-computed sentiment (single analysis —
  * the reference re-analyzes per store, sentiment_analysis.py:378,
  * doubling the work for identical output since analyze_text is
  * deterministic on cleaned_text).
  */
object TweetApi {

  final case class AnalyzeResult(
      sentiment: String, confidence: Double,
      compound: Double, positive: Double, negative: Double, neutral: Double,
      polarity: Double, subjectivity: Double)

  /** POST /analyze (sentiment_analysis.py:578-593): score one text
    * through the C9 composite. Driver-side scalar call — the batch
    * path is [[Ensemble.withSentiment]]. */
  def analyze(text: String): AnalyzeResult = {
    val cleaned = if (text == null) "" else text.trim
    val v = Vader.score(cleaned)
    val t = TextBlobOps.score(cleaned)
    val (label, conf) = Ensemble.scalarEnsemble(v.compound, t.polarity)
    AnalyzeResult(label, conf, v.compound, v.positive, v.negative, v.neutral,
      t.polarity, t.subjectivity)
  }

  /** POST /store semantics in batch: idempotent dedup-append (K3). */
  def store(tweets: DataFrame): DataFrame = Pipeline.dedupBatch(tweets)

  // F3 window predicate + the A1/A3 aggregate set, shared by both
  // summary endpoints so they can never diverge
  private def inWindow(tweets: DataFrame, hours: Int): DataFrame =
    tweets.filter(col("processed_at") >= current_timestamp() - expr(s"INTERVAL $hours HOURS"))

  private val summaryAggs = Seq(
    count(lit(1)).as("tweet_count"),
    coalesce(avg("confidence_score"), lit(0.0)).as("avg_confidence"),
    coalesce(sum("like_count"), lit(0L)).as("total_likes"),
    coalesce(sum("retweet_count"), lit(0L)).as("total_retweets"))

  /** GET /summary?hours=N (sentiment_analysis.py:617-634): F3 window
    * + A1 aggregate + A3 coalescing + W3 sort; A2 grand total comes
    * from summing tweet_count client-side or via [[summaryWithTotal]]. */
  def summary(tweets: DataFrame, hours: Int = 24): DataFrame =
    inWindow(tweets, hours)
      .groupBy(col("final_sentiment"))
      .agg(summaryAggs.head, summaryAggs.tail: _*)
      .orderBy(desc("tweet_count"))

  /** /summary with the A2 grand total in the SAME pass via rollup
    * (the reference re-sums group counts in Python,
    * sentiment_analysis.py:628; one rollup scan replaces that). The
    * total row carries final_sentiment = "ALL", identified via
    * grouping() so a data group whose label is literally NULL cannot
    * masquerade as the total. */
  def summaryWithTotal(tweets: DataFrame, hours: Int = 24): DataFrame =
    inWindow(tweets, hours)
      .rollup(col("final_sentiment"))
      .agg(summaryAggs.head, summaryAggs.tail :+ grouping(col("final_sentiment")).as("_total"): _*)
      .select(
        when(col("_total") === 1, lit("ALL"))
          .otherwise(coalesce(col("final_sentiment"), lit("unscored"))).as("final_sentiment"),
        col("tweet_count"), col("avg_confidence"), col("total_likes"), col("total_retweets"))
      .orderBy(desc("tweet_count"))

  /** GET /tweets?limit=K&sentiment=S (sentiment_analysis.py:636-655):
    * optional F2 filter + W1 top-k by recency
    * (TakeOrderedAndProject — no full sort). */
  def recentTweets(tweets: DataFrame, limit: Int = 50, sentiment: Option[String] = None): DataFrame = {
    val base = sentiment.fold(tweets)(s => tweets.filter(col("final_sentiment") === s))
    base.orderBy(desc("processed_at")).limit(limit)
  }

  /** GET /export?hours=N (sentiment_analysis.py:668-715): F3 window +
    * W2 recency sort (unbounded). CSV shaping is the caller's
    * concern (df.write.option("header",true).csv or toLocalIterator). */
  def `export`(tweets: DataFrame, hours: Int = 24): DataFrame = // backticks: Scala 3 keyword
    inWindow(tweets, hours).orderBy(desc("processed_at"))

  /** GET /health analog: table-level liveness stats. */
  def health(tweets: DataFrame): DataFrame =
    tweets.agg(count(lit(1)).as("total_tweets"),
      max("processed_at").as("last_processed_at"))
}
