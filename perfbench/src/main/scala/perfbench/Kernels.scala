package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.TweetApi
import graft.functions.Ensemble
import graft.streaming.Pipeline

/** Per-row cost of the stream's stages on generated tweets, each stage
  * materialized on its own over a cached copy of its input. The clean and
  * filter stage has no entry point of its own: its cost is `Pipeline.enrich`
  * less `Ensemble.withSentiment` over enrich's own cleaned rows. */
object Kernels {
  val Rows = 10000
  val Reps = 3

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist()
    (c, c.count())
  }

  /** Median wall time in ns of materializing `df`, after one untimed run. */
  private def timeNs(df: DataFrame): Double = {
    noop(df)
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); noop(df); (System.nanoTime() - t0).toDouble
    })
  }

  def measure(spark: SparkSession, seed: Long): Map[String, Double] = {
    import spark.implicits._
    val gen = new TweetGen(seed ^ 0x6B65726EL)
    val lines = (0 until Rows).map(_ => gen.nextLine(0L))
    val (raw, nRaw) = cached(lines.toDF("json"))
    val parse = Pipeline.project(Pipeline.fromJsonLines(raw))
    val parseNs = timeNs(parse) / nRaw
    val (parsed, nParsed) = cached(parse)
    val enrich = Pipeline.enrich(parsed)
    val enrichNs = timeNs(enrich)
    val (cleaned, nClean) = cached(enrich.select("cleaned_text"))
    val sentimentTotalNs = timeNs(Ensemble.withSentiment(cleaned, "cleaned_text"))
    val cleanNs = (enrichNs - sentimentTotalNs) / nParsed
    val sentimentNs = sentimentTotalNs / nClean

    val texts = cleaned.select("cleaned_text").as[String].collect()
    texts.take(200).foreach(TweetApi.analyze)
    val analyzeUs = Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      texts.foreach(TweetApi.analyze)
      (System.nanoTime() - t0) / 1e3 / texts.length
    })
    Seq(raw, parsed, cleaned).foreach(_.unpersist())
    Map("functions.parse_ns_per_row" -> parseNs,
      "functions.clean_filter_ns_per_row" -> cleanNs,
      "functions.sentiment_ns_per_row" -> sentimentNs,
      "functions.analyze_us_per_call" -> analyzeUs)
  }
}
