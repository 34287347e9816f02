package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.Trigger
import graft.api.TweetApi
import graft.streaming.Pipeline

/** Demo/acceptance driver for the streaming path: replays envelope
  * JSONL through the full pipeline (file source — same parse path as
  * Kafka after `value`), then serves the reference's API surface over
  * the resulting tweets table. Usage: runMain graft.StreamDemo [dir]. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(Files.createTempDirectory("graft-demo").toString)
    val in = s"$dir/in"; Files.createDirectories(Paths.get(in))
    val spark = Session.local()

    def env(id: String, text: String, lang: String = "en") =
      s"""{"data": {"id": "$id", "text": "$text", "created_at": "2025-09-01T14:03:27.000Z", "author_id": "a$id", "lang": "$lang", "public_metrics": {"retweet_count": 3, "like_count": 17, "reply_count": 1, "quote_count": 0}}, "includes": {"users": [{"id": "a$id", "name": "User $id", "username": "u$id", "public_metrics": {"followers_count": ${id.toInt * 100}}}]}, "kafka_timestamp": 1756735407123}"""

    Files.writeString(Paths.get(s"$in/batch1.jsonl"), Seq(
      env("1", "I love this amazing product!"),
      env("2", "This is terribel and awful."),
      env("2", "This is terribel and awful."),
      env("3", "RT @fan: Best day ever! So excited!"),
      env("4", "Buna ziua lume", lang = "ro"),
      """{ not json""").mkString("\n"))

    // raw text lines — the Kafka-value shape; malformed input reaches
    // the quarantine verbatim instead of being nulled by a schema'd read
    val source = spark.readStream.text(in)
      .select(org.apache.spark.sql.functions.col("value").as("json"))
    val (q, quarantineQ) = Pipeline.runWithQuarantine(source, s"$dir/tweets", s"$dir/json",
      s"$dir/quarantine", s"$dir/ckpt", Trigger.ProcessingTime("1 second"))
    q.processAllAvailable()
    val om = q.recentProgress.flatMap(p => Option(p.observedMetrics.get("enrich_metrics")))
    println(s"=== observed metrics (batch 1): ${om.map(r => s"rows=${r.getAs[Long]("n_rows")} pos=${r.getAs[Long]("n_positive")} neg=${r.getAs[Long]("n_negative")}").mkString("; ")}")

    // second micro-batch arrives while the query runs (incl. a dup of id 1)
    Files.writeString(Paths.get(s"$in/batch2.jsonl"), Seq(
      env("1", "I love this amazing product!"),
      env("7", "What a wonderful day, thanks!")).mkString("\n"))
    q.processAllAvailable()
    quarantineQ.processAllAvailable()
    q.stop(); quarantineQ.stop()
    println("=== quarantine ===")
    spark.read.json(s"$dir/quarantine").show(3, 60)
    println("=== author-enriched (broadcast dim from includes.users) ===")
    val userD = Pipeline.userDim(Pipeline.fromJsonLines(
      spark.read.text(s"$dir/in").select(org.apache.spark.sql.functions.col("value").as("json"))))
    Pipeline.withAuthorInfo(Pipeline.readTweets(spark, s"$dir/tweets"), userD)
      .select("tweet_id", "name", "followers_count", "final_sentiment").orderBy("tweet_id").show(5, false)

    val tweets = Pipeline.readTweets(spark, s"$dir/tweets")
    println("=== tweets table ===")
    tweets.select("tweet_id", "cleaned_text", "final_sentiment", "confidence_score")
      .orderBy("tweet_id").show(20, false)
    println("=== /summary ===")
    TweetApi.summary(tweets, hours = 24 * 365 * 10).show(false)
    println("=== /summary with rollup total ===")
    TweetApi.summaryWithTotal(tweets, hours = 24 * 365 * 10).show(false)
    println("=== /tweets?limit=2&sentiment=positive ===")
    TweetApi.recentTweets(tweets, 2, Some("positive"))
      .select("tweet_id", "final_sentiment").show(false)
    println("=== /health ===")
    TweetApi.health(tweets).show(false)
    println("=== /analyze (driver-side) ===")
    println(TweetApi.analyze("Best day ever! So excited!"))
    println("=== hourly sentiment_summary ===")
    Pipeline.hourlySummary(tweets).show(false)
    Pipeline.compactTweets(spark, s"$dir/tweets", s"$dir/hourly")
    val pruned = spark.read.parquet(s"$dir/hourly")
      .filter(org.apache.spark.sql.functions.col("date_hour") >= "20260101_00")
    println(s"=== compacted hourly partitions: ${new java.io.File(s"$dir/hourly").listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted.mkString(", ")} | pruned-query rows=${pruned.count()}")
    println(s"=== json sink partitions: ${new java.io.File(s"$dir/json").listFiles().filter(_.isDirectory).map(_.getName).toSeq.sorted.mkString(", ")}")
    Pipeline.exportCsv(TweetApi.export(tweets, hours = 24 * 365 * 10), s"$dir/export_csv")
    val csv = new java.io.File(s"$dir/export_csv").listFiles().filter(_.getName.endsWith(".csv")).head
    println(s"=== /export csv header+first line ===")
    scala.io.Source.fromFile(csv).getLines().take(2).foreach(println)
    spark.stop()
  }
}
