package graft

import org.apache.spark.sql.functions._
import graft.streaming.Pipeline

/** Streaming-path throughput benchmark: N synthetic tweet envelopes
  * through the full enrich pipeline (parse → project → clean → filter
  * → 2-analyzer sentiment → dedup). Prints one JSON line.
  *
  * Reference context: the original pipeline is hard-capped at ~1.7
  * tweets/s (100 per 60 s poll, BASELINE.md §A) and does 2 blocking
  * HTTP hops per tweet; this path is a single in-process plan.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val cpus = Session.defaultCores
    val spark = Session.local(cpus)
    import spark.implicits._

    val texts = Array(
      "I love this amazing product!", "This is terribel and awful.",
      "It's okay, nothing special.", "RT @fan: Best day ever! So excited!",
      "not great, not terrible, just very average honestly",
      "the service was EXTREMELY slow but the food was wonderful!!")
    // distribute envelope generation (id collision rate ~0 at n≤1e6)
    val json = spark.range(n).select(
      concat(lit("""{"data": {"id": """"), $"id",
        lit("""", "text": """"), element_at(lit(texts), ($"id" % texts.length + 1).cast("int")),
        lit("""", "created_at": "2025-09-01T14:03:27.000Z", "author_id": "a"""), $"id" % 1000,
        lit("""", "lang": "en", "public_metrics": {"retweet_count": 3, "like_count": 17, "reply_count": 1, "quote_count": 0}}, "kafka_timestamp": 1756735407123}"""))
        .as("json"))

    // warm-up (codegen + UDF init)
    Pipeline.enrichJson(json.limit(1000)).count()

    val t0 = System.nanoTime()
    val out = Pipeline.enrichJson(json).count()
    val secs = (System.nanoTime() - t0) / 1e9
    val rps = out / secs
    println(s"""{"metric":"stream_enrich_throughput","value":$rps,"unit":"rows/sec","rows":$out,"seconds":$secs,"cpus":$cpus}""")

    // Kafka round-trip leg (S2/K1, KAFKA_NOTE.md): ACTIVATES ONLY
    // when the connector jar is on the classpath AND a broker is
    // named — e.g. a cluster operator ran with
    //   --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2
    //   SPARK_GRAFT_KAFKA=host:9092 SPARK_GRAFT_KAFKA_TOPIC=graft-bench
    // Without either, the leg reports "inactive" instead of failing —
    // the honest boundary between compile-only and runtime-verified.
    val kafkaJar =
      try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
      catch { case _: ClassNotFoundException => false }
    (sys.env.get("SPARK_GRAFT_KAFKA"), kafkaJar) match {
      case (Some(bootstrap), true) =>
        val topic = sys.env.getOrElse("SPARK_GRAFT_KAFKA_TOPIC", "graft-bench")
        val ckpt = java.nio.file.Files.createTempDirectory("graft-kafka-bench").toString
        // feed envelopes through a file STREAM so the publish leg runs
        // Pipeline.kafkaSink exactly as deployed (a streaming writer)
        val feed = s"$ckpt/feed"
        json.limit(10000).write.mode("overwrite").text(feed)
        val sink = Pipeline.kafkaSink(
          spark.readStream.text(feed), bootstrap, topic, s"$ckpt/sink")
        // one-shot micro-batch publish, then read the topic back
        // through Pipeline.kafkaSource and count the round trip
        val k0 = System.nanoTime()
        sink.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
        val got = Pipeline.kafkaSource(spark, bootstrap, topic)
          .writeStream.format("memory").queryName("kafka_roundtrip")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$ckpt/src").start()
        got.awaitTermination()
        val back = spark.table("kafka_roundtrip").count()
        val ksecs = (System.nanoTime() - k0) / 1e9
        println(s"""{"metric":"kafka_roundtrip_rows","value":$back,"unit":"rows","seconds":$ksecs}""")
      case _ =>
        println(s"""{"metric":"kafka_roundtrip_rows","value":-1,"unit":"rows","inactive":true,"jar_present":$kafkaJar,"broker_named":${sys.env.contains("SPARK_GRAFT_KAFKA")}}""")
    }
    spark.stop()
  }
}
