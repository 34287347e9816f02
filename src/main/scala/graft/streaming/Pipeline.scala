package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.Artifacts
import graft.functions.Ensemble
import graft.operators.Scale
import graft.queries.TextQueries

/** The tweet stream pipeline (SURVEY §3.1) as ONE Structured Streaming
  * dataflow — replacing the reference's three processes, two HTTP hops
  * and per-record daemon threads (twitter_streamer.py:266-271) with a
  * single declarative plan:
  *
  *   kafka/json source → from_json(envelope) → P1/P2 projection →
  *   C1 clean → F1 filter → C9 sentiment → watermarked dedup(F4) →
  *   foreachBatch { parquet tweets (K3) + hourly-bucketed json (K2) }
  *   + hourly windowed aggregate (the dead sentiment_summary, §1.2d)
  *
  * Every transform is identical for batch and streaming input — the
  * functions take plain DataFrames, so the batch parity tests and the
  * streaming path share one code path (BASELINE.md §B streaming
  * parity: byte-identical rows on a replayed fixture).
  *
  * Scale: stateless until the dedup (state bounded by the watermark,
  * the principled version of the reference's 10k cap-and-clear,
  * twitter_producer.py:203-205) and the windowed agg (state = open
  * windows × sentiment labels). Sinks partition by hour so downstream
  * time-range queries partition-prune (K2's *intended* layout — the
  * reference's %h month-name bug documented at SURVEY §2.2 K2).
  */
object Pipeline {

  /** S2: Kafka source (subscribe topic, latest offsets — offsets are
    * checkpoint-managed, upgrading the reference's auto-commit
    * at-most-once, twitter_streamer.py:49-61). Not exercised in tests
    * (no broker in the sandbox) but the parse path after `value` is
    * shared with [[fromJsonLines]], which is tested. */
  def kafkaSource(s: SparkSession, bootstrap: String, topic: String): DataFrame =
    s.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .load()
      .select(col("value").cast("string").as("json"))

  /** File/JSONL replay source (the test/backfill path). Reads RAW
    * text lines — the same shape as the Kafka value — so malformed
    * input reaches [[splitMalformed]]'s quarantine verbatim (a
    * schema'd JSON read would null bad lines into "{}" first).
    * `maxFilesPerTrigger` bounds per-batch intake — the file-source
    * backpressure knob (Kafka's analog is maxOffsetsPerTrigger). */
  def jsonFileSource(s: SparkSession, path: String, maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val base = s.readStream
    maxFilesPerTrigger.fold(base)(n => base.option("maxFilesPerTrigger", n))
      .text(path)
      .select(col("value").as("json"))
  }

  /** S4/C10: parse JSON envelope with the fixed schema. Malformed
    * lines yield a null struct → quarantined by [[enrich]]'s filter
    * (never kills the query; reference analog twitter_streamer.py:
    * 279-281). */
  def fromJsonLines(df: DataFrame): DataFrame =
    df.select(from_json(col("json"), Schemas.envelope).as("env"))

  /** Malformed-record split (badRecordsPath-style quarantine, SURVEY
    * §2.9 error handling): keeps the RAW line for rows whose envelope
    * failed to parse or carries no id, so bad input is inspectable
    * instead of silently vanishing. */
  def splitMalformed(withRaw: DataFrame): (DataFrame, DataFrame) = {
    val parsed = withRaw.select(col("json"),
      from_json(col("json"), Schemas.envelope).as("env"))
    val bad = parsed.filter(col("env").isNull || col("env.data.id").isNull)
      .select(col("json").as("raw_line"))
    val good = parsed.filter(col("env").isNotNull && col("env.data.id").isNotNull)
      .select(col("env"))
    (good, bad)
  }

  /** The envelope's latent author dimension (SURVEY §2.4): explode
    * includes.users into (user_id, name, username, followers). The
    * streamer copies only author_id (twitter_streamer.py:146); this
    * materializes the relationship the producer already ships. */
  def userDim(parsed: DataFrame): DataFrame =
    parsed.select(explode(col("env.includes.users")).as("u"))
      .select(col("u.id").as("user_id"), col("u.name").as("name"),
        col("u.username").as("username"),
        col("u.public_metrics.followers_count").as("followers_count"))
      .filter(col("user_id").isNotNull)
      .dropDuplicates("user_id")

  /** Broadcast author enrichment: tweets ⋈ broadcast(user dim) on
    * author_id — the dim stays KB-to-MB-sized at any fact scale, so
    * broadcast is always the right physical join. */
  def withAuthorInfo(tweets: DataFrame, users: DataFrame): DataFrame =
    tweets.join(broadcast(users), tweets("author_id") === users("user_id"), "left")
      .drop("user_id")

  /** P1+P2: nested-path projection with defaults (twitter_streamer.py:
    * 141-154, 167-186): envelope → flat columns, engagement counters
    * coalesced to 0, lang renamed language. */
  def project(df: DataFrame): DataFrame =
    df.select(
      col("env.data.id").as("tweet_id"),
      col("env.data.text").as("tweet_text"),
      to_timestamp(col("env.data.created_at")).as("created_at"),
      col("env.data.author_id").as("author_id"),
      coalesce(col("env.data.lang"), lit("")).as("language"),
      coalesce(col("env.data.public_metrics.retweet_count"), lit(0L)).as("retweet_count"),
      coalesce(col("env.data.public_metrics.like_count"), lit(0L)).as("like_count"),
      coalesce(col("env.data.public_metrics.reply_count"), lit(0L)).as("reply_count"),
      coalesce(col("env.data.public_metrics.quote_count"), lit(0L)).as("quote_count"),
      col("env.kafka_timestamp").as("kafka_timestamp"),
      col("env.includes.users").as("users"))

  /** C1+F1+C9: clean, language-filter, sentiment-enrich, stamp
    * processing time. The F1 filter runs BEFORE the analyzer UDFs
    * (the reference's hand-done expensive-expression deferral,
    * twitter_streamer.py:159-164 — here guaranteed by projection
    * order, and the UDFs are deterministic so Catalyst may still
    * reorder cheap predicates in front of them). */
  def enrich(df: DataFrame, processedAt: Option[java.sql.Timestamp] = None): DataFrame = {
    val cleaned = df
      .filter(col("tweet_id").isNotNull)
      .withColumn("cleaned_text", TextQueries.cleanText(col("tweet_text")))
      .filter(col("language") === "en" && length(col("cleaned_text")) > 0)
    val stamped = Ensemble.withSentiment(cleaned, "cleaned_text")
      .withColumn("processed_at",
        processedAt.map(t => lit(t).cast("timestamp")).getOrElse(current_timestamp()))
    // A4 observable metrics (replaces the reference's every-10-records
    // progress log, twitter_streamer.py:274-277): per-batch row count
    // and label mix surface in StreamingQueryProgress.observedMetrics.
    stamped.select(Schemas.enrichedTweet.fieldNames.toIndexedSeq.map(col): _*)
      .observe("enrich_metrics",
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(col("final_sentiment") === "positive", 1L).otherwise(0L)), lit(0L))
          .as("n_positive"),
        coalesce(sum(when(col("final_sentiment") === "negative", 1L).otherwise(0L)), lit(0L))
          .as("n_negative"))
  }

  /** q94's deterministic train/val/test split on the STREAMING
    * enrichment path: a stateless `withColumn`, usable on any stream
    * (no watermark, no state — membership is a pure function of the
    * key). String keys go through the shared codepoint rolling hash
    * first (the engine's ONE cross-engine string hash), numeric keys
    * feed the threshold CASE directly — so a stream keyed by
    * tweet_id and a batch backfill keyed by the same id can only
    * agree (growth/retry stability inherited from q94; parity with
    * the batch assignment pinned in StreamingPipelineSpec). */
  def withSplit(df: DataFrame, idCol: String = "tweet_id"): DataFrame = {
    val key = df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        TextQueries.fingerprint(col(idCol))
      case _ => col(idCol)
    }
    df.withColumn("split", graft.queries.TrainQueries.splitOf(key))
  }

  /** BPE token counting on the STREAMING path — the ingest-time
    * "how many subword tokens is this record" stamp a training
    * pipeline wants before records reach budget/packing decisions.
    * Stateless per-row expression (no watermark, no state), legal on
    * any unbounded plan; pass a trained table from
    * [[graft.queries.BpeQueries.loadBpeTable]] or the pinned one.
    * Stream ≡ batch by construction (same expression object) —
    * pinned in StreamingPipelineSpec. */
  def withBpeTokenCount(df: DataFrame, textCol: String = "cleaned_text",
      table: graft.functions.Bpe.BpeTable = graft.functions.Bpe.pinned): DataFrame =
    df.withColumn("bpe_tokens",
      graft.functions.Bpe.bpe_token_count(col(textCol), table))

  /** q127's filter verdict on the STREAMING path — the ingest-time
    * keep/drop stamp a training pipeline wants before records reach
    * budget/packing decisions. Applies the four STATELESS rules
    * (length / duplicate-bigram / stopword / diversity bits 1/2/8/16)
    * via the SAME staged signal definition batch q127 uses
    * ([[graft.queries.TrainQueries.withQualitySignals]] — one
    * definition → stream ≡ batch on those bits by construction,
    * pinned in StreamingPipelineSpec). Bit 4 (cross-corpus duplicated
    * n-grams) needs corpus-wide state and stays batch-only BY DESIGN:
    * a stream cannot know the corpus dup-gram set at ingest; a real
    * deployment joins that bit in from q122's standing index
    * downstream. Stateless per-row expressions — no watermark, no
    * state, legal on any unbounded plan. */
  def withQualityVerdict(df: DataFrame, textCol: String = "cleaned_text"): DataFrame =
    graft.queries.TrainQueries.withQualitySignals(df, textCol)
      .withColumn("quality_reasons", graft.queries.TrainQueries.statelessReasonBits)
      .withColumn("quality_keep", col("quality_reasons") === 0L)
      .drop(graft.queries.TrainQueries.qualitySignalCols: _*)

  /** Stream-stream join: enrich the tweet stream with a late-arriving
    * engagement-update stream (tweet_id, new counts) within a bounded
    * time window. Both sides are watermarked so join state is purged
    * once `processed_at` passes the tolerance — bounded state at any
    * throughput (SURVEY §2.9 upgraded beyond the reference's
    * capabilities; Structured Streaming's stateful inner join). */
  def joinEngagementUpdates(tweets: DataFrame, updates: DataFrame,
                            tolerance: String = "1 hour"): DataFrame = {
    val t = tweets.withWatermark("processed_at", tolerance)
    val u = updates.withWatermark("update_time", tolerance)
    t.join(u,
      t("tweet_id") === u("update_tweet_id") &&
        u("update_time") >= t("processed_at") &&
        u("update_time") <= t("processed_at") + expr(s"INTERVAL $tolerance"))
      .drop("update_tweet_id")
  }

  /** F4: bounded-state streaming dedup by tweet_id — the principled
    * version of the producer's 10k cap-and-clear set. */
  def dedup(df: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    df.withWatermark("processed_at", watermarkDelay)
      .dropDuplicatesWithinWatermark("tweet_id")

  /** Batch-side dedup with DETERMINISTIC representative selection
    * (K3's INSERT OR IGNORE): the kept row per tweet_id is the
    * lexicographically smallest full row, so replays and re-runs are
    * byte-identical even when a batch carries conflicting rows for
    * one id (dropDuplicates keeps an arbitrary partition-order row).
    *
    * Shuffle width: min(struct(*)) aggregates MAP-SIDE (partial
    * HashAggregate before the exchange), so the shuffle carries at
    * most one full row per (tweet_id × map partition) — on a mostly-
    * unique stream that is ~the input rows, same as any dedup that
    * must deliver whole rows; on a duplicate-heavy replay it shrinks
    * with the duplicate factor. A narrower key→min-fingerprint
    * exchange plus a payload re-join would trade one exchange of
    * full rows for two exchanges plus a join — only worth it when
    * rows are KB-wide; tweet rows are ~300 B. */
  def dedupBatch(df: DataFrame): DataFrame = {
    val cols = df.columns
    df.groupBy(col("tweet_id"))
      .agg(min(struct(cols.toIndexedSeq.map(col): _*)).as("_r"))
      .select(cols.toIndexedSeq.map(c => col(s"_r.$c")): _*)
  }

  /** Full batch-equivalent transform: json lines → enriched, deduped
    * tweets table rows. One code path for both modes. */
  def enrichJson(json: DataFrame, processedAt: Option[java.sql.Timestamp] = None): DataFrame =
    dedupBatch(enrich(project(fromJsonLines(json)), processedAt))

  /** The dead sentiment_summary realized (SURVEY §2.9 windows):
    * hourly tumbling window × final_sentiment with the A1 aggregate
    * set. Works on both batch and streaming input. */
  def hourlySummary(tweets: DataFrame): DataFrame =
    tweets
      .groupBy(window(col("processed_at"), "1 hour").as("date_hour"), col("final_sentiment"))
      .agg(count(lit(1)).as("tweet_count"),
        avg(col("confidence_score")).as("avg_confidence"),
        sum(col("like_count")).as("total_likes"),
        sum(col("retweet_count")).as("total_retweets"))
      .select(col("date_hour.start").as("date_hour"), col("final_sentiment").as("sentiment"),
        col("tweet_count"), col("avg_confidence"), col("total_likes"), col("total_retweets"))

  /** A `foreachBatch` streaming writer in append mode: `body` runs on
    * every micro-batch with its batch id, under `checkpoint` and
    * `trigger`. [[writer]]'s sink uses it, and so does every streamed
    * `*Batch` artifact upsert and report screen below. */
  def batchWriter(df: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)

  /** K2+K3 sinks via one transactional foreachBatch (replacing the
    * fire-and-forget thread fan-out): parquet `tweets` table + the
    * *intended* hourly-bucketed files (C12 "yyyyMMdd_HH" — fixing the
    * %h month-name bug at twitter_streamer.py:205).
    *
    * Precondition: `enriched` holds each `tweet_id` at most once per
    * micro-batch, as [[dedup]]'s `dropDuplicatesWithinWatermark`
    * output does; the body writes each batch as it comes, with no
    * per-batch dedup of its own.
    *
    * Effectively-once: the parquet sink partitions by `_batch_id` and
    * dynamically OVERWRITES that one partition, so a batch replayed
    * after a crash rewrites its own partition instead of appending
    * duplicates (checkpoint gives at-least-once foreachBatch; the
    * idempotent write upgrades it). Read back via [[readTweets]]. */
  def writer(enriched: DataFrame, tweetsPath: String, jsonPath: String,
             checkpoint: String, trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
  : DataStreamWriter[Row] =
    batchWriter(enriched, checkpoint, trigger) { (batch, batchId) =>
      // partitionOverwriteMode is scoped PER WRITE via the writer
      // option (not session conf — a session-global set would race
      // concurrent queries on the shared SparkSession and leak past
      // this batch).
      val b = batch
        .withColumn("date_hour", date_format(col("processed_at"), "yyyyMMdd_HH"))
        .persist()
      try {
        b.drop("date_hour").withColumn("_batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("_batch_id").parquet(tweetsPath)
        // json sink replay-idempotent too: dynamic overwrite of this
        // batch's (date_hour, _batch_id) partitions only
        b.withColumn("_batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("date_hour", "_batch_id").json(jsonPath)
      } finally {
        b.unpersist()
      }
    }

  /** Read the streamed tweets table (hides the `_batch_id` sink
    * bookkeeping partition). */
  def readTweets(s: SparkSession, tweetsPath: String): DataFrame =
    s.read.parquet(tweetsPath).drop("_batch_id")

  /** STREAMING INVERTED-INDEX MAINTENANCE — one
    * micro-batch's (doc_id, text) documents upserted into the SAME
    * bucketed postings artifact the batch lifecycle builds (q134) and
    * appends (q137): postings come from the ONE shared definition
    * ([[TextQueries.postingsOf]]), land via an append with the
    * identical bucketBy(32, term)/sortBy spec — so new files join the
    * same logical buckets and the serve-time scan reads all
    * generations transparently — and the meta sidecar is re-stamped
    * after every batch.
    *
    * Effectively-once: foreachBatch is at-least-once, so the batch is
    * ANTI-JOINED against the doc_ids already indexed before writing —
    * a replayed batch (and any cross-batch duplicate document) adds
    * nothing. The probe reads only the artifact's doc_id column; at
    * 100 TB the doc-membership side would be q84's standing
    * fingerprint index rather than a postings scan.
    *
    * Meta re-stamp: the stamp is the INDEXED-doc count and max id
    * recomputed from the artifact, so after a full corpus replay it
    * equals the batch build's source fingerprint — the stamp
    * discipline that makes stream ≡ batch parity checkable on the
    * sidecar, not just the postings. The count_distinct(term) leg is
    * bucket-local (the artifact is term-bucketed — no exchange); the
    * doc-side legs shuffle only posting keys. */
  def upsertPostingsBatch(batch: DataFrame, table: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    val docs =
      if (s.catalog.tableExists(table))
        batch.join(s.table(table).select($"doc_id").distinct(),
          Seq("doc_id"), "left_anti")
      else batch
    TextQueries.writePostings(TextQueries.postingsOf(docs), table, "append")
    TextQueries.writeMeta(s, table, indexedStamp(s.table(table), "doc_id"))
  }

  /** The stamp a streamed artifact carries: its indexed-key count and
    * max key, which after a full replay equal the batch build's source
    * fingerprint. */
  private def indexedStamp(artifact: DataFrame, key: String): Artifacts.Stamp = {
    val m = artifact.agg(count_distinct(col(key)), max(col(key))).head()
    Artifacts.Stamp(m.getLong(0), m.getLong(1))
  }

  /** STREAMING IVF-PQ INDEX MAINTENANCE — the vector sibling of
    * [[upsertPostingsBatch]], completing the streaming side of the
    * ANN lifecycle (build q144 / upsert q146 / delete q147): one
    * micro-batch of (vec_id, embedding) rows is ENCODED UNDER THE
    * STORED SIDECARS — coarse centroids + PQ codebooks loaded from
    * the artifact, never retrained; the frozen-codebook rule every
    * production IVFADC upsert follows — through the ONE shared
    * [[graft.queries.SimilarityQueries.ivfPqCodeRows]] projection,
    * and appended into the same cell-bucketed code table.
    *
    * Effectively-once: the batch anti-joins the already-indexed
    * vec_ids before writing (at-least-once foreachBatch → replayed
    * and duplicate vectors add nothing; the probe reads only the
    * artifact's id column). After each batch the centroid sidecar is
    * re-stamped with the artifact-derived fingerprint (indexed-vector
    * count + max id), so a full corpus replay reproduces the batch
    * build's stamp — the q94/q97 discipline, as in
    * [[upsertPostingsBatch]]: the lifecycle gate accepts the streamed
    * artifact as fresh. */
  def upsertVectorsBatch(batch: DataFrame, table: String): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    import graft.queries.SimilarityQueries
    val (cent, cb) = SimilarityQueries.loadIvfPqSidecars(s, table)
    val fresh = batch.join(s.table(table).select($"vec_id"),
      Seq("vec_id"), "left_anti")
    Scale.writeBucketed(SimilarityQueries.ivfPqCodeRows(
      fresh.select($"vec_id", $"embedding"), cent, cb), table, "cell", cent.length, mode = "append")
    // re-stamp the sidecar with the post-append fingerprint; its
    // geometry is unchanged (no retraining)
    Artifacts.stamp(s, s"${table}_centroids", indexedStamp(s.table(table), "vec_id"))
  }

  /** Append `rows` to the report `table`, less the rows whose `keys`
    * it already holds: foreachBatch is at-least-once, and this makes a
    * replayed batch add nothing. */
  private def appendNew(rows: DataFrame, table: String, keys: Seq[String]): Unit = {
    val s = rows.sparkSession
    val fresh =
      if (s.catalog.tableExists(table))
        rows.join(s.table(table).select(keys.map(col): _*), keys, "left_anti")
      else rows
    fresh.write.mode("append").format("parquet").saveAsTable(table)
  }

  /** STREAMING NEAR-DUP SCREENING — q158's ingest-time guard running
    * continuously: each micro-batch of (doc_id, text) documents is
    * screened against the STANDING gram index through the ONE shared
    * serve chain ([[graft.queries.DedupQueries.screenAgainstIndex]] —
    * stream ≡ batch screening is structural), and flagged pairs
    * append to a report table, effectively once ([[appendNew]] on the
    * (batch_id, hist_id) pair key). The index itself is NOT mutated —
    * screening is a read-side guard; admission/indexing of survivors
    * is the separate [[upsertPostingsBatch]] path. */
  def screenNeardupBatch(batch: DataFrame, indexTable: String,
      reportTable: String): Unit = {
    val s = batch.sparkSession
    val hits = graft.queries.DedupQueries.screenAgainstIndex(
      batch.select(col("doc_id"), col("text")),
      s.table(indexTable), s.table(s"${indexTable}_counts"))
    appendNew(hits, reportTable, Seq("batch_id", "hist_id"))
  }

  /** STREAMING EXACT-DECONTAMINATION GUARD — q182 running at ingest
    * time: each micro-batch of (doc_id, text) training documents is
    * scanned by the STANDING eval-probe automaton through the ONE
    * shared chain ([[graft.queries.TrainQueries.decontamHits]] —
    * stream ≡ batch is structural), and verbatim-leak pairs append to
    * a report table. The automaton is compiled once from the held-out
    * benchmark (bounded by construction) and closed over by every
    * batch — no per-batch rebuild, no corpus-side state. Effectively
    * once: [[appendNew]] on the (eval_id, train_id) pair key. */
  def screenDecontamBatch(batch: DataFrame,
      ac: graft.functions.AhoCorasick.Automaton, reportTable: String): Unit = {
    val hits = graft.queries.TrainQueries.decontamHits(
      batch.select(col("doc_id"), col("text")), ac)
    appendNew(hits, reportTable, Seq("eval_id", "train_id"))
  }

  /** STREAMING SPAN-EVIDENCE GUARD — q197's
    * pair-level core running at ingest time: each micro-batch of
    * (doc_id, text) training documents is screened for verbatim token
    * spans against the STANDING held-out eval set through the ONE
    * shared chain ([[graft.queries.TextQueries.spanPairsOver]] —
    * stream ≡ batch is structural), and (eval, train, span, offsets)
    * rows append to a report table. Per-pair span evidence carries no
    * cross-train-document state, so batch boundaries cannot change
    * any row; q197's top-m triage ranking is a READ-side view over
    * the accumulated report, not per-batch state. The eval side is
    * bounded (the benchmark being protected — q182's sidecar class),
    * so its per-batch gram pass is eval-sized and broadcasts; batch
    * grams never shuffle. Effectively-once: [[appendNew]] on the
    * (eval_id, train_id) pair key. */
  def screenSpanBatch(batch: DataFrame, evalDocs: DataFrame,
      reportTable: String, n: Int = 8): Unit = {
    val hits = graft.queries.TextQueries.spanPairsOver(
      evalDocs, batch.select(col("doc_id"), col("text")), n)
    appendNew(hits, reportTable, Seq("eval_id", "train_id"))
  }

  /** STREAMING VOCAB-DRIFT GUARD — q183 running at ingest time: each
    * micro-batch of (doc_id, lang, text) documents is tokenized and
    * measured against the STANDING train vocabulary (the stored top-k
    * artifact, screened through the ONE shared rollup
    * [[graft.queries.TrainQueries.oovRollup]] — stream ≡ batch is
    * structural), appending one (batch_id, lang, n_tokens, n_oov,
    * oov_rate) row per language per batch. A rising per-batch OOV
    * rate is the earliest signal that incoming data has drifted away
    * from the tokenizer/vocab the pipeline trained — the guard that
    * pages before a retrain, not after. Effectively-once:
    * [[appendNew]] on the batch id. */
  def screenOovBatch(batch: DataFrame, batchId: Long, vocabTable: String,
      reportTable: String): Unit = {
    val toks = batch.select(col("lang"),
      explode(split(trim(col("text")), "\\s+")).as("tok"))
    val report = graft.queries.TrainQueries
      .oovRollup(toks, batch.sparkSession.table(vocabTable), col("lang"))
      .withColumn("batch_id", lit(batchId))
    appendNew(report, reportTable, Seq("batch_id"))
  }

  /** Compaction: rewrite the streaming sink's per-batch layout into
    * the analytical hour-partitioned table (K2's intended layout).
    * F3 time-range queries over the compacted table partition-prune —
    * at 100 TB a `processed_at >= now()-24h` scan touches 24
    * directories, not the full history. Run periodically (the
    * batch-id layout stays append-only and replay-idempotent; this
    * is the read-optimized projection of it). */
  def compactTweets(s: SparkSession, tweetsPath: String, outPath: String): Unit =
    readTweets(s, tweetsPath)
      .withColumn("date_hour", date_format(col("processed_at"), "yyyyMMdd_HH"))
      .repartition(col("date_hour"))
      .write.mode("overwrite").partitionBy("date_hour").parquet(outPath)

  /** K1: Kafka sink — envelope rows back to a topic as JSON values
    * (producer parity: twitter_producer.py:130-158). Delivery is
    * checkpoint + Kafka-idempotence (strictly stronger than the
    * reference's acks=all/max_in_flight=1 sync publish). Compiled
    * path only in this sandbox (no broker); value encoding shared
    * with the tested to_json path. */
  def kafkaSink(df: DataFrame, bootstrap: String, topic: String,
                checkpoint: String): DataStreamWriter[Row] =
    df.select(kafkaValue(df).as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** The envelope JSON each row of `df` publishes. A frame of one
    * string column is raw envelope lines (the shape the text and Kafka
    * sources read), published as they are; any other frame is envelope
    * rows, published as their JSON object. */
  private[graft] def kafkaValue(df: DataFrame): Column = df.schema.fields match {
    case Array(f) if f.dataType == org.apache.spark.sql.types.StringType => col(f.name)
    case _ => to_json(struct(col("*")))
  }

  /** K4: CSV export sink (sentiment_analysis.py:695-707) — header'd
    * CSV of an export query result; coalesce(1) mirrors the
    * single-response-body semantics, drop it for parallel writes. */
  def exportCsv(df: DataFrame, path: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite").option("header", "true").csv(path)
  }

  /** End-to-end streaming job: source → enrich → [[dedup]] → sinks,
    * plus a quarantine sink: malformed/id-less lines stream to
    * `quarantinePath` as raw text for inspection (its own checkpoint —
    * the two queries progress independently over the same source).
    * K5 console/progress reporting comes free from the streaming UI /
    * StreamingQueryListener. Returns (main, quarantine) queries. */
  def runWithQuarantine(source: DataFrame, tweetsPath: String,
                        jsonPath: String, quarantinePath: String, checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime("60 seconds"))
  : (StreamingQuery, StreamingQuery) = {
    val (good, bad) = splitMalformed(source)
    val main = writer(dedup(enrich(project(good))), tweetsPath, jsonPath,
      s"$checkpoint/main", trigger).start()
    val quarantine = bad.writeStream
      .format("json").option("path", quarantinePath)
      .option("checkpointLocation", s"$checkpoint/quarantine")
      .trigger(trigger).start()
    (main, quarantine)
  }
}
