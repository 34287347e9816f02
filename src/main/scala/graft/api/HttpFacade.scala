package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Json
import graft.streaming.Pipeline

/** A REAL port-bound HTTP façade over [[TweetApi]], serving the
  * reference's Flask routes (`sentiment_analysis.py:575-715`). Built on
  * the JDK's own `com.sun.net.httpserver` (no new dependency — the
  * build's no-extra-libraries rule holds) with JSON via json4s, which
  * Spark itself ships.
  *
  * Route-for-route parity with the reference (same paths, query
  * params, response keys, and status codes):
  *   - `POST /analyze`  {"text": ...} → C9 composite scores; 400 on
  *     missing/empty text (`sentiment_analysis.py:578-593`)
  *   - `POST /store`    envelope JSON → enrich + idempotent dedup
  *     append; {"status","message"} / 400 (`:595-615`)
  *   - `GET /summary?hours=N`  → {"summary":[...],"hours","total_tweets"}
  *     — the rollup variant, so the grand total is computed in the
  *     SAME Spark pass, not re-summed server-side (`:617-634`)
  *   - `GET /tweets?limit=K&sentiment=S` → {"tweets","count",
  *     "sentiment_filter"} (`:636-655`)
  *   - `GET /export?hours=N&format=csv|json` → text/csv attachment
  *     (via the K4 sink — Spark's writer does the quoting) or JSON
  *     (`:668-715`)
  *   - `GET /health` → liveness + table stats (`:657-666`)
  *
  * Driver-side `.collect()` is used ONLY where the response is bounded
  * by construction (summary ≤ |labels|+1 rows, /tweets by `limit`),
  * after the heavy lifting (filter/agg/top-k) ran distributed. /export
  * — the one route bounded only by a time predicate — STREAMS instead:
  * CSV via a distributed K4-sink write file-copied to the socket,
  * JSON via `toLocalIterator` into a chunked response, so
  * driver memory stays partition-bounded at any window size. The
  * façade is an engine BOUNDARY: results leave Spark exactly once,
  * shaped.
  */
object HttpFacade {

  /** Minimal mutable tweet store backing /store and the read routes in
    * single-process (Flask-parity) mode. Appends run the SAME enrich +
    * dedup path as the streaming pipeline (one code path — the
    * reference re-analyzes per store); `localCheckpoint` cuts lineage
    * so N appends cost O(1) plan depth, not an O(N) union tower. The
    * production path remains [[Pipeline.writer]] + `readTweets` (this
    * store is the API-demo/unit-test surface, documented as such). */
  final class InMemoryTweetStore(spark: SparkSession) {
    import spark.implicits._
    @volatile private var current: Option[DataFrame] = None

    def append(envelopeJson: String): Long = synchronized {
      val incoming = Pipeline.enrichJson(Seq(envelopeJson).toDF("json"))
      val merged = current match {
        case Some(c) => Pipeline.dedupBatch(c.unionByName(incoming))
        case None    => incoming
      }
      val pinned = merged.localCheckpoint(true)
      current = Some(pinned)
      pinned.count()
    }

    def snapshot(): DataFrame = current.getOrElse(
      Pipeline.enrichJson(spark.emptyDataset[String].toDF("json")))
  }

  /** Running server handle: the bound port (0 in `start` picks an
    * ephemeral one — tests use this) and a clean stop that also shuts
    * down the request executor, so no request thread outlives a
    * start/stop cycle. */
  final case class Handle(server: HttpServer, port: Int,
      executor: java.util.concurrent.ExecutorService) {
    def stop(): Unit = { server.stop(0); executor.shutdown() }
  }

  /** Rows → JSON array via Spark's own per-row JSON encoder (types,
    * timestamps, and nulls serialize exactly as the engine defines). */
  private def rowsJson(df: DataFrame): (Seq[String], Int) = {
    val rows = df.toJSON.collect().toSeq
    (rows, rows.size)
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split("&").toSeq
      .flatMap { kv => kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }}.toMap).getOrElse(Map.empty)

  private def respond(ex: HttpExchange, status: Int, body: String,
      contentType: String = "application/json",
      extraHeaders: Seq[(String, String)] = Nil): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    extraHeaders.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  private def errorJson(msg: String): String = s"""{"error": ${Json.str(msg)}}"""

  private def handle(ex: HttpExchange, method: String)(f: => Unit): Unit =
    try {
      if (ex.getRequestMethod != method)
        respond(ex, 405, errorJson("Method not allowed"))
      else f
    } catch {
      case e: Exception =>
        // log THEN answer: a swallowed exception makes server-side
        // failures undiagnosable; and if the failure happened after
        // headers were already sent (streaming routes), the 500
        // respond itself throws — the nested try turns that into a
        // plain connection close instead of a second exception.
        System.err.println(
          s"[http] ${ex.getRequestMethod} ${ex.getRequestURI} failed: $e")
        try respond(ex, 500, errorJson("Internal server error"))
        catch { case _: Exception => () }
    } finally ex.close()

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  /** Bind the façade. `tweets` supplies the table each read-route
    * query runs over (the store's snapshot by default; a production
    * caller passes `() => Pipeline.readTweets(spark, path)`). */
  def start(spark: SparkSession, store: InMemoryTweetStore,
      port: Int = 0, tweetsOverride: Option[() => DataFrame] = None): Handle = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val tweets: () => DataFrame = tweetsOverride.getOrElse(() => store.snapshot())

    val server = HttpServer.create(new InetSocketAddress(port), 0)
    val executor = java.util.concurrent.Executors.newCachedThreadPool()
    server.setExecutor(executor)

    server.createContext("/analyze", ex => handle(ex, "POST") {
      val text = JsonMethods.parseOpt(readBody(ex))
        .flatMap(j => (j \ "text") match {
          case JString(s) => Some(s); case _ => None
        }).getOrElse("")
      if (text.isEmpty) respond(ex, 400, errorJson("No text provided"))
      else {
        val r = TweetApi.analyze(text)
        respond(ex, 200,
          s"""{"sentiment": ${Json.str(r.sentiment)}, "confidence": ${r.confidence},
             | "scores": {"compound": ${r.compound}, "positive": ${r.positive},
             | "negative": ${r.negative}, "neutral": ${r.neutral},
             | "polarity": ${r.polarity}, "subjectivity": ${r.subjectivity}}}"""
            .stripMargin.replaceAll("\n", ""))
      }
    })

    server.createContext("/store", ex => handle(ex, "POST") {
      val body = readBody(ex)
      if (body.trim.isEmpty || JsonMethods.parseOpt(body).isEmpty)
        respond(ex, 400, errorJson("No tweet data provided"))
      else {
        store.append(body)
        respond(ex, 200,
          """{"status": "success", "message": "Tweet stored successfully"}""")
      }
    })

    server.createContext("/summary", ex => handle(ex, "GET") {
      val hours = queryParams(ex).get("hours").flatMap(_.toIntOption).getOrElse(24)
      // rollup: groups + grand total in ONE pass; the "ALL" row becomes
      // the response's total_tweets instead of a server-side re-sum.
      // Rows are parsed STRUCTURALLY, so this route does not depend on
      // toJSON's field ordering.
      val rows = TweetApi.summaryWithTotal(tweets(), hours).toJSON.collect().toSeq
        .map(r => r -> JsonMethods.parse(r))
      val (totalRows, groupRows) = rows.partition {
        case (_, j) => (j \ "final_sentiment") == JString("ALL")
      }
      val total = totalRows.headOption.map { case (_, j) =>
        j \ "tweet_count" match {
          case JInt(n) => n.toString
          case JLong(n) => n.toString
          case _ => "0"
        }
      }.getOrElse("0")
      respond(ex, 200,
        s"""{"summary": [${groupRows.map(_._1).mkString(",")}], "hours": $hours, "total_tweets": $total}""")
    })

    server.createContext("/tweets", ex => handle(ex, "GET") {
      val p = queryParams(ex)
      val limit = p.get("limit").flatMap(_.toIntOption).getOrElse(50)
      val sentiment = p.get("sentiment")
      val (rows, n) = rowsJson(TweetApi.recentTweets(tweets(), limit, sentiment))
      val filt = sentiment.map(Json.str).getOrElse("null")
      respond(ex, 200,
        s"""{"tweets": [${rows.mkString(",")}], "count": $n, "sentiment_filter": $filt}""")
    })

    server.createContext("/export", ex => handle(ex, "GET") {
      // BOUNDED export: /export is the one read route bounded only by
      // a time predicate, not a row limit, so it never collects the
      // window on the driver. Both formats stream: the response is
      // produced incrementally and driver memory stays O(one
      // partition / one copy buffer) regardless of window size.
      val p = queryParams(ex)
      val hours = p.get("hours").flatMap(_.toIntOption).getOrElse(24)
      val format = p.getOrElse("format", "csv").toLowerCase
      val out = TweetApi.export(tweets(), hours)
      if (format == "csv") {
        // K4 sink reused: Spark's CSV writer owns quoting/escaping and
        // the write itself runs distributed; the driver only STREAMS
        // the finished file to the socket (Files.copy, fixed buffer).
        val tmp: Path = Files.createTempDirectory("graft-export")
        try {
          Pipeline.exportCsv(out, tmp.resolve("csv").toString)
          val listing = Files.list(tmp.resolve("csv"))
          val part = try {
            listing.toArray.map(_.asInstanceOf[Path])
              .find(_.getFileName.toString.endsWith(".csv"))
          } finally listing.close()
          ex.getResponseHeaders.set("Content-Type", "text/csv")
          ex.getResponseHeaders.set("Content-Disposition",
            s"attachment; filename=tweets_${hours}h.csv")
          part match {
            case Some(f) =>
              ex.sendResponseHeaders(200, Files.size(f))
              val os = ex.getResponseBody
              try Files.copy(f, os) finally os.close()
            case None =>
              ex.sendResponseHeaders(200, -1) // no part file: empty body
          }
        } finally {
          val walk = Files.walk(tmp)
          try walk.sorted(java.util.Comparator.reverseOrder[Path]())
            .forEach(f => Files.deleteIfExists(f))
          finally walk.close()
        }
      } else {
        // JSON: rows stream through toLocalIterator — one partition
        // resident at a time — into a CHUNKED response (length 0 ⇒
        // Transfer-Encoding: chunked; the client sees bytes as rows
        // arrive, the driver never holds the window).
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, 0L)
        val os = ex.getResponseBody
        try {
          val w = new java.io.BufferedWriter(
            new java.io.OutputStreamWriter(os, StandardCharsets.UTF_8))
          w.write("{\"tweets\": [")
          val it = out.toJSON.toLocalIterator()
          var n = 0L
          while (it.hasNext) {
            if (n > 0) w.write(",")
            w.write(it.next())
            n += 1
          }
          w.write(s"], \"count\": $n}")
          w.flush()
        } finally os.close()
      }
    })

    server.createContext("/health", ex => handle(ex, "GET") {
      val h = TweetApi.health(tweets()).toJSON.collect().headOption.getOrElse("{}")
      respond(ex, 200,
        s"""{"status": "healthy", "timestamp": ${Json.str(java.time.Instant.now.toString)},
           | "database": "spark-parquet", "table": $h}"""
          .stripMargin.replaceAll("\n", ""))
    })

    server.start()
    Handle(server, server.getAddress.getPort, executor)
  }
}
