package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.api.{HttpFacade, TweetApi}
import graft.streaming.Pipeline

/** A read phase against the HTTP facade: one closed-loop client sends a fixed
  * mix of `/analyze`, `/summary`, `/tweets`, `/tweets?sentiment=` and
  * `/health` while the stream keeps appending to the table it reads.
  * `/store` is left out (the in-memory demo surface; production writes go
  * through the stream) and so is `/export` (its cost follows the window). */
object Reads {
  final case class Req(route: String, ms: Double, resp: Option[HttpResponse[String]], text: Option[String])

  final case class Result(reqs: Seq[Req], failures: Seq[(Req, String)], loopS: Double,
      rowsBefore: Long, rowsAfter: Long) {
    def check: (String, Boolean, String) =
      ("reads.responses_ok", failures.isEmpty,
        s"${reqs.size - failures.size} of ${reqs.size} responses pass, table $rowsBefore -> $rowsAfter rows" +
          failures.headOption.fold("")(f => s"; first failure ${f._1.route}: ${f._2}"))
  }

  /** Run one closed-loop client for `seconds` over the sink table at
    * `tweetsPath`; each request is a span under `parent`. One client sends
    * one request at a time, so each Spark job belongs to one request. */
  def run(spark: SparkSession, tweetsPath: String, seed: Long, seconds: Int,
      tracer: Tracer, parent: Long): Result = {
    val handle = HttpFacade.start(spark, new HttpFacade.InMemoryTweetStore(spark), 0,
      Some(() => Pipeline.readTweets(spark, tweetsPath)))
    try {
      val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val texts = new TweetGen(seed).sampleText _
      def tableRows(): Long = Pipeline.readTweets(spark, tweetsPath).count()
      val rowsBefore = tableRows()
      val reqs = Seq.newBuilder[Req]
      val loopStart = System.nanoTime()
      val deadline = loopStart + seconds * 1000000000L
      val rnd = new java.util.Random(seed * 31)
      val next = routes(rnd)
      while (System.nanoTime() < deadline) {
        val route = next.next()
        val s0 = tracer.now()
        val t0 = System.nanoTime()
        val (resp, text) =
          try { val (r, t) = sendRoute(http, handle.port, route, rnd, texts); (Some(r), t) }
          catch { case _: Exception => (None, None) }
        val ms = (System.nanoTime() - t0) / 1e6
        tracer.record(parent, s"request $route", s0, tracer.now())
        reqs += Req(route, ms, resp, text)
      }
      val loopS = (System.nanoTime() - loopStart) / 1e9
      val rowsAfter = tableRows()
      val done = reqs.result()
      Result(done, done.flatMap(r => check(r, rowsBefore, rowsAfter).map(r -> _)), loopS, rowsBefore, rowsAfter)
    } finally handle.stop()
  }

  /** Per-route figures of a read phase. */
  def layer(r: Result, tweetsPath: String): Map[String, Double] = {
    val files = Files.walk(Path.of(tweetsPath)).iterator.asScala
      .count(p => p.getFileName.toString.endsWith(".parquet"))
    // A route the phase never reached reads 0, with 0 samples.
    Layers.Routes.flatMap { route =>
      val s = Stats.summarize(r.reqs.filter(_.route == route).map(_.ms))
      Seq(s"api.${route}_p50_ms" -> (if (s.n == 0) 0.0 else s.p50), s"api.${route}_samples" -> s.n.toDouble)
    }.toMap + ("api.table_files_end" -> files.toDouble)
  }

  /** Request figures for the report. */
  def details(r: Result): Seq[(String, Double, String)] = {
    val reads = Stats.summarize(r.reqs.filter(q => Layers.Routes.contains(q.route)).map(_.ms))
    val analyze = Stats.summarize(r.reqs.filter(_.route == "analyze").map(_.ms))
    Seq(
      ("reads.requests_per_s", r.reqs.size / r.loopS, "1/s"),
      ("reads.analyze_p50_ms", analyze.p50, "ms"),
      ("reads.analyze_samples", analyze.n.toDouble, "count"),
      ("reads.read_p50_ms", reads.p50, "ms"),
      (s"reads.read_${reads.tailName}_ms", reads.tail.getOrElse(Double.NaN), "ms"),
      ("reads.read_samples", reads.n.toDouble, "count"))
  }

  /** What is wrong with one response, if anything. */
  private def check(r: Req, rowsBefore: Long, rowsAfter: Long): Option[String] = r.resp match {
    case None => Some("no response")
    case Some(resp) if resp.statusCode != 200 => Some(s"status ${resp.statusCode}")
    case Some(resp) =>
      val j = JsonMethods.parse(resp.body)
      def long(v: JValue): Long = v match { case JInt(n) => n.toLong; case JLong(n) => n; case _ => -1L }
      def inTable(n: Long) = n >= rowsBefore && n <= rowsAfter
      r.route match {
        case "analyze" =>
          val want = TweetApi.analyze(r.text.getOrElse(""))
          val got = (j \ "sentiment", j \ "confidence", j \ "scores" \ "compound", j \ "scores" \ "polarity")
          val ok = got._1 == JString(want.sentiment) && got._2 == JDouble(want.confidence) &&
            got._3 == JDouble(want.compound) && got._4 == JDouble(want.polarity)
          if (ok) None else Some(s"analyze body differs from TweetApi.analyze: ${resp.body}")
        case "summary" =>
          val total = long(j \ "total_tweets")
          val groups = (j \ "summary").children.map(g => long(g \ "tweet_count")).sum
          if (total == groups && inTable(total)) None
          else Some(s"total_tweets $total, groups sum $groups, table $rowsBefore..$rowsAfter")
        case "tweets" | "tweets_filtered" =>
          val rows = (j \ "tweets").children
          val count = long(j \ "count")
          val filter = j \ "sentiment_filter"
          val labelsOk = filter match {
            case JString(s) => rows.forall(t => (t \ "final_sentiment") == JString(s))
            case _ => r.route == "tweets"
          }
          if (count == rows.size && count == Limit && labelsOk) None
          else Some(s"count $count, ${rows.size} rows, filter $filter")
        case "health" =>
          val total = long(j \ "table" \ "total_tweets")
          if (inTable(total)) None else Some(s"total_tweets $total outside $rowsBefore..$rowsAfter")
      }
  }

  val Limit = 20
  val Labels: Array[String] = Array("positive", "negative", "neutral")

  /** The request mix: every deck of 20 requests holds these counts, in
    * an order shuffled per seed. */
  private val Deck: Seq[String] = Seq.fill(6)("analyze") ++ Seq.fill(3)("summary") ++
    Seq.fill(3)("tweets") ++ Seq.fill(4)("tweets_filtered") ++ Seq.fill(4)("health")

  /** An endless sequence of routes drawn deck by deck; each deck opens
    * with one request per read route, so a short phase still reaches all. */
  def routes(rnd: java.util.Random): Iterator[String] =
    Iterator.continually {
      val rest = scala.collection.mutable.ArrayBuffer.from(Deck.diff(Layers.Routes))
      java.util.Collections.shuffle(rest.asJava, rnd)
      Layers.Routes ++ rest
    }.flatten

  /** Send one request of `route`; returns the response and, for
    * `/analyze`, the text that was scored. */
  def sendRoute(http: HttpClient, port: Int, route: String, rnd: java.util.Random,
      texts: Long => String): (HttpResponse[String], Option[String]) = route match {
    case "analyze" =>
      val t = texts(rnd.nextInt(100000).toLong)
      (send(http, port, "/analyze", Some(t)), Some(t))
    case "summary" => (send(http, port, "/summary?hours=24", None), None)
    case "tweets" => (send(http, port, s"/tweets?limit=$Limit", None), None)
    case "tweets_filtered" =>
      (send(http, port, s"/tweets?limit=$Limit&sentiment=${Labels(rnd.nextInt(Labels.length))}", None), None)
    case "health" => (send(http, port, "/health", None), None)
  }

  def send(http: HttpClient, port: Int, path: String, text: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    val req = text match {
      case Some(t) => b.POST(HttpRequest.BodyPublishers.ofString(s"""{"text": ${TweetGen.jsonString(t)}}""")).build()
      case None => b.GET().build()
    }
    http.send(req, HttpResponse.BodyHandlers.ofString())
  }
}
