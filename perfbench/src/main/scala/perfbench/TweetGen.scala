package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

/** Seeded generator of tweet envelopes in the stream's JSONL shape.
  *
  * Line `i` is a pure function of (seed, i) except for its
  * `kafka_timestamp`, which is stamped with the creation time the caller
  * passes in. About 1% of lines are malformed JSON, about 5% re-deliver
  * an earlier well-formed line byte for byte (a repeated id), and about
  * 10% of the rest are not English. Texts are 5 to 50 tokens mixing
  * lexicon words with neutral vocabulary, negations, boosters, ALL-CAPS
  * words, emoticons and retweet, mention and URL noise, so the sentiment
  * kernels see varied input rather than a few fixed strings.
  */
final class TweetGen(seed: Long) {
  import TweetGen._

  private val recent = new java.util.ArrayDeque[String]()
  private val malformedLines = Vector.newBuilder[String]
  private var next = 0L

  /** Lines generated so far. */
  def count: Long = next

  /** Every malformed line generated so far, in order. */
  def malformed: Vector[String] = malformedLines.result()

  /** The next line, stamped with `stampMs`. */
  def nextLine(stampMs: Long): String = {
    val i = next
    next += 1
    val r = rng(seed, i)
    val kind = r.nextDouble()
    if (kind < MalformedShare) {
      val full = envelope(i, r, stampMs)
      val bad = full.substring(0, 10 + r.nextInt(full.length / 2))
      malformedLines += bad
      bad
    } else if (kind < MalformedShare + RepeatShare && !recent.isEmpty) {
      val k = r.nextInt(recent.size)
      recent.toArray(new Array[String](0))(k)
    } else {
      val line = envelope(i, r, stampMs)
      recent.addLast(line)
      if (recent.size > RecentWindow) recent.removeFirst()
      line
    }
  }

  /** Write `n` lines as one file in `dir`. The file appears atomically
    * (written under a hidden name, then renamed), so a file source never
    * reads it half-written. Every line carries the time it was made. */
  def writeFile(dir: Path, name: String, n: Int, clock: () => Long): Path = {
    val sb = new StringBuilder
    var k = 0
    while (k < n) { sb.append(nextLine(clock())).append('\n'); k += 1 }
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A tweet text that is a pure function of (seed, i), for request bodies. */
  def sampleText(i: Long): String = text(rng(seed ^ 0x7E47L, i))

  private def envelope(i: Long, r: java.util.Random, stampMs: Long): String = {
    val id = (IdBase + (seed & 0xFFFFL) * 100000000L + i).toString
    val author = (r.nextInt(5000) + 1000).toString
    val lang = if (r.nextDouble() < ForeignShare) ForeignLangs(r.nextInt(ForeignLangs.length)) else "en"
    val created = java.time.Instant.ofEpochSecond(CreatedBase + i).toString
    val sb = new StringBuilder(512)
    sb.append("{\"data\": {\"id\": \"").append(id)
      .append("\", \"text\": ").append(jsonString(text(r)))
      .append(", \"created_at\": \"").append(created)
      .append("\", \"author_id\": \"").append(author)
      .append("\", \"lang\": \"").append(lang)
      .append("\", \"public_metrics\": {\"retweet_count\": ").append(r.nextInt(50))
      .append(", \"like_count\": ").append(r.nextInt(500))
      .append(", \"reply_count\": ").append(r.nextInt(20))
      .append(", \"quote_count\": ").append(r.nextInt(5))
      .append("}}, \"includes\": {\"users\": [{\"id\": \"").append(author)
      .append("\", \"name\": \"User ").append(author)
      .append("\", \"username\": \"user").append(author)
      .append("\", \"public_metrics\": {\"followers_count\": ").append(r.nextInt(100000))
      .append("}}]}, \"kafka_timestamp\": ").append(stampMs).append('}')
    sb.toString
  }

  private def text(r: java.util.Random): String = {
    val n = 5 + r.nextInt(46)
    val out = new scala.collection.mutable.ArrayBuffer[String](n + 2)
    if (r.nextDouble() < 0.15) out ++= Seq("RT", s"@user${r.nextInt(900)}:")
    while (out.size < n) {
      val p = r.nextDouble()
      out += (
        if (p < 0.30) Lexicon(r.nextInt(Lexicon.length))
        else if (p < 0.36) Lexicon(r.nextInt(Lexicon.length)).toUpperCase
        else if (p < 0.42) Negations(r.nextInt(Negations.length))
        else if (p < 0.48) Boosters(r.nextInt(Boosters.length))
        else if (p < 0.52) Emoticons(r.nextInt(Emoticons.length))
        else if (p < 0.55) s"@user${r.nextInt(900)}"
        else if (p < 0.57) s"https://t.co/${Integer.toString(r.nextInt(1 << 30), 36)}"
        else if (p < 0.59) s"#${Neutral(r.nextInt(Neutral.length))}"
        else Neutral(r.nextInt(Neutral.length)))
    }
    if (r.nextDouble() < 0.3) out(out.size - 1) = out.last + "!" * (1 + r.nextInt(3))
    out.mkString(" ")
  }
}

object TweetGen {
  val MalformedShare = 0.01
  val RepeatShare = 0.05
  val ForeignShare = 0.10
  private val RecentWindow = 512
  private val IdBase = 1700000000000000000L
  private val CreatedBase = 1756684800L // 2025-09-01T00:00:00Z
  private val ForeignLangs = Array("ro", "es", "fr", "de", "pt")

  private lazy val Lexicon: Array[String] =
    graft.functions.VaderLexicon.full.keys.filter(w => w.nonEmpty && w.forall(_.isLetter)).toArray.sorted
  private val Negations = Array("not", "never", "no", "isn't", "don't", "can't", "without")
  private val Boosters = Array("very", "extremely", "really", "so", "totally", "barely", "slightly")
  private val Emoticons = Array(":)", ":(", ":D", ";)", ":-(", "<3", ":/")
  private val Neutral = Array("the", "a", "match", "game", "today", "team", "city", "new",
    "phone", "update", "release", "season", "coffee", "train", "weather", "music", "show",
    "week", "people", "we", "they", "this", "that", "is", "was", "at", "in", "on", "with",
    "for", "and", "my", "our", "time", "night", "morning", "news", "story", "video", "post")

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def rng(seed: Long, i: Long): java.util.Random = new java.util.Random(mix(mix(seed) ^ i))

  def jsonString(s: String): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
