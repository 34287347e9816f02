package perfbench

import java.nio.file.{Files, Path}
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.{PhaseTimer, SparkEntry, Tables}

/** `queries`: a cold pass, then warm passes, over a fixed subset of the
  * registered queries on a generated fixture. The cold pass checks each
  * result's fingerprint against the expectation recorded for the fixture;
  * warm passes materialize through the `noop` sink. */
final class Queries(fixture: String, expectedFile: Option[Path], recordFile: Option[Path])
    extends Workload {
  import Queries._

  def primaryHigherIsBetter: Boolean = false

  /** Check the fixture's schemas and run the session's first job. */
  def prepare(spark: SparkSession, work: Path): Unit = {
    val drift = Tables.sentinel(spark, fixture)
    if (drift.nonEmpty) throw new IllegalStateException(drift.mkString("; "))
    Kernels.noop(Tables.lineitem(spark, fixture).groupBy("l_returnflag").count())
  }

  def release(): Unit = ()

  def measure(spark: SparkSession, work: Path, seconds: Int, tracer: Tracer): Outcome = {
    // Stored artifacts from an earlier pass would turn the cold pass warm.
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val root = tracer.newId()
    val phaseStart = tracer.now()
    val cpu0 = Main.cpuNs()
    var failed = 0L
    var attempted = 0L

    /** Run every query once, materialized by `sink`; returns wall seconds
      * per query, NaN for a query that failed. */
    def pass(label: String)(sink: (String, DataFrame) => Unit): Map[String, Double] = {
      val passId = tracer.newId()
      val t0 = tracer.now()
      val times = Subset.map { name =>
        attempted += 1
        val q0 = tracer.now()
        val s = System.nanoTime()
        val ok = try { sink(name, SparkEntry.queries(name)(spark, fixture)); true }
        catch { case e: Exception => System.err.println(s"[perfbench] $name failed: $e"); failed += 1; false }
        val dt = (System.nanoTime() - s) / 1e9
        tracer.record(passId, s"query $name", q0, tracer.now())
        name -> (if (ok) dt else Double.NaN)
      }.toMap
      tracer.record(root, label, t0, tracer.now(), passId)
      times
    }

    // The cold pass collects each result for its fingerprint: the check
    // costs no extra pass, and collecting, like the noop sink, computes
    // every output column.
    val prints = scala.collection.mutable.Map.empty[String, Fingerprint.Print]
    PhaseTimer.drain()
    val cold = pass("cold pass")((name, df) => prints(name) = Fingerprint.of(df))
    val lifecycle = PhaseTimer.drain()
    // Warm passes, through the noop sink: as many as fill the measuring
    // window on the reference host, a fixed count so every run does the
    // same work.
    val warm = (1 to math.max(2, math.round(seconds / PassSeconds).toInt))
      .map(k => pass(s"warm pass $k")((_, df) => Kernels.noop(df)))
    val phaseEnd = tracer.now()
    val cpuMsPerQuery = (Main.cpuNs() - cpu0) / 1e6 / (Subset.size * (1 + warm.size))
    tracer.record(0, "queries", phaseStart, phaseEnd, root)

    recordFile.foreach(p => Files.write(p, Fingerprint.render(Subset.flatMap(n => prints.get(n).map(n -> _)))
      .getBytes("UTF-8")))
    val expected = expectedFile.filter(Files.exists(_)).map(Fingerprint.load).getOrElse(Map.empty)
    // A query that threw is already counted as failed and has no print.
    val mismatches = Subset.flatMap { name =>
      prints.get(name).flatMap { got =>
        expected.get(name) match {
          case None if recordFile.isEmpty => Some(s"$name has no expectation")
          case Some(e) if got.rows != e.rows || (e.digest.nonEmpty && e.digest != got.digest) =>
            Some(s"$name: ${got.rows} rows ${got.digest.getOrElse("")} != expected ${e.rows} rows ${e.digest.getOrElse("")}")
          case _ => None
        }
      }
    }
    failed += mismatches.size
    val unchecked = Subset.filterNot(prints.contains)

    val perQuery = Subset.map(n => n -> Stats.median(warm.map(_(n)))).toMap
    val warmTotal = perQuery.values.sum
    val coldTotal = cold.values.sum
    val geomeanMs = Stats.geomean(perQuery.values.map(_ * 1000))
    val families = Layers.Families.map(f => f -> Subset.filter(familyOf(_) == f).map(perQuery).sum)
    val layer = if (!tracer.enabled) Map.empty[String, Double] else
      families.map { case (f, s) => s"queries.$f.warm_s" -> s }.toMap ++ Map(
        "queries.build_s" -> lifecycle.getOrElse("build", 0.0),
        "queries.validate_s" -> lifecycle.getOrElse("validate", 0.0))
    Outcome(
      attempted = attempted,
      failed = failed,
      checks = Seq(("queries.fingerprints_match", mismatches.isEmpty && unchecked.isEmpty,
        if (mismatches.isEmpty && unchecked.isEmpty)
          s"${Subset.size} queries match the expectations in ${expectedFile.map(_.getFileName).getOrElse("-")}"
        else (mismatches ++ unchecked.map(n => s"$n failed")).mkString("; "))),
      endToEnd = Map("cpu_ms_per_op" -> cpuMsPerQuery),
      perLayer = layer,
      details = Seq(
        ("queries.cpu_ms_per_query", cpuMsPerQuery, "ms"),
        ("queries.throughput_per_s", Subset.size / warmTotal, "1/s"),
        ("queries.warm_p50_ms", Stats.median(perQuery.values) * 1000, "ms"),
        ("queries.cold_total_s", coldTotal, "s"),
        ("queries.warm_total_s", warmTotal, "s"),
        ("queries.warm_geomean_ms", geomeanMs, "ms"),
        ("queries.warm_passes", warm.size.toDouble, "count"),
        ("queries.count", Subset.size.toDouble, "count")) ++
        families.map { case (f, s) => (s"queries.$f.warm_s", s, "s") } ++
        Subset.map(n => (s"query.$n.warm_s", perQuery(n), "s")) ++
        Subset.map(n => (s"query.$n.cold_s", cold(n), "s")),
      primary = warmTotal,
      phaseStartMs = phaseStart,
      phaseEndMs = phaseEnd)
  }
}

object Queries {
  /** Wall time of one warm pass on a 4-core reference host. */
  val PassSeconds = 9.0

  /** One query per family, so each family's warm time is a per-layer
    * figure. Seven are the member nearest the family's median warm time in
    * the project's full-registry record: these are dominated by the
    * per-query planning and scheduling floor. Text and similarity instead
    * take a member of the registry's compute/shuffle tail (q191's
    * retrieval evaluation, q92's stored IVF index, whose cold pass builds
    * and validates an artifact), and BPE its trained-merges member, which
    * also builds one (`queries.build_s`, `queries.validate_s`). */
  val Subset: Seq[String] = Seq(
    "q68_unpivot_metrics", "q170_hour_profile", "q191_retrieval_eval",
    "q187_split_leak_neardups", "q92_ivf_stored_nn", "q30_lexicon_sentiment",
    "q52_media_features", "q118_pack_manifest", "q101_bpe_trained_tokens")

  private lazy val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> graft.queries.Relational.queries.keySet,
    "EventQueries" -> graft.queries.EventQueries.queries.keySet,
    "TextQueries" -> graft.queries.TextQueries.queries.keySet,
    "DedupQueries" -> graft.queries.DedupQueries.queries.keySet,
    "SimilarityQueries" -> graft.queries.SimilarityQueries.queries.keySet,
    "SentimentQueries" -> graft.queries.SentimentQueries.queries.keySet,
    "MediaQueries" -> graft.queries.MediaQueries.queries.keySet,
    "TrainQueries" -> graft.queries.TrainQueries.queries.keySet,
    "BpeQueries" -> graft.queries.BpeQueries.queries.keySet)

  def familyOf(name: String): String = modules.find(_._2.contains(name)).map(_._1).getOrElse("?")
}

/** Order-insensitive result fingerprint: a row count and a 64-bit sum of
  * per-row hashes over values rendered with doubles rounded to nine
  * significant digits, so last-bit differences in float summation order
  * do not count as a different answer. Columns are taken in name order. */
object Fingerprint {
  final case class Print(rows: Long, digest: Option[String])

  def render(v: Any): String = v match {
    case null => "~"
    case d: Double => if (d.isNaN) "NaN" else if (d == 0.0) "0" else f"$d%.9g"
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case b: Array[Byte] => b.mkString("b[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(df: DataFrame): Print = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var n = 0L
    df.collect().foreach { r =>
      val s = order.map(i => render(r.get(i))).mkString("|")
      sum += (MurmurHash3.stringHash(s, 0x1234).toLong << 32) ^ (MurmurHash3.stringHash(s, 0x5678) & 0xFFFFFFFFL)
      n += 1
    }
    Print(n, Some(java.lang.Long.toHexString(sum)))
  }

  def render(fps: Seq[(String, Print)]): String =
    fps.map { case (n, p) =>
      s"""  ${TweetGen.jsonString(n)}: {"rows": ${p.rows}, "digest": ${p.digest.fold("null")(TweetGen.jsonString)}}"""
    }.mkString("{\n", ",\n", "\n}\n")

  def load(p: Path): Map[String, Print] = {
    implicit val formats: Formats = DefaultFormats
    JsonMethods.parse(new String(Files.readAllBytes(p), "UTF-8")) match {
      case JObject(fields) => fields.map { case (n, v) =>
        n -> Print((v \ "rows").extract[Long], (v \ "digest").extractOpt[String])
      }.toMap
      case _ => Map.empty
    }
  }
}
