package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import graft.functions._
import graft.plans.{AsOfJoinStrategy, PruneColumnsThroughAsOfJoin, PushFilterThroughAsOfJoin}

/** The one way to start a Spark session in this codebase, and the one
  * way to install the engine's Catalyst extensions on any session.
  *
  * [[local]] builds (or returns) the process-wide local session with
  * the settings every main needs: `local[cores]`, shuffle partitions,
  * AQE, the UTC session time zone (the events loader casts
  * TIMESTAMP_NTZ through it, so an unpinned host would shift
  * `events.ts`), no UI, and log level WARN — the level Bench's
  * codegen-fallback sentinel listens at, so callers must not raise it.
  *
  * [[install]] is idempotent (the Pathling `SqlStrategy.setup`
  * pattern): it adds the native as-of join's planner strategy and its
  * two optimizer rules, and registers the SQL functions, each at most
  * once per session. `AsOfJoin.asofJoin` calls it lazily, so as-of
  * joins also plan on sessions this factory never built. */
object Session {

  /** Core count for every main: `$SPARK_GRAFT_CPUS`, otherwise the
    * host's processor count. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session on `cores` threads; shuffle partitions default to
    * `cores`. */
  def local(cores: Int = defaultCores, shufflePartitions: Option[Int] = None,
      aqe: Boolean = true): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores).toLong)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    install(spark)
    spark
  }

  private val asOfRules = Seq(PushFilterThroughAsOfJoin, PruneColumnsThroughAsOfJoin)

  /** Idempotently add the as-of join strategy, its rules and the SQL
    * functions to this session. */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
    val missing = asOfRules.filterNot(exp.extraOptimizations.contains)
    if (missing.nonEmpty)
      exp.extraOptimizations = exp.extraOptimizations ++ missing
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, cls, build) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id))
        registry.registerFunction(id, new ExpressionInfo(cls.getName, name), build)
    }
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private type SqlFunction = (String, Class[_], Seq[Expression] => Expression)

  private def unary(name: String, cls: Class[_], build: Expression => Expression): SqlFunction =
    (name, cls, (args: Seq[Expression]) => args match {
      case Seq(c) => build(c)
      case _ => throw new IllegalArgumentException(s"$name(text)")
    })

  /** The SQL surface of the custom expressions: (name, class, builder).
    * Argument orders mirror the Scala API exactly — the int parameters
    * would silently misassign otherwise. `bloom_contains` is
    * Scala-API-only: its filter argument is a built sketch carried as
    * an expression literal, which SQL has no ergonomic syntax for. */
  private[graft] val sqlFunctions: Seq[SqlFunction] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity], (args: Seq[Expression]) =>
      CosineSimilarity(Cast(args(0), ArrayType(DoubleType)), Cast(args(1), ArrayType(DoubleType)))),
    ("minhash_signature", classOf[MinHashSignature], (args: Seq[Expression]) => args match {
      case Seq(c) => MinHashSignature(c, 1, 128, 42)
      case Seq(c, n) => MinHashSignature(c, intArg(n, "shingle_n"), 128, 42)
      case Seq(c, n, k) => MinHashSignature(c, intArg(n, "shingle_n"), intArg(k, "k"), 42)
      case Seq(c, n, k, s) =>
        MinHashSignature(c, intArg(n, "shingle_n"), intArg(k, "k"), intArg(s, "seed"))
      case _ => throw new IllegalArgumentException(
        "minhash_signature(tokens[, shingle_n[, k[, seed]]])")
    }),
    ("simhash64", classOf[SimHash64], (args: Seq[Expression]) => args match {
      case Seq(c) => SimHash64(c, 42)
      case Seq(c, s) => SimHash64(c, intArg(s, "seed"))
      case _ => throw new IllegalArgumentException("simhash64(tokens[, seed])")
    }),
    ("hll_distinct", classOf[HllDistinct], (args: Seq[Expression]) => (args match {
      case Seq(c) => HllDistinct(c)
      case Seq(c, p) => HllDistinct(c, intArg(p, "precision"))
      case _ => throw new IllegalArgumentException("hll_distinct(col[, precision])")
    }).toAggregateExpression()),
    ("cms_sketch", classOf[CountMinSketchAgg], (args: Seq[Expression]) => (args match {
      case Seq(c) => CountMinSketchAgg(c)
      case Seq(c, w) => CountMinSketchAgg(c, intArg(w, "width"))
      case Seq(c, w, d) => CountMinSketchAgg(c, intArg(w, "width"), intArg(d, "depth"))
      case _ => throw new IllegalArgumentException("cms_sketch(col[, width[, depth]])")
    }).toAggregateExpression()),
    ("cms_query", classOf[CountMinQuery], (args: Seq[Expression]) => args match {
      case Seq(t, item) => CountMinQuery(t, item, 1024)
      case Seq(t, item, w) => CountMinQuery(t, item, intArg(w, "width"))
      case Seq(t, item, w, d) => CountMinQuery(t, item, intArg(w, "width"), intArg(d, "depth"))
      case _ => throw new IllegalArgumentException("cms_query(table, item[, width[, depth]])")
    }),
    ("top_k_by", classOf[TopKBy], (args: Seq[Expression]) => (args match {
      case Seq(ord, tie, k) => TopKBy(Cast(ord, DoubleType), Cast(tie, LongType), intArg(k, "k"))
      case _ => throw new IllegalArgumentException("top_k_by(ord, tie, k)")
    }).toAggregateExpression()),
    ("bloom_build", classOf[BloomBuild], (args: Seq[Expression]) => (args match {
      case Seq(c) => BloomBuild(c)
      case Seq(c, bits) => BloomBuild(c, intArg(bits, "numBits"))
      case Seq(c, bits, k) => BloomBuild(c, intArg(bits, "numBits"), intArg(k, "numHashes"))
      case _ => throw new IllegalArgumentException("bloom_build(col[, numBits[, numHashes]])")
    }).toAggregateExpression()),
    unary("analyze_sentiment", classOf[AnalyzeSentiment], AnalyzeSentiment(_)),
    unary("vader_score", classOf[VaderScore], VaderScore(_)),
    unary("textblob_score", classOf[TextBlobScore], TextBlobScore(_)),
    unary("lang_id", classOf[LangIdDetect], LangIdDetect(_)))
}
