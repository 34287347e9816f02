package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import graft.plans.{AsOfJoin, AsOfJoinExec, AsOfJoinStrategy, PruneColumnsThroughAsOfJoin, PushFilterThroughAsOfJoin}

/** The session factory and the one extension install: `install` is
  * idempotent, it is what makes the SQL functions resolve, factory
  * sessions carry the shared settings, and as-of joins still plan on a
  * session the factory never built. */
class SessionSpec extends SparkSpec {

  private def classic(s: SparkSession) =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Every rule instance across the optimizer's batches (`batches` is
    * protected in Scala, public in bytecode). */
  private def optimizerRules(s: SparkSession): Seq[Any] = {
    val opt = classic(s).sessionState.optimizer
    val batches = opt.getClass.getMethod("batches").invoke(opt).asInstanceOf[Seq[AnyRef]]
    batches.flatMap(b => b.getClass.getMethod("rules").invoke(b).asInstanceOf[Seq[Any]])
  }

  private def asOfStrategies(s: SparkSession): Int =
    classic(s).sessionState.planner.strategies.count(_ eq AsOfJoinStrategy)

  private def tinyAsOf(s: SparkSession) = {
    import s.implicits._
    AsOfJoin.asofJoin(Seq((1, 10L)).toDF("k", "lt"), Seq((1, 5L, 7)).toDF("rk", "rt", "v"),
      Seq("k"), Seq("rk"), "lt", "rt")
  }

  test("install twice leaves the as-of strategy and each as-of rule registered once") {
    val s = spark.newSession()
    Session.install(s)
    Session.install(s)
    val df = tinyAsOf(s) // asofJoin installs lazily a third time
    assert(df.collect().map(_.getInt(4)).toSeq == Seq(7))
    assert(asOfStrategies(s) == 1)
    val rules = optimizerRules(s)
    assert(rules.count(_ == PushFilterThroughAsOfJoin) == 1)
    assert(rules.count(_ == PruneColumnsThroughAsOfJoin) == 1)
    // the shared suite session: built by the factory, installed since
    Session.install(spark)
    assert(asOfStrategies(spark) == 1)
  }

  test("on a new session, install makes every SQL function resolve") {
    val s2 = spark.newSession()
    intercept[AnalysisException](s2.sql("SELECT lang_id('hello world')").collect())
    Session.install(s2)
    val registry = classic(s2).sessionState.functionRegistry
    val names = Session.sqlFunctions.map(_._1)
    assert(names.size == 12)
    names.foreach(n => assert(registry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)), n))

    val cos = s2.sql(
      "SELECT cosine_similarity(array(1.0D, 2.0D), array(2.0D, 4.0D)) c").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val hll = s2.sql(
      "SELECT hll_distinct(id % 100) FROM range(10000)").head().getLong(0)
    assert(math.abs(hll - 100.0) / 100.0 < 0.05)
    val sim = s2.sql(
      "SELECT simhash64(array('a','b','c')) = simhash64(array('a','b','c')) eq").head().getBoolean(0)
    assert(sim)
    // bloom_build(col, numBits, numHashes): the serialized filter is
    // header (8 B) + numBits/8 payload, and the header carries k —
    // a positional numBits/numHashes swap would fail both asserts
    val bl = s2.sql(
      "SELECT bloom_build(id, 4096, 4) b FROM range(10)").head().getAs[Array[Byte]](0)
    assert(bl.length == 8 + 4096 / 8)
    assert(graft.functions.BloomUtil.fromBytes(bl)._2 == 4)
    // SQL arg order mirrors the Scala API: (tokens, shingle_n, k, seed)
    val mh = s2.sql(
      "SELECT size(minhash_signature(array('x','y'), 1, 32)) n").head().getInt(0)
    assert(mh == 32)
    // CMS: build in SQL, point-query in SQL — 10 distinct ids in a
    // 512-wide depth-4 table are collision-free, so est is exact
    val cms = s2.sql(
      """SELECT cms_query(s.cms.table, '7', 512) est
        |FROM (SELECT cms_sketch(CAST(id % 10 AS STRING), 512) cms
        |      FROM range(1000)) s""".stripMargin).head().getLong(0)
    assert(cms == 100, s"expected exact 100, got $cms")
    // 3-arg sketch / 4-arg probe: depth rides through SQL too
    val cmsD = s2.sql(
      """SELECT cms_query(s.cms.table, '3', 256, 6) est
        |FROM (SELECT cms_sketch(CAST(id % 10 AS STRING), 256, 6) cms
        |      FROM range(1000)) s""".stripMargin).head().getLong(0)
    assert(cmsD == 100, s"expected exact 100 at (256, 6), got $cmsD")
    // top_k_by(ord, tie, k): best-first (ord DESC, tie ASC)
    val tk = s2.sql(
      """SELECT top_k_by(CAST(id % 7 AS DOUBLE), id, 3) t
        |FROM range(100)""".stripMargin)
      .selectExpr("transform(t, x -> x.tie) ties").head().getSeq[Long](0)
    assert(tk == Seq(6L, 13L, 20L), s"expected ties (6,13,20), got $tk")
    // the codegen'd analyzers from plain SQL — the reference's
    // /analyze semantics as one SELECT
    val an = s2.sql(
      "SELECT analyze_sentiment('I love this, it is great').compound c").head().getDouble(0)
    assert(an == graft.functions.Vader.score("I love this, it is great").compound)
    val vs = s2.sql("SELECT vader_score('terrible awful').compound").head().getDouble(0)
    assert(vs == graft.functions.Vader.score("terrible awful").compound && vs < 0)
    val tb = s2.sql("SELECT textblob_score('I love this').polarity").head().getDouble(0)
    assert(tb == graft.functions.TextBlobOps.score("I love this").polarity)
    val li = s2.sql(
      "SELECT lang_id('the quick brown fox jumps over the lazy dog and it is fine').lang")
      .head().getString(0)
    assert(li == "en")
  }

  test("a factory session pins UTC, disables the UI and sizes shuffles to its cores") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("asofJoin plans AsOfJoinExec on a session the factory never built") {
    val s = spark.newSession()
    assert(s.experimental.extraStrategies.isEmpty)
    val df = tinyAsOf(s)
    assert(df.queryExecution.sparkPlan.collectFirst { case e: AsOfJoinExec => e }.nonEmpty,
      df.queryExecution.sparkPlan.toString)
    assert(df.collect().length == 1)
  }
}
