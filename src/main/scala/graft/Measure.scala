package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The one way to time a registered query: Bench, TimeQueries and
  * Profile all measure through [[once]].
  *
  * A query is materialized through the `noop` sink, which pulls every
  * output column through the full physical plan but writes nothing
  * (`.count()` would let Catalyst prune computed columns and drop the
  * final sort, under-measuring projection-shaped queries). */
object Measure {

  /** One timed execution: wall seconds (negative when the query threw),
    * the first error message, and the [[PhaseTimer]] seconds the query
    * function spent in eager artifact work. */
  case class Run(sec: Double, err: Option[String], phases: Map[String, Double]) {
    /** This run, or an exception naming `name` when the query threw —
      * for the harnesses whose run must fail on a query error. */
    def orFail(name: String): Run = {
      err.foreach(e => throw new IllegalStateException(s"$name failed: $e"))
      this
    }
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build and materialize `fn(spark, dir)` once. The phase accumulator
    * is drained before the run (discarding anything a previous failure
    * left behind) and after it, so `phases` belong to this run only. */
  def once(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Run = {
    PhaseTimer.drain()
    val t0 = System.nanoTime()
    try {
      noop(fn(spark, dir))
      Run((System.nanoTime() - t0) / 1e9, None, PhaseTimer.drain())
    } catch {
      case e: Throwable =>
        Run(-(System.nanoTime() - t0) / 1e9,
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)), PhaseTimer.drain())
    }
  }

  /** Untimed warm-up (JVM, parquet reader, codegen, one shuffle, the
    * noop sink, table footers), so start-up cost is not billed to the
    * first measured query. Never fails the caller: a fixture without
    * one of the tables just warms less. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try noop(spark.range(1000).selectExpr("id % 7 k", "id v").groupBy("k").count())
    catch { case _: Throwable => () }
    Seq[(SparkSession, String) => DataFrame](
      Tables.lineitem, Tables.documents, Tables.events).foreach { t =>
      try t(spark, sfDir).select(count(lit(1))).count()
      catch { case _: Throwable => () }
    }
  }
}
