package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's query + oracle from the
  * per-module registries. Each module co-locates the Spark DataFrame
  * query with its DuckDB oracle SQL so column aliases stay in sync
  * (the driver's compare hashes values under sorted column names).
  */
object SparkEntry {

  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (graft.queries.Relational.queries, graft.queries.Relational.oracles),
      (graft.queries.EventQueries.queries, graft.queries.EventQueries.oracles),
      (graft.queries.TextQueries.queries, graft.queries.TextQueries.oracles),
      (graft.queries.DedupQueries.queries, graft.queries.DedupQueries.oracles),
      (graft.queries.SimilarityQueries.queries, graft.queries.SimilarityQueries.oracles),
      (graft.queries.SentimentQueries.queries, graft.queries.SentimentQueries.oracles),
      (graft.queries.MediaQueries.queries, graft.queries.MediaQueries.oracles),
      (graft.queries.TrainQueries.queries, graft.queries.TrainQueries.oracles),
      (graft.queries.BpeQueries.queries, graft.queries.BpeQueries.oracles),
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.EventQueries.eventSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_._1).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Keys absent here get a weaker rows-only
    * check (used for ops whose exact hash is not SQL-reproducible,
    * e.g. murmur3-seeded MinHash signatures). */
  def oracleSql: Map[String, String] =
    modules.flatMap(_._2).toMap

  /** Registry metadata: queries whose pair enumeration is
    * intentionally quadratic-within-blocks — they exist as exhaustive
    * small-sf oracles for their LSH-bucketed scale siblings (q45→q54,
    * q47→q55) and REFUSE to run past
    * `spark.graft.oracleTier.maxRows` (default 100k) rows so the
    * quadratic form cannot be benched or shipped as a default at
    * scale. See [[graft.queries.Scale.oracleTierGuard]]. */
  val oracleTierQueries: Set[String] =
    Set("q45_embedding_neardups", "q47_nn_within_label",
      // complete (lang, length-band) blocking
      // is O(n²/blocks) with ~dozens of blocks — exact ≤10% edit
      // distance has no known subquadratic complete blocking, so the
      // exact form is pinned to the oracle tier; the recall-bounded
      // scale path is the token-level LSH family (q42/q44).
      "q131_editdist_neardups")
}
