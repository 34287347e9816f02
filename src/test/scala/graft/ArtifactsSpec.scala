package graft

import java.io.File
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.queries.{BpeQueries, SimilarityQueries, TrainQueries}

/** The artifact lifecycle of [[Artifacts]]: a fresh artifact is
  * gated from catalog metadata alone, an overwrite without a re-stamp
  * reads as stale, and an empty artifact is stamped and reused like
  * any other. */
class ArtifactsSpec extends SparkSpec {

  private val Marker = "graft.artifactsspec.marker"

  /** Spark jobs started while `f` runs. A marker job closes the count:
    * listener events arrive in order, so once the marker's start is
    * seen every earlier job start has been counted. */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(Marker) != null)) marker.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** Whether `f` ran an artifact build (the `build` phase). */
  private def builds(f: => Unit): Boolean = {
    PhaseTimer.drain()
    f
    PhaseTimer.drain().contains("build")
  }

  private def withDocs(docs: DataFrame)(f: String => Unit): Unit = {
    val src = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
    try {
      replaceSnapshot(docs, src, "documents")
      f(src)
    } finally FileUtils.deleteDirectory(new File(src))
  }

  test("ensure on a fresh artifact launches no Spark job") {
    BpeQueries.bpeTrainedTokens(spark, sf).collect() // builds or reuses the q97 merges
    val bpe = Artifacts.name("bpe_q97", sf)
    assert(jobsDuring {
      Artifacts.ensure(spark, Seq(bpe), bpe, Artifacts.documents(spark, sf))(
        fail("a fresh artifact must not be rebuilt"))
    } == 0)
    SimilarityQueries.ivfStoredNn(spark, sf).collect() // builds or reuses the q92 index
    val ivf = Artifacts.name("ivf_q92", sf)
    assert(jobsDuring {
      Artifacts.ensure(spark, Seq(ivf, s"${ivf}_centroids"), s"${ivf}_centroids",
        Artifacts.embeddings(spark, sf), Some(SimilarityQueries.ivfGeometry(spark, sf)))(
        fail("a fresh index must not be rebuilt"))
    } == 0)
  }

  test("a table overwritten without a re-stamp reads as stale and is rebuilt") {
    val tbl = s"graft_artifacts_spec_${System.nanoTime()}"
    val now = Artifacts.documents(spark, sf)
    var built = 0
    def ensure(): Unit = Artifacts.ensure(spark, Seq(tbl), tbl, now) {
      built += 1
      spark.range(3).write.mode("overwrite").saveAsTable(tbl)
      Artifacts.stamp(spark, tbl, now)
    }
    try {
      ensure()
      ensure()
      assert(built == 1 && Artifacts.stamped(spark, tbl).contains(now))
      spark.range(5).write.mode("overwrite").saveAsTable(tbl)
      assert(Artifacts.stamped(spark, tbl).isEmpty, "an overwrite must clear the stamp")
      ensure()
      assert(built == 2 && spark.table(tbl).count() == 3L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("empty artifacts (BPE with no pair at minFreq, q189's 0-row vocab) are stamped and reused") {
    def reused(tbl: String)(call: => Unit): Unit = {
      assert(builds(call), s"the first call builds $tbl")
      assert(spark.table(tbl).count() == 0L && Artifacts.stamped(spark, tbl).isDefined)
      assert(!builds(call), s"the second call must reuse the empty $tbl")
    }
    // one document whose adjacent pairs each occur once
    withDocs(Tables.documents(spark, sf).limit(1).withColumn("text", lit("ab cd ef"))) { src =>
      val tbl = Artifacts.name("bpe_q97", src)
      try {
        reused(tbl)(BpeQueries.bpeStoredEncode(spark, src).collect())
        assert(!BpeQueries.bpeStoredEncode(spark, src).head().getAs[Boolean]("merges_full"))
      } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
    withDocs(Tables.documents(spark, sf).limit(0)) { src =>
      val tbl = Artifacts.name("vocab_q189", src)
      try reused(tbl)(TrainQueries.vocabStoredOov(spark, src).collect())
      finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }
}
