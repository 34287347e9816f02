package graft

import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import graft.queries.SimilarityQueries

/** Source-snapshot fingerprints on the persisted artifacts (VERDICT
  * r11 #5): the verifying read paths REJECT an index/model built from
  * a different snapshot of the source dir, and the lifecycle entry
  * points rebuild instead of serving stale answers. */
class ArtifactFreshnessSpec extends SparkSpec {
  import spark.implicits._

  test("stale persisted artifacts are rejected on read and rebuilt by the lifecycle entries") {
    val src = java.nio.file.Files.createTempDirectory("graft-stale").toString
    val orig = spark.read.parquet(s"$sf/embeddings.parquet")
    val maxId = orig.agg(org.apache.spark.sql.functions.max($"vec_id")).head().getLong(0)
    val ivfTbl = s"graft_fresh_ivf_${System.nanoTime()}"
    val pcaTbl = s"graft_fresh_pca_${System.nanoTime()}"
    try {
      replaceSnapshot(orig, src, "embeddings")
      SimilarityQueries.buildIvfIndex(spark, src, ivfTbl)
      SimilarityQueries.buildPcaModel(spark, src, pcaTbl)
      // q144's lifecycle artifact, built from the ORIGINAL snapshot
      assert(SimilarityQueries.ivfPqServe(spark, src).head().getBoolean(1))
      // fresh: both verifying reads answer
      assert(SimilarityQueries.ivfNnFromIndex(spark, ivfTbl, src).limit(1).count() == 1)
      val emb = Tables.embeddings(spark, src).select($"vec_id", $"embedding")
      assert(SimilarityQueries.pcaProjected(spark, pcaTbl, emb, src).limit(1).count() == 1)

      // the dataset is REPLACED under the same path (one row dropped)
      replaceSnapshot(orig.filter($"vec_id" =!= maxId), src, "embeddings")
      val e1 = intercept[IllegalArgumentException] {
        SimilarityQueries.ivfNnFromIndex(spark, ivfTbl, src)
      }
      assert(e1.getMessage.contains("different source snapshot"), e1.getMessage)
      val emb2 = Tables.embeddings(spark, src).select($"vec_id", $"embedding")
      val e2 = intercept[IllegalArgumentException] {
        SimilarityQueries.pcaProjected(spark, pcaTbl, emb2, src)
      }
      assert(e2.getMessage.contains("different source snapshot"), e2.getMessage)

      // the lifecycle entries REBUILD from the new snapshot and their
      // own stored-vs-live pins hold through the rebuilt artifacts
      val q92 = SimilarityQueries.ivfStoredNn(spark, src).head()
      assert(q92.getAs[Long]("n_points") == orig.count() - 1, s"q92 after rebuild: $q92")
      assert(q92.getAs[Boolean]("stored_equals_live"), s"q92 after rebuild: $q92")
      val q93 = SimilarityQueries.pcaStoredProjection(spark, src).head()
      assert(q93.getAs[Long]("n_vectors") == orig.count() - 1, s"q93 after rebuild: $q93")
      assert(q93.getAs[Boolean]("stored_matches_fresh"), s"q93 after rebuild: $q93")
      // q144 detects the stale stamp through its lifecycle gate,
      // rebuilds the composed index, and its theorems hold over the
      // NEW snapshot (slice count reproduced independently)
      val q144 = SimilarityQueries.ivfPqServe(spark, src).head()
      val newSlice = Tables.embeddings(spark, src)
        .filter($"vec_id" % 7 === 3).count()
      assert(q144.getAs[Long]("n_queries") == newSlice, s"q144 after rebuild: $q144")
      assert(q144.getAs[Boolean]("all_answered") &&
        q144.getAs[Boolean]("restricted_recall_ok"), s"q144 after rebuild: $q144")
    } finally {
      val (ivf, pq) = (Artifacts.name("ivf_q92", src), Artifacts.name("ivfpq_q144", src))
      Seq(ivfTbl, s"${ivfTbl}_centroids", pcaTbl, ivf, s"${ivf}_centroids",
        Artifacts.name("pca_q93", src), pq, s"${pq}_centroids", s"${pq}_pq")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      FileUtils.deleteDirectory(new File(src))
    }
  }

  test("stale stored HLL sketches are rejected on read and rebuilt by the q96 entry") {
    val src = java.nio.file.Files.createTempDirectory("graft-stale-hll").toString
    val orig = spark.read.parquet(s"$sf/documents.parquet")
    val maxId = orig.agg(org.apache.spark.sql.functions.max($"doc_id")).head().getLong(0)
    val tbl = s"graft_fresh_hll_${System.nanoTime()}"
    try {
      replaceSnapshot(orig, src, "documents")
      SimilarityQueries.buildDocSketches(spark, src, tbl)
      assert(SimilarityQueries.docDistinctFromSketches(spark, tbl, src)
        .head().getLong(0) > 0L)
      replaceSnapshot(orig.filter($"doc_id" =!= maxId), src, "documents")
      val e = intercept[IllegalArgumentException] {
        SimilarityQueries.docDistinctFromSketches(spark, tbl, src)
      }
      assert(e.getMessage.contains("different source snapshot"), e.getMessage)
      val q96 = SimilarityQueries.hllStoredUnion(spark, src).head()
      assert(q96.getAs[Long]("exact_distinct") > 0L, s"q96 after rebuild: $q96")
      assert(q96.getAs[Boolean]("merge_exact"), s"q96 after rebuild: $q96")
      assert(q96.getAs[Boolean]("err_bounded"), s"q96 after rebuild: $q96")
    } finally {
      Seq(tbl, Artifacts.name("hll_q96", src))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      FileUtils.deleteDirectory(new File(src))
    }
  }

  test("footer-stats fingerprint equals the aggregate scan (both writers, cache coherent)") {
    import org.apache.spark.sql.functions.{count, lit, max}
    def scanned(df: DataFrame, id: String): (Long, Long) = {
      val r = df.agg(count(lit(1)), max(df(id).cast("long"))).head()
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    }
    // driver-written single-file parquet (pyarrow footers)
    for ((t, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
      val path = s"$sf/$t.parquet"
      val foot = graft.sources.FooterStats.fingerprint(spark, path, id)
      assert(foot.isDefined, s"$t footers must carry usable $id stats")
      assert(foot.get == scanned(spark.read.parquet(path), id), s"table $t")
    }
    // Spark-written multi-file directory, then REPLACED: the
    // modification-signature cache must serve the new snapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-footer").toString
    try {
      val orig = spark.read.parquet(s"$sf/documents.parquet").repartition(3)
      orig.write.mode("overwrite").parquet(s"$dir/d.parquet")
      val f1 = graft.sources.FooterStats.fingerprint(spark, s"$dir/d.parquet", "doc_id")
      assert(f1.contains(scanned(orig, "doc_id")))
      val maxId = scanned(orig, "doc_id")._2
      orig.filter(orig("doc_id") =!= maxId).write.mode("overwrite").parquet(s"$dir/d.parquet")
      val f2 = graft.sources.FooterStats.fingerprint(spark, s"$dir/d.parquet", "doc_id")
      assert(f2.isDefined && f2 != f1, "replaced snapshot must re-fingerprint")
      assert(f2.get._1 == f1.get._1 - 1)
    } finally FileUtils.deleteDirectory(new File(dir))
  }

  test("footer-stats: multi-row-group files, appended files, and null-bearing id chunks") {
    import org.apache.spark.sql.functions.{count, lit, max, when}
    val dir = java.nio.file.Files.createTempDirectory("graft-footer2").toString
    def scanned(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), max(df("doc_id").cast("long"))).head()
      (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    }
    try {
      // many small row groups in one file: the per-BLOCK footer loop
      // must sum counts and max maxes across groups
      val big = spark.range(50000L).select($"id".as("doc_id"))
      big.coalesce(1).write
        .option("parquet.block.size", (64 * 1024).toString)
        .mode("overwrite").parquet(s"$dir/m.parquet")
      val fm = graft.sources.FooterStats.fingerprint(spark, s"$dir/m.parquet", "doc_id")
      assert(fm.contains(scanned(spark.read.parquet(s"$dir/m.parquet"))))

      // APPEND (incremental ingest): new part files must invalidate
      // the modification-signature cache, not just replacement
      big.limit(10).select(($"doc_id" + 100000L).as("doc_id"))
        .write.mode("append").parquet(s"$dir/m.parquet")
      val fa = graft.sources.FooterStats.fingerprint(spark, s"$dir/m.parquet", "doc_id")
      assert(fa.contains((50010L, 100009L)), s"append must re-fingerprint, got $fa")

      // null-bearing id chunks: footer max skips nulls exactly like
      // SQL max; an ALL-null file still carries usable stats
      val withNulls = spark.range(100L)
        .select(when($"id" < 90L, $"id").otherwise(lit(null)).as("doc_id"))
      withNulls.coalesce(1).write.mode("overwrite").parquet(s"$dir/n.parquet")
      val fn = graft.sources.FooterStats.fingerprint(spark, s"$dir/n.parquet", "doc_id")
      assert(fn.contains((100L, 89L)), s"null-skipping max, got $fn")
      val allNull = spark.range(5L).select(lit(null).cast("long").as("doc_id"))
      allNull.coalesce(1).write.mode("overwrite").parquet(s"$dir/an.parquet")
      val fan = graft.sources.FooterStats.fingerprint(spark, s"$dir/an.parquet", "doc_id")
      assert(fan.contains((5L, -1L)), s"all-null column -> max -1 sentinel, got $fan")
    } finally FileUtils.deleteDirectory(new File(dir))
  }

  test("stale stored vocab is rebuilt by the q189 entry; serve equals the inline q183 + vocab_k") {
    val src = java.nio.file.Files.createTempDirectory("graft-stale-vocab").toString
    val orig = spark.read.parquet(s"$sf/documents.parquet")
    val maxId = orig.agg(org.apache.spark.sql.functions.max($"doc_id")).head().getLong(0)
    val tbl = Artifacts.name("vocab_q189", src)
    try {
      replaceSnapshot(orig, src, "documents")
      val first = graft.queries.TrainQueries.vocabStoredOov(spark, src).collect()
      val kWant = graft.queries.TrainQueries
        .trainVocab(Tables.documents(spark, src), 200).count()
      assert(first.nonEmpty && first.forall(_.getAs[Long]("vocab_k") == kWant),
        s"vocab_k must equal the stored vocab size $kWant")
      // serve ≡ inline build on the same snapshot (store round-trip lossless)
      val inline = graft.queries.TrainQueries.oovRate(spark, src).collect()
      assert(first.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq ==
        inline.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq)
      // shrink the corpus: the standing table is stale; the entry rebuilds
      replaceSnapshot(orig.filter($"doc_id" =!= maxId), src, "documents")
      val rebuilt = graft.queries.TrainQueries.vocabStoredOov(spark, src).collect()
      assert(rebuilt.nonEmpty, "q189 must rebuild and answer after snapshot change")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      FileUtils.deleteDirectory(new File(src))
    }
  }
}
