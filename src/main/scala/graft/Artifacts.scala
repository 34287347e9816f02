package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, max}
import scala.util.control.NonFatal

/** The lifecycle of every persisted artifact (stored indexes, models,
  * sketches, vocabularies, merge tables): naming, source fingerprint,
  * stamp, build gate and verifying read.
  *
  * A **stamp** is the (row count, max id) fingerprint of the source
  * snapshot an artifact was built from, kept as catalog table
  * properties of one of its tables (`graft.src_rows`,
  * `graft.src_max_id`; IVF artifacts also record the geometry they
  * were built at as `graft.ivf.cells` / `graft.ivf.nprobe`). Reading
  * it is a catalog lookup and launches no Spark job. An `overwrite`
  * write recreates the table without properties, so a table written
  * but not yet stamped reads as stale — builders [[stamp]] after their
  * last write. The catalog is per session; [[ensure]] rebuilds
  * whatever a previous JVM left behind.
  *
  * The fingerprint is not a content hash: an in-place update that
  * keeps both the row count and the max id passes. */
object Artifacts {

  final case class Stamp(rows: Long, maxId: Long)

  /** IVF build geometry: cell count and probe width. The stored cell
    * assignments and probe lists bake both in, so an index built at
    * one geometry must not serve another. */
  final case class Geometry(cells: Long, nprobe: Long)

  private val RowsKey = "graft.src_rows"
  private val MaxIdKey = "graft.src_max_id"
  private val CellsKey = "graft.ivf.cells"
  private val NprobeKey = "graft.ivf.nprobe"

  /** Catalog name of a per-dataset artifact: `graft_<family>_<suffix>`. */
  def name(family: String, dir: String): String = s"graft_${family}_${tableSuffix(dir)}"

  /** Catalog-safe table suffix for a per-dataset artifact name. The
    * slug alone is lossy ("/data/a-b" and "/data/a_b" both slug to
    * "data_a_b"); a short hash of the raw dir string makes the suffix
    * collision-resistant while keeping it readable. */
  private[graft] def tableSuffix(dir: String): String = {
    val slug = dir.replaceAll("[^a-zA-Z0-9]+", "_").replaceAll("^_+|_+$", "")
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    s"${slug}_$h"
  }

  /** Fingerprint of `$dir/embeddings.parquet` over `vec_id`. */
  def embeddings(s: SparkSession, dir: String): Stamp =
    fingerprint(s, s"$dir/embeddings.parquet", "vec_id", Tables.embeddings(s, dir))

  /** Fingerprint of `$dir/documents.parquet` over `doc_id`. */
  def documents(s: SparkSession, dir: String): Stamp =
    fingerprint(s, s"$dir/documents.parquet", "doc_id", Tables.documents(s, dir))

  /** Parquet footer statistics ([[graft.sources.FooterStats]]), a
    * metadata read; the aggregate scan runs only when the footers
    * lack usable integer stats. */
  private def fingerprint(s: SparkSession, path: String, id: String,
      source: => DataFrame): Stamp =
    graft.sources.FooterStats.fingerprint(s, path, id) match {
      case Some((rows, maxId)) => Stamp(rows, maxId)
      case None =>
        val df = source
        val r = df.agg(count(lit(1)), max(df(id).cast("long"))).head()
        Stamp(r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    }

  private def properties(s: SparkSession, table: String): Map[String, String] =
    if (!s.catalog.tableExists(table)) Map.empty
    else s.sessionState.catalog
      .getTableMetadata(s.sessionState.sqlParser.parseTableIdentifier(table)).properties

  /** The stamp `table` carries, if any. */
  def stamped(s: SparkSession, table: String): Option[Stamp] = {
    val p = properties(s, table)
    for (r <- p.get(RowsKey); m <- p.get(MaxIdKey)) yield Stamp(r.toLong, m.toLong)
  }

  private def stampProperties(now: Stamp, geometry: Option[Geometry]): Seq[(String, String)] =
    (Seq(RowsKey -> now.rows, MaxIdKey -> now.maxId) ++
      geometry.toSeq.flatMap(g => Seq(CellsKey -> g.cells, NprobeKey -> g.nprobe)))
      .map { case (k, v) => k -> v.toString }

  /** Stamp `table` as built from `now` (and at `geometry`). Call it
    * after the artifact's last write. */
  def stamp(s: SparkSession, table: String, now: Stamp,
      geometry: Option[Geometry] = None): Unit =
    s.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      stampProperties(now, geometry).map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")

  private def fresh(s: SparkSession, table: String, now: Stamp,
      geometry: Option[Geometry]): Boolean = {
    val p = properties(s, table)
    stampProperties(now, geometry).forall { case (k, v) => p.get(k).contains(v) }
  }

  /** Build-if-absent-or-stale gate. When the catalog lacks any of
    * `tables`, or `stampTable` is not stamped with `now` (and
    * `geometry`), drops the artifact's tables and runs `build` under
    * the `build` phase; `build` must write and [[stamp]] them. A build
    * that throws leaves no table behind. A previous JVM may have left
    * the directory of a table this in-memory catalog never heard of
    * (CTAS would refuse it), so those locations are cleared first. */
  def ensure(s: SparkSession, tables: Seq[String], stampTable: String, now: Stamp,
      geometry: Option[Geometry] = None)(build: => Unit): Unit = {
    val missing = tables.filterNot(s.catalog.tableExists(_))
    if (missing.nonEmpty || !fresh(s, stampTable, now, geometry)) {
      drop(s, tables)
      missing.foreach { t =>
        val dbLoc = new Path(s.catalog.getDatabase(s.catalog.currentDatabase).locationUri)
        val loc = new Path(dbLoc, t.toLowerCase)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      try PhaseTimer.timed("build")(build)
      catch { case NonFatal(e) => drop(s, tables); throw e }
      require(fresh(s, stampTable, now, geometry),
        s"building '$stampTable' did not leave it stamped with $now")
    }
  }

  private def drop(s: SparkSession, tables: Seq[String]): Unit =
    tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))

  /** Fail-loud freshness check for a verifying read: `table` must be
    * stamped with the source's current fingerprint `now`. An unstamped
    * table is rejected the same way. */
  def requireFresh(s: SparkSession, table: String, now: Stamp, dir: String,
      what: String): Unit = {
    val stored = stamped(s, table)
    require(stored.contains(now),
      s"$what '$table' was built from a different source snapshot of $dir " +
        s"(stored fingerprint ${stored.getOrElse("<absent>")}, source is now $now): " +
        "rebuild the artifact, or query through the lifecycle entry point " +
        "(ivfStoredNn / pcaStoredProjection / hllStoredUnion), which rebuilds " +
        "stale artifacts itself.")
  }
}
