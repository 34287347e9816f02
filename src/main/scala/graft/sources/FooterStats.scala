package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentHashMap
import scala.language.existentials // parquet Statistics[T <: Comparable[T]] below

/** Source-snapshot fingerprints from parquet FOOTER statistics — the
  * artifact-freshness gates' (row count, max id) WITHOUT a data scan
  * (a per-verifying-read count+max aggregate would cost
  * q92 ~0.5 s warm and a full 100 TB scan in production;
  * row counts and column min/max come free from the footers a writer
  * already produced).
  *
  * Two layers:
  *  - **Footer read**: row count is exact block metadata; max id is
  *    the max of per-chunk INT32/INT64 statistics (exact for integer
  *    types — truncation caveats apply only to binary stats). Any
  *    chunk without usable stats → `None`, and the caller falls back
  *    to the aggregate scan, so trust never degrades silently.
  *  - **Session cache** keyed by the directory's modification
  *    signature (file names, lengths, mtimes): repeated verifying
  *    reads (the bench warm loop; a q92→q96→q97 chain over one dir)
  *    pay one filesystem listing, not even a footer read. A file
  *    REPLACED in-place preserving name+length+mtime-millisecond is
  *    invisible to the signature — the same caveat class as the
  *    (count, max) fingerprint itself, which a dataset layer's
  *    snapshot id supersedes at that point.
  */
object FooterStats {

  private final case class Sig(files: Seq[(String, Long, Long)])
  private val cache = new ConcurrentHashMap[(String, String), (Sig, Option[(Long, Long)])]()

  private def listParquet(fs: FileSystem, p: Path): Seq[FileStatus] = {
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq(st)
    else fs.listStatus(p).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** (row count, max of `idColumn`, -1 when no non-null values) from
    * footers alone; None when any file lacks usable integer stats. */
  def fingerprint(s: SparkSession, path: String, idColumn: String): Option[(Long, Long)] = {
    val hconf = s.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hconf)
    val files = listParquet(fs, p)
    val sig = Sig(files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sortBy(_._1))
    val key = (fs.makeQualified(p).toString, idColumn)
    val hit = cache.get(key)
    if (hit != null && hit._1 == sig) return hit._2
    val computed = computeFromFooters(hconf, files, idColumn)
    cache.put(key, (sig, computed))
    computed
  }

  private def computeFromFooters(
      hconf: org.apache.hadoop.conf.Configuration,
      files: Seq[FileStatus], idColumn: String): Option[(Long, Long)] = {
    var rows = 0L
    var maxId = -1L
    val it = files.iterator
    while (it.hasNext) {
      val f = it.next()
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hconf))
      try {
        val blocks = reader.getFooter.getBlocks
        var bi = 0
        while (bi < blocks.size()) {
          val b = blocks.get(bi)
          rows += b.getRowCount
          val cols = b.getColumns
          var ci = 0
          var found = false
          while (ci < cols.size()) {
            val c = cols.get(ci)
            if (c.getPath.toDotString == idColumn) {
              found = true
              val st = c.getStatistics
              // isEmpty = the writer recorded nothing — cannot prove
              // the chunk all-null, so the footer path must not answer
              if (st == null || st.isEmpty) return None
              if (st.hasNonNullValue) st.genericGetMax match {
                case l: java.lang.Long => maxId = math.max(maxId, l.longValue())
                case i: java.lang.Integer => maxId = math.max(maxId, i.longValue())
                case _ => return None // non-integer id stats: not exact
              }
            }
            ci += 1
          }
          if (!found) return None
          bi += 1
        }
      } finally reader.close()
    }
    Some((rows, maxId))
  }
}
