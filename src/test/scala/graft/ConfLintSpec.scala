package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint that pins the engine's session settings: the
  * `spark.graft.*` keys `src/main` may name are exactly the five below.
  * Every other parameter is a named constant in code, so an artifact is
  * shaped only by values its freshness stamp records. */
class ConfLintSpec extends AnyFunSuite {

  private val kept = Set(
    "ivf.k", "ivf.nprobe",                       // IVF geometry, part of its stamp
    "checkpoint.dir",                            // a deployment path
    "oracleTier.maxRows", "decontam.maxProbes")  // input-size guards

  /** Keys of every string literal that starts with `spark.graft.`; a
    * literal that stops at the prefix (a key built at run time) reads
    * as the empty key. */
  private val literal = "\"spark\\.graft\\.([\\w.]*)".r
  private def keys(line: String): Set[String] =
    literal.findAllMatchIn(line).map(_.group(1).stripSuffix(".")).toSet

  test("src/main names exactly the five kept spark.graft.* keys") {
    val hits = SourceLint.offenders("src/main/scala", literal, owner = "")
    val found = hits.flatMap(keys).toSet
    assert(found == kept,
      s"extra: ${(found -- kept).mkString(", ")}; missing: ${(kept -- found).mkString(", ")}\n" +
        hits.filter(h => keys(h).exists(k => !kept(k))).mkString("\n"))
  }

  test("the key extraction reads plain, interpolated and run-time-built literals") {
    assert(keys("""s.conf.getOption("spark.graft.pq.m").map(_.toInt)""") == Set("pq.m"))
    assert(keys("""require(k >= 2, s"spark.graft.ivf.k must be >= 2, got $conf")""") == Set("ivf.k"))
    assert(keys("""s.conf.get("spark.graft." + name)""") == Set(""))
    assert(keys("""// `spark.graft.ivf.k` in a comment is not a literal""").isEmpty)
  }
}
