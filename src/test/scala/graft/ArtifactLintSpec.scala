package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint that keeps [[Artifacts]] the only owner of the
  * persisted-artifact lifecycle: no other file in `src/main` names the
  * stamp, writes table properties, builds an artifact name by hand, or
  * defines its own freshness gate. */
class ArtifactLintSpec extends AnyFunSuite {

  private def offenders(re: scala.util.matching.Regex): Seq[String] =
    SourceLint.offenders("src/main/scala", re, "Artifacts.scala")

  test("only Artifacts names the stamp, writes TBLPROPERTIES or builds artifact names") {
    val hits = offenders("""src_rows|src_max_id|TBLPROPERTIES|tableSuffix\(""".r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("no freshness gate outside Artifacts") {
    val hits = offenders(("""\b(needsBuildOrStale|needsBuild|storedFingerprint|""" +
      """ivfGeometryStale|geometryOk|docsFingerprint|sourceFingerprint)\b""").r)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
