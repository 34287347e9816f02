package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint that keeps the one session factory and the one
  * extension install the only ones: [[Session]] is the single place
  * that builds a session or writes the session's extra planner
  * strategies / optimizer rules. Tests get their session from the
  * same factory (`TestSpark`). */
class SessionLintSpec extends AnyFunSuite {

  private val builder = """SparkSession\s*\.\s*builder""".r
  private val extraWrite = """\b(extraStrategies|extraOptimizations)\s*[+:]*=(?!=)""".r

  private def offenders(root: String, re: scala.util.matching.Regex) =
    SourceLint.offenders(root, re, "Session.scala")

  test("only Session builds a SparkSession") {
    assert(offenders("src/main/scala", builder).isEmpty)
    assert(offenders("src/test/scala", builder).isEmpty)
  }

  test("only Session writes extraStrategies / extraOptimizations") {
    assert(offenders("src/main/scala", extraWrite).isEmpty)
  }
}
