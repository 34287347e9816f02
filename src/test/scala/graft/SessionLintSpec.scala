package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Source lint that keeps the one session factory and the one
  * extension install the only ones: [[Session]] is the single place
  * that builds a session or writes the session's extra planner
  * strategies / optimizer rules. Tests get their session from the
  * same factory (`TestSpark`). */
class SessionLintSpec extends AnyFunSuite {

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private val builder = """SparkSession\s*\.\s*builder""".r
  private val extraWrite = """\b(extraStrategies|extraOptimizations)\s*[+:]*=(?!=)""".r

  /** `file:line: text` for every line matching `re` outside Session.scala. */
  private def offenders(root: String, re: scala.util.matching.Regex): Seq[String] = {
    val dir = new File(root)
    assert(dir.isDirectory, s"$root not found from ${new File(".").getAbsolutePath}")
    for {
      f <- scalaFiles(dir) if f.getName != "Session.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }

  test("only Session builds a SparkSession") {
    assert(offenders("src/main/scala", builder).isEmpty)
    assert(offenders("src/test/scala", builder).isEmpty)
  }

  test("only Session writes extraStrategies / extraOptimizations") {
    assert(offenders("src/main/scala", extraWrite).isEmpty)
  }
}
