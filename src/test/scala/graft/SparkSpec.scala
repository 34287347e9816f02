package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate global conf destructively). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR") // keep test output to failures
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** Reference model of the codepoint rolling hash — the ONE
    * test-side copy (suites must not each re-implement it; the main
    * side has exactly two: CodepointRollingHash and
    * TextQueries.fingerprintSql). */
  def refFingerprint(s: String): Long =
    s.codePoints.toArray.foldLeft(0L)((acc, c) => (acc * 31 + c) % 1000000007L)
}
