package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint that keeps hand-written event-time state on one
  * release rule: every `src/main` file that arms an event-time timeout
  * must hand its events to `OrderedRelease`, the one watermark-ordered
  * release. Sessionizing needs no such state — `session_window` does it. */
class StreamingStateLintSpec extends AnyFunSuite {

  private def files(pattern: String): Set[String] =
    SourceLint.offenders("src/main/scala", pattern.r, owner = "").map(_.takeWhile(_ != ':')).toSet

  test("every EventTimeTimeout state machine releases through OrderedRelease") {
    val timed = files("""GroupStateTimeout\s*\.\s*EventTimeTimeout""")
    val released = files("""OrderedRelease\s*\(""")
    assert((timed -- released).isEmpty,
      "event-time state outside OrderedRelease:\n" + (timed -- released).mkString("\n"))
  }
}
