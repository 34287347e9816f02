package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint that keeps every custom expression on one kernel: its
  * `doGenCode` emits a call to a JVM-static Scala function, never a
  * hand-written Java loop. Such a loop needs `ctx.freshName` locals,
  * so no file in `src/main` may call it. */
class CodegenLintSpec extends AnyFunSuite {

  test("no ctx.freshName in src/main: generated code only calls static kernels") {
    val hits = SourceLint.offenders("src/main/scala", """ctx\s*\.\s*freshName\s*\(""".r, owner = "")
    assert(hits.isEmpty, "hand-written Java in doGenCode:\n" + hits.mkString("\n"))
  }
}
