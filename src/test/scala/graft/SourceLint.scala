package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.matching.Regex

/** Line-level source lint shared by the lint specs. */
object SourceLint {

  /** `file:line: text` for every line of a `.scala` file under `root`
    * that matches `re`, outside files named `owner`. */
  def offenders(root: String, re: Regex, owner: String): Seq[String] = {
    val dir = Paths.get(root)
    require(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Using.resource(Files.walk(dir))(_.iterator.asScala.toList).filter { (f: Path) =>
      f.toString.endsWith(".scala") && f.getFileName.toString != owner
    }
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
  }
}
