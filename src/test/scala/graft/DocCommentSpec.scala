package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc attaches only the last of two stacked doc comments to the
  * definition below them; the first one describes nothing and drifts
  * unseen. Every doc comment of the library must sit on its own
  * definition. */
class DocCommentSpec extends AnyFunSuite {
  test("no doc comment in src/main starts right after another one ends") {
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    def stacked(f: Path): Seq[String] =
      Files.readAllLines(f).asScala.toSeq.zipWithIndex.sliding(2).collect {
        case Seq((a, _), (b, i)) if a.trim.endsWith("*/") && b.trim.startsWith("/**") => s"$f:${i + 1}"
      }.toSeq
    val found = files.flatMap(stacked)
    assert(found.isEmpty, s"doc comments stacked on another doc comment:\n${found.mkString("\n")}")
  }
}
