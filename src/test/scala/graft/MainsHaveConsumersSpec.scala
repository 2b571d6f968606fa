package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every program entry point under `src/main` has a consumer: its object
  * name appears in a spec (`src/test`), in the benchmark harness
  * (`perfbench/src`), in a script (`scripts/`), or in the documented build
  * and run procedure (`.claude/skills/verify/SKILL.md`). A mention in the
  * README or in the main's own file does not count, so a tool that nothing
  * runs fails here instead of drifting out of date unnoticed.
  */
class MainsHaveConsumersSpec extends AnyFunSuite {

  private def files(root: String): Seq[Path] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Nil
    else {
      val walk = Files.walk(p)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    }
  }
  private def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  /** Fully qualified name of every object in `src/main` that declares
    * `def main`: the last top-level object that opens before it. */
  private def mains: Seq[String] =
    files("src/main/scala").filter(_.toString.endsWith(".scala")).flatMap { p =>
      val src = read(p)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1) + ".")
        .getOrElse("")
      val objects = "(?m)^object (\\w+)".r.findAllMatchIn(src).map(m => m.start -> m.group(1)).toSeq
      "\\bdef main\\(".r.findAllMatchIn(src).flatMap { m =>
        objects.takeWhile(_._1 < m.start).lastOption.map(pkg + _._2)
      }.toSeq.distinct
    }

  test("every main under src/main is named by a spec, perfbench, a script or the verify procedure") {
    val found = mains
    assert(found.contains("graft.Bench"), s"main scan found only $found")
    val consumers =
      (files("src/test").filterNot(_.getFileName.toString == "MainsHaveConsumersSpec.scala") ++
        files("perfbench/src") ++ files("scripts") ++
        files(".claude/skills/verify").filter(_.getFileName.toString == "SKILL.md"))
        .map(read)
    val orphans = found.filterNot { fqn =>
      val word = s"\\b${fqn.split('.').last}\\b".r
      consumers.exists(word.findFirstIn(_).nonEmpty)
    }.sorted
    assert(orphans.isEmpty, s"mains that nothing runs: ${orphans.mkString(", ")}")
  }
}
