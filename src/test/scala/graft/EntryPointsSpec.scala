package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** README's "Entry points" block is the complete list of mains: every
  * object under src/main/scala that defines `def main` is listed there
  * as `runMain <package>.<object>`, and every listed main exists. A
  * new measurement or diagnostic main has to be documented, or folded
  * into an existing one. */
class EntryPointsSpec extends AnyFunSuite {

  /** `package.Object` for every object in `file` that defines `main`. */
  private def mains(file: Path): Seq[String] = {
    val src = new String(Files.readAllBytes(file), "UTF-8")
    val pkg = "(?m)^package\\s+([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1) + ".")
      .getOrElse("")
    val objects = "(?m)^\\s*object\\s+(\\w+)".r.findAllMatchIn(src)
      .map(m => m.start -> m.group(1)).toSeq
    "def\\s+main\\s*\\(".r.findAllMatchIn(src).toSeq.flatMap { m =>
      objects.filter(_._1 < m.start).lastOption.map(pkg + _._2)
    }
  }

  private def sourceMains: Set[String] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap(mains).toSet
    finally walk.close()
  }

  private def listedMains: Set[String] = {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val start = readme.indexOf("## Entry points")
    assert(start >= 0, "README.md must have an '## Entry points' section")
    val block = readme.substring(start).split("(?m)^```").lift(1).getOrElse("")
    "runMain\\s+([\\w.]+)".r.findAllMatchIn(block).map(_.group(1)).toSet
  }

  test("every main under src/main/scala is listed in README's entry points") {
    val unlisted = sourceMains -- listedMains
    assert(unlisted.isEmpty, s"mains missing from README's Entry points: ${unlisted.toSeq.sorted}")
  }

  test("every main README lists exists") {
    val missing = listedMains -- sourceMains
    assert(missing.isEmpty, s"README lists mains that do not exist: ${missing.toSeq.sorted}")
  }
}
