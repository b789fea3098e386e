package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The engine has one staging primitive, `GraftBridge.stageLocal`: the
  * only local checkpoint under src/main/scala is the one inside it, and
  * nothing writes a reliable checkpoint or sets a checkpoint dir (a dir
  * set on the caller's SparkContext keeps its files after their frames
  * are gone, because Spark does not clean checkpoint files by default).
  * Comments are stripped before the scan, so prose may name the calls. */
class StagingPrimitiveSpec extends AnyFunSuite {

  /** Scala source with each comment reduced to its line breaks (so
    * line numbers hold); string and char literals are matched first so
    * a `//` inside a URL string is not a comment. */
  private def code(file: Path): String =
    "\"\"\"[\\s\\S]*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\\\n])'|//[^\\n]*|/\\*[\\s\\S]*?\\*/".r
      .replaceAllIn(new String(Files.readAllBytes(file), "UTF-8"), m =>
        Regex.quoteReplacement(
          if (m.matched.startsWith("/")) m.matched.filter(_ == '\n') else m.matched))

  private val sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.toString -> code(p))
    finally walk.close()
  }

  /** `file:line` of every match of `pattern` whose offset fails `allowed`. */
  private def sites(pattern: String,
                    allowed: (String, String, Int) => Boolean = (_, _, _) => false): Seq[String] =
    sources.flatMap { case (file, src) =>
      pattern.r.findAllMatchIn(src).map(_.start).filterNot(allowed(file, src, _)).map(at =>
        s"$file:${src.substring(0, at).count(_ == '\n') + 1}")
    }

  /** Is `at` inside the body of `GraftBridge.stageLocal`, i.e. between
    * `def stageLocal` and the next `def`? */
  private def inStageLocal(file: String, src: String, at: Int): Boolean =
    file.endsWith("org/apache/spark/sql/GraftBridge.scala") && {
      val start = src.indexOf("def stageLocal")
      val end = src.indexOf("def ", start + 1)
      start >= 0 && at > start && (end < 0 || at < end)
    }

  test("localCheckpoint is called only inside GraftBridge.stageLocal") {
    val outside = sites("\\blocalCheckpoint\\s*\\(", inStageLocal)
    assert(outside.isEmpty, s"local checkpoints outside GraftBridge.stageLocal: $outside")
  }

  test("no reliable checkpoint and no checkpoint dir") {
    val found = sites("\\.checkpoint\\s*\\(") ++ sites("\\bsetCheckpointDir\\b")
    assert(found.isEmpty, s"reliable checkpoint calls or checkpoint dirs: $found")
  }
}
