package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The Scala sources under src/main/scala with comments stripped, for
  * specs that guard against a call coming back. Prose may name the
  * calls; code may not. */
object SourceScan {

  /** Scala source with each comment reduced to its line breaks (so
    * line numbers hold); string and char literals are matched first so
    * a `//` inside a URL string is not a comment. */
  private def code(file: Path): String =
    "\"\"\"[\\s\\S]*?\"\"\"|\"(?:\\\\.|[^\"\\\\\\n])*\"|'(?:\\\\.|[^'\\\\\\n])'|//[^\\n]*|/\\*[\\s\\S]*?\\*/".r
      .replaceAllIn(new String(Files.readAllBytes(file), "UTF-8"), m =>
        Regex.quoteReplacement(
          if (m.matched.startsWith("/")) m.matched.filter(_ == '\n') else m.matched))

  lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p.toString -> code(p))
    finally walk.close()
  }

  /** `file:line` of every match of `pattern` whose offset fails `allowed`. */
  def sites(pattern: String,
            allowed: (String, String, Int) => Boolean = (_, _, _) => false): Seq[String] =
    sources.flatMap { case (file, src) =>
      pattern.r.findAllMatchIn(src).map(_.start).filterNot(allowed(file, src, _)).map(at =>
        s"$file:${src.substring(0, at).count(_ == '\n') + 1}")
    }
}
