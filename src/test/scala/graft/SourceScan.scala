package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source scans for specs that pin where a call may appear in
  * `src/main/scala`. */
object SourceScan {

  val root: Path = Paths.get("src/main/scala")

  /** Every Scala source under [[root]] with its code (see [[code]]). */
  def mainSources(): Seq[(Path, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    require(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    files.map(f => root.relativize(f) -> code(new String(Files.readAllBytes(f), "UTF-8")))
  }

  /** `src` with its line, block and nested block comments removed; string
    * and char literals are kept whole, so a comment marker inside a literal
    * does not start a comment. */
  def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def copyUntil(end: Int): Unit = { out ++= src.substring(i, end); i = end }
    while (i < src.length) {
      if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        do {
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < src.length)
      } else if (src.startsWith("\"\"\"", i)) {
        var end = src.indexOf("\"\"\"", i + 3) + 3
        while (end < src.length && src(end) == '"') end += 1
        copyUntil(end)
      } else if (src(i) == '"') {
        var end = i + 1
        while (src(end) != '"') end += (if (src(end) == '\\') 2 else 1)
        copyUntil(end + 1)
      } else if (src(i) == '\'' && i + 3 < src.length && src(i + 1) == '\\') {
        copyUntil(src.indexOf('\'', i + 3) + 1) // an escaped char: '\n', '\'', '\u0041'
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        copyUntil(i + 3) // a plain char literal, such as '"'
      } else copyUntil(i + 1)
    }
    out.toString
  }

  /** Each match of `call` in [[mainSources]] as `file:member`, where the
    * member is the last `def` or `val` declared at an object's top level
    * (two-space indent) before the match: a query's `val`, not a helper
    * `def` inside its body. */
  def callSites(call: Regex): Seq[String] = {
    val member = "(?m)^  (?:[\\w\\[\\]]+ )*?(?:def|val) (\\w+)".r
    mainSources().flatMap { case (f, c) =>
      call.findAllMatchIn(c).map { m =>
        val enclosing = member.findAllMatchIn(c.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
        s"$f:$enclosing"
      }
    }
  }
}
