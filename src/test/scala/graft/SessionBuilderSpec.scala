package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session config for the whole program: it builds its sessions in
  * `AppSession.make` only. */
class SessionBuilderSpec extends AnyFunSuite {

  /** `src` with its line, block and nested block comments removed; string
    * and char literals are kept whole, so a comment marker inside a literal
    * does not start a comment. */
  private def code(src: String): String = {
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

  test("comments are stripped, literals kept") {
    val src = "a // gone\n/* x /* nested */ gone */b " +
      "\"// not a comment /*\" '\"' '\\'' c /** doc */ d"
    assert(code(src) == "a \nb \"// not a comment /*\" '\"' '\\'' c  d")
  }

  test("AppSession.make is the only session builder in src/main/scala") {
    val root = Paths.get("src/main/scala")
    val files: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val hits = files.flatMap { f =>
      val c = code(new String(Files.readAllBytes(f), "UTF-8"))
      "SparkSession\\.builder\\(\\)".r.findAllMatchIn(c).map { m =>
        val enclosing = "def (\\w+)".r.findAllMatchIn(c.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
        s"${root.relativize(f)}:$enclosing"
      }
    }
    assert(hits == Seq("graft/app/Apps.scala:make"), hits)
  }
}
