package graft

import org.scalatest.funsuite.AnyFunSuite

/** One session config for the whole program: it builds its sessions in
  * `AppSession.make` only. */
class SessionBuilderSpec extends AnyFunSuite {

  test("comments are stripped, literals kept") {
    val src = "a // gone\n/* x /* nested */ gone */b " +
      "\"// not a comment /*\" '\"' '\\'' c /** doc */ d"
    assert(SourceScan.code(src) == "a \nb \"// not a comment /*\" '\"' '\\'' c  d")
  }

  test("AppSession.make is the only session builder in src/main/scala") {
    val hits = SourceScan.callSites("SparkSession\\.builder\\(\\)".r)
    assert(hits == Seq("graft/app/Apps.scala:make"), hits)
  }
}
