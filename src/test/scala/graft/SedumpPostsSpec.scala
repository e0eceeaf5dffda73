package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SevenZip
import graft.streaming.Pipelines

/** Stack-Exchange-style dump ingest edge arms beyond the x263 gate:
  * multi-member archives where only `.xml` tables emit rows, an empty
  * table routing one quarantine row, attribute values whose decoded
  * HTML carries quotes and entities, and a dead member staying visible
  * while its siblings serve. */
class SedumpPostsSpec extends AnyFunSuite with LocalSpark {

  private def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;")
    .replace(">", "&gt;").replace("\"", "&quot;")

  private def run(arcs: (String, Array[Byte])*) = {
    import spark.implicits._
    Pipelines.sedumpPosts(arcs.toSeq.toDF("path", "content"))
      .select("path", "member", "post_id", "post_type", "text", "ok")
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)).orNull,
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        Option(r.getString(4)).orNull, r.getBoolean(5)))
      .toSet
  }

  test("only .xml members emit rows; quotes and entities decode; " +
      "empty tables and dead members route") {
    // a: Posts.xml (2 rows, quoted body) + license.txt (must emit nothing)
    val html1 = "<p>He said &quot;hi&quot; &amp; left.</p>"
    val html2 = "<blockquote>x &lt; y &gt; z</blockquote>"
    val posts =
      s"""<?xml version="1.0"?><posts>""" +
        s"""<row Id="11" PostTypeId="1" Body="${esc(html1)}" />""" +
        s"""<row Id="12" ParentId="11" PostTypeId="2" Body="${esc(html2)}" />""" +
        "</posts>"
    val a = SevenZip.build(Seq(
      ("Posts.xml", posts.getBytes("UTF-8")),
      ("license.txt", "not a table".getBytes("UTF-8"))))
    // b: an EMPTY table must still be visible as one routed row
    val b = SevenZip.build(Seq(
      ("Empty.xml", """<?xml version="1.0"?><posts></posts>"""
        .getBytes("UTF-8"))))
    // c: dead member (pack byte flipped) routes, container survives
    val c0 = SevenZip.build(Seq(("Posts.xml", posts.getBytes("UTF-8"))))
    val c = c0.clone(); c(40) = (c(40) ^ 0x55).toByte

    val got = run(("a", a), ("b", b), ("c", c))
    assert(got == Set(
      // the strip chain decodes the three core entities only (the
      // pinned x160 contract): &quot; in HTML SOURCE stays literal
      ("a", "Posts.xml", 11L, 1, "He said &quot;hi&quot; & left.", true),
      ("a", "Posts.xml", 12L, 2, "x < y > z", true),
      ("b", "Empty.xml", -1L, -1, null, false),
      ("c", "Posts.xml", -1L, -1, null, false)), s"got $got")
  }

  test("sedumpTable: absent attribute is NULL, empty attribute is ''; " +
      "entities decode; suffix names don't collide") {
    import spark.implicits._
    val xml = """<?xml version="1.0"?><users>""" +
      """<row Id="1" DisplayName="A &amp; B" Location="" />""" +
      """<row Id="2" AccountId="99" DisplayName="plain" /></users>"""
    val arc = SevenZip.build(Seq(("Users.xml", xml.getBytes("UTF-8"))))
    val got = Pipelines.sedumpTable(
        Seq(("u", arc)).toDF("path", "content"),
        "Users.xml", Seq("Id", "DisplayName", "Location"))
      .collect()
      .map(r => (r.getString(1), r.getString(2), Option(r.getString(3)),
        r.getBoolean(4)))
      .toSet
    // row 2 carries AccountId="99": the \b-guarded Id= extraction must
    // bind to Id="2", not to AccountId's tail
    assert(got == Set(
      ("1", "A & B", Some(""), true),
      ("2", "plain", None, true)), s"got $got")
  }

  test("raw > and raw newline inside attribute values keep their rows; " +
      "an unterminated quote quarantines the MEMBER, never a silent subset") {
    // legal XML: `>` and newlines need no escaping inside quoted
    // attribute values (.NET's XmlWriter, which writes the real
    // archive.org dumps, leaves them raw)
    val good =
      "<?xml version=\"1.0\"?><posts>" +
        "<row Id=\"21\" PostTypeId=\"1\" Body=\"a &gt; b > c\nd\" />" +
        "<row Id=\"22\" PostTypeId=\"2\" Body=\"plain\" />" +
        "</posts>"
    val g = SevenZip.build(Seq(("Posts.xml", good.getBytes("UTF-8"))))
    // an unterminated quote tears row 31's tag: the old [^>]* matcher
    // would silently return only row 32 — the member must quarantine
    val torn =
      "<?xml version=\"1.0\"?><posts>" +
        "<row Id=\"31\" PostTypeId=\"1\" Body=\"oops />" +
        "<row Id=\"32\" PostTypeId=\"2\" Body=\"fine\" />" +
        "</posts>"
    val t = SevenZip.build(Seq(("Posts.xml", torn.getBytes("UTF-8"))))
    val got = run(("g", g), ("t", t))
    assert(got == Set(
      ("g", "Posts.xml", 21L, 1, "a > b > c d", true),
      ("g", "Posts.xml", 22L, 2, "plain", true),
      ("t", "Posts.xml", -1L, -1, null, false)), s"got $got")
  }

  test("sedumpTable: attribute names anchor on whitespace — data-Id " +
      "and x:Id must not satisfy an Id lookup") {
    import spark.implicits._
    val xml = """<?xml version="1.0"?><t>""" +
      """<row data-Id="7" x:Id="8" Name="n1" />""" +
      """<row Id="9" Name="n2" /></t>"""
    val arc = SevenZip.build(Seq(("T.xml", xml.getBytes("UTF-8"))))
    val got = Pipelines.sedumpTable(
        Seq(("u", arc)).toDF("path", "content"), "T.xml", Seq("Id", "Name"))
      .collect()
      .map(r => (Option(r.getString(1)), r.getString(2), r.getBoolean(3)))
      .toSet
    assert(got == Set(
      (None, "n1", true),
      (Some("9"), "n2", true)), s"got $got")
  }

  test("sedumpTable: single-quoted attributes parse — absent stays " +
      "NULL, empty stays ''; an unterminated single quote quarantines") {
    import spark.implicits._
    val xml = """<?xml version="1.0"?><users>""" +
      """<row Id='1' DisplayName='A &amp; B' Location='' />""" +
      """<row Id="2" DisplayName='mix "q"' /></users>"""
    val arc = SevenZip.build(Seq(("Users.xml", xml.getBytes("UTF-8"))))
    val got = Pipelines.sedumpTable(
        Seq(("u", arc)).toDF("path", "content"),
        "Users.xml", Seq("Id", "DisplayName", "Location"))
      .collect()
      .map(r => (r.getString(1), r.getString(2), Option(r.getString(3)),
        r.getBoolean(4)))
      .toSet
    assert(got == Set(
      ("1", "A & B", Some(""), true),
      ("2", "mix \"q\"", None, true)), s"got $got")
    // an unterminated single quote tears the tag exactly like an
    // unterminated double quote: the member quarantines whole
    val torn = """<?xml version="1.0"?><users>""" +
      """<row Id='3' DisplayName='oops />""" +
      """<row Id='4' DisplayName='fine' /></users>"""
    val tArc = SevenZip.build(Seq(("Users.xml", torn.getBytes("UTF-8"))))
    val tGot = Pipelines.sedumpTable(
        Seq(("t", tArc)).toDF("path", "content"),
        "Users.xml", Seq("Id", "DisplayName"))
      .collect()
      .map(r => (Option(r.getString(1)), r.getBoolean(3))).toSet
    assert(tGot == Set((None, false)), s"got $tGot")
  }

  test("a torn container is one null-member quarantine row") {
    val arc = SevenZip.build(Seq(
      ("Posts.xml", """<row Id="1" PostTypeId="1" Body="b" />"""
        .getBytes("UTF-8"))))
    val got = run(("t", arc.dropRight(4)))
    assert(got == Set(("t", null, -1L, -1, null, false)), s"got $got")
  }
}
