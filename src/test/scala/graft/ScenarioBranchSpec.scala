package graft

import org.apache.spark.sql.Row
import graft.ingest.ScenarioParse

/** The scenario-boundary branches the 2-boundary fixture doesn't reach
  * (extract.py:352-367): one boundary → cause/result split, zero → all
  * cause, and the no-60%-td fallback (extract.py:299-301).
  */
class ScenarioBranchSpec extends SparkSpec {
  import spark.implicits._

  private def items(n: Int): String =
    (1 to n).map(i =>
      s"<tr><td><b>$i.</b></td><td></td><td>項目$i</td></tr>").mkString("\n")

  private def sep(afterGroup: Int): String =
    s"""<tr><td><img src="../images/space.gif" width="${15 + 20 * afterGroup}"><img src="../images/sinario_line_2.gif"></td></tr>"""

  private def page(body: String, with60: Boolean = true): String =
    if (with60)
      s"""<html><table><tr><td valign="top" width="60%"><table>$body</table></td></tr></table></html>"""
    else s"""<html><table>$body</table></html>"""

  private def parse(html: String): Row =
    ScenarioParse.parse(Seq(("u", html)).toDF("url", "html"))
      .select("scenario").head().getAs[Row](0)

  private def cat(r: Row, name: String): Seq[Seq[String]] =
    r.getAs[scala.collection.Seq[scala.collection.Seq[String]]](name)
      .map(_.toSeq).toSeq

  test("one boundary → cause/result, no action (extract.py:358-361)") {
    val sc = parse(page(items(3) + "\n" + sep(0) + "\n" + items2(4, 5)))
    assert(cat(sc, "cause") === Seq(Seq("項目1", "項目2", "項目3")))
    assert(cat(sc, "action") === Seq.empty)
    assert(cat(sc, "result") === Seq(Seq("項目4", "項目5")))
  }

  private def items2(from: Int, to: Int): String =
    (from to to).map(i =>
      s"<tr><td><b>$i.</b></td><td></td><td>項目$i</td></tr>").mkString("\n")

  test("deeply nested layout: innermost rows only (find_parent parity)") {
    // extra wrapping table + uppercase tags + a commented-out ghost row —
    // the wrapper row holding the item table must not swallow the items
    val html = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource("/fixtures/scenario_nested.html").toURI)),
      java.nio.charset.StandardCharsets.UTF_8)
    val sc = parse(html)
    assert(cat(sc, "cause") === Seq(Seq("無知", "組織運営不良", "価値観不良")))
    assert(cat(sc, "action") === Seq.empty)
    assert(cat(sc, "result") === Seq(Seq("破損")))
  }

  test("zero boundaries → everything is cause, chunked by 3 (extract.py:363-366)") {
    val sc = parse(page(items(5)))
    assert(cat(sc, "cause") ===
      Seq(Seq("項目1", "項目2", "項目3"), Seq("項目4", "項目5")))
    assert(cat(sc, "action") === Seq.empty)
    assert(cat(sc, "result") === Seq.empty)
  }

  test("no 60% td → fallback parses the whole page (extract.py:299-301)") {
    val sc = parse(page(items(2), with60 = false))
    assert(cat(sc, "cause") === Seq(Seq("項目1", "項目2")))
  }

  test("empty page → empty scenario") {
    val sc = parse(page(""))
    assert(cat(sc, "cause") === Seq.empty)
    assert(cat(sc, "action") === Seq.empty)
    assert(cat(sc, "result") === Seq.empty)
  }

  test("the tokenizer runs once per page: one html_table_rows in the plan") {
    // rows, items and boundaries are separate selects; inlined at every
    // use, the analyzed plan held 57 copies of the tokenizer
    val plan = ScenarioParse
      .parse(Seq(("u", page(items(1)))).toDF("url", "html"))
      .queryExecution.analyzed
    val tokenizers = plan.collect { case n =>
      n.expressions
        .map(_.collect { case e: graft.expr.HtmlTableRows => e }.size).sum
    }.sum
    assert(tokenizers === 1)
  }

  test("items sort by number regardless of document order (O1)") {
    val shuffled =
      s"""<tr><td><b>2.</b></td><td></td><td>項目2</td></tr>
         |<tr><td><b>1.</b></td><td></td><td>項目1</td></tr>""".stripMargin
    val sc = parse(page(shuffled))
    assert(cat(sc, "cause") === Seq(Seq("項目1", "項目2")))
  }
}
