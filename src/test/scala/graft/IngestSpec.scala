package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ingest.{CaseParse, Fetch, Sinks}

/** End-to-end offline replay of the reference pipeline (SURVEY.md §3.1 /
  * §5.2.4): fixture HTML → parse → scenario join → validate/route → K1
  * per-case JSON + K3 manifest. Fixtures encode the structures the
  * reference depends on (FIXTURES.md §B).
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): String =
    new String(
      Files.readAllBytes(
        Paths.get(getClass.getResource(s"/fixtures/$name").toURI)),
      UTF_8)

  private val base = "https://www.shippai.org/fkd"

  private lazy val routed = {
    val casePages = Seq(
      (s"$base/cf/CZ0200703.html", fixture("case_full.html")),
      (s"$base/cf/CZ0200704.html", fixture("case_missing.html")),
      (s"$base/nocase/x.html", fixture("case_full.html")) // unparseable id
    ).toDF("url", "html")
    val scenPages =
      Seq((s"$base/sf/SZ0200703.html", fixture("scenario_2b.html")))
        .toDF("url", "html")
    CaseParse.enrichAndRoute(CaseParse.parseMainPages(casePages), scenPages)
      .cache()
  }

  private lazy val full: Row =
    routed.filter($"case_id" === "CZ0200703").head()

  test("case fields parse faithfully (labels, text modes, date, ints)") {
    assert(full.getAs[String]("case_name") === "トンネル坑口崩落事故")
    assert(full.getAs[String]("date") === "2006-06-15") // P2 zero-pad
    assert(full.getAs[String]("location") === "北海道")
    // get_text(strip=True) parity: the <br> newline vanishes
    assert(full.getAs[String]("summary") ===
      "トンネル坑口で崩落が発生し、通行中の車両が巻き込まれた。")
    // get_html_text parity: paragraphs, blank line between
    assert(full.getAs[String]("process") ===
      "午前に小規模な落石が発生。\nその後監視を継続。\n\n午後に大規模崩落が発生した。")
    assert(full.getAs[Row]("casualties").getAs[Int]("deaths") === 1)
    assert(full.getAs[Row]("casualties").getAs[Int]("injuries") === 0)
    assert(full.getAs[String]("field") === "土木")
    assert(full.getAs[String]("notes") === "")
  }

  test("adversarial markup: comments, nested tables, quote edge cases (DOM parity)") {
    val casePages = Seq(
      (s"$base/cf/CZ0200799.html", fixture("case_adversarial.html")))
      .toDF("url", "html")
    val scenPages =
      Seq((s"$base/sf/SZ0200703.html", fixture("scenario_2b.html")))
        .toDF("url", "html")
    val r = CaseParse
      .enrichAndRoute(CaseParse.parseMainPages(casePages), scenPages)
      .head()
    // single-quoted and unquoted bgcolor both mark label cells
    assert(r.getAs[String]("case_name") === "入れ子テーブル事例")
    // a '>' inside a quoted attribute does not end the cell tag
    assert(r.getAs[String]("location") === "東京都")
    // nested table in the value cell: find_all("td")[-1] pre-order parity —
    // the value is the LAST INNER cell, balanced across the nested close tags
    assert(r.getAs[String]("summary") === "掘削中に湧水が発生し、作業を中断した。")
    // commented-out rows are invisible to a DOM parser
    assert(r.getAs[String]("notes") === "")
    // an unclosed <tr> is implied-closed by the next row
    assert(r.getAs[String]("process") === "朝に湧水を確認。\n午後に作業中断。")
    // mid-text date (re.search) + full-width casualty digits
    assert(r.getAs[String]("date") === "2006-06-05")
    assert(r.getAs[Row]("casualties").getAs[Int]("deaths") === 0)
    assert(r.getAs[Row]("casualties").getAs[Int]("injuries") === 2)
    assert(r.getAs[String]("status") === "success")
  }

  test("attr keeps spaces in quoted values; duplicate labels last-wins") {
    val tag = Seq("""<td bgcolor="#DFE9F2" title="two words" width=80>""")
      .toDF("t")
    val got = tag.select(
      graft.ingest.HtmlOps.attr(col("t"), "title").as("title"),
      graft.ingest.HtmlOps.attr(col("t"), "bgcolor").as("bg"),
      graft.ingest.HtmlOps.attr(col("t"), "width").as("w"),
      graft.ingest.HtmlOps.attr(col("t"), "height").as("none"))
      .head()
    assert(got.getString(0) === "two words")
    assert(got.getString(1) === "#DFE9F2")
    assert(got.getString(2) === "80")
    assert(got.getString(3) === "")

    // field_map[label] = ... overwrites per row: last duplicate wins
    val html = """<table>
      <tr><td bgcolor="#DFE9F2">備考</td><td>first</td></tr>
      <tr><td bgcolor="#DFE9F2">備考</td><td>second</td></tr>
      </table>"""
    val v = Seq(html).toDF("h")
      .select(graft.ingest.HtmlOps.labelMap(col("h")).as("lm"))
      .select(graft.ingest.HtmlOps.cellText(
        graft.ingest.HtmlOps.field(col("lm"), "備考")).as("v"))
      .as[String].head()
    assert(v === "second", "duplicate label must resolve to the LAST row")
  }

  test("unterminated comment hides the rest of the document (html.parser parity)") {
    val html = """<a href="/cf/A.html">a</a> <!-- dangling
      <a href="/cf/GHOST.html">ghost</a>"""
    val hrefs = Seq(html).toDF("h")
      .select(graft.ingest.HtmlOps.anchors(col("h")).as("as"))
      .selectExpr("transform(as, a -> a.href) AS hs")
      .as[Seq[String]].head()
    assert(hrefs === Seq("/cf/A.html"), s"ghost anchor leaked: $hrefs")
  }

  test("knowledge list parses with continuation append (P7 over HTML)") {
    assert(full.getAs[Seq[String]]("knowledge") ===
      Seq("前兆現象を軽視しないこと", "監視体制を強化する"))
  }

  test("sources and authors split with nbsp handling") {
    assert(full.getAs[Seq[String]]("sources") ===
      Seq("新聞記事（2006年6月16日）", "https://example.org/news/123 参照"))
    assert(full.getAs[Seq[String]]("authors") === Seq("山田 太郎", "佐藤 花子"))
  }

  test("images: representative basename + multimedia first-wins dedup (F4/J2)") {
    val images = full.getAs[Row]("images")
    assert(images.getAs[String]("representative") === "DZ0200703.jpg")
    val mm = images.getAs[scala.collection.Seq[Row]]("multimedia")
      .map(r => (r.getAs[String]("id"), r.getAs[String]("caption"))).toSeq
    assert(mm === Seq(
      ("MZ0200703-1", "崩落箇所の写真"),
      ("MZ0200703-2", "対策工の図"))) // duplicate row dropped, order kept
  }

  test("scenario join: 2 boundaries → cause/action/result in groups of ≤3") {
    val sc = full.getAs[Row]("scenario")
    assert(sc.getAs[Seq[Seq[String]]]("cause") ===
      Seq(Seq("無知", "知識不足", "伝承無視")))
    assert(sc.getAs[Seq[Seq[String]]]("action") ===
      Seq(Seq("定常動作", "誤動作", "疲労")))
    assert(sc.getAs[Seq[Seq[String]]]("result") ===
      Seq(Seq("身体的被害", "経済的被害")))
  }

  test("validation routes to success / excluded(with labels) / error") {
    val statuses = routed.select("case_id", "status", "missing_fields")
      .as[(String, String, Seq[String])].collect()
    val byId = statuses.map(s => s._1 -> s).toMap
    assert(byId("CZ0200703")._2 === "success")
    assert(byId("CZ0200703")._3 === Seq.empty)
    assert(byId("CZ0200704")._2 === "excluded")
    assert(byId("CZ0200704")._3 === Seq("事例概要", "対策", "シナリオ"))
    assert(byId("")._2 === "error")
  }

  test("S2 list crawl: list_all anchors, /cf/ filter, absolutize, limit") {
    val lists = Seq((s"$base/lis/cat1.html", fixture("list_cat.html")))
      .toDF("url", "html")
    val urls = CaseParse.caseUrlsFromLists(lists, 3).as[String].collect()
    assert(urls.toSeq === Seq(
      s"$base/cf/CZ0200701.html",
      s"$base/cf/CZ0200702.html",
      s"$base/cf/CZ0200703.html")) // limit stops before the 4th
  }

  test("S1 fetch pattern: injected fetcher, failures become a column") {
    val urls = Seq("fixture://case_full.html", "fixture://missing.html").toDS()
    val pages = Fetch.fetchPages(urls) {
      case "fixture://case_full.html" => "<html>ok</html>"
      case u => throw new java.io.IOException(s"404 $u")
    }
    val got = pages.as[(String, String, String)].collect().sortBy(_._1)
    assert(got(0)._2 === "<html>ok</html>" && got(0)._3 === "")
    assert(got(1)._2 === "" && got(1)._3.contains("404"))
  }

  test("K1 sink: one UTF-8 JSON file per case, reference naming contract") {
    val dir = Files.createTempDirectory("k1").toString
    Sinks.writePerCaseJson(routed.filter($"status" === "success"), dir)
    val files = new java.io.File(dir).list().sorted
    assert(files.toSeq === Seq("CZ0200703_トンネル坑口崩落事故.json"))
    val js = new String(
      Files.readAllBytes(Paths.get(dir, files.head)), UTF_8)
    assert(js.contains("\"case_id\":\"CZ0200703\""))
    assert(js.contains("前兆現象を軽視しないこと"), "non-ASCII must not be escaped")
  }

  test("K3 sink: manifest with summary counts and max+1 numbering (A3)") {
    val dir = Files.createTempDirectory("k3").toString
    Files.write(Paths.get(dir, "results_007.json"), "{}".getBytes(UTF_8))
    Files.write(Paths.get(dir, "notes.txt"), "x".getBytes(UTF_8))
    // the pipeline attaches each input occurrence's position as `seq`
    val seq = Seq(s"$base/cf/CZ0200703.html", s"$base/cf/CZ0200704.html",
      s"$base/nocase/x.html").zipWithIndex.toDF("url", "seq")
    val name = Sinks.writeManifest(routed.join(seq, "url"), dir)
    assert(name === "results_008.json")
    val js = new String(Files.readAllBytes(Paths.get(dir, name)), UTF_8)
    assert(js.contains("\"total\":3"))
    assert(js.contains("\"success\":1"))
    assert(js.contains("\"excluded\":1"))
    assert(js.contains("\"error\":1"))
    assert(js.contains("事例概要"), "excluded case carries its missing labels")
  }

  test("J2: explode multimedia ⋈ image bytes ⋈ re-collect") {
    val imgBytes = Seq(
      ("MZ0200703-1", Array[Byte](1, 2, 3)),
      ("MZ0200703-2", Array[Byte](9))).toDF("id", "content")
    val got = routed.filter($"case_id" === "CZ0200703")
      .select(col("case_id"), explode(col("images.multimedia")).as("m"))
      .join(imgBytes, col("m.id") === col("id"), "left")
      .groupBy("case_id")
      .agg(sort_array(collect_list(struct(
        col("m.id").as("id"), length(col("content")).as("nbytes")))).as("imgs"))
      .select("imgs").as[Seq[(String, Int)]].head()
    assert(got === Seq(("MZ0200703-1", 3), ("MZ0200703-2", 1)))
  }
}
