package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.ingest.{CaseJson, ExtractMain, Pipeline, RenderMain}

object ScriptMainSpec {
  /** Records executor-side page-fetch calls (local mode = same JVM). */
  val pageFetches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Smoke tests for the single-case script entries — extract.py:427-430 /
  * render_pdf.py:474-479 standalone parity over the fixture corpus.
  */
class ScriptMainSpec extends SparkSpec {

  private def fixture(name: String): String =
    new String(Files.readAllBytes(
      Paths.get(getClass.getResource(s"/fixtures/$name").toURI)), UTF_8)

  private val base = "https://www.shippai.org/fkd"
  private val pages: Map[String, String] = Map(
    s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
    s"$base/cf/CZ0200702.html" -> fixture("case_missing.html"),
    s"$base/sf/SZ0200703.html" -> fixture("scenario_2b.html"))
  // a lambda over a LOCAL copy of the map — a method reference would close
  // over the (non-serializable) suite instance
  private val fetch: String => String = {
    val p = pages
    u => p.getOrElse(u, throw new java.io.IOException(s"404 $u"))
  }

  test("ExtractMain: URL to per-case JSON, then RenderMain: JSON to PDF") {
    val out = Files.createTempDirectory("extract-main").toString
    val code = ExtractMain.extract(
      spark, s"$base/cf/CZ0200701.html", out)(fetch)
    assert(code === 0)
    val files = new java.io.File(out).list().toSeq
    assert(files === Seq("CZ0200701_トンネル坑口崩落事故.json"))
    val js = new String(
      Files.readAllBytes(Paths.get(out, files.head)), UTF_8)
    assert(js.contains("\"case_id\":\"CZ0200701\""))

    val pdfDir = Files.createTempDirectory("render-main").toString
    RenderMain.render(spark, s"$out/${files.head}", pdfDir)
    val pdfs = new java.io.File(pdfDir).list().toSeq
    assert(pdfs === Seq("CZ0200701_トンネル坑口崩落事故.pdf"))
    val head = Files.readAllBytes(Paths.get(pdfDir, pdfs.head)).take(5)
    assert(new String(head, UTF_8) === "%PDF-")
  }

  test("ExtractMain writes missing-field cases too (validation is run.py's)") {
    // extract.py:409-424 dumps the JSON unconditionally — exclusion is the
    // pipeline's routing concern, not the standalone script's
    val out = Files.createTempDirectory("extract-missing").toString
    val code = ExtractMain.extract(
      spark, s"$base/cf/CZ0200702.html", out)(fetch)
    assert(code === 0)
    val files = new java.io.File(out).list().toSeq
    assert(files.size === 1 && files.head.startsWith("CZ0200702_"))
  }

  test("ExtractMain exits non-zero for a fetchable non-case page") {
    // extract.py crashes on a page with no parseable case id; claiming
    // success while writing nothing would be worse
    val out = Files.createTempDirectory("extract-noncase").toString
    val p = pages + (s"$base/lis/cat1.html" -> "<html><ul></ul></html>")
    val code = ExtractMain.extract(
      spark, s"$base/lis/cat1.html", out)(
      u => p.getOrElse(u, throw new java.io.IOException(s"404 $u")))
    assert(code === 1)
    assert(new java.io.File(out).list().isEmpty)
  }

  test("ExtractMain exits non-zero when the fetch fails") {
    val out = Files.createTempDirectory("extract-404").toString
    val code = ExtractMain.extract(
      spark, s"$base/cf/CZ0299999.html", out)(fetch)
    assert(code === 1)
    assert(new java.io.File(out).list().isEmpty)
  }

  test("ExtractMain exits non-zero on a scenario fetch failure, fetching " +
    "each page once") {
    // the reference fetches the scenario inside extract() and raises
    // (extract.py:284-286); SZ0200703 is not served
    val p = pages - s"$base/sf/SZ0200703.html"
    ScriptMainSpec.pageFetches.clear()
    val out = Files.createTempDirectory("extract-scen-404").toString
    val code = ExtractMain.extract(
      spark, s"$base/cf/CZ0200701.html", out)(u => {
        ScriptMainSpec.pageFetches.add(u)
        p.getOrElse(u, throw new java.io.IOException(s"404 $u"))
      })
    assert(code === 1)
    assert(new java.io.File(out).list().isEmpty)
    import scala.jdk.CollectionConverters._
    assert(ScriptMainSpec.pageFetches.asScala.toSeq.sorted === Seq(
      s"$base/cf/CZ0200701.html", s"$base/sf/SZ0200703.html"))
  }

  test("ExtractMain and runUrls write the same declared document") {
    val url = s"$base/cf/CZ0200701.html"
    val extractOut = Files.createTempDirectory("one-doc-extract").toString
    assert(ExtractMain.extract(spark, url, extractOut)(fetch) === 0)
    val runOut = Files.createTempDirectory("one-doc-run").toString
    val res = Pipeline.runUrls(spark, Seq(url), limit = 1, outDir = runOut,
      writePdf = false)(fetch)
    assert(res.success === 1)
    val name = "CZ0200701_トンネル坑口崩落事故.json"
    val extracted = Files.readAllBytes(Paths.get(extractOut, name))
    val run = Files.readAllBytes(Paths.get(runOut, name))
    assert(new String(extracted, UTF_8) === new String(run, UTF_8))
    import scala.jdk.CollectionConverters._
    val keys = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(extracted).fieldNames().asScala.toSeq
    assert(keys === CaseJson.caseSchema.fieldNames.toSeq)
  }
}
