package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.ingest.{ExtractMain, Pipeline}

/** Full §3.1 replay: list URL → crawl → fetch → parse → enrich →
  * validate → JSON + PDF + manifest, through the one composed entry point
  * (the reference's run.py), over fixture HTML via an injected fetcher.
  */
object PipelineSpec {
  /** Records executor-side binary-fetch calls (local mode = same JVM). */
  val binaryFetches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Records executor-side page-fetch calls, likewise. */
  val pageFetches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Records (url, partition id) of every fetch, text and binary. */
  val fetchTasks =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
}

class PipelineSpec extends SparkSpec
    with org.scalatest.concurrent.Eventually {
  import org.scalatest.time.SpanSugar._

  private def fixture(name: String): String =
    new String(Files.readAllBytes(
      Paths.get(getClass.getResource(s"/fixtures/$name").toURI)), UTF_8)

  // tests copy this into a local before a fetcher captures it: a
  // closure over the spec itself would not serialize
  private lazy val jpeg: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    bos.toByteArray
  }

  // 701 and 703 are both case_full.html, so they share one scenario page
  // (SZ0200703) and one set of image URLs
  private lazy val sharedScenarioPages: Map[String, String] = Map(
    s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
    s"$base/cf/CZ0200703.html" -> fixture("case_full.html"),
    s"$base/sf/SZ0200703.html" -> fixture("scenario_2b.html"))

  private val base = "https://www.shippai.org/fkd"

  test("list page to sinks, end to end") {
    val pages: Map[String, String] = Map(
      s"$base/lis/cat1.html" -> fixture("list_cat.html"),
      s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
      s"$base/cf/CZ0200702.html" -> fixture("case_missing.html"),
      s"$base/cf/CZ0200703.html" -> fixture("case_full.html"),
      s"$base/sf/SZ0200703.html" -> fixture("scenario_2b.html"))
    val out = Files.createTempDirectory("pipeline").toString

    val res = Pipeline.runUrls(
      spark, Seq(s"$base/lis/cat1.html"), limit = 3, outDir = out)(
      u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")))

    // limit=3 crawls 701/702/703; 701+703 succeed, 702 is excluded
    assert(res.total === 3)
    assert(res.success === 2)
    assert(res.excluded === 1)
    assert(res.error === 0)
    assert(res.manifestFile === "results_001.json")

    val files = new java.io.File(out).list().sorted.toSeq
    // 2 JSON + 2 PDF (success only) + manifest
    assert(files.count(_.endsWith(".json")) === 3) // 2 cases + manifest
    assert(files.count(_.endsWith(".pdf")) === 2)
    val manifest = new String(
      Files.readAllBytes(Paths.get(out, res.manifestFile)), UTF_8)
    assert(manifest.contains("\"success\":2"))
    assert(manifest.contains("情報不足の事例")) // excluded case in roster
  }

  test("runUrls mixes list and direct case URLs, skips unknown forms") {
    val pages: Map[String, String] = Map(
      s"$base/lis/cat1.html" -> fixture("list_cat.html"),
      s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
      s"$base/cf/CZ0200702.html" -> fixture("case_missing.html"),
      s"$base/cf/CZ0200703.html" -> fixture("case_full.html"),
      s"$base/cf/CZ0200799.html" -> fixture("case_full.html"), // direct only
      s"$base/sf/SZ0200703.html" -> fixture("scenario_2b.html"))
    val out = Files.createTempDirectory("pipeline-mixed").toString
    val res = Pipeline.runUrls(
      spark,
      Seq(
        s"$base/cf/CZ0200799.html",      // direct case (not on any list)
        s"$base/lis/cat1.html",          // expands to 701/702/703
        s"$base/mf/not-a-case.jpg"),     // unknown form → skipped
      limit = 3, outDir = out)(
      u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")))
    assert(res.total === 4) // 1 direct + 3 crawled, unknown skipped
    assert(res.success === 3) // 799, 701, 703
    assert(res.excluded === 1) // 702
    assert(res.error === 0)
  }

  test("scenario fetch failure routes its case to error with the message") {
    // the reference fetches the scenario inside the per-case try
    // (extract.py:284-286): a 404 there is an ERROR roster entry, not an
    // excluded-for-missing-scenario
    val pages: Map[String, String] = Map(
      s"$base/lis/cat1.html" -> fixture("list_cat.html"),
      s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
      s"$base/cf/CZ0200702.html" -> fixture("case_missing.html"))
      // SZ0200703 (701's scenario) NOT served
    val out = Files.createTempDirectory("pipeline-scen-err").toString
    val res = Pipeline.runUrls(
      spark, Seq(s"$base/lis/cat1.html"), limit = 2, outDir = out)(
      u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")))
    assert(res.total === 2)
    assert(res.success === 0)
    assert(res.excluded === 1) // 702: genuinely missing fields
    assert(res.error === 1)    // 701: scenario fetch raised
    val manifest = new String(
      Files.readAllBytes(Paths.get(out, res.manifestFile)), UTF_8)
    assert(manifest.contains("404 https://www.shippai.org/fkd/sf/SZ0200703.html"),
      s"scenario fetch message must reach the roster:\n$manifest")
  }

  test("fetch failures stay in the roster as status=error with the message") {
    // 703 is crawled but its fetch throws: run.py:114-133 keeps it in the
    // roster (status=error, message=exception) and counts it in total —
    // ADVICE r2 flagged that dropping it made total < len(case_urls)
    val pages: Map[String, String] = Map(
      s"$base/lis/cat1.html" -> fixture("list_cat.html"),
      s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
      s"$base/cf/CZ0200702.html" -> fixture("case_missing.html"),
      s"$base/sf/SZ0200703.html" -> fixture("scenario_2b.html"))
    val out = Files.createTempDirectory("pipeline-err").toString

    val res = Pipeline.runUrls(
      spark, Seq(s"$base/lis/cat1.html"), limit = 3, outDir = out)(
      u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")))

    assert(res.total === 3)
    assert(res.success === 1)
    assert(res.excluded === 1)
    assert(res.error === 1)

    val manifest = new String(
      Files.readAllBytes(Paths.get(out, res.manifestFile)), UTF_8)
    assert(manifest.contains("\"error\":1"))
    assert(manifest.contains("404 https://www.shippai.org/fkd/cf/CZ0200703.html"),
      s"manifest must carry the fetch message:\n$manifest")
    // run.py key-presence parity: error entries carry no case_id/case_name,
    // success entries no missing_fields but an outputs list
    assert(!manifest.contains("\"case_id\":\"\""),
      s"error entry must omit case_id:\n$manifest")
    assert(!manifest.contains("\"missing_fields\":[]"),
      s"success entry must omit missing_fields:\n$manifest")
    assert(manifest.contains(
      "\"outputs\":[\"CZ0200701_トンネル坑口崩落事故.json\",\"CZ0200701_トンネル坑口崩落事故.pdf\"]"),
      s"success entry must list its outputs:\n$manifest")
    // the failed case produced no per-case JSON or PDF
    val files = new java.io.File(out).list().sorted.toSeq
    assert(files.count(_.endsWith(".pdf")) === 1)
  }

  test("multimedia items become captioned PDF image pages after the rep") {
    // render_pdf.py:361-365 (representative, {BASE}/df/...) then :410-420
    // (every multimedia item, {BASE}/mf/{id}.jpg, caption under each)
    val pages: Map[String, String] = Map(
      s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
      s"$base/sf/SZ0200703.html" -> fixture("scenario_2b.html"))
    val jpeg = this.jpeg
    PipelineSpec.binaryFetches.clear()
    val out = Files.createTempDirectory("pipeline-mm").toString

    val res = Pipeline.runUrls(
      spark, Seq(s"$base/cf/CZ0200701.html"), limit = 1, outDir = out)(
      u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")),
      // static recorder: the closure serializes to executor threads, so a
      // captured local buffer would mutate a copy; local-mode shares the
      // JVM, so the companion singleton sees every call
      u => { PipelineSpec.binaryFetches.add(u); jpeg })

    assert(res.success === 1)
    // fetch-once over the DISTINCT image urls: rep + 2 multimedia (the
    // fixture repeats MZ0200703-1 in a rowspan row; first-wins dedup)
    import scala.jdk.CollectionConverters._
    assert(PipelineSpec.binaryFetches.asScala.toSeq.sorted === Seq(
      s"$base/df/DZ0200703.jpg",
      s"$base/mf/MZ0200703-1.jpg",
      s"$base/mf/MZ0200703-2.jpg"))
    val pdf = new java.io.File(out).list().filter(_.endsWith(".pdf")).toSeq
    assert(pdf.size === 1)
    val bytes = Files.readAllBytes(Paths.get(out, pdf.head))
    val s = new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
    assert(s.split("/Subtype /Image").length - 1 === 3,
      "rep + 2 multimedia image pages")
    // captions travel as UTF-16BE hex in the image pages' content streams
    def hex(t: String) = t.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
      .map("%02X".format(_)).mkString
    assert(s.contains(hex("代表図")), "rep image caption")
    assert(s.contains(hex("崩落箇所の写真")), "multimedia caption 1")
    assert(s.contains(hex("対策工の図")), "multimedia caption 2")
  }

  test("manifest roster lists cases in input processing order") {
    // run.py:95-133 appends to the roster in processing order; direct URL
    // order here is 703, 701, 702 — NOT sorted by case id or status
    val pages: Map[String, String] = Map(
      s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
      s"$base/cf/CZ0200702.html" -> fixture("case_missing.html"),
      s"$base/cf/CZ0200703.html" -> fixture("case_full.html"),
      s"$base/sf/SZ0200703.html" -> fixture("scenario_2b.html"))
    val out = Files.createTempDirectory("pipeline-order").toString
    val res = Pipeline.runUrls(
      spark,
      Seq(s"$base/cf/CZ0200703.html", s"$base/cf/CZ0200701.html",
        s"$base/cf/CZ0200702.html"),
      limit = 3, outDir = out)(
      u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")))
    assert(res.total === 3)
    val manifest = new String(
      Files.readAllBytes(Paths.get(out, res.manifestFile)), UTF_8)
    val posOf = Seq("CZ0200703", "CZ0200701", "CZ0200702")
      .map(id => id -> manifest.indexOf(s"/cf/$id.html"))
    posOf.foreach { case (id, p) => assert(p >= 0, s"$id missing") }
    assert(posOf.map(_._2) === posOf.map(_._2).sorted,
      s"roster must follow input order 703,701,702:\n$manifest")
  }

  test("a duplicated successful URL rosters once per occurrence, in order") {
    // run.py appends each occurrence as it processes it: [703, 701, 703]
    // rosters as 703, 701, 703 — not first-wins-collapsed to 703, 703, 701;
    // the case itself is rendered once, so no two tasks write one file
    val pages: Map[String, String] = Map(
      s"$base/cf/CZ0200701.html" -> fixture("case_full.html"),
      s"$base/cf/CZ0200703.html" -> fixture("case_full.html"),
      s"$base/sf/SZ0200703.html" -> fixture("scenario_2b.html"))
    val out = Files.createTempDirectory("pipeline-dup-ok").toString
    val res = Pipeline.runUrls(
      spark,
      Seq(s"$base/cf/CZ0200703.html", s"$base/cf/CZ0200701.html",
        s"$base/cf/CZ0200703.html"),
      limit = 3, outDir = out)(
      u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")))
    assert(res.total === 3 && res.success === 3)
    val manifest = new String(
      Files.readAllBytes(Paths.get(out, res.manifestFile)), UTF_8)
    val occurrences = "/cf/CZ02007(01|03)\\.html".r
      .findAllMatchIn(manifest).map(_.group(1)).toSeq
    assert(occurrences === Seq("03", "01", "03"),
      s"roster must follow occurrence order:\n$manifest")
    val written = new java.io.File(out).list().toSeq
      .filterNot(_ == res.manifestFile)
    for (ext <- Seq(".json", ".pdf"))
      assert(written.filter(_.endsWith(ext)).map(_.take(9)).sorted ===
        Seq("CZ0200701", "CZ0200703"), s"one $ext per distinct success: $written")
  }

  test("a duplicated failing URL does not row-multiply the roster") {
    // run.py appends duplicate URLs without dedup — 2 entries, not 2x2
    // from a self-multiplying join — but the page is fetched only once
    val pages: Map[String, String] = Map(
      s"$base/lis/ignored.html" -> "")
    PipelineSpec.pageFetches.clear()
    val out = Files.createTempDirectory("pipeline-dup").toString
    val res = Pipeline.runUrls(
      spark,
      Seq(s"$base/cf/CZ0200788.html", s"$base/cf/CZ0200788.html"),
      limit = 10, outDir = out)(
      u => {
        PipelineSpec.pageFetches.add(u)
        pages.getOrElse(u, throw new java.io.IOException(s"404 $u"))
      })
    assert(res.total === 2, s"expected 2 roster entries, got ${res.total}")
    assert(res.error === 2)
    import scala.jdk.CollectionConverters._
    assert(PipelineSpec.pageFetches.asScala.toSeq ===
      Seq(s"$base/cf/CZ0200788.html"))
  }

  test("fetch-once: each case, scenario and image URL once, duplicated " +
    "inputs included") {
    // [703, 701, 703]: a duplicated case URL, and two cases sharing one
    // scenario page — counted over the whole run, across every branch
    val pages = sharedScenarioPages
    val jpeg = this.jpeg
    PipelineSpec.pageFetches.clear()
    PipelineSpec.binaryFetches.clear()
    val out = Files.createTempDirectory("pipeline-fetch-once").toString
    val res = Pipeline.runUrls(
      spark,
      Seq(s"$base/cf/CZ0200703.html", s"$base/cf/CZ0200701.html",
        s"$base/cf/CZ0200703.html"),
      limit = 3, outDir = out)(
      u => {
        PipelineSpec.pageFetches.add(u)
        pages.getOrElse(u, throw new java.io.IOException(s"404 $u"))
      },
      u => { PipelineSpec.binaryFetches.add(u); jpeg })
    assert(res.total === 3 && res.success === 3)
    import scala.jdk.CollectionConverters._
    val pageCounts = PipelineSpec.pageFetches.asScala.toSeq
      .groupBy(identity).map { case (u, us) => u -> us.size }
    assert(pageCounts === Map(
      s"$base/cf/CZ0200703.html" -> 1,
      s"$base/cf/CZ0200701.html" -> 1,
      s"$base/sf/SZ0200703.html" -> 1))
    assert(PipelineSpec.binaryFetches.asScala.toSeq.sorted === Seq(
      s"$base/df/DZ0200703.jpg",
      s"$base/mf/MZ0200703-1.jpg",
      s"$base/mf/MZ0200703-2.jpg"))
  }

  test("every sink plans from a leaf: analyzed sink plans stay under " +
    "2,000 expression nodes") {
    // with the routed frame merely cached, each sink's analyzed plan
    // carried the whole parse (about 18,400 expression nodes); the routed
    // barrier's own plan, checked too, carried 7,334 while the scenario
    // parse inlined its intermediates at every use
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    def exprNodes(p: LogicalPlan): Int = p.collectWithSubqueries {
      case n => n.expressions.map(_.collect { case e => e }.size).sum
    }.sum
    def hasAttr(p: LogicalPlan, names: String*): Boolean = {
      val all = p.collectWithSubqueries { case n => n.output.map(_.name) }
        .flatten.toSet
      names.forall(all)
    }
    // (sink, expression nodes) per sink action seen
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val p = qe.analyzed
        val sink = funcName match {
          case "foreachPartition" if hasAttr(p, "js") => Some("json")
          case "foreachPartition" if hasAttr(p, "image_captions") =>
            Some("pdf")
          case "head" if hasAttr(p, "excluded", "cases") => Some("manifest")
          case "localCheckpoint"
              if p.output.exists(_.name == "missing_fields") =>
            Some("routed")
          case _ => None
        }
        sink.foreach(s => seen.add(s -> exprNodes(p)))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val pages = sharedScenarioPages
    val jpeg = this.jpeg
    val out = Files.createTempDirectory("pipeline-plan-size").toString
    spark.listenerManager.register(listener)
    try {
      val res = Pipeline.runUrls(
        spark,
        Seq(s"$base/cf/CZ0200703.html", s"$base/cf/CZ0200701.html"),
        limit = 2, outDir = out)(
        u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")),
        _ => jpeg)
      assert(res.success === 2)
      import scala.jdk.CollectionConverters._
      // listener events arrive asynchronously
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(seen.asScala.map(_._1).toSet ===
          Set("json", "pdf", "manifest", "routed"))
      }
      seen.asScala.foreach { case (sink, n) =>
        assert(n < 2000, s"$sink sink's analyzed plan has $n expression nodes")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  /** Runs `body` with a listener that records each PDF render task: a
    * task of a stage called from PdfSink that reads rows (from a shuffle
    * or a stored barrier) and writes no shuffle, so it rendered them.
    * `body` reads them as (stage, partition, rows read) through the
    * function it is given, which lists only the tasks of completed stages.
    * Listener events arrive asynchronously: read them inside `eventually`.
    */
  private def withRenderTasks[A](
      body: (() => Seq[(Int, Int, Long)]) => A): A = {
    import scala.jdk.CollectionConverters._
    val renderTasks =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long)]()
    val pdfStages = new java.util.concurrent.ConcurrentHashMap[Int, Unit]()
    val doneStages = new java.util.concurrent.ConcurrentHashMap[Int, Unit]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.name.contains("PdfSink.scala"))
          pdfStages.put(e.stageInfo.stageId, ())
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        doneStages.put(e.stageInfo.stageId, ())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val read =
          if (m == null) 0L
          else m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
        if (pdfStages.containsKey(e.stageId) && read > 0 &&
            m.shuffleWriteMetrics.recordsWritten == 0)
          renderTasks.add((e.stageId, e.taskInfo.index, read))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try body(() =>
      renderTasks.asScala.toSeq.filter(t => doneStages.containsKey(t._1)))
    finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the http and https spellings of one case write one whole file " +
    "of each kind") {
    // the case id comes from the path alone, so both spellings are one
    // case: the reference processes them in order and the later one's
    // files are left on disk; the roster keeps both occurrences
    val https = s"$base/cf/CZ0200701.html"
    val http = https.replaceFirst("^https:", "http:")
    val pages = sharedScenarioPages
    val jpeg = this.jpeg
    val fetch: String => String = u => {
      PipelineSpec.pageFetches.add(u)
      pages.getOrElse(u.replaceFirst("^http:", "https:"),
        throw new java.io.IOException(s"404 $u"))
    }
    def run(urls: Seq[String]): (Pipeline.Result, String) = {
      val out = Files.createTempDirectory("pipeline-spellings").toString
      (Pipeline.runUrls(spark, urls, limit = 2, outDir = out)(
        fetch, _ => jpeg), out)
    }
    def files(out: String, ext: String): Seq[Array[Byte]] =
      new java.io.File(out).list().toSeq.sorted
        .filter(n => n.endsWith(ext) && !n.startsWith("results_"))
        .map(n => Files.readAllBytes(Paths.get(out, n)))

    PipelineSpec.pageFetches.clear()
    val (res, out) = withRenderTasks { rendered =>
      val r = run(Seq(https, http))
      eventually(timeout(30.seconds), interval(100.millis)) {
        val tasks = rendered()
        assert(tasks.nonEmpty && tasks.map(_._3).sum === 1,
          s"PDF render tasks (stage, task, rows): $tasks")
      }
      r
    }
    import scala.jdk.CollectionConverters._
    // the scenario link resolves against the routed (http) spelling
    assert(PipelineSpec.pageFetches.asScala.toSeq.sorted ===
      Seq(http, http.replace("/cf/CZ0200701", "/sf/SZ0200703")))
    assert(res.total === 2 && res.success === 2)
    val json = files(out, ".json")
    val pdf = files(out, ".pdf")
    assert(json.size === 1 && pdf.size === 1)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(mapper.readTree(json.head).get("url").asText === http)
    // the manifest rosters each occurrence with its own URL, in order
    val manifest = mapper.readTree(Paths.get(out, res.manifestFile).toFile)
    assert(manifest.get("cases").elements().asScala.toSeq
      .map(c => (c.get("url").asText, c.get("status").asText)) ===
      Seq(https -> "success", http -> "success"))
    // the documents are those of a run over the http spelling alone
    val alone = run(Seq(http))._2
    assert(files(alone, ".json").head.sameElements(json.head),
      s"the JSON is not the http row's document: ${new String(json.head, UTF_8)}")
    assert(files(alone, ".pdf").head.sameElements(pdf.head),
      "the PDF is not the http row's document")
  }

  test("case pages without a case id route as one row per URL") {
    // the case key falls back to the URL: two id-less /cf/ pages are two
    // error rows, not one collapsed on the empty id
    val pages = sharedScenarioPages ++ Map(
      s"$base/cf/index.php" -> "<html><body>index</body></html>",
      s"$base/cf/list.php" -> "<html><body>list</body></html>")
    val fetch: String => String = u => {
      PipelineSpec.pageFetches.add(u)
      pages.getOrElse(u, throw new java.io.IOException(s"404 $u"))
    }
    PipelineSpec.pageFetches.clear()
    val urls = Seq(s"$base/cf/index.php", s"$base/cf/CZ0200701.html",
      s"$base/cf/list.php")
    val out = Files.createTempDirectory("pipeline-no-id").toString
    val res = Pipeline.runUrls(spark, urls, limit = 3, outDir = out)(fetch)
    assert((res.total, res.success, res.error) === ((3, 1, 2)))
    import scala.jdk.CollectionConverters._
    assert(PipelineSpec.pageFetches.asScala.toSeq.sorted ===
      (urls :+ s"$base/sf/SZ0200703.html").sorted)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val manifest = mapper.readTree(Paths.get(out, res.manifestFile).toFile)
    assert(manifest.get("cases").elements().asScala.toSeq
      .map(c => (c.get("url").asText, c.get("status").asText)) ===
      urls.zip(Seq("error", "success", "error")))
    val written = new java.io.File(out).list().toSeq
      .filterNot(_ == res.manifestFile).sorted
    assert(written.size === 2 && written.forall(_.startsWith("CZ0200701_")),
      s"written: $written")
  }

  test("the scenario fetch, the image fetch and the PDF render each run " +
    "in more than one task") {
    // ten cases with their own scenario pages and images; AQE is on, and
    // sized by bytes it would merge each of these stages into one task
    val ids = (1 to 10).map(i => f"02008$i%02d")
    val caseHtml = fixture("case_full.html")
    val scenHtml = fixture("scenario_2b.html")
    val pages: Map[String, String] = ids.flatMap(id => Seq(
      s"$base/cf/CZ$id.html" -> caseHtml.replace("0200703", id),
      s"$base/sf/SZ$id.html" -> scenHtml)).toMap
    val jpeg = this.jpeg
    val task: String => Unit = u => PipelineSpec.fetchTasks.add(
      u -> org.apache.spark.TaskContext.get.partitionId)
    PipelineSpec.fetchTasks.clear()
    val out = Files.createTempDirectory("pipeline-parallel").toString
    withRenderTasks { rendered =>
      val res = Pipeline.runUrls(
        spark, ids.map(id => s"$base/cf/CZ$id.html"), limit = 10,
        outDir = out)(
        u => {
          task(u)
          pages.getOrElse(u, throw new java.io.IOException(s"404 $u"))
        },
        u => { task(u); jpeg })
      assert(res.success === 10)
      import scala.jdk.CollectionConverters._
      val fetched = PipelineSpec.fetchTasks.asScala.toSeq
      // (distinct URLs, tasks) per fetch
      val Seq(scen, img) = Seq("/sf/", "/mf/").map { kind =>
        val mine = fetched.filter(_._1.contains(kind))
        (mine.map(_._1).distinct.size, mine.map(_._2).distinct.size)
      }
      assert(scen._1 >= 8 && img._1 >= 8, s"URLs fetched: $fetched")
      // listener events arrive asynchronously
      eventually(timeout(30.seconds), interval(100.millis)) {
        val render = rendered().groupBy(_._1).values
          .map(_.map(_._2).distinct.size).maxOption.getOrElse(0)
        assert(scen._2 > 1 && img._2 > 1 && render > 1,
          s"tasks: scenario fetch ${scen._2}, image fetch ${img._2}, " +
            s"PDF render $render")
      }
      // the case URLs are a local seed: its scan spreads them, with no
      // shuffle in front of the fetch
      val cases = fetched.filter(_._1.contains("/cf/"))
      assert(cases.map(_._1).distinct.size === 10 &&
        cases.map(_._2).distinct.size > 1, s"case fetch tasks: $cases")
    }
    import spark.implicits._
    val lone = graft.ingest.Fetch.fetchPages(Seq(s"$base/lis/a.html").toDS())(
      identity).queryExecution.executedPlan.treeString
    assert(!lone.contains("Exchange"), s"a lone URL is shuffled:\n$lone")
  }

  test("every job of a run carries its step's name; the caller's " +
    "description is back afterwards") {
    val steps = Set("list crawl", "case fetch", "case parse",
      "scenario fetch", "route", "JSON sink", "PDF sink", "manifest")
    val group = "pipeline-steps"
    val sc = spark.sparkContext
    // descriptions of the jobs started in `group`, in start order
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(String.valueOf(
            e.properties.getProperty("spark.job.description")))
    }
    val pages = sharedScenarioPages +
      (s"$base/lis/cat1.html" -> fixture("list_cat.html"))
    val jpeg = this.jpeg
    val out = Files.createTempDirectory("pipeline-steps").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "the caller's own")
      val res = Pipeline.runUrls(spark,
        Seq(s"$base/lis/cat1.html", s"$base/cf/CZ0200703.html"),
        limit = 1, outDir = out)(
        u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u")),
        _ => jpeg)
      assert(res.success === 2)
      assert(sc.getLocalProperty("spark.job.description") === "the caller's own")
      // the listener bus keeps order: once the marker's job is seen, so
      // are all of the run's
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      import scala.jdk.CollectionConverters._
      eventually(timeout(30.seconds), interval(100.millis)) {
        assert(jobs.contains("marker"))
      }
      val run = jobs.asScala.toSeq.takeWhile(_ != "marker")
      // every job carries a step's name, and every step ran a job
      assert(run.toSet === steps, s"job descriptions: $run")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("barriers are released after a run and after a failing sink") {
    import org.apache.spark.storage.RDDBlockId
    val sc = spark.sparkContext
    def persistedRdds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def rddBlocks: Set[Int] = org.apache.spark.SparkEnv.get.blockManager
      .master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }.toSet
    val rddsBefore = persistedRdds
    val blocksBefore = rddBlocks
    val pages = sharedScenarioPages
    val fetch: String => String =
      u => pages.getOrElse(u, throw new java.io.IOException(s"404 $u"))
    val urls = Seq(s"$base/cf/CZ0200703.html", s"$base/cf/CZ0200701.html")

    val ok = Pipeline.runUrls(spark, urls, limit = 2,
      outDir = Files.createTempDirectory("pipeline-release").toString)(fetch)
    assert(ok.success === 2)
    // an outDir that is a regular file: every barrier has materialized
    // when the JSON sink fails to create the directory
    val notADir = Files.createTempFile("pipeline-release", ".out").toString
    intercept[java.io.IOException] {
      Pipeline.runUrls(spark, urls, limit = 2, outDir = notADir)(fetch)
    }
    // ExtractMain runs the same barriers: a success, and a case whose
    // scenario fetch fails
    assert(ExtractMain.extract(spark, urls.head,
      Files.createTempDirectory("extract-release").toString)(fetch) === 0)
    assert(ExtractMain.extract(spark, urls.head,
      Files.createTempDirectory("extract-release-err").toString)(
      u => if (u.contains("/sf/")) throw new java.io.IOException(s"404 $u")
      else pages(u)) === 1)
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(persistedRdds -- rddsBefore === Set.empty,
        "a barrier RDD is still persisted")
      assert(rddBlocks -- blocksBefore === Set.empty,
        "a barrier's storage blocks are still held")
    }
  }

  test("no ETL route built in src/main outside Pipeline") {
    // both entry points run Pipeline.routeCases, so they fetch, route and
    // write a case the same way; a second route would drift from it
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val pipeline = root.resolve("graft/ingest/Pipeline.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 50) // ran from the repo root
    // a call, not the definition in CaseParse
    val call =
      """(?<!def )\b(enrichAndRoute|parseMainPages)\(|\bFetch\.fetchPages\(""".r
    val hits = for {
      p <- files if p != pipeline
      (l, i) <- Files.readAllLines(p).asScala.zipWithIndex
      t = l.trim
      if !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*"))
      if call.findFirstIn(t).isDefined
    } yield s"$p:${i + 1}"
    assert(hits.isEmpty,
      hits.mkString("ETL route calls outside Pipeline: ", ", ", ""))
  }
}
