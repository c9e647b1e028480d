package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{CaseParse, Fetch, Pipeline, ScenarioParse, Sinks}

/** The document ETL (`graft.ingest.Pipeline.runUrls`) over a seeded
  * offline corpus. Untraced passes make the one public call; traced
  * passes make the same public calls `Pipeline` makes, in its order,
  * each output forced inside its own span and job group.
  */
object EtlWorkload {

  /** The corpus shape. 20 % of the cases route to excluded, the share
    * of the 2,000-case sizing corpus in the README; one case of each
    * fault kind and one duplicate input URL cover the error routes (they
    * do not model real traffic); four cases share one scenario page; each
    * fetch takes 5 ms, the latency of the README's sizing run. 120 cases
    * keep a pass near 13 s, inside the run budget.
    */
  val Spec = EtlCorpus.Spec(
    cases = 120, excludedShare = 0.2, sharedScenarioCases = 4, latencyMs = 5)

  /** The manifest roster as (url, status) in roster order. */
  def rosterOf(manifest: java.nio.file.Path): Vector[(String, String)] = {
    val js = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(manifest))
    import scala.jdk.CollectionConverters._
    js.get("cases").elements().asScala
      .map(e => e.get("url").asText() -> e.get("status").asText()).toVector
  }
}

/** `cases` sizes the measured corpus; `tamper` lets a test change what
  * the output check expects.
  */
class EtlWorkload(a: Main.Args, cases: Int = EtlWorkload.Spec.cases,
    tamper: EtlCorpus.Corpus => EtlCorpus.Corpus = identity) extends Workload {
  import EtlWorkload._

  private val fx = new EtlCorpus.Fixtures(a.root)
  private val outRoot = s"${a.work}/etl"

  private def corpus(seed: Long, n: Int) =
    tamper(EtlCorpus.generate(fx, Spec.copy(cases = n), seed))

  def warm(spark: SparkSession): PassResult =
    run(spark, corpus(a.seed * 31, cases / 2), "warm", Tracer.Off, None)

  def pass(spark: SparkSession, i: Int, tr: Tracer, probes: Probes): PassResult =
    run(spark, corpus(a.seed * 31 + 100 + i, cases), s"pass$i", tr, Some(probes))

  private def run(spark: SparkSession, c: EtlCorpus.Corpus, tag: String,
      tr: Tracer, probes: Option[Probes]): PassResult = {
    val out = s"$outRoot/$tag"
    Fs.deleteTree(new File(out))
    FetchStub.install(c, Spec.latencyMs)
    FetchStub.tracer = tr
    val mark = tr.size
    val fetch: String => String = u => FetchStub.text(u)
    val fetchBin: String => Array[Byte] = u => FetchStub.binary(u)
    val t0 = System.nanoTime()
    val outcome =
      try Right(
        if (!tr.enabled) {
          val r = Pipeline.runUrls(spark, c.inputs, c.inputs.size, out)(fetch, fetchBin)
          (r, (System.nanoTime() - t0) / 1e9, Map.empty[String, Double])
        } else traced(spark, c, out, tr, probes.get, fetch, fetchBin))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val wall = outcome.fold(_ => (System.nanoTime() - t0) / 1e9, _._2)
    FetchStub.tracer = Tracer.Off
    val n = c.inputs.size
    val res = outcome match {
      case Left(e) =>
        PassResult(wall, Seq(wall * 1000 / n), n, n,
          problems = Seq(s"etl $tag threw: $e"))
      case Right((r, _, runtime)) =>
        val problems = check(c, r, out)
        PassResult(wall, Seq(wall * 1000 / n), n, problems.size,
          layers = runtime ++ layerMetrics(c, r, out, tr.since(mark), wall),
          problems = problems.map(p => s"etl $tag: $p"))
    }
    Fs.deleteTree(new File(out))
    res
  }

  /** The pipeline's public calls in `Pipeline`'s order and plan, each
    * forced in its own span and job group, inside an `etl.pass` span;
    * returns the result and the pass's wall time. As in `Pipeline`, the
    * parsed cases are not cached: the case parse runs in the scenario
    * fetch step (to find the scenario URLs) and again in the route step,
    * which also parses the scenario pages. After the pass, outside its
    * span and wall time, two probes force each parse once over the pass's
    * cached pages, for `parse.case_span_s` and `parse.scenario_span_s`;
    * the Spark runtime deltas it returns are those of the pass alone.
    */
  private def traced(spark: SparkSession, c: EtlCorpus.Corpus, out: String,
      tr: Tracer, probes: Probes, fetch: String => String,
      fetchBin: String => Array[Byte]): (Pipeline.Result, Double, Map[String, Double]) = {
    import spark.implicits._
    val sc = spark.sparkContext
    def step[T](name: String)(body: => T): T = {
      sc.setJobGroup(name, name)
      try tr.span(name)(body) finally sc.clearJobGroup()
    }
    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // the cached frames, unpersisted at the end as `Pipeline` does
    var cached = List.empty[DataFrame]
    def cache[T](ds: org.apache.spark.sql.Dataset[T]) = {
      val d = ds.cache()
      cached ::= d.toDF()
      d
    }
    try {
      probes.drain()
      val before = probes.snapshot()
      val t0 = System.nanoTime()
      val (res, casePages, scenPages) = tr.span("etl.pass") {
        val casePages = step("ingest.Fetch.case_pages") {
          val p = cache(Fetch.fetchPages(c.inputs.toDS())(fetch))
          p.count()
          p
        }
        val fetchErrors = casePages.filter(col("fetch_error") =!= "")
          .select(col("url"), col("fetch_error").as("message"))
          .dropDuplicates("url")
        val cases = CaseParse.parseMainPages(casePages)
        val scenPagesAll = step("ingest.Fetch.scenario_pages") {
          val scenUrls = cases.select(col("scenario_url")).distinct()
            .filter(col("scenario_url") =!= "").as[String]
          val p = cache(Fetch.fetchPages(scenUrls)(fetch))
          p.count()
          p
        }
        val scenErrors = scenPagesAll.filter(col("fetch_error") =!= "")
          .select(col("url").as("scenario_url"), col("fetch_error").as("scen_message"))
        val scenPages = scenPagesAll.filter(col("fetch_error") === "")
        val routed = step("ingest.CaseParse.enrichAndRoute") {
          val wOcc = org.apache.spark.sql.expressions.Window
            .partitionBy("url").orderBy("seq")
          val seqDf = c.inputs.zipWithIndex.toDF("url", "seq")
            .withColumn("occ", row_number().over(wOcc))
          val wRouted = org.apache.spark.sql.expressions.Window
            .partitionBy("url").orderBy("status")
          val r = cache(CaseParse
            .enrichAndRoute(cases, scenPages, Some(fetchErrors), Some(scenErrors))
            .withColumn("occ", row_number().over(wRouted))
            .join(seqDf, Seq("url", "occ"), "left")
            .drop("occ"))
          r.count()
          r
        }
        step("ingest.Sinks.writePerCaseJson")(
          Sinks.writePerCaseJson(routed.filter(col("status") === "success"), out))
        step("sink.PdfSink.writePdfs")(
          graft.sink.PdfSink.writePdfs(pdfInput(routed, fetchBin), out))
        val manifest = step("ingest.Sinks.writeManifest")(
          Sinks.writeManifest(routed, out))
        val counts = routed.groupBy("status").count()
          .as[(String, Long)].collect().toMap
        (Pipeline.Result(out, manifest, counts.values.sum,
          counts.getOrElse("success", 0L), counts.getOrElse("excluded", 0L),
          counts.getOrElse("error", 0L)), casePages, scenPages)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      probes.drain()
      // the cached frames' storage is read after the pass, once unpersisted
      val runtime = probes.since(before) - "spark.cached_mb_end"
      step("probe.CaseParse.parseMainPages")(force(CaseParse.parseMainPages(casePages)))
      step("probe.ScenarioParse.parse")(force(ScenarioParse.parse(scenPages)))
      (res, wall, runtime)
    } finally cached.foreach(_.unpersist())
  }

  /** `Pipeline`'s PDF input: each success's ordered image list fetched
    * once per distinct URL and joined back by position.
    */
  private def pdfInput(routed: DataFrame,
      fetchBin: String => Array[Byte]): DataFrame = {
    val spark = routed.sparkSession
    import spark.implicits._
    val succ = routed.filter(col("status") === "success")
      .withColumn("img_items", concat(
        when(col("rep_img_url") =!= "",
          array(struct(col("rep_img_url").as("iurl"), lit("代表図").as("caption"))))
          .otherwise(array().cast("array<struct<iurl:string,caption:string>>")),
        transform(col("images.multimedia"), m =>
          struct(
            graft.ingest.HtmlOps.urljoin(col("url"),
              concat(lit("../mf/"), m.getField("id"), lit(".jpg"))).as("iurl"),
            m.getField("caption").as("caption")))))
    val items = succ
      .select(col("case_id"), posexplode(col("img_items")))
      .toDF("case_id", "pos", "item")
      .dropDuplicates("case_id", "pos")
    val fetched = Fetch.fetchBinary(
      items.select(col("item.iurl")).distinct().as[String])(fetchBin)
      .filter(col("fetch_error") === "" && col("content").isNotNull)
      .select(col("url"), col("content"))
    val perCase = items
      .join(fetched, col("item.iurl") === col("url"))
      .groupBy("case_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("content"),
        col("item.caption").as("caption")))).as("xs"))
      .select(col("case_id"),
        transform(col("xs"), x => x.getField("content")).as("image_bytes"),
        transform(col("xs"), x => x.getField("caption")).as("image_captions"))
    routed.join(perCase, Seq("case_id"), "left")
      .withColumn("image_bytes",
        coalesce(col("image_bytes"), array().cast("array<binary>")))
      .withColumn("image_captions",
        coalesce(col("image_captions"), array().cast("array<string>")))
  }

  /** Output checks; each entry is one failed case occurrence. */
  private def check(c: EtlCorpus.Corpus, r: Pipeline.Result,
      out: String): Seq[String] = {
    val bad = scala.collection.mutable.LinkedHashMap.empty[Int, String]
    val exp = c.expectedRoster
    val roster = EtlWorkload.rosterOf(Paths.get(out, r.manifestFile))
    exp.indices.foreach { i =>
      val got = roster.lift(i)
      if (!got.contains(exp(i)))
        bad(i) = s"roster[$i] expected ${exp(i)} got $got"
    }
    val summary = Seq(r.total, r.success, r.excluded, r.error)
    val want = Seq("success", "excluded", "error")
      .map(s => exp.count(_._2 == s).toLong)
    if (summary != (exp.size.toLong +: want) && bad.isEmpty)
      exp.indices.foreach(i => bad(i) = s"summary $summary expected $want")
    val files = Option(new File(out).list()).getOrElse(Array.empty[String]).toSet
    val stems = c.successStems
    val exts = Seq(".json", ".pdf")
    exp.indices.foreach { i =>
      val e = c.expected(exp(i)._1)
      if (e.status == "success")
        exts.filterNot(x => files(e.stem + x)).foreach { x =>
          bad.getOrElseUpdate(i, s"missing ${e.stem}$x")
        }
    }
    val extra = files.filter(f => !f.startsWith("results_") &&
      !exts.exists(x => stems(f.stripSuffix(x)) && f.endsWith(x)))
    if (extra.nonEmpty) bad(-1) = s"unexpected output files ${extra.take(3)}"
    // fetch-once: no URL fetched more often than the inputs require;
    // each over-fetched URL is one failed op
    import scala.jdk.CollectionConverters._
    val refetched = FetchStub.perUrl.asScala.collect {
      case (u, n) if n.get > c.maxCalls(u) => s"$u fetched ${n.get} times"
    }
    bad.values.toSeq ++ refetched
  }

  private def layerMetrics(c: EtlCorpus.Corpus, r: Pipeline.Result,
      out: String, spans: Seq[Span], wall: Double): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val self = Tracer.selfByName(spans)
    val dur = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(_.durNs).sum / 1e9 }
    def files(ext: String) = Option(new File(out).listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.endsWith(ext) && !f.getName.startsWith("results_"))
    val urls = FetchStub.perUrl.size().max(1)
    Map(
      "cases_per_s" -> r.total / wall,
      "fetch.calls" -> FetchStub.calls.get.toDouble,
      "fetch.calls_per_url" -> FetchStub.perUrl.values.asScala.map(_.get).sum.toDouble / urls,
      "fetch.busy_s" -> FetchStub.busyNs.get / 1e9,
      "fetch.max_inflight" -> FetchStub.maxInflight.get.toDouble,
      "fetch.faults" -> FetchStub.faults.get.toDouble,
      "fetch.binary_calls" -> FetchStub.binaryCalls.get.toDouble,
      "route.success" -> r.success.toDouble,
      "route.excluded" -> r.excluded.toDouble,
      "route.error" -> r.error.toDouble,
      "sink.json_files" -> files(".json").length.toDouble,
      "sink.json_bytes" -> files(".json").map(_.length).sum.toDouble,
      "sink.pdf_files" -> files(".pdf").length.toDouble,
      "sink.pdf_bytes" -> files(".pdf").map(_.length).sum.toDouble,
      "parse.rows_in" -> c.inputs.size.toDouble,
      "parse.rows_out" -> r.total.toDouble,
      // span metrics: self time of each step's span; fetch.span_s is the
      // fetch steps' whole duration, the calls inside them included
      "fetch.span_s" -> (dur.getOrElse("ingest.Fetch.case_pages", 0.0) +
        dur.getOrElse("ingest.Fetch.scenario_pages", 0.0)),
      "parse.case_span_s" -> self.getOrElse("probe.CaseParse.parseMainPages", 0.0),
      "parse.scenario_span_s" -> self.getOrElse("probe.ScenarioParse.parse", 0.0),
      "route.span_s" -> self.getOrElse("ingest.CaseParse.enrichAndRoute", 0.0),
      "sink.json_span_s" -> self.getOrElse("ingest.Sinks.writePerCaseJson", 0.0),
      "sink.pdf_span_s" -> self.getOrElse("sink.PdfSink.writePdfs", 0.0),
      "sink.manifest_span_s" -> self.getOrElse("ingest.Sinks.writeManifest", 0.0),
      "etl.pass_self_s" -> self.getOrElse("etl.pass", 0.0))
  }
}
