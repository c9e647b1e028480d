package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Lineage

/** The reference's primary entry point (run.py:37-156) as one composed
  * Spark pipeline: list pages → case URLs (limit) → fetch → parse →
  * scenario enrich → validate/route → per-case JSON + PDF + numbered run
  * manifest. The fetch → route part, [[routeCases]], is also the whole
  * of [[ExtractMain]]'s ETL: both entry points route and write a case
  * the same way.
  *
  * Boundary layout at scale (SURVEY §3.1): the only executor⇄driver
  * crossings are the seed URL frame and the 1-row manifest; fetches run
  * per-partition on executors.
  *
  * Lineage barriers: the plan fans out at four frames — the fetched case
  * pages, the parsed cases, the fetched scenario pages and the routed
  * cases. Each is materialized once, eagerly, by
  * [[graft.ops.Lineage.truncate]], and every later plan starts from a
  * leaf over its stored rows.
  * No two branches race to compute the same partitions. The
  * barriers also keep the sinks' plans small: built on a `.cache()`d
  * routed frame, every sink, join and column the sinks add carried the
  * whole parse plan — 75 operators and about 18,400 expression nodes
  * (3,600 in the case parse, 10,600 in `ScenarioParse.parse`) — through
  * analysis, optimization and plan-string generation, which was most of
  * a warm pass's planning time. The routed barrier's own plan starts
  * at the parsed-case leaf but still holds the scenario parse:
  * `ScenarioParse.parse` evaluates its row, item and boundary arrays
  * once per page in three selects, 544 analyzed expression nodes (6,964
  * with each inlined at every use), and the barrier's 914 in all
  * (7,334 with the inlined parse).
  *
  * Routing unit: the case key — the URL's case id (`TextOps.caseId`), or
  * the URL itself when it has none. The core routes one URL per key, its
  * last occurrence: the reference processes its inputs in order
  * (run.py:95-133), so of the http and https spellings of one case page
  * the later one's files are left on disk. Each case page is fetched,
  * parsed and written once (§4.1), and no two rows name one file; input
  * occurrences exist only in the manifest roster, each with its own URL.
  *
  * Derived fetches: the scenario URLs of the parsed cases and the image
  * URLs of the successful ones repeat (cases share a scenario page, a
  * page repeats an image). Each set goes through one exchange, hashed on
  * the URL over `defaultParallelism` ([[Fetch.byUrl]]), and each task
  * fetches every URL it holds once, with its calls overlapped
  * ([[Fetch.inFlight]]). The image rows carry their case, position and
  * caption through that exchange, so no join brings the bytes back to
  * them.
  *
  * Job descriptions: every job of a run carries its step's name as its
  * description ("list crawl", "case fetch", "case parse", "scenario
  * fetch", "route", "JSON sink", "PDF sink", "manifest"), AQE's stage
  * jobs too, which inherit the thread's local properties; the caller's
  * own description is back when a step ends.
  */
object Pipeline {

  final case class Result(
      outDir: String, manifestFile: String,
      total: Long, success: Long, excluded: Long, error: Long)

  /** S1+S2: one list page's case URLs under the PER-LIST limit (the
    * reference calls extract_case_urls_from_list(url, limit) per URL,
    * run.py:70-71 — a single global CollectLimit over all pages would cap
    * the total and pick nondeterministically across lists); the collected
    * seed is tiny by contract.
    */
  private def crawlList(
      spark: SparkSession, listUrl: String, limit: Int)(
      fetch: String => String): Seq[String] = {
    import spark.implicits._
    val lp = Fetch.fetchPages(Seq(listUrl).toDS())(fetch)
      .filter(col("fetch_error") === "")
    step(spark, "list crawl")(
      CaseParse.caseUrlsFromLists(lp, limit).as[String].collect().toSeq)
  }

  /** Runs `body` with `name` as the description of the jobs it starts,
    * then restores the caller's description.
    */
  private def step[A](spark: SparkSession, name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val caller = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(name)
    try body
    finally sc.setLocalProperty(JobDescription, caller)
  }

  /** `SparkContext.SPARK_JOB_DESCRIPTION`, which is `private[spark]`. */
  private final val JobDescription = "spark.job.description"

  /** Run end-to-end — run.py CLI parity (run.py:66-81): URLs may mix list
    * pages (`/lis/`, expanded with the PER-LIST limit), direct case pages
    * (`/cf/`), and anything else (warn-skipped). The expanded set flows
    * through the same pipeline.
    *
    * `fetch` resolves any URL to HTML (an HTTP client in deployment; a
    * fixture reader in tests). `fetchBinary` (optional) resolves image
    * URLs to bytes — when given, each successful case's representative
    * image is fetched executor-side and embedded in its PDF, the
    * reference's download_image → scale-to-fit path (render_pdf.py:90-118);
    * fetch failures just skip the image page.
    */
  def runUrls(
      spark: SparkSession,
      urls: Seq[String],
      limit: Int,
      outDir: String,
      writePdf: Boolean = true)(
      fetch: String => String,
      fetchBinary: String => Array[Byte] = null): Result = {
    val caseUrls = urls.flatMap {
      case lu if lu.contains("/lis/") => crawlList(spark, lu, limit)(fetch)
      case cu if cu.contains("/cf/") => Seq(cu)
      case other =>
        System.err.println(s"[pipeline] skipping unrecognized URL: $other")
        Nil
    }
    processCases(spark, caseUrls, outDir, writePdf)(fetch, fetchBinary)
  }

  /** The sinks over [[routeCases]] for a resolved case-URL set (the body
    * of [[runUrls]]).
    */
  private def processCases(
      spark: SparkSession,
      caseUrls: Seq[String],
      outDir: String,
      writePdf: Boolean)(
      fetch: String => String,
      fetchBinary: String => Array[Byte]): Result = {
    // nothing to process → no manifest, no sequence number consumed
    // (run.py:79-81 exits before writing anything)
    if (caseUrls.isEmpty) return Result(outDir, "", 0, 0, 0, 0)
    import spark.implicits._

    val routedUrl = routedUrls(caseUrls)
    routeCases(spark, caseUrls)(fetch) { routed =>
      step(spark, "JSON sink")(Sinks.writePerCaseJson(
        routed.filter(col("status") === "success"), outDir))
      if (writePdf) step(spark, "PDF sink")(graft.sink.PdfSink.writePdfs(
        if (fetchBinary == null) routed else withImages(routed, fetchBinary),
        outDir))
      // the roster lists every input occurrence in PROCESSING order
      // (run.py:95-133 appends as it goes, without dedup): a case's routed
      // row joins once per occurrence of its key, each with the
      // occurrence's own URL and input position `seq`. Tiny by the seed
      // contract; joined, not broadcast-hinted.
      val occurrences = caseUrls.zipWithIndex
        .map { case (u, i) => (u, i, routedUrl(u)) }.toDF("url", "seq", "key")
      val m = step(spark, "manifest")(Sinks.writeRunManifest(
        occurrences.join(routed.withColumnRenamed("url", "key"), "key"),
        outDir, writePdf))
      Result(outDir, m.file, m.total, m.success, m.excluded, m.error)
    }
  }

  /** Each URL of `caseUrls` → the URL routed for its case key. */
  private def routedUrls(caseUrls: Seq[String]): Map[String, String] = {
    val caseId = graft.ops.TextOps.caseIdPattern.r
    def key(u: String) = caseId.findFirstMatchIn(u).fold(u)(_.group(1))
    val last = caseUrls.map(u => key(u) -> u).toMap // a key's last pair wins
    caseUrls.map(u => u -> last(key(u))).toMap
  }

  /** Fetch → parse → enrich → route: the one ETL core behind both entry
    * points, [[runUrls]] and [[ExtractMain]]. Hands `use` the routed
    * cases — one row per case key of `caseUrls`, with `status`,
    * `message` and `missing_fields` beside the document columns — as a
    * leaf-plan frame, and releases every barrier when `use` returns or
    * throws; `use` must not keep the frame.
    */
  private[ingest] def routeCases[A](
      spark: SparkSession, caseUrls: Seq[String])(
      fetch: String => String)(use: DataFrame => A): A = {
    import spark.implicits._

    // every barrier joins `barriers` once materialized; the finally
    // releases them, so a failure in a later barrier or in `use` still
    // frees the blocks already stored
    val barriers = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def barrier(name: String, df: DataFrame): DataFrame = {
      val b = step(spark, name)(Lineage.truncate(df))
      barriers += b
      b
    }
    try {
      // failed fetches stay in the frame: they parse from empty html and
      // are forced onto the error route with the fetch message, so every
      // case URL reaches the roster (run.py:114-133 parity). BARRIER: the
      // pages feed the error list and the case parse; each case key's URL
      // is fetched exactly once, so a transient failure cannot route one
      // case differently per branch or per occurrence
      val casePages = barrier("case fetch", Fetch.fetchPages(
        caseUrls.map(routedUrls(caseUrls)).distinct.toDS())(fetch))
      val fetchErrors = casePages.filter(col("fetch_error") =!= "")
        .select(col("url"), col("fetch_error").as("message"))

      // BARRIER: the parsed cases feed the scenario-url derivation and the
      // routing join, so each case page parses once. Each DISTINCT
      // scenario page is then fetched once, one row per page (BARRIER:
      // errors + parse); scenario fetch failures route their cases to
      // 'error' with the message (reference: fetch_html raises inside the
      // per-case try, run.py:113-120)
      val cases = barrier("case parse", CaseParse.parseMainPages(casePages))
      val scenUrls = cases.select(col("scenario_url"))
        .filter(col("scenario_url") =!= "").as[String]
      val scenPagesAll =
        barrier("scenario fetch", Fetch.fetchDistinctPages(scenUrls)(fetch))
      val scenErrors = scenPagesAll.filter(col("fetch_error") =!= "")
        .select(col("url").as("scenario_url"),
          col("fetch_error").as("scen_message"))
      val scenPages = scenPagesAll.filter(col("fetch_error") === "")

      // BARRIER: the sinks and the image assembly all read the routed
      // cases; their plans start from this leaf
      use(barrier("route", CaseParse
        .enrichAndRoute(cases, scenPages, Some(fetchErrors), Some(scenErrors))))
    } finally barriers.foreach(Lineage.release)
  }

  /** The PDF sink's input: `routed` plus each successful case's fetched
    * images and captions, in page order.
    */
  private def withImages(
      routed: DataFrame, fetchBinary: String => Array[Byte]): DataFrame = {
    val spark = routed.sparkSession
    import spark.implicits._
    // each successful case's ordered image list: the representative
    // first (render_pdf.py:361-365, {BASE}/df/{rep}), then every
    // multimedia item as {BASE}/mf/{id}.jpg with its caption
    // (render_pdf.py:410-420). One binary fetch per DISTINCT url
    // across all cases (fetch-once, §4.1): each task fetches the URLs it
    // holds once and hands the bytes to every item of the URL; failed
    // fetches drop their page+caption (add_image skips).
    val succ = routed.filter(col("status") === "success")
      .withColumn("img_items", concat(
        when(col("rep_img_url") =!= "",
          array(struct(col("rep_img_url").as("iurl"),
            lit("代表図").as("caption"))))
          .otherwise(array().cast(
            "array<struct<iurl:string,caption:string>>")),
        transform(col("images.multimedia"), m =>
          struct(
            // {BASE}/mf/{id}.jpg (render_pdf.py:26,418) — resolved
            // from the case url (/fkd/cf/x.html → /fkd/mf/{id}.jpg)
            // instead of a hardcoded site constant
            HtmlOps.urljoin(col("url"),
              concat(lit("../mf/"), m.getField("id"), lit(".jpg")))
              .as("iurl"),
            m.getField("caption").as("caption")))))
    val items = succ
      .select(col("case_id"), posexplode(col("img_items")))
      .select(col("case_id"), col("pos"), col("col.iurl").as("iurl"),
        col("col.caption").as("caption"))
      .as[(String, Int, String, String)]
    val fetched = Fetch.byUrl(items, "iurl").mapPartitions { it =>
      val itemsOf = it.toSeq.groupBy(_._3)
      Fetch.inFlight(itemsOf.keysIterator)(fetchBinary).flatMap {
        case (u, Right(bytes)) if bytes != null =>
          itemsOf(u).map { case (id, pos, _, cap) => (id, pos, bytes, cap) }
        case _ => Nil
      }
    }.toDF("case_id", "pos", "content", "caption")
    // NO broadcast hint: image bytes scale with the number of
    // successful cases — the group and the join shuffle on the case id
    // and stay bounded per-partition; AQE still broadcasts when the
    // frame is small
    val perCase = fetched
      .groupBy("case_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("content"),
        col("caption")))).as("xs"))
      .select(col("case_id"),
        transform(col("xs"), x => x.getField("content"))
          .as("image_bytes"),
        transform(col("xs"), x => x.getField("caption"))
          .as("image_captions"))
    routed.join(perCase, Seq("case_id"), "left")
      .withColumn("image_bytes",
        coalesce(col("image_bytes"), array().cast("array<binary>")))
      .withColumn("image_captions",
        coalesce(col("image_captions"), array().cast("array<string>")))
  }
}
