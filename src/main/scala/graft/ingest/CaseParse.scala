package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** Case-page parsing + validation routing — the columnar re-expression of
  * the reference's per-case loop (parse_main_page,
  * /root/reference/src/extract.py:49-281; routing run.py:93-120).
  *
  * Stages compose as `DataFrame => DataFrame` (SURVEY.md §3.2): the same
  * plan serves one URL or a billion — only source cardinality changes.
  * Everything before the scenario join is a narrow projection; the join
  * (J1) shuffles on scenario_url only after a distinct() that guarantees
  * each scenario page parses once (the reference's fetch-once discipline,
  * §4.1).
  */
object CaseParse {
  import HtmlOps._

  /** Required HTML labels → emptiness predicates (extract.py:13-20). */
  private def missingExpr: Column = {
    def miss(cond: Column, label: String) = when(cond, lit(label))
    array_compact(array(
      miss(col("summary") === "", "事例概要"),
      miss(col("process") === "", "経過"),
      miss(col("cause") === "", "原因"),
      miss(col("countermeasure") === "", "対策"),
      miss(size(col("scenario.cause")) === 0 &&
        size(col("scenario.action")) === 0 &&
        size(col("scenario.result")) === 0, "シナリオ")))
  }

  /** casePages(url, html) → one wide row per case, carrying scenario_url
    * for the J1 join.
    */
  def parseMainPages(casePages: DataFrame): DataFrame = {
    val html = col("html")
    val lm = col("lm")
    def f(label: String) = field(lm, label)
    def text(label: String) = cellText(f(label))
    def htmlText(label: String) = cellHtmlText(f(label))

    // multimedia: labeled rows AND any bare /mf/ anchor on the page, first
    // occurrence wins (extract.py:73-97 two-pass + seen-set)
    val mf = transform(
      dedupFirst(filter(anchors(html),
        a => a.getField("href").contains("/mf/"))),
      a => struct(
        TextOps.stripExt(TextOps.basename(a.getField("href"))).as("id"),
        a.getField("caption").as("caption")))

    // scenario link: labeled cell's anchor, else first /sf/ href on the
    // page (extract.py:204-210), absolutized (P9)
    val scenHref = coalesce(
      TextOps.nullIfEmpty(aHref(f("シナリオ"))),
      TextOps.nullIfEmpty(
        try_element_at(filter(anchors(html),
          a => a.getField("href").contains("/sf/")), lit(1))
          .getField("href")),
      lit(""))

    casePages
      .withColumn("lm", labelMap(html))
      .select(
        TextOps.caseId(col("url")).as("case_id"),
        col("url"),
        text("事例名称").as("case_name"),
        TextOps.dateNorm(text("事例発生日付")).as("date"),
        text("事例発生地").as("location"),
        text("事例発生場所").as("facility"),
        text("事例概要").as("summary"),
        text("事象").as("phenomenon"),
        htmlText("経過").as("process"),
        htmlText("原因").as("cause"),
        htmlText("対処").as("response"),
        htmlText("対策").as("countermeasure"),
        TextOps.knowledgeParse(cellTextRaw(f("知識化"))).as("knowledge"),
        htmlText("背景").as("background"),
        struct(
          TextOps.basename(imgSrc(f("代表図"))).as("representative"),
          mf.as("multimedia")).as("images"),
        filter(transform(split(cellTextRaw(f("情報源")), "\n"), trim(_)),
          s => length(s) > 0).as("sources"),
        struct(
          TextOps.firstInt(text("死者数")).as("deaths"),
          TextOps.firstInt(text("負傷者数")).as("injuries")).as("casualties"),
        text("被害金額").as("financial_damage"),
        text("社会への影響").as("social_impact"),
        text("備考").as("notes"),
        text("分野").as("field"),
        filter(
          transform(
            split(regexp_replace(cellHtmlText(f("データ作成者")),
              " ", " "), "\n"),
            trim(_)),
          s => length(s) > 0).as("authors"),
        urljoin(col("url"), scenHref).as("scenario_url"),
        // absolute representative-image URL for the binary fetch (the JSON
        // keeps only the basename, images.representative — reference
        // parity); "" when the page has no 代表図
        urljoin(col("url"),
          coalesce(TextOps.nullIfEmpty(imgSrc(f("代表図"))), lit("")))
          .as("rep_img_url"))
  }

  /** J1: enrich cases with their parsed scenario page (left outer — cases
    * without a link keep the empty scenario), then validate and route
    * (F3): success | excluded (missing required fields) | error (fetch
    * failure or no parseable case id — the reference's exception path,
    * run.py:114-120, which keeps every input URL in the roster with
    * status='error' and the exception message; ADVICE r2 flagged that
    * dropping failed fetches before routing made total < len(case_urls)).
    *
    * `fetchErrors` is (url, message) for case pages whose fetch failed;
    * their rows arrive here parsed-from-empty-html and are forced onto the
    * error route with the message preserved. `scenarioErrors` is
    * (scenario_url, scen_message) for scenario pages whose fetch failed —
    * the reference fetches the scenario INSIDE the per-case try
    * (extract.py:284-286 raises, run.py:113-120 catches), so every case
    * pointing at a failed scenario page is an error too, not an
    * excluded-for-missing-シナリオ.
    *
    * `scenarioPages` holds one row per scenario page, as the fetch of a
    * distinct URL set yields it: each page is parsed once (§4.1), and a
    * repeated page would repeat its cases.
    */
  def enrichAndRoute(
      cases: DataFrame,
      scenarioPages: DataFrame,
      fetchErrors: Option[DataFrame] = None,
      scenarioErrors: Option[DataFrame] = None): DataFrame = {
    val scen = ScenarioParse.parse(scenarioPages)
    // unhinted: scenario count is O(cases) in the worst case, so the plan
    // must be allowed to shuffle on scenario_url; AQE broadcasts the
    // typical small frame at runtime
    val enriched = cases
      .join(scen, Seq("scenario_url"), "left")
      .withColumn("scenario",
        coalesce(col("scenario"), ScenarioParse.emptyScenario))
    // no broadcast hints below: both failure lists are proportional to the
    // crawl in the worst case (every fetch failing); AQE broadcasts the
    // usual near-empty frames on its own
    val withCaseMsg = fetchErrors match {
      case Some(fe) =>
        enriched
          .join(fe.select(col("url"), col("message")), Seq("url"), "left")
      case None => enriched.withColumn("message", lit(null).cast("string"))
    }
    val withMsg = (scenarioErrors match {
      case Some(se) =>
        withCaseMsg.join(
          se.select(col("scenario_url"), col("scen_message")),
          Seq("scenario_url"), "left")
      case None =>
        withCaseMsg.withColumn("scen_message", lit(null).cast("string"))
    })
      // case-page failure wins (the reference never reaches the scenario
      // fetch when the case fetch already raised)
      .withColumn("message",
        coalesce(col("message"), col("scen_message"), lit("")))
      .drop("scen_message")
    withMsg
      .withColumn("missing_fields", missingExpr)
      .withColumn("status",
        when(col("message") =!= "", lit("error"))
          .when(col("case_id") === "", lit("error"))
          .when(size(col("missing_fields")) > 0, lit("excluded"))
          .otherwise(lit("success")))
      .drop("scenario_url")
  }

  /** S2 — list-page crawl: `ul.list_all` anchors, keep /cf/ hrefs,
    * absolutize, early-stop at limit (extract.py:396-407; the limit
    * becomes a Spark `limit`, planned as CollectLimit).
    */
  def caseUrlsFromLists(listPages: DataFrame, limit: Int): DataFrame = {
    val ul = regexp_extract(col("html"),
      "(?is)<ul[^>]*class=[\"']?list_all[\"']?[^>]*>(.*?)</ul>", 1)
    listPages
      .select(col("url"), explode(anchors(ul)).as("a"))
      .filter(col("a.href").contains("/cf/"))
      .select(urljoin(col("url"), col("a.href")).as("case_url"))
      .limit(limit)
  }
}
