package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** Scenario-page parsing (reference parse_scenario_page,
  * /root/reference/src/extract.py:284-377): numbered items from the 60%
  * main cell, category boundaries decoded from double-separator images'
  * `space.gif` width arithmetic `idx = (w-15)//20`, then cause/action/
  * result bucketing (A5) and chunk-by-three (A4) — all columnar, one row
  * per scenario page.
  */
object ScenarioParse {
  import HtmlOps._

  /** Group an array into subarrays of ≤3, preserving order
    * (extract.py:369-371). Guarded: sequence() descends for empty input.
    */
  def chunk3(arr: Column): Column =
    when(size(arr) > 0,
      transform(
        sequence(lit(0), ((size(arr) - 1) / lit(3)).cast("int")),
        g => slice(arr, g * 3 + 1, lit(3))))
      .otherwise(array().cast("array<array<string>>"))

  private val spaceW = "(?is)space\\.gif[^>]*?width\\s*=\\s*[\"']?(\\d+)"

  /** pages(url, html) → (scenario_url, scenario struct). */
  def parse(pages: DataFrame): DataFrame = {
    val html = col("html")
    // the left 60% cell; fallback to the whole page (extract.py:299-301).
    // The cell holds a nested table, so a non-greedy `</td>` would truncate
    // at the first inner cell — capture to end-of-page instead; the
    // tokenizer below ignores the trailing stray close tags.
    val mainTd = coalesce(
      TextOps.nullIfEmpty(regexp_extract(html,
        "(?is)<td[^>]*valign=[\"']?top[\"']?[^>]*width=[\"']?[^\"'>]*60%[^>]*>(.*)",
        1)),
      html)

    // INNERMOST rows only — the DOM-grade tokenizer's rows, minus any row
    // holding a nested table in a cell. The reference navigates
    // `b.find_parent("tr")` (extract.py:310) / `img.find_parent("tr")`
    // (:324), and on the real page shapes every <b>N.</b> and separator
    // image sits in a leaf row; outer layout rows must not swallow them.
    val rowsOf = filter(tableRows(mainTd), r =>
      !exists(r.getField("cells"), c => lower(c).contains("<table")))
    def body(r: Column) = array_join(r.getField("cells"), "\n")
    val rows = col("rows")

    // numbered items: <b>N.</b> rows, item text from the 3rd td
    // (extract.py:303-315); sorted by number (O1)
    val itemsOf = transform(
      array_sort(filter(
        transform(rows, r => struct(
          TextOps.nullIfEmpty(
            regexp_extract(body(r), "(?is)<b[^>]*>\\s*(\\d+)\\s*\\.", 1))
            .cast("int").as("num"),
          cellText(coalesce(try_element_at(r.getField("cells"), lit(3)),
            lit(""))).as("txt"),
          size(r.getField("cells")).as("n"))),
        s => s.getField("num").isNotNull && s.getField("n") >= 3)),
      s => s.getField("txt"))

    // double-line boundaries from space.gif width: idx=(w-15)//20,
    // item_after=(idx+1)*3 (extract.py:330-341)
    val boundariesOf = array_sort(transform(
      filter(rows, r =>
        body(r).contains("sinario_line_2") &&
          regexp_extract(body(r), spaceW, 1) =!= ""),
      r => ((((regexp_extract(body(r), spaceW, 1).cast("int") - 15) / lit(20))
        .cast("int")) + 1) * 3))

    val items = col("items")
    val boundaries = col("boundaries")
    val nb = size(boundaries)
    val b1 = element_at(boundaries, 1)
    val b2 = element_at(boundaries, 2)
    val n = size(items)
    // bucketing (extract.py:352-367): 2+ boundaries → cause/action/result,
    // 1 → cause/result, 0 → all cause
    val cause = when(nb >= 1, slice(items, lit(1), b1)).otherwise(items)
    val action = when(nb >= 2, slice(items, b1 + 1, greatest(b2 - b1, lit(0))))
      .otherwise(array().cast("array<string>"))
    val result = when(nb >= 2, slice(items, b2 + 1, greatest(n - b2, lit(0))))
      .when(nb === 1, slice(items, b1 + 1, greatest(n - b1, lit(0))))
      .otherwise(array().cast("array<string>"))

    // three selects, so `rows`, `items` and `boundaries` are each
    // evaluated once per page. Inlined at every use, lambda bodies
    // included (where no subexpression is shared), they put 57 copies of
    // the tokenizer in one plan; the optimizer does not collapse a select
    // into one that reads a costly column more than once
    pages
      .select(col("url"), rowsOf.as("rows"))
      .select(col("url"), itemsOf.as("items"), boundariesOf.as("boundaries"))
      .select(
        col("url").as("scenario_url"),
        struct(
          chunk3(cause).as("cause"),
          chunk3(action).as("action"),
          chunk3(result).as("result")).as("scenario"))
  }

  /** The empty scenario (missing link — extract.py:215). */
  val emptyScenario: Column = struct(
    array().cast("array<array<string>>").as("cause"),
    array().cast("array<array<string>>").as("action"),
    array().cast("array<array<string>>").as("result"))
}
