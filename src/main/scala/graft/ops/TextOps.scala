package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text operators P1–P11/P13 (SURVEY.md §2.3), re-expressed as pure
  * Spark column expressions — no UDFs, everything stays inside whole-stage
  * codegen / Catalyst HOF evaluation and therefore distributes trivially:
  * each is a per-row projection with no shuffle at any scale.
  *
  * Semantics mirror the reference implementation (cited per function); the
  * driver's DuckDB oracle validates them on constructed inputs at sf0.01.
  */
object TextOps {

  private val emptyArr: Column = array().cast("array<string>")

  /** Replace `x` with SQL NULL when it is the empty string. Bridges Spark's
    * `regexp_extract` no-match `""` so `coalesce` defaults compose the same
    * way in Spark and DuckDB (SURVEY §5.3 trapdoor).
    */
  def nullIfEmpty(c: Column): Column =
    when(c === "", lit(null).cast("string")).otherwise(c)

  /** [[caseId]]'s pattern (group 1 is the id), shared with the case key
    * that `ingest.Pipeline` computes from the seed URLs.
    */
  private[graft] val caseIdPattern = "/cf/(\\w+)\\.html"

  /** P1 — case-id extraction from a URL (reference: regex `/cf/(\w+)\.html`
    * at /root/reference/src/extract.py:41-46; no-match routes to error
    * status rather than raising).
    */
  def caseId(url: Column): Column = regexp_extract(url, caseIdPattern, 1)

  /** P2 — date normalization: the FIRST `YYYY年M月D日` occurrence anywhere
    * in the text → zero-padded `YYYY-MM-DD`; raw text passthrough when no
    * occurrence (reference: `re.search`, unanchored —
    * /root/reference/src/extract.py:380-385; dates embedded mid-text like
    * `発生は2006年6月15日` normalize too — ADVICE r2 flagged the previous
    * anchored form).
    */
  def dateNorm(c: Column): Column = {
    // Python's re \d is Unicode-wide, so ２００６年６月５日 normalizes in
    // the reference too — same full-width block scoping as firstInt
    // (ADVICE r3; broader Nd classes out of scope)
    val pat = "([0-9０-９]{4})年([0-9０-９]{1,2})月([0-9０-９]{1,2})日"
    // extract the whole first match once, then its digit runs (y/m/d) from
    // that short substring — 2 regex passes instead of a match test plus
    // three per-group extracts
    val m = translate(regexp_extract(c, pat, 0),
      "０１２３４５６７８９", "0123456789")
    val digits = regexp_extract_all(m, lit("(\\d+)"), lit(1))
    when(
      m =!= "",
      concat(
        element_at(digits, 1), lit("-"),
        lpad(element_at(digits, 2), 2, "0"), lit("-"),
        lpad(element_at(digits, 3), 2, "0")))
      .otherwise(c)
  }

  /** P3 — first integer anywhere in the text, default 0 on none
    * (reference: /root/reference/src/extract.py:388-393). Python's `\d`
    * is Unicode-wide, so full-width digits parse too (`死者１名` → 1);
    * scoped to the full-width block the reference corpus actually uses
    * (ADVICE r2 — broader Unicode Nd classes are out of scope).
    */
  def firstInt(c: Column): Column =
    coalesce(
      nullIfEmpty(
        translate(regexp_extract(c, "([0-9０-９]+)", 1),
          "０１２３４５６７８９", "0123456789")).cast("int"),
      lit(0))

  /** The catalog's word tokenizer: lower-case, split on non-word runs,
    * drop empty tokens. DuckDB's `list_filter(string_split_regex(
    * lower(text), '\W+'), x -> len(x) > 0)` gives the same tokens
    * (oracle-gated by q38/q48/q108/q118). Every batch query and its
    * streaming twin calls this one kernel, so their tokens cannot drift.
    */
  def words(text: Column): Column =
    filter(split(lower(text), "\\W+"), t => length(t) > 0)

  /** P4 — `<br>` (any spelling) → newline
    * (reference: /root/reference/src/extract.py:100-107).
    */
  def brToNewline(c: Column): Column =
    regexp_replace(c, "<br\\s*/?>", "\n")

  /** Strip leading/trailing whitespace of every line (keeps the newlines).
    * The class includes U+00A0 for parity with Python `str.strip()`, which
    * the reference applies per line (extract.py:121).
    */
  private def trimLines(c: Column): Column =
    regexp_replace(
      regexp_replace(c, "[ \\t\u00a0]*\\n[ \\t\u00a0]*", "\n"),
      "^\\s+|\\s+$", "")

  /** P5 — paragraph regrouping: trim each line, drop blank lines, join
    * consecutive non-blank lines with `\n` and paragraphs with `\n\n`
    * (reference get_html_text: /root/reference/src/extract.py:109-130).
    * Expressed as a regex chain: per-line trim, outer trim, then collapse
    * every blank-line run to exactly one blank line.
    */
  def paragraphs(c: Column): Column =
    regexp_replace(trimLines(c), "\\n{2,}", "\n\n")

  /** P6 — split lines, trim, drop empties, rejoin with `sep` (reference
    * sources/authors parsing: /root/reference/src/extract.py:233-237,
    * 253-260, including the ` ` → space step at :257).
    */
  def splitTrimJoin(c: Column, sep: String): Column =
    regexp_replace(
      regexp_replace(trimLines(regexp_replace(c, "\u00a0", " ")), "\\n+", "\n"),
      "\n", sep)

  /** Append the trimmed line `l` to the last element of `acc` (the
    * continuation-line rule shared by both list formats below — reference
    * joins continuations with no separator: `items[-1] += line` and
    * `"".join(current)`).
    */
  private def appendToLast(acc: Column, l: Column): Column =
    concat(
      slice(acc, lit(1), size(acc) - 1),
      array(concat(element_at(acc, -1), l)))

  /** P7 — the knowledge-list parser, the reference's hardest scalar op
    * (/root/reference/src/extract.py:143-180). Three formats:
    *
    *  (a) bullet: text contains `・`; lines starting `・` open an item
    *      (marker stripped, trimmed), non-empty lines after the first item
    *      are appended to it verbatim, lines before the first bullet drop;
    *  (b) numbered: some line starts `[0-9０-９]+[．.]` (full-width digits
    *      and dot included); the prefix is stripped, continuations append;
    *  (c) fallback: whole (trimmed) text is the single item; empty → [].
    *
    * The sequential continuation-append is a left fold — `aggregate` HOF
    * over the split lines with an array accumulator. Per-row, so fully
    * parallel across rows despite being sequential within one.
    */
  def knowledgeParse(c: Column): Column = {
    val kt = regexp_replace(c, "^\\s+|\\s+$", "")
    val lines = transform(split(kt, "\n"), l => trim(l))
    val numPrefix = "^[0-9０-９]+[．.]"
    val bullet = aggregate(lines, emptyArr, (acc, l) =>
      when(l.startsWith("・"),
        concat(acc, array(trim(substring(l, 2, Int.MaxValue)))))
        .when(length(l) > 0 && size(acc) > 0, appendToLast(acc, l))
        .otherwise(acc))
    val numbered = aggregate(lines, emptyArr, (acc, l) =>
      when(l.rlike(numPrefix),
        concat(acc, array(regexp_replace(l, numPrefix + "\\s*", ""))))
        .when(length(l) > 0 && size(acc) > 0, appendToLast(acc, l))
        .otherwise(acc))
    when(kt.contains("・"), bullet)
      // detection parity: re.search(..., MULTILINE) over the raw text
      .when(kt.rlike("(?m)" + numPrefix), numbered)
      .when(length(kt) > 0, array(kt))
      .otherwise(emptyArr)
  }

  /** P8 — basename and extension-strip (reference:
    * /root/reference/src/extract.py:188-191,223).
    */
  def basename(path: Column): Column =
    regexp_extract(path, "([^/]+)$", 1)
  def stripExt(name: Column): Column =
    regexp_replace(name, "\\.[^.]*$", "")

  /** P10 — first URL in a text line, "" when none (reference hyperlink
    * detection: /root/reference/src/render_pdf.py:429-435).
    */
  def firstUrl(c: Column): Column =
    regexp_extract(c, "(https?://\\S+)", 1)

  /** P11 — scale-to-fit: ratio preserving aspect inside maxW×maxH
    * (reference: /root/reference/src/render_pdf.py:106-110).
    */
  def fitRatio(w: Column, h: Column, maxW: Double, maxH: Double): Column =
    least(lit(maxW) / w, lit(maxH) / h)
}
