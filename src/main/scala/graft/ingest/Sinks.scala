package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** K1/K3 sinks (SURVEY.md §2.1).
  *
  * K1 honors the reference's one-file-per-case naming contract
  * `{case_id}_{case_name}.json` (extract.py:416-424, requirements.md:85-90)
  * via foreachPartition — each executor writes its own rows, nothing is
  * collected. UTF-8 with non-ASCII preserved (`ensure_ascii=False`
  * parity — Jackson writes raw UTF-8).
  *
  * K3 writes the aggregated run manifest `results_NNN.json`
  * (run.py:122-146): counts by single-pass conditional aggregation, roster
  * ordered for determinism, sequence number = max existing + 1 (A3). The
  * one collected row is the manifest itself — the reference's only
  * driver-side object. At 100 TB the roster array would be emitted with
  * df.write.json and only the summary collected; the shape here matches
  * the reference's single-document contract.
  */
object Sinks {

  /** K1 — one `{case_id}_{case_name}.json` file per row of `cases`,
    * written under `dir` by the executors.
    */
  def writePerCaseJson(cases: DataFrame, dir: String): Unit = {
    val docCols = cases.columns
      .filterNot(Set("status", "missing_fields", "lm", "fetch_error",
        "message", "rep_img_url", "image_bytes", "image_captions", "seq"))
    val out = cases.select(
      col("case_id"), col("case_name"),
      to_json(struct(docCols.map(col): _*)).as("js"))
    Files.createDirectories(Paths.get(dir))
    out.foreachPartition { (it: Iterator[Row]) =>
      it.foreach { r =>
        val name = s"${r.getString(0)}_${r.getString(1)}.json"
        Files.write(
          Paths.get(dir, name),
          r.getString(2).getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  /** A written run manifest: its file name and its summary counts. */
  final case class Manifest(
      file: String, total: Long, success: Long, excluded: Long, error: Long)

  /** K3 — run manifest; returns the file name written (see
    * [[writeRunManifest]] for the summary counts too).
    */
  def writeManifest(routed: DataFrame, dir: String,
      wrotePdf: Boolean = true): String =
    writeRunManifest(routed, dir, wrotePdf).file

  /** K3 — run manifest; returns the file name written and the summary
    * counts it carries, so callers need no second job to count the
    * routes. Roster entries carry exactly the reference's per-status key
    * sets (run.py:96-119):
    * success → {case_id, case_name, url, status, outputs}, excluded →
    * {case_id, case_name, url, status, missing_fields}, error →
    * {url, status, message}. Null struct fields vanish from to_json,
    * which is what enforces the key presence.
    *
    * Roster order: run.py appends cases in PROCESSING order (run.py:
    * 95-133) — when the frame carries a `seq` column (the input URL
    * position, attached by the pipeline) the roster is ordered by it;
    * frames without one fall back to ordering by the entry fields
    * (deterministic either way — collect_list alone is not).
    */
  def writeRunManifest(routed: DataFrame, dir: String,
      wrotePdf: Boolean): Manifest = {
    val jsonName = concat(col("case_id"), lit("_"), col("case_name"),
      lit(".json"))
    val pdfName = concat(col("case_id"), lit("_"), col("case_name"),
      lit(".pdf"))
    // the manifest must not claim a PDF that was never written
    val outputs = if (wrotePdf) array(jsonName, pdfName) else array(jsonName)
    val entry = struct(
      when(col("status") =!= "error", col("case_id")).as("case_id"),
      when(col("status") =!= "error", col("case_name")).as("case_name"),
      col("url"), col("status"),
      when(col("status") === "excluded", col("missing_fields"))
        .as("missing_fields"),
      when(col("status") === "error", col("message")).as("message"),
      when(col("status") === "success", outputs).as("outputs"))
    val roster =
      if (routed.columns.contains("seq"))
        to_json(transform(
          sort_array(collect_list(struct(col("seq").as("k"), entry.as("e")))),
          x => x.getField("e")))
      else to_json(sort_array(collect_list(entry)))
    val row = routed
      .agg(
        count(lit(1)).as("total"),
        count(when(col("status") === "success", 1)).as("success"),
        count(when(col("status") === "excluded", 1)).as("excluded"),
        count(when(col("status") === "error", 1)).as("error"),
        roster.as("cases"))
      .head()

    val existing = Option(new java.io.File(dir).list()).getOrElse(Array.empty)
    val seqPat = "^results_(\\d+)\\.json$".r
    val next = existing
      .flatMap(n => seqPat.findFirstMatchIn(n).map(_.group(1).toInt))
      .foldLeft(0)(math.max) + 1
    val name = f"results_$next%03d.json"

    // pinned UTC (run.py:124 writes datetime.now() — container-local time);
    // a fixed zone keeps manifests comparable across heterogeneous
    // executors/drivers, a deliberate deviation noted in SURVEY §5
    val processedAt = java.time.OffsetDateTime
      .now(java.time.ZoneOffset.UTC)
      .truncatedTo(java.time.temporal.ChronoUnit.SECONDS)
      .toLocalDateTime.toString
    val m = Manifest(name,
      row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val json =
      s"""{"processed_at":"$processedAt","summary":{"total":${m.total},"success":${m.success},"excluded":${m.excluded},"error":${m.error}},"cases":${row.getString(4)}}"""
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, name), json.getBytes(StandardCharsets.UTF_8))
    m
  }
}
