package graft.ingest

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.schema.FailureCase

/** S4 — case-document JSON read with an EXPLICIT schema (SURVEY.md §2.1).
  *
  * The case schema is fixed and declared (requirements.md:107-142; loaded
  * in the reference at render_pdf.py:474-479) — inference is both wrong
  * (empty arrays lose their element type) and expensive at scale (a second
  * pass over the corpus), so the reader pins the schema from the typed
  * model. The K1 sink writes exactly these fields, in this order
  * ([[Sinks.writePerCaseJson]]). Files are read whole (`multiLine`), so
  * a pretty-printed document reads too; extra keys are ignored and
  * absent ones come back null.
  */
object CaseJson {

  val caseSchema: StructType = Encoders.product[FailureCase].schema

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(caseSchema).option("multiLine", "true").json(path)
}
