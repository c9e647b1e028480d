package graft.ingest

import org.apache.spark.sql.functions._

/** Single-case PDF rendering entry — render_pdf.py standalone parity
  * (/root/reference/src/render_pdf.py:474-479): a per-case JSON file (as
  * written by [[ExtractMain]] / the pipeline) → `{case_id}_{case_name}
  * .pdf` under `--output-dir` (default `data`, render_pdf.py:324).
  *
  * {{{ runMain graft.ingest.RenderMain JSON_PATH [--output-dir DIR] }}}
  */
object RenderMain {
  private val usage =
    "usage: graft.ingest.RenderMain JSON_PATH [--output-dir DIR]"

  def main(args: Array[String]): Unit = {
    var path = ""
    var outDir = "data"
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--output-dir" =>
          if (i + 1 >= args.length) {
            System.err.println(usage); sys.exit(2)
          }
          outDir = args(i + 1); i += 2
        case p if path.isEmpty => path = p; i += 1
        case _ => System.err.println(usage); sys.exit(2)
      }
    }
    if (path.isEmpty) { System.err.println(usage); sys.exit(2) }
    if (!new java.io.File(path).isFile) {
      System.err.println(s"no such file: $path"); sys.exit(1)
    }

    val spark = graft.Engine.session(appName = "graft-render")
    try {
      render(spark, path, outDir)
      println(s"PDF saved under $outDir")
    } finally spark.stop()
  }

  /** Testable core: JSON document file → PDF under `outDir`. */
  def render(spark: org.apache.spark.sql.SparkSession, path: String,
      outDir: String): Unit = {
    graft.sink.PdfSink.writePdfs(
      CaseJson.read(spark, path).withColumn("status", lit("success")), outDir)
  }
}
