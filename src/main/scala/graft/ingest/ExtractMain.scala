package graft.ingest

/** Single-case extraction entry — extract.py standalone parity
  * (/root/reference/src/extract.py:427-430): URL → `{case_id}_{case_name}
  * .json` under `--output-dir` (default `data`, extract.py:410).
  *
  * Unlike the full pipeline, extract.py writes the JSON UNCONDITIONALLY —
  * required-field validation is run.py's concern — so excluded-grade cases
  * still produce their file here; only fetch failures (case page or
  * scenario page, both of which raise in the reference) and pages with
  * no case id exit non-zero.
  *
  * {{{ runMain graft.ingest.ExtractMain URL [--output-dir DIR] }}}
  */
object ExtractMain {
  private val usage = "usage: graft.ingest.ExtractMain URL [--output-dir DIR]"

  def main(args: Array[String]): Unit = {
    var url = ""
    var outDir = "data"
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--output-dir" =>
          if (i + 1 >= args.length) {
            System.err.println(usage); sys.exit(2)
          }
          outDir = args(i + 1); i += 2
        case u if url.isEmpty => url = u; i += 1
        case _ => System.err.println(usage); sys.exit(2)
      }
    }
    if (url.isEmpty) { System.err.println(usage); sys.exit(2) }

    val spark = graft.Engine.session(appName = "graft-extract")
    val code =
      try extract(spark, url, outDir)(HttpFetch.text)
      finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Testable core: returns the process exit code (0 = JSON written).
    * Runs [[Pipeline.routeCases]] on the one URL: a case or scenario page
    * fetch failure routes to error with its message, and a fetched page
    * with no parseable case id routes to error with none.
    */
  def extract(spark: org.apache.spark.sql.SparkSession, url: String,
      outDir: String)(fetch: String => String): Int = {
    import spark.implicits._
    Pipeline.routeCases(spark, Seq(url))(fetch) { routed =>
      routed.select("status", "message").as[(String, String)].head() match {
        case ("error", msg) =>
          // the reference crashes on any of the three (extract.py:284-286
          // raises on a failed fetch; a non-case page has no case id)
          System.err.println(
            if (msg.nonEmpty) s"extract failed: $msg"
            else s"extract failed: not a case page: $url")
          1
        case _ =>
          Sinks.writePerCaseJson(routed.filter($"status" =!= "error"), outDir)
          println(s"JSON saved under $outDir")
          0
      }
    }
  }
}
