package graft.tools

/** Write `.explain("formatted")` output for named catalog queries to
  * files (round 21 optimization evidence): the before/after plan
  * artifacts under plans/r21/. The session is graft.Bench's (same
  * settings and SPARK_GRAFT_* env vars) so the committed plans are the
  * ones the bench actually runs.
  *
  * Run: sbt "runMain graft.tools.PlanFile <suffix> <query>..."
  *   → $SPARK_GRAFT_PLAN_DIR (default plans/r22)/<query>_<suffix>.txt
  */
object PlanFile {
  def main(args: Array[String]): Unit = {
    val suffix = args.head
    val names = args.drop(1).toSeq
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Engine.session(graft.Bench.settings(sys.env), "graft")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r22"))
    java.nio.file.Files.createDirectories(dir)
    names.foreach { q =>
      val df = graft.queries.Catalog.queries(q)(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(dir.resolve(s"${q}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.ops.CacheScope.drain()
      println(s"wrote plans: ${q}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
