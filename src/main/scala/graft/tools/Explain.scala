package graft.tools

/** Dev tool: print the executed plan of any catalog queries by name
  * (`runMain graft.tools.Explain q68_source_quota q69_cooccur_lift`).
  * No args → every query, in catalog order — the quick way to eyeball a
  * new operator's plan before pinning it in PlanSpec. Runs on the test
  * suite's local[4] / 4-partition session, so plans read as PlanSpec sees
  * them.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("local[4]", Some(4))
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.nonEmpty) args.toSeq
      else graft.queries.Catalog.all.map(_.name)
    for (q <- names) {
      println(s"===== $q =====")
      println(graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString)
      graft.ops.CacheScope.drain()
    }
    spark.stop()
  }
}
