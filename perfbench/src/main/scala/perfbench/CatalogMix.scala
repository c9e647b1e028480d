package perfbench

import org.apache.spark.sql.SparkSession

/** The analytic half of `catalog_store`: oracle-gated catalog queries
  * (`graft.SparkEntry.queries`) over the committed sf0.01 tables, each
  * written to the `noop` sink as `graft.Bench` does. About half are small,
  * overhead-bound queries; the rest are one per heavy family. The seed
  * only permutes the order.
  */
object CatalogMix {

  val Queries: Seq[String] = Seq(
    // small, planning- and overhead-bound: filter, aggregate, top-n
    "q02_filter_pred", "q10_manifest_summary", "q14_limit_topn",
    // heavier: scan, sort-merge join, window
    "q01_scan_project", "q17_smj", "q15_window_rank")

  /** Per-query traced metrics, `q.<name>.<metric>`. */
  val PerQuery: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "actions" -> "count", "jobs" -> "count",
    "catalyst_ms" -> "ms", "driver_s" -> "s")

  val layerNames: Seq[(String, String)] =
    Queries.flatMap(q => PerQuery.map { case (m, u) => (s"q.$q.$m", u) }) ++
      Seq("catalog_pass_s" -> "s", "catalog_query_p50_s" -> "s")

  /** Expected (rows, canonical hash) per query, derived from the DuckDB
    * oracle by `perfbench/tools/expected.py`.
    */
  def expected(root: String): Map[String, (Long, String)] = {
    val js = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(s"$root/perfbench/expected/catalog_sf0.01.json"))
    Queries.map { q =>
      val e = js.get(q)
      require(e != null, s"no expected result for $q")
      q -> (e.get("rows").asLong, e.get("hash").asText)
    }.toMap
  }
}

class CatalogMix(a: Main.Args) {
  import CatalogMix._

  val dataDir = s"${a.root}/perfbench/data/sf0.01"
  private val want = expected(a.root)
  private val order =
    new scala.util.Random(a.seed).shuffle(Queries).toVector

  final case class QueryRun(name: String, wallS: Double,
      problem: Option[String], layers: Map[String, Double])

  /** Collect every query once and compare with the oracle's answer. */
  def check(spark: SparkSession): Seq[QueryRun] = order.map { q =>
    val t0 = System.nanoTime()
    val res =
      try {
        val got = Canon.of(graft.SparkEntry.queries(q)(spark, dataDir))
        if (got == want(q)) None
        else Some(s"$q: rows/hash $got, oracle ${want(q)}")
      } catch { case scala.util.control.NonFatal(e) => Some(s"$q threw: $e") }
      finally graft.ops.CacheScope.drain()
    val wall = (System.nanoTime() - t0) / 1e9
    Log.op(s"check $q", wall)
    QueryRun(q, wall, res, Map.empty)
  }

  /** One pass: every query to the noop sink, in the seeded order. Traced
    * passes drain the listener bus after each query to attribute jobs,
    * actions and Catalyst time to it.
    */
  def pass(spark: SparkSession, tr: Tracer, probes: Option[Probes]): Seq[QueryRun] =
    order.map { q =>
      val before = probes.map { p => p.drain(); p.snapshot() }
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err =
        try {
          tr.span(s"queries.$q") {
            graft.SparkEntry.queries(q)(spark, dataDir)
              .write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case scala.util.control.NonFatal(e) => Some(s"$q threw: $e") }
        finally graft.ops.CacheScope.drain()
      val wall = (System.nanoTime() - t0) / 1e9
      val ms1 = System.currentTimeMillis()
      Log.op(q, wall)
      val layers = (probes, before) match {
        case (Some(p), Some(b)) =>
          p.drain()
          val d = p.since(b)
          val jobs = p.jobSpansWithin(ms0, ms1)
          Map(
            s"q.$q.wall_s" -> wall,
            s"q.$q.actions" -> d("spark.actions"),
            s"q.$q.jobs" -> d("spark.jobs"),
            s"q.$q.catalyst_ms" -> d("spark.catalyst_ms"),
            s"q.$q.driver_s" -> (wall - Tracer.unionLength(jobs) / 1e3))
        case _ => Map.empty[String, Double]
      }
      QueryRun(q, wall, err, layers)
    }
}
