package perfbench

import org.apache.spark.sql.SparkSession

/** `catalog_store`: each pass runs the catalog mix ([[CatalogMix]]) and
  * then applies the next CDC batch to the run's stores ([[StoreCdc]]).
  * Set-up checks every query against the oracle and bootstraps the
  * stores; the run ends by compacting them. An op is one query or one
  * store call.
  */
class CatalogStoreWorkload(a: Main.Args) extends Workload {
  private val mix = new CatalogMix(a)
  private val store = new StoreCdc(a)

  private def result(t0: Long, qs: Seq[mix.QueryRun], s: store.Outcome,
      layers: Map[String, Double]): PassResult = {
    val ops = qs.map(_.wallS) ++ s.calls.map(_.wallS)
    val problems = qs.flatMap(_.problem) ++ s.calls.flatMap(_.problem) ++ s.problems
    PassResult((System.nanoTime() - t0) / 1e9, ops.map(_ * 1000), ops.size,
      math.min(ops.size, problems.size), layers, problems = problems)
  }

  def warm(spark: SparkSession): PassResult = {
    val t0 = System.nanoTime()
    val qs = mix.check(spark)
    result(t0, qs, store.start(spark), Map.empty)
  }

  def pass(spark: SparkSession, i: Int, tr: Tracer, probes: Probes): PassResult = {
    val p = if (tr.enabled) Some(probes) else None
    val t0 = System.nanoTime()
    val qs = tr.span("catalog.pass")(mix.pass(spark, tr, p))
    val s = tr.span("store.step")(store.step(spark, tr, p))
    val walls = qs.map(_.wallS)
    result(t0, qs, s, qs.flatMap(_.layers).toMap ++ s.layers ++ Map(
      "catalog_pass_s" -> walls.sum,
      "catalog_query_p50_s" -> Stats.median(walls)))
  }

  override def finish(spark: SparkSession, tr: Tracer, probes: Probes): PassResult = {
    val t0 = System.nanoTime()
    val s = store.finish(spark, tr, if (tr.enabled) Some(probes) else None)
    result(t0, Nil, s, s.layers)
  }
}
