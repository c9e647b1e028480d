package graft

/** Multi-query concurrency probe (SURVEY §6): a real cluster runs
  * catalog queries CONCURRENTLY on a shared SparkSession, while Bench
  * times them serially — this main measures the difference so the bench
  * numbers can be read with the right discount. Four mixed-profile
  * queries (scan-heavy, shuffle-heavy, join-heavy, window-heavy) run
  * (a) serially and (b) in 4 threads on the shared session (Spark
  * sessions are thread-safe; each action becomes an independent job),
  * and the probe prints one JSON line with per-query serial times, the
  * serial sum, the concurrent wall-clock, and the speedup. FAIR
  * scheduling is enabled so no thread's job starves behind another's
  * long stage — the setting a shared 100 TB cluster would run with.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ConcurrencyProbe"
  */
object ConcurrencyProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session(
      Engine.driverSettings(conf = Map("spark.scheduler.mode" -> "FAIR")),
      "graft")
    spark.sparkContext.setLogLevel("WARN")
    val names = Seq("q01_scan_project", "q49_tfidf", "q128_revenue_rollup",
      "q15_window_rank")

    def run(name: String): Unit =
      Bench.materialize(spark, sfDir, name).foreach(e => throw e)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    names.foreach(run) // warm plans + JIT, untimed
    val serial = names.map(n => n -> timed(run(n)))
    val serialSum = serial.map(_._2).sum
    // 3 concurrent repetitions, keep the median wall-clock
    val walls = Seq.fill(3) {
      timed {
        val threads = names.map { n =>
          val t = new Thread(() => run(n)); t.start(); t
        }
        threads.foreach(_.join())
      }
    }.sorted
    val wall = walls(1)
    val qs = serial.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"concurrency","serial_s":$serialSum,""" +
      s""""concurrent_wall_s":$wall,"speedup":${serialSum / wall},""" +
      s""""serial_queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
