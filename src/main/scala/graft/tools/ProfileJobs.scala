package graft.tools

import org.apache.spark.scheduler._

/** Per-JOB wall-clock decomposition of any catalog queries (round 21 —
  * the optimization round's first instrument): runs each named query
  * through the bench's exact materialization (warmup + timed run via
  * the noop sink) with a listener recording every job's duration, task
  * count, and stage count, so an "overhead-bound" diagnosis can name
  * WHICH eager jobs (CacheScope counts, localCheckpoints, collects,
  * broadcast builds) the seconds go to.
  *
  * Run: sbt "runMain graft.tools.ProfileJobs <sfDir> q187_pagerank_residual ..."
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.Engine.session(graft.Bench.settings(sys.env), "graft")
    spark.sparkContext.setLogLevel("ERROR")

    case class J(id: Int, var t0: Long = 0L, var t1: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) {
          val j = J(e.jobId, t0 = e.time)
          j.stages = e.stageInfos.size
          j.tasks = e.stageInfos.map(_.numTasks).sum
          j.desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(e.stageInfos.lastOption.map(_.name.split("\n").head))
            .getOrElse("")
          jobs.put(e.jobId, j)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.t1 = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (q <- names) {
      def run(): Double = {
        val t0 = System.nanoTime()
        graft.Bench.materialize(spark, d, q).foreach(e => throw e)
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm plan shapes, caches, JIT
      run()
      jobs.clear()
      record = true
      val wall = run()
      record = false
      Thread.sleep(300) // let JobEnd events drain
      println(f"===== $q  wall=$wall%.2f s =====")
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      var sum = 0.0
      js.foreach { j =>
        val dt = (j.t1 - j.t0) / 1e3
        sum += math.max(dt, 0)
        println(f"  job ${j.id}%4d ${dt}%8.3f s  stages=${j.stages}%3d " +
          f"tasks=${j.tasks}%5d  ${j.desc.take(110)}")
      }
      println(f"  -- ${js.size} jobs, sum of job spans ${sum}%.2f s " +
        f"(wall $wall%.2f s; gap = driver/planning time)")
    }
    spark.stop()
  }
}
