package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Session-level instruments, registered from outside the program and
  * removed by [[close]]: a `SparkListener` for jobs, tasks, shuffle and
  * spill, a `QueryExecutionListener` for each action's Catalyst phases,
  * plus snapshots of codegen compile counts, GC time and host steal.
  */
final class Probes(spark: SparkSession) {
  private val jobs, tasks, taskCpuNs, taskRunMs, shRead, shWrite, spill,
    records, actions, catalystMs = new AtomicLong
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** (start ms, end ms) of every finished job, in finishing order. */
  val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      jobStartMs.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStartMs.remove(e.jobId)).foreach(t0 => jobSpans.add((t0, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        taskCpuNs.addAndGet(m.executorCpuTime)
        taskRunMs.addAndGet(m.executorRunTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        records.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      actions.incrementAndGet()
      val p = qe.tracker.phases
      catalystMs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(p.get).map(_.durationMs).sum)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  /** Finished job spans overlapping [t0, t1] (wall-clock ms), clipped. */
  def jobSpansWithin(t0: Long, t1: Long): Seq[(Long, Long)] = {
    import scala.jdk.CollectionConverters._
    jobSpans.asScala.toSeq.collect {
      case (s, e) if e > t0 && s < t1 => (math.max(s, t0), math.min(e, t1))
    }
  }

  /** Wait until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)

  def snapshot(): Probes.Snap = Probes.Snap(Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_cpu_s" -> taskCpuNs.get / 1e9,
    "spark.task_run_s" -> taskRunMs.get / 1e3,
    "spark.shuffle_read_mb" -> shRead.get / 1048576.0,
    "spark.shuffle_write_mb" -> shWrite.get / 1048576.0,
    "spark.spill_mb" -> spill.get / 1048576.0,
    "spark.records_read" -> records.get.toDouble,
    "spark.actions" -> actions.get.toDouble,
    "spark.catalyst_ms" -> catalystMs.get.toDouble,
    "spark.codegen_compiles" -> Probes.codegenCompiles.toDouble,
    "jvm.gc_ms" -> Probes.gcMs.toDouble,
    "host.steal_ms" -> Probes.stealMs.toDouble))

  /** Deltas since `s`, plus the storage held by cached blocks now. */
  def since(s: Probes.Snap): Map[String, Double] =
    snapshot().values.map { case (k, v) => k -> (v - s.values(k)) } +
      ("spark.cached_mb_end" -> Probes.cachedMb(spark))

  def close(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Probes {
  import scala.jdk.CollectionConverters._

  final case class Snap(values: Map[String, Double])

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Machine-wide steal time from `/proc/stat` (10 ms ticks); 0 if absent. */
  def stealMs: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toLong * 10 else 0L
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Generated classes compiled so far (exact; the compile-time
    * histogram keeps only a decaying sample, so it gives no per-pass sum).
    */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** Used heap after full GCs. The pauses let Spark's ContextCleaner
    * release what the first collection made unreachable (broadcast and
    * shuffle state is freed only after its driver-side reference dies).
    */
  def retainedHeapMb(): Double = {
    val r = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(150)
      (r.totalMemory - r.freeMemory) / 1048576.0
    }.last
  }
}
