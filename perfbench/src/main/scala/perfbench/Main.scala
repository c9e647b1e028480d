package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point, launched by `perfbench/run.py`.
  *
  * One run = set up once (JVM start, session, one warm pass with output
  * checks: `setup_s`), then measure passes in a closed loop — one call at
  * a time from this thread — until `--seconds` of pass time has elapsed,
  * then the workload's finishing work. With `--trace 1` the passes
  * alternate untraced and traced, and the run reports the per-layer
  * metrics plus the tracing overhead instead of the end-to-end ones. The
  * last line of stdout is the result object.
  *
  * Set-up is not repeated within a run: its first execution of every
  * code path costs 35–50 s on a 4-core VM, and the driver's runs must
  * fit in under an hour. `setup_s` is one sample per run.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String, work: String, launchMs: Long)

  /** The end-to-end metrics an untraced run prints. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_geomean_ms" -> "ms",
    "retained_heap_mb" -> "MB")

  /** What a traced run prints besides [[Layers.names]]. */
  val TraceExtras: Seq[(String, String)] = Seq(
    "trace.overhead_s" -> "s", "failed_op_share" -> "ratio")

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--root"), need("--work"),
      m.get("--launch-ms").map(_.toLong).getOrElse(System.currentTimeMillis()))
  }

  /** The session `graft.Bench` builds, sized to at most 4 cores. */
  def session(work: String): SparkSession = {
    val n = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, a: Args): Workload = name match {
    case "etl" => new EtlWorkload(a)
    case "catalog_store" => new CatalogStoreWorkload(a)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workload(a.workload, a)
    val stats = new RunStats

    // set-up is timed from the launcher's clock, so it includes JVM start
    val spark = session(a.work)
    stats.record(w.warm(spark))
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1e3
    Log.op("setup", setupS)

    val probes = new Probes(spark)
    val tracer = new Tracer(s"${a.workload}-${a.seed}")
    val passes = Vector.newBuilder[PassResult]
    val untraced = Vector.newBuilder[Double]
    var elapsed = 0.0
    var i = 0
    var fin: PassResult = null
    try {
      // a traced run brackets each traced pass with untraced ones, so the
      // tracing overhead is not confounded with warm-up
      while (elapsed < a.seconds || (a.trace && (i < 3 || i % 2 == 0))) {
        val traced = a.trace && i % 2 == 1
        val before = probes.snapshot()
        val p = w.pass(spark, i, if (traced) tracer else Tracer.Off, probes)
        probes.drain()
        val pr = p.copy(layers = probes.since(before) ++ p.layers,
          heapMb = Probes.retainedHeapMb())
        stats.record(pr)
        Log.op(s"pass $i${if (traced) " (traced)" else ""}", pr.wallS)
        if (!a.trace || traced) passes += pr else untraced += pr.wallS
        elapsed += pr.wallS
        i += 1
      }
      fin = w.finish(spark, if (a.trace) tracer else Tracer.Off, probes)
      stats.record(fin)
    } finally {
      probes.close()
      spark.stop()
    }

    val ps = passes.result()
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val v = Map(
          "setup_s" -> setupS,
          "pass_s" -> Stats.median(ps.map(_.wallS)),
          "op_geomean_ms" -> Stats.geomean(ps.flatMap(_.opMs)),
          "retained_heap_mb" -> Stats.median(ps.map(_.heapMb)))
        EndToEnd.map { case (n, u) => (n, v(n), u) }
      } else {
        tracer.writeTo(s"${a.root}/perfbench/out/spans-${a.workload}-${a.seed}.jsonl")
        val layers = Layers.names.map { case (n, unit) =>
          (n, fin.layers.getOrElse(n,
            Stats.median(ps.map(_.layers.getOrElse(n, 0.0)))), unit)
        }
        val v = Map(
          "trace.overhead_s" ->
            (Stats.median(ps.map(_.wallS)) - Stats.median(untraced.result())),
          "failed_op_share" -> stats.failedShare)
        layers ++ TraceExtras.map { case (n, u) => (n, v(n), u) }
      }
    println(Json.result(stats.failed == 0, stats.attempted, stats.failed, metrics))
  }
}

/** What a workload does: warm set-up work, then measured passes. */
trait Workload {
  /** The warm pass of set-up, with the same output checks. */
  def warm(spark: SparkSession): PassResult
  /** One measured pass; `tr` is [[Tracer.Off]] on untraced passes. */
  def pass(spark: SparkSession, i: Int, tr: Tracer, probes: Probes): PassResult
  /** Work after the measured passes, checked but not timed as a pass. */
  def finish(spark: SparkSession, tr: Tracer, probes: Probes): PassResult =
    PassResult(0.0, Nil, 0, 0)
}

/** One pass: its wall time, the latency of each op, how many ops failed
  * (threw, or failed their output check) and per-layer values.
  */
final case class PassResult(wallS: Double, opMs: Seq[Double],
    attempted: Int, failed: Int,
    layers: Map[String, Double] = Map.empty, heapMb: Double = 0.0,
    problems: Seq[String] = Nil)

/** Op accounting over the whole run, warm passes included. */
final class RunStats {
  var attempted = 0L
  var failed = 0L
  def record(p: PassResult): Unit = {
    attempted += p.attempted
    failed += p.failed
    p.problems.take(5).foreach(m => System.err.println(s"[perfbench] FAILED: $m"))
  }
  def failedShare: Double =
    if (attempted == 0) 0.0 else failed.toDouble / attempted
}

/** Progress lines on stderr (stdout carries only the result). */
object Log {
  def op(what: String, seconds: Double): Unit =
    System.err.println(f"[perfbench] $what%-48s $seconds%8.3f s")
}

object Fs {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Stats {
  /** Geometric mean: every op counts alike, however long it runs. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
