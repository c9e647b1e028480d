package graft

import org.apache.spark.sql.SparkSession

/** The engine's only session builder. Every main, dev tool and the test
  * suite gets its session here, so the configuration cannot drift:
  *
  *  - native functions injected session-wide (GraftExtensions);
  *  - `spark.sql.legacy.parquet.nanosAsLong` for timestamp[ns] testdata
  *    (Tables.events converts the long nanos — SURVEY §5.3);
  *  - shuffle partitions sized to the core count rather than the 200
  *    default (local/bench posture; a cluster submit overrides it);
  *  - UTC session timezone so date/timestamp renderings are stable.
  *
  * Callers add their own keys through `conf` (Bench's AQE knobs, FAIR
  * scheduling, a test warehouse); `conf` wins over the defaults.
  */
object Engine {

  /** Settings of the driver mains and dev tools: SPARK_GRAFT_CPUS cores
    * (32 when unset), one shuffle partition per core, plus `conf`. */
  def driverSettings(env: Map[String, String] = sys.env,
      conf: Map[String, String] = Map.empty): Map[String, String] = {
    val n = env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    settings(s"local[$n]", Some(n), conf)
  }

  /** Every key `session` sets; pure, so a spec can pin it. */
  def settings(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None,
      conf: Map[String, String] = Map.empty): Map[String, String] = {
    val parts = shufflePartitions.getOrElse(
      Runtime.getRuntime.availableProcessors())
    Map(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> parts.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false") ++ conf
  }

  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Option[Int] = None,
      appName: String = "graft",
      conf: Map[String, String] = Map.empty): SparkSession =
    session(settings(master, shufflePartitions, conf), appName)

  /** A session holding `settings` (from `settings` or `driverSettings`). */
  def session(settings: Map[String, String], appName: String): SparkSession = {
    val running = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
    val s = running.getOrElse(settings.foldLeft(
      SparkSession.builder().appName(appName)
        .withExtensions(new graft.expr.GraftExtensions()(_))) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate())
    // a running session keeps its extensions, static and core keys
    // (SNIPPETS [2]'s idempotent setup): register the functions, re-apply
    // the runtime-settable keys, and name each other key it does not hold
    // rather than report it applied (conf.set would throw on it)
    if (running.isDefined) {
      graft.expr.GraftFunctions.register(s)
      settings.foreach { case (k, v) =>
        if (s.conf.isModifiable(k)) s.conf.set(k, v)
        else {
          val held = s.sparkContext.getConf.getOption(k)
            .orElse(s.conf.getOption(k))
          if (!held.contains(v))
            Console.err.println(s"[graft] Engine.session: $k=$v not " +
              "applied; the running session keeps " +
              held.getOrElse("it unset"))
        }
      }
    }
    s
  }
}
