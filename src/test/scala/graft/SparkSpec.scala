package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session keeps the
  * suite fast; tests only read tiny in-memory frames).
  */
object TestSpark {
  /** local[4] with 4 shuffle partitions (PlanSpec's pinned plans read
    * these) and a throwaway warehouse. */
  lazy val settings: Map[String, String] = Engine.settings("local[4]", Some(4),
    Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString))

  lazy val spark: SparkSession = {
    val s = Engine.session(settings, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark

  /** Every test is a CacheScope "runner": whatever scoped caches it
    * materialized drain when it ends. Tests that drain in a `finally`
    * are unaffected (draining an empty scope is a no-op); tests that
    * don't (the recall/e2e suites) would otherwise leak caches into the
    * NEXT suite scheduled on the same runner thread and break its
    * `liveCount` pins.
    */
  override protected def afterEach(): Unit = {
    graft.ops.CacheScope.drain()
    super.afterEach()
  }
}
