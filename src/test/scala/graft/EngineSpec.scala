package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** `Engine` is the only session builder: the settings each main and the
  * test suite run with are pinned here, key for key.
  */
class EngineSpec extends SparkSpec {

  private val unset = Map.empty[String, String]
  private val knobs = Map("SPARK_GRAFT_CPUS" -> "8", "SPARK_GRAFT_AQE" -> "false",
    "SPARK_GRAFT_SHUFFLE" -> "64", "SPARK_GRAFT_COALESCE_PFIRST" -> "false")

  private def common(cores: Int) = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  test("Bench settings are the keys its builder chain set") {
    assert(Bench.settings(unset) === common(32) ++ Map(
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "true"))
    assert(Bench.settings(knobs) === common(8) ++ Map(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false"))
  }

  test("Verify settings are the keys its builder chain set") {
    assert(Verify.settings(unset) ===
      common(32) + ("spark.sql.shuffle.partitions" -> "32"))
    // Verify reads only SPARK_GRAFT_CPUS
    assert(Verify.settings(knobs) ===
      common(8) + ("spark.sql.shuffle.partitions" -> "8"))
  }

  test("the test session's settings are the keys its builder chain set") {
    val wh = TestSpark.settings("spark.sql.warehouse.dir")
    assert(wh.contains("graft-wh"))
    assert(TestSpark.settings === common(4) ++ Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.warehouse.dir" -> wh))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("materialize returns the cause of a failed query and throws nothing") {
    val missing = Files.createTempDirectory("graft-sf").resolve("absent")
    val cause = Bench.materialize(spark, missing.toString, "q01_scan_project")
    assert(cause.isDefined)
    assert(cause.get.getMessage != null)
    assert(graft.ops.CacheScope.liveCount === 0)
  }

  test("no SparkSession.builder call in src/main outside Engine") {
    val root = Paths.get("src/main/scala")
    val engine = root.resolve("graft/Engine.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 50) // ran from the repo root
    def code(p: Path) = Files.readAllLines(p).asScala.zipWithIndex
      .filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
    val hits = for {
      p <- files if p != engine
      (l, i) <- code(p) if l.contains("SparkSession.builder")
    } yield s"$p:${i + 1}"
    assert(hits.isEmpty, hits.mkString("builder chains outside Engine: ", ", ", ""))
  }
}
