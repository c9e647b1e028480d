package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes the DuckDB oracle SQL of every catalog-mix query as one JSON
  * object, for `perfbench/tools/expected.py`.
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val body = CatalogMix.Queries.map { q =>
      val s = sql.getOrElse(q, throw new IllegalArgumentException(s"$q has no oracle SQL"))
      s"${Json.str(q)}: ${Json.str(s)}"
    }.mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(args(0)), body.getBytes(UTF_8))
  }
}
