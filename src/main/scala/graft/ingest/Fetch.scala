package graft.ingest

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** S1/S3 — executor-side fetch (SURVEY.md §2.1).
  *
  * The reference fetches serially on one thread (extract.py:34-38, 30 s
  * timeout per GET); the Spark shape is a URL Dataset partitioned across
  * executors with one client per partition — fetch throughput scales with
  * the cluster, and failures become a `fetch_error` column (feeding F3's
  * error route) instead of exceptions.
  *
  * The fetcher is injected so the engine stays offline-testable (fixture
  * files) and deployable (an HTTP client with pooling + timeout) without
  * code changes. It must be serializable — construct per-partition state
  * inside `mapPartitions` in a real client.
  *
  * Partitioning: both fetchers spread their URLs round-robin over the
  * session's `defaultParallelism` before the fetch ([[spread]]). A URL
  * row is a few bytes but costs a round-trip, so byte-sized partitions
  * are the wrong unit: AQE coalesces the small shuffle in front of a
  * fetch (the `distinct()` of the scenario and image URLs) into one
  * partition, and the fetches then run one at a time in one task. A
  * `repartition(n)` shuffle is never coalesced. It is not hashed on the
  * URL: above `distinct()`'s identical hash partitioning the planner
  * drops a `repartition(n, url)`, and AQE coalesces again. A local seed
  * (`Seq(...).toDS()`: the case URLs, a lone list URL) is left as it is:
  * its scan already splits it over `min(rows, defaultParallelism)` tasks.
  */
object Fetch {

  /** `rows` round-robin over the session's parallelism; a local seed as is. */
  private[graft] def spread[T](rows: Dataset[T]): Dataset[T] =
    if (rows.queryExecution.analyzed.isInstanceOf[LocalRelation]) rows
    else rows.repartition(rows.sparkSession.sparkContext.defaultParallelism)

  /** Text pages: urls → (url, html, fetch_error); html is "" on failure. */
  def fetchPages(urls: Dataset[String])(fetch: String => String): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    spread(urls).mapPartitions { it =>
      it.map { u =>
        // NonFatal only: OOM/LinkageError fail the task rather than
        // becoming a fetch_error row
        try (u, fetch(u), "")
        catch { case scala.util.control.NonFatal(e) =>
          (u, "", String.valueOf(e.getMessage)) }
      }
    }.toDF("url", "html", "fetch_error")
  }

  /** Binary objects (S3 — images etc.): urls → (url, content, fetch_error)
    * with `content` null on failure (reference download_image returns None,
    * render_pdf.py:90-98).
    */
  def fetchBinary(urls: Dataset[String])(
      fetch: String => Array[Byte]): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    spread(urls).mapPartitions { it =>
      it.map { u =>
        try (u, fetch(u), "")
        catch { case scala.util.control.NonFatal(e) =>
          (u, null: Array[Byte], String.valueOf(e.getMessage))
        }
      }
    }.toDF("url", "content", "fetch_error")
  }
}
