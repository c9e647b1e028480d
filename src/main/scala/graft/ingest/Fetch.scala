package graft.ingest

import java.util.concurrent.{Callable, ExecutionException, Future,
  LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.control.NonFatal
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftglue.TaskGlue

/** S1/S3 — executor-side fetch (SURVEY.md §2.1).
  *
  * The reference fetches serially on one thread (extract.py:34-38, 30 s
  * timeout per GET); the Spark shape is a URL Dataset partitioned across
  * executors, and failures become a `fetch_error` column (feeding F3's
  * error route) instead of exceptions.
  *
  * The fetcher is injected so the engine stays offline-testable (fixture
  * files) and deployable (an HTTP client with pooling + timeout) without
  * code changes. It must be serializable and safe to call from several
  * threads at once.
  *
  * Overlap: a fetch is a round-trip, not CPU work, so each task keeps up
  * to [[Window]] calls in flight ([[inFlight]]) on one fixed-size daemon
  * pool per JVM, built on first use; neither number grows with the input.
  * Each call runs under its task's `TaskContext`. Rows come back in input
  * order, one per input row. A `NonFatal` error becomes that row's
  * `fetch_error`; any other error fails the task. The calls still in
  * flight when the task ends, done or failed (a `limit` that stops reading
  * early, say), are cancelled.
  *
  * Spread: [[fetchPages]] and [[fetchBinary]] spread their URLs
  * round-robin over the session's `defaultParallelism` ([[spread]]). A URL
  * row is a few bytes but costs a round-trip, so byte-sized partitions
  * are the wrong unit: AQE would coalesce the small shuffle in front of a
  * fetch into one task. A `repartition(n)` shuffle is never coalesced. A
  * local seed (`Seq(...).toDS()`: the case URLs, a lone list URL) is left
  * as it is: its scan already splits it over `min(rows, defaultParallelism)`
  * tasks. A derived URL set, with repeats (the scenario and image URLs of
  * the parsed cases), is hash-spread on the URL instead ([[byUrl]]), in
  * one `repartition(n, url)` exchange that AQE never coalesces either, and
  * each task fetches each URL it holds once. No `distinct()` goes in front
  * of it: above `distinct()`'s identical hash partitioning the planner
  * drops the `repartition(n, url)`, and AQE coalesces again.
  */
object Fetch {

  /** The calls one task keeps in flight. */
  private[graft] final val Window = 16

  /** The fetch pool's threads: four tasks' full windows. */
  private final val PoolThreads = 64

  /** The JVM's fetch pool; idle threads exit after a minute. */
  private lazy val pool: ThreadPoolExecutor = {
    val n = new AtomicInteger
    val p = new ThreadPoolExecutor(PoolThreads, PoolThreads,
      60L, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-fetch-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** `fetch` over `urls` with up to [[Window]] calls in flight: each URL
    * in input order with its result, or the message of the `NonFatal`
    * error it threw. Runs inside a task, whose end cancels the calls
    * still in flight.
    */
  private[graft] def inFlight[T](urls: Iterator[String])(
      fetch: String => T): Iterator[(String, Either[String, T])] = {
    val tc = TaskContext.get()
    val window = new java.util.ArrayDeque[(String, Future[T])]()
    if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
      window.synchronized {
        window.forEach { c => c._2.cancel(true); () }
        window.clear()
      }
    }
    new Iterator[(String, Either[String, T])] {
      def hasNext: Boolean = window.synchronized {
        while (window.size < Window && urls.hasNext) {
          val u = urls.next()
          window.add(u -> pool.submit(new Callable[T] {
            def call(): T = TaskGlue.withTaskContext(tc)(fetch(u))
          }))
        }
        !window.isEmpty
      }
      def next(): (String, Either[String, T]) = {
        if (!hasNext) throw new NoSuchElementException("no more URLs")
        val (u, f) = window.synchronized(window.poll())
        // NonFatal only: OOM/LinkageError fail the task rather than
        // becoming a fetch_error row
        val r = try Right(f.get()) catch {
          case e: ExecutionException => e.getCause match {
            case NonFatal(c) => Left(String.valueOf(c.getMessage))
            case c => throw c
          }
        }
        (u, r)
      }
    }
  }

  /** `rows` round-robin over the session's parallelism; a local seed as is. */
  private[graft] def spread[T](rows: Dataset[T]): Dataset[T] =
    if (rows.queryExecution.analyzed.isInstanceOf[LocalRelation]) rows
    else rows.repartition(rows.sparkSession.sparkContext.defaultParallelism)

  /** `rows` hash-partitioned on their `url` column over the session's
    * parallelism, so each task holds every occurrence of its URLs.
    */
  private[ingest] def byUrl[T](rows: Dataset[T], url: String): Dataset[T] =
    rows.repartition(
      rows.sparkSession.sparkContext.defaultParallelism, col(url))

  /** Text pages: urls → (url, html, fetch_error); html is "" on failure. */
  def fetchPages(urls: Dataset[String])(fetch: String => String): DataFrame =
    pages(spread(urls), once = false)(fetch)

  /** [[fetchPages]] over the DISTINCT urls of a derived set: one row per
    * URL, each fetched once ([[byUrl]]).
    */
  private[ingest] def fetchDistinctPages(urls: Dataset[String])(
      fetch: String => String): DataFrame =
    pages(byUrl(urls, urls.columns.head), once = true)(fetch)

  private def pages(urls: Dataset[String], once: Boolean)(
      fetch: String => String): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    urls.mapPartitions { it =>
      inFlight(if (once) it.distinct else it)(fetch).map {
        case (u, Right(html)) => (u, html, "")
        case (u, Left(msg)) => (u, "", msg)
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
      inFlight(it)(fetch).map {
        case (u, Right(bytes)) => (u, bytes, "")
        case (u, Left(msg)) => (u, null: Array[Byte], msg)
      }
    }.toDF("url", "content", "fetch_error")
  }
}
