package graft

import java.util.concurrent.atomic.AtomicInteger
import graft.ingest.Fetch

object FetchSpec {
  /** Calls running now and the most seen at once (local mode = one JVM). */
  val running = new AtomicInteger
  val peak = new AtomicInteger
  /** Calls cut short by an interrupt. */
  val interrupted = new AtomicInteger

  /** Sleeps `ms`, counting the calls in flight; returns the url. */
  def sleepy(ms: Long)(u: String): String = {
    peak.accumulateAndGet(running.incrementAndGet(), math.max)
    try { Thread.sleep(ms); u }
    catch { case e: InterruptedException => interrupted.incrementAndGet(); throw e }
    finally running.decrementAndGet()
  }

  /** Returns `u`, or throws a fatal error, once the other calls of a full
    * window sleep in [[sleepy]]; the task then ends with them in flight.
    */
  def first(u: String, fatal: Boolean): String = {
    val deadline = System.nanoTime() + 10000000000L
    while (running.get < Fetch.Window - 1 && System.nanoTime() < deadline)
      Thread.sleep(1)
    if (fatal) throw new LinkageError("broken") else u
  }

  def reset(): Unit = Seq(running, peak, interrupted).foreach(_.set(0))
}

/** The overlapped fetch: a window of calls in flight per task, rows in
  * input order, per-row failures, and cancellation at the task's end.
  */
class FetchSpec extends SparkSpec with org.scalatest.concurrent.Eventually {
  import org.scalatest.time.SpanSugar._
  import spark.implicits._

  private def urls(n: Int) = (1 to n).map(i => s"https://example.org/cf/$i.html")

  test("one task keeps more than one and at most Window calls in flight") {
    FetchSpec.reset()
    val us = urls(40)
    val got = spark.sparkContext.parallelize(us, 1)
      .mapPartitions(Fetch.inFlight(_)(FetchSpec.sleepy(20)))
      .collect().toSeq
    assert(got === us.map(u => u -> Right(u)))
    val peak = FetchSpec.peak.get
    assert(peak > 1 && peak <= Fetch.Window, s"peak in flight $peak")
  }

  test("rows come back in input order, one per input row, under the task's " +
    "TaskContext") {
    // later URLs answer sooner, so completion order is not input order
    val us = urls(12)
    val input = us :+ us(3)
    val wait = input.zipWithIndex.toMap.map { case (u, i) => u -> (40 - 3 * i) }
    val rows = Fetch.fetchPages(input.toDS()) { u =>
      Thread.sleep(wait(u).max(1).toLong)
      s"${org.apache.spark.TaskContext.get().partitionId}|$u"
    }.as[(String, String, String)].collect().toSeq
    assert(rows.map(_._1) === input)
    assert(rows.forall(r => r._3 === "" && r._2.endsWith("|" + r._1)))
    // the local seed splits over several tasks, each fetcher seeing its own
    assert(rows.map(_._2.takeWhile(_ != '|')).distinct.size > 1)
  }

  test("a NonFatal failure marks only its own row") {
    val us = urls(6)
    val bad = us(2)
    val pages = Fetch.fetchPages(us.toDS()) { u =>
      if (u == bad) throw new java.io.IOException(s"HTTP 503: $u") else "ok"
    }.as[(String, String, String)].collect().toSeq
    assert(pages === us.map(u =>
      if (u == bad) (u, "", s"HTTP 503: $u") else (u, "ok", "")))
    val bins = Fetch.fetchBinary(us.toDS()) { u =>
      if (u == bad) throw new java.io.IOException(s"HTTP 503: $u")
      else Array[Byte](1, 2)
    }.as[(String, Array[Byte], String)].collect().toSeq
    assert(bins.map(b => (b._1, Option(b._2).map(_.toSeq), b._3)) ===
      us.map(u => if (u == bad) (u, None, s"HTTP 503: $u")
        else (u, Some(Seq[Byte](1, 2)), "")))
  }

  test("a LinkageError fails the action instead of becoming a row") {
    val e = intercept[org.apache.spark.SparkException] {
      Fetch.fetchPages(urls(4).toDS()) { u =>
        if (u.endsWith("/3.html")) throw new LinkageError(s"broken $u") else u
      }.collect()
    }
    assert(e.getMessage.contains("LinkageError: broken"), e.getMessage)
  }

  test("calls still in flight are cancelled when the task ends or fails") {
    val us = urls(40)
    def cancelled(): Unit = {
      eventually(timeout(20.seconds), interval(50.millis)) {
        assert(FetchSpec.running.get === 0)
      }
      assert(FetchSpec.interrupted.get === Fetch.Window - 1)
    }
    val t0 = System.nanoTime()
    // done early: take(1) stops reading after the first row
    FetchSpec.reset()
    val head = us.head
    val one = spark.sparkContext.parallelize(us, 1).mapPartitions { it =>
      Fetch.inFlight(it) { u =>
        if (u == head) FetchSpec.first(u, fatal = false) else FetchSpec.sleepy(30000)(u)
      }.take(1)
    }.collect()
    assert(one.toSeq === Seq(head -> Right(head)))
    cancelled()
    // failed: the first call's fatal error fails the task
    FetchSpec.reset()
    intercept[org.apache.spark.SparkException] {
      spark.sparkContext.parallelize(us, 1).mapPartitions { it =>
        Fetch.inFlight(it) { u =>
          if (u == head) FetchSpec.first(u, fatal = true) else FetchSpec.sleepy(30000)(u)
        }
      }.collect()
    }
    cancelled()
    assert((System.nanoTime() - t0) / 1e9 < 30, "a sleeping call ran out")
  }
}
