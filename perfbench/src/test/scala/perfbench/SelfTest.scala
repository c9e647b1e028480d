package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's own tests, run by `python3 perfbench/build.py test`:
  * the generators are deterministic per seed, span self time is computed
  * correctly, every metric name is well formed and listed in
  * BENCHMARK.json, the canonical hash agrees with the Python oracle side,
  * and a wrong expected status counts as a failed op.
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val root = args(0)
    val fx = new EtlCorpus.Fixtures(root)

    test("ETL corpus is byte-identical for one seed and differs across seeds") {
      val a = EtlCorpus.generate(fx, EtlWorkload.Spec, 7)
      val b = EtlCorpus.generate(fx, EtlWorkload.Spec, 7)
      val c = EtlCorpus.generate(fx, EtlWorkload.Spec, 8)
      check(a.digest == b.digest, "same seed, different corpus")
      check(a.digest != c.digest, "different seeds, same corpus")
      check(a.inputs.size > EtlWorkload.Spec.cases, "no duplicate inputs")
      check(a.expected.values.map(_.status).toSet ==
        Set("success", "excluded", "error"), "fault mix misses a status")
    }

    test("store CDC history is identical for one seed") {
      def key(h: StoreCdc.History) = (h.batches.map(_.map {
        case (i, c, e, op) => (i, c, Option(e).map(_.toSeq), op) }),
        h.liveVecs, h.docs, h.probeIds, h.queries.map(q => (q._1, q._2.toSeq)))
      val emb = (0 until 80).map(i => (i.toLong, i % 5, Array.fill(4)(i.toFloat)))
      val docs = (0 until 30).map(i => (i.toLong, s"doc $i"))
      def gen(seed: Long) = key(StoreCdc.generate(seed, emb, docs, 40, 20, 4))
      check(gen(3) == gen(3), "same seed, different history")
      check(gen(3) != gen(4), "different seeds, same history")
    }

    test("span self time subtracts the union of direct children only") {
      val p = Span(0, "p", 0, 100, -1, "r")
      val kids = Seq(Span(1, "a", 10, 30, 0, "r"), Span(2, "b", 20, 50, 0, "r"),
        Span(3, "c", 90, 120, 0, "r"))
      val grandchild = Span(4, "g", 12, 14, 1, "r")
      check(Tracer.selfNs(p, kids) == 50, s"self ${Tracer.selfNs(p, kids)} != 50")
      val by = Tracer.selfByName(p +: grandchild +: kids)
      check(by("p") == 50e-9, s"p ${by("p")}")
      check(by("a") == 18e-9, s"a ${by("a")}")
      check(by("g") == 2e-9, s"g ${by("g")}")
      check(Tracer.unionLength(Seq((5L, 5L), (1L, 3L), (2L, 4L))) == 3, "union")
    }

    val nameOk = "^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$".r
    val perLayer = Layers.names.map(_._1) ++ Main.TraceExtras.map(_._1)
    test("every metric name is well formed and used once") {
      val all = Main.EndToEnd.map(_._1) ++ perLayer
      all.foreach(n => check(nameOk.matches(n), s"bad metric name $n"))
      check(all.distinct.size == all.size, "duplicate metric names")
    }

    test("BENCHMARK.json lists exactly the metrics the runs print") {
      val js = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Paths.get(root, "BENCHMARK.json").toFile)
      import scala.jdk.CollectionConverters._
      def names(k: String) = js.get(k).elements().asScala.map(_.get("name").asText).toSeq
      check(names("end_to_end").toSet == Main.EndToEnd.map(_._1).toSet,
        s"end_to_end ${names("end_to_end")}")
      check(names("per_layer") == perLayer,
        s"per_layer differs: ${names("per_layer").diff(perLayer)} / ${perLayer.diff(names("per_layer"))}")
    }

    test("canonical hash matches the Python side") {
      // the same rows and constant are asserted in perfbench/tests/test_canon.py
      val rows = Seq(Seq[Any](1L, 0.1, "船", null), Seq[Any](-2, 1.5f, "", true))
      val h = Canon.hashRows(rows.map(_.map(Canon.value).mkString("|")))
      check(h == "ce6f716da463990d6e316e9325bc68547a359e60ef21ca3d76cdb51489a196b3" || {
        println(s"     scala canonical hash: $h"); false }, "hash constant")
    }

    test("a wrong expected status makes failed_op_share non-zero") {
      val work = Paths.get(root, "perfbench", ".work", "selftest").toString
      Files.createDirectories(Paths.get(work))
      val a = Main.Args("etl", 5, 1, trace = false, root, work, System.currentTimeMillis())
      // flip the first success to "error" in what the check expects
      val w = new EtlWorkload(a, cases = 24, tamper = c => {
        val u = c.inputs.find(c.expected(_).status == "success").get
        c.copy(expected = c.expected.updated(u, c.expected(u).copy(status = "error")))
      })
      val spark = Main.session(work)
      try {
        val stats = new RunStats
        stats.record(w.warm(spark))
        check(stats.failed > 0 && stats.failedShare > 0,
          s"failed ${stats.failed} of ${stats.attempted}")
      } finally {
        spark.stop()
        Fs.deleteTree(new java.io.File(work))
      }
    }

    println(if (failures == 0) "ALL PASSED" else s"$failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
