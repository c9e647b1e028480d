package graft.tools

/** Empirical scaling curves for the bench's heavy tail (round 16 —
  * VERDICT r15 item 4): per query, steady-state median wall time at
  * sf0.001 / sf0.01 / sf0.1 plus the empirical exponent over the TOP
  * decade, e = log10(t(0.1) / t(0.01)) — the slope that matters, since
  * the smaller SFs are dominated by fixed scheduling overhead
  * (~0.3–0.5 s/query regardless of data). e ≈ 0 reads "overhead-bound",
  * e ≈ 1 reads "linear in the data", e > 1 is the super-linear red flag
  * the 100×-scale-up argument needs a written answer for.
  *
  * Protocol per (query, sf): one untimed warmup (janino/JIT), then
  * median of three noop materializations with scoped caches drained
  * between runs — Bench's exact measurement discipline.
  *
  * Run: sbt "runMain graft.tools.ScalingCurve [q1,q2,...]"
  *
  * SF1 REGRESSION GATE (round 20 — VERDICT r19 item 7): the sf1
  * checkpoint is a standing end-of-round ritual now, and this tool also
  * asserts it. `sbt "runMain graft.tools.ScalingCurve sf1check"` reads
  * `bench_history.jsonl`, pairs the two newest sf1 entries with the
  * sf0.1 entry nearest-before each (the same quiet-run protocol), and
  * computes each query's top-decade exponent e = log10(t(sf1) /
  * t(sf0.1)). Any common query whose exponent ROSE by more than 0.2
  * between the two rounds AND now sits above 0.3 — the "no new
  * super-linearity" bar — fails the gate (exit 1) with the offenders
  * printed. The 0.3 floor keeps the delta rule from crying wolf on
  * overhead-bound queries whose prior e was a NEGATIVE noise artifact
  * (run-to-run jitter routinely moves those by ±0.2 while both numbers
  * stay firmly sub-linear); 0.3 is where r19's honest
  * corpus-cardinality folds sit, so anything rising past it is a real
  * signal. Queries below 0.5 s at sf1 are exempt outright: they are
  * scheduling-overhead-bound and their ratios are noise, not scaling
  * evidence.
  *
  * Steal-aware adjudication (round 20, from the first live firing): a
  * shared-host steal burst inflates whole measurement windows — the
  * round's sf1 run recorded 10–21× each flagged query's OWN wall time
  * in machine-wide steal bracketing its three timed runs
  * (`query_steal_ms`, the telemetry Bench attaches for exactly this
  * call). An offender whose bracketing steal exceeds 2× its measured
  * time is reported as STOLEN (re-measure on a quiet host) instead of
  * failing the gate; a regression measured under clean steal still
  * exits 1.
  */
object ScalingCurve {

  private def sf1check(): Unit = {
    val lines = scala.io.Source.fromFile("bench_history.jsonl")
      .getLines().toSeq
    // minimal extraction without a JSON lib: the entries are one-line
    // objects Bench itself emitted, so the "queries" map is a flat
    // "name":number list and "sf" a flat string — regexes suffice
    def sfOf(l: String): String =
      "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1))
        .getOrElse("")
    def queriesOf(l: String): Map[String, Double] = {
      val body = l.substring(l.indexOf("\"queries\":{") + 11)
      val m = "\"(q[^\"]+)\":(-?[0-9.]+)".r
      m.findAllMatchIn(body.substring(0, body.indexOf("}")))
        .map(g => g.group(1) -> g.group(2).toDouble)
        .filter(_._2 >= 0).toMap
    }
    val idx = lines.zipWithIndex
    val sf1s = idx.filter(x => sfOf(x._1).contains("sf1"))
    require(sf1s.size >= 2,
      s"sf1check needs two sf1 entries in bench_history.jsonl " +
        s"(found ${sf1s.size}) — run the sf1 bench first")
    val Seq(prev, cur) = sf1s.takeRight(2)
    def baseBefore(i: Int): Map[String, Double] =
      idx.take(i).reverse
        .find(x => sfOf(x._1).endsWith("sf0.1")).map(x => queriesOf(x._1))
        .getOrElse(sys.error("no sf0.1 entry before the sf1 entry"))
    val (ePrev, eCur) = (
      queriesOf(prev._1), queriesOf(cur._1)) match { case (p, c) =>
      val bp = baseBefore(prev._2)
      val bc = baseBefore(cur._2)
      def exps(sf1: Map[String, Double], base: Map[String, Double]) =
        sf1.collect { case (q, t) if base.contains(q) && t >= 0.5 =>
          q -> math.log10(t / base(q)) }
      (exps(p, bp), exps(c, bc))
    }
    // per-query steal bracketing the CURRENT sf1 measurement — the
    // environment evidence that separates "the host was stolen" from
    // "the plan regressed"
    val curTimes = queriesOf(cur._1)
    val curSteal: Map[String, Long] = {
      val i = cur._1.indexOf("\"query_steal_ms\":{")
      if (i < 0) Map.empty
      else {
        val body = cur._1.substring(i + 18)
        "\"(q[^\"]+)\":(-?[0-9]+)".r
          .findAllMatchIn(body.substring(0, body.indexOf("}")))
          .map(g => g.group(1) -> g.group(2).toLong).toMap
      }
    }
    val flagged = eCur.collect {
      case (q, e) if ePrev.contains(q) && e - ePrev(q) > 0.2 && e > 0.3 =>
        (q, ePrev(q), e)
    }.toSeq.sortBy(-_._3)
    val (stolen, offenders) = flagged.partition { case (q, _, _) =>
      curSteal.getOrElse(q, 0L) > 2000 * curTimes.getOrElse(q, 0.0)
    }
    val common = eCur.keySet.intersect(ePrev.keySet)
    println(f"sf1 exponent gate: ${common.size} common queries " +
      f"(>=0.5s at sf1), ${offenders.size} regressed (rise > 0.2 " +
      f"into e > 0.3), ${stolen.size} stolen-window flags")
    stolen.foreach { case (q, a, b) =>
      println(f"  STOLEN    $q%-28s e $a%6.2f -> $b%6.2f " +
        f"(steal ${curSteal(q)}ms vs ${(curTimes(q) * 1000).toLong}ms " +
        "wall — re-measure on a quiet host)")
    }
    offenders.foreach { case (q, a, b) =>
      println(f"  REGRESSED $q%-28s e $a%6.2f -> $b%6.2f")
    }
    if (offenders.nonEmpty) sys.exit(1)
  }

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "sf1check") { sf1check(); return }
    val queries: Seq[String] =
      if (args.nonEmpty) args(0).split(",").map(_.trim).toSeq
      else Seq( // BENCH_r15's worst-of-first-pass tail
        "q78_dedup_pipeline", "q160_triangle_count", "q77_lm_score",
        "q95_release_pipeline", "q141_yoy_growth", "q146_revenue_cube",
        "q80_bpe_encode", "q76_kn_counts", "q145_tokenizer_fertility",
        "q128_revenue_rollup")
    val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1")
    val spark = graft.Engine.session(graft.Bench.settings(sys.env), "graft")
    spark.sparkContext.setLogLevel("ERROR")

    def once(name: String, sf: String): Double = {
      val t0 = System.nanoTime()
      graft.Bench.materialize(spark, sf, name).foreach(e => throw e)
      (System.nanoTime() - t0) / 1e9
    }
    def median3(name: String, sf: String): Double = {
      once(name, sf) // warm
      Seq.fill(3)(once(name, sf)).sorted.apply(1)
    }

    println(f"${"query"}%-26s ${"sf0.001"}%9s ${"sf0.01"}%9s " +
      f"${"sf0.1"}%9s ${"exp(top)"}%9s")
    queries.foreach { q =>
      val ts = sfs.map(median3(q, _))
      val e = math.log10(ts(2) / ts(1))
      println(f"$q%-26s ${ts(0)}%9.2f ${ts(1)}%9.2f ${ts(2)}%9.2f $e%9.2f")
    }
    spark.stop()
  }
}
