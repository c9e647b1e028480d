package graft

import org.apache.spark.sql.functions._
import graft.expr.GraftFunctions

/** Specs for the engine-native Catalyst expressions. */
class ExprSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  test("array_intersect_count matches size(array_intersect) incl. dups/nulls") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a", "a", "b"), Seq("a")),          // dups count once
      (Seq.empty[String], Seq("a")),
      (Seq("x"), Seq.empty[String])
    ).toDF("a", "b")
    val got = df.select(
      expr("array_intersect_count(a, b)"),
      size(array_intersect(col("a"), col("b"))))
      .as[(Int, Int)].collect()
    got.foreach { case (custom, builtin) => assert(custom === builtin) }
  }

  test("array_intersect_count: null ELEMENTS follow array_intersect semantics") {
    // builtin array_intersect keeps one null when both sides contain null —
    // the counting expression must agree (ADVICE r2)
    val df = Seq(
      (Seq(Some("a"), None, Some("b")), Seq(None, Some("b"))),   // null both
      (Seq(Some("a"), None), Seq(Some("a"))),                    // null left only
      (Seq(Some("a")), Seq(None, Some("a"))),                    // null right only
      (Seq(None, None), Seq(None, None))                         // nulls only
    ).toDF("a", "b")
    val got = df.select(
      expr("array_intersect_count(a, b)"),
      size(array_intersect(col("a"), col("b"))))
      .as[(Int, Int)].collect()
    got.foreach { case (custom, builtin) => assert(custom === builtin) }
  }

  test("array_intersect_count is null-safe and type-checked") {
    val n = Seq((Seq("a"), Option.empty[Seq[String]])).toDF("a", "b")
      .selectExpr("array_intersect_count(a, b)").collect()
    assert(n.head.isNullAt(0))
    val e = intercept[Exception] {
      Seq((1, 2)).toDF("a", "b").selectExpr("array_intersect_count(a, b)")
        .collect()
    }
    assert(e.getMessage.contains("array<string>"))
  }

  test("gram3_jaccard_counts matches the composable array form") {
    val df = Seq(
      ("abcdef", "abcxyz"),
      ("aaaa", "aaaa"),     // dup grams collapse: {aaa} vs {aaa}
      ("ab", "abc"),        // left too short → 0 grams
      ("", "")
    ).toDF("t1", "t2")
    def grams(c: org.apache.spark.sql.Column) =
      when(length(c) >= 3,
        array_distinct(transform(sequence(lit(1), length(c) - 2),
          i => c.substr(i, lit(3)))))
        .otherwise(array().cast("array<string>"))
    val got = df.select(
      expr("gram3_jaccard_counts(t1, t2)").as("c"),
      size(array_intersect(grams(col("t1")), grams(col("t2")))).as("bi"),
      size(array_union(grams(col("t1")), grams(col("t2")))).as("bu"))
      .select(col("c.n_common"), col("bi"), col("c.n_total"), col("bu"))
      .as[(Int, Int, Int, Int)].collect()
    got.foreach { case (nc, bi, nt, bu) =>
      assert(nc === bi); assert(nt === bu)
    }
  }

  test("round-3 native functions are SQL-addressable") {
    val r = spark.sql("""
      SELECT
        size(poly_shingles(array('a','b','c','d'), 3)) AS n_sh,
        size(affine_minhash(poly_shingles(array('a','b','c','d'), 3), 8)) AS n_mh,
        float_dot(array(cast(1.0 AS float), cast(2.0 AS float)),
                  array(cast(3.0 AS float), cast(4.0 AS float))) AS dot,
        size(html_table_rows('<table><tr><td>x</td><td>y</td></tr></table>')) AS n_rows,
        image_dims(unhex('47494638396107000800')).width AS gif_w
    """).head()
    assert(r.getAs[Int]("n_sh") === 2)      // windows abc, bcd
    assert(r.getAs[Int]("n_mh") === 8)
    assert(r.getAs[Double]("dot") === 11.0) // 1*3 + 2*4
    assert(r.getAs[Int]("n_rows") === 1)
    assert(r.getAs[Int]("gif_w") === 7)     // GIF89a 7x8 header
  }

  test("html_table_rows survives 500 rows of random tag soup") {
    // malformed markup must degrade, never throw: unclosed tags, stray
    // quotes, comments without ends, nested fragments in random order
    val rnd = new scala.util.Random(42)
    val frags = Seq("<tr>", "</tr>", "<td", ">", "<table>", "</table>",
      "<!--", "-->", "<td bgcolor='x", "\"", "'", "text", "<b>1.</b>",
      "</td>", "<script>", "</script>", "<", "x>", "<tr", "=", " ")
    val inputs = Seq.fill(500)(
      Seq.fill(rnd.nextInt(40))(frags(rnd.nextInt(frags.size))).mkString)
    val total = inputs.toDF("h")
      .selectExpr("size(html_table_rows(h)) AS n")
      .agg(sum(col("n"))).head().getLong(0)
    assert(total >= 0) // materialized every row without throwing
  }

  test("GraftExtensions injects every native function at session build") {
    val prev = spark // force shared-session init first
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      // reuses the running SparkContext; builds a NEW session through the
      // extension injector (spark.sql.extensions resolves to the same
      // class at spark-submit time; the static conf can't be re-applied on
      // an already-running context, so the test takes the builder path)
      val s2 = org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.expr.GraftExtensions()(_))
        .getOrCreate()
      assert(s2 ne prev)
      val r = s2.sql("""
        SELECT float_dot(array(cast(1.0 AS float), cast(2.0 AS float)),
                         array(cast(3.0 AS float), cast(4.0 AS float))) AS d,
               simhash_poly(array('alpha')) AS sh,
               image_dims(unhex('47494638396107000800')).height AS gif_h
      """).head()
      assert(r.getAs[Double]("d") === 11.0)
      // single token: majority = that token's own 48 parity bits
      assert(r.getAs[Long]("sh") ===
        graft.expr.SimHashPoly.compute(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString("alpha")))))
      assert(r.getAs[Int]("gif_h") === 8)
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(prev)
      org.apache.spark.sql.SparkSession.setActiveSession(prev)
    }
  }

  test("Engine.session builds a configured session with the functions live") {
    val prev = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val s2 = graft.Engine.session(master = "local[2]",
        shufflePartitions = Some(4))
      assert(s2.conf.get("spark.sql.shuffle.partitions") === "4")
      assert(s2.conf.get("spark.sql.session.timeZone") === "UTC")
      val d = s2.sql(
        "SELECT float_dot(array(cast(2.0 AS float)), array(cast(3.0 AS float)))")
        .head().getDouble(0)
      assert(d === 6.0)
      // s2 is now the running session: a static key in conf neither
      // throws nor reads back as applied, and the skip is reported
      val err = new java.io.ByteArrayOutputStream
      val wh = "/nonexistent/graft-wh"
      val s3 = Console.withErr(err) {
        graft.Engine.session(master = "local[2]", shufflePartitions = Some(4),
          conf = Map("spark.sql.warehouse.dir" -> wh))
      }
      assert(s3 eq s2)
      assert(s3.conf.get("spark.sql.warehouse.dir") !== wh)
      assert(err.toString.contains(s"spark.sql.warehouse.dir=$wh not applied"))
    } finally {
      org.apache.spark.sql.SparkSession.setDefaultSession(prev)
      org.apache.spark.sql.SparkSession.setActiveSession(prev)
    }
  }

  test("native expressions stay inside whole-stage codegen (no fence)") {
    // non-foldable input (range), else the projection constant-folds into
    // a LocalTableScan before any codegen happens
    val df = spark.range(10).select(
      expr("gram3_jaccard_counts(concat('abcde', cast(id AS string)), 'abcdef')")
        .as("c"),
      expr("array_intersect_count(array(cast(id AS string), 'x'), array('x'))")
        .as("n"),
      expr("simhash_poly(array(cast(id AS string)))").as("sh"),
      expr("poly_shingles(array('a', cast(id AS string), 'b'), 2)").as("ws"),
      expr("affine_minhash(poly_shingles(array('a', cast(id AS string), 'b'), 2), 4)")
        .as("mh"),
      expr("quant_sign_sig(array(cast(id AS double), cast(1.0 AS double)))")
        .as("qs"),
      expr("float_dot(array(cast(id AS double)), array(cast(2.0 AS double)))")
        .as("d"),
      expr("size(html_table_rows(concat('<table><tr><td>', id, '</td></tr></table>')))")
        .as("nr"),
      expr("image_dims(cast(concat('x', id) AS binary)).mime").as("m"))
    val p = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker in treeString
    assert(p.contains("*(1) Project"), s"plan lost codegen:\n$p")
    assert(df.count() === 10)
  }

  test("long_dot matches the HOF form; sim_e8 matches the decimal form") {
    import org.apache.spark.sql.graftglue.ExprGlue
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(200)((
      Seq.fill(64)(rnd.nextInt(1201).toLong - 600),
      Seq.fill(64)(rnd.nextInt(1201).toLong - 600)))
    val df = rows.toDF("a", "b")
      .withColumn("dot_hof",
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L," +
          " (acc, x) -> acc + x)"))
      .withColumn("dot_native", ExprGlue.column(graft.expr.LongDot(
        ExprGlue.expression(col("a")), ExprGlue.expression(col("b")))))
      .withColumn("na2", ExprGlue.column(graft.expr.LongDot(
        ExprGlue.expression(col("a")), ExprGlue.expression(col("a")))))
      .withColumn("nb2", ExprGlue.column(graft.expr.LongDot(
        ExprGlue.expression(col("b")), ExprGlue.expression(col("b")))))
      .withColumn("sim_dec", expr(
        "cast((case when dot_hof < 0 then -1 else 1 end) *" +
          " ((cast(dot_hof as decimal(38,0)) * dot_hof * 100000000)" +
          " div (cast(na2 as decimal(38,0)) * nb2)) as bigint)"))
      .withColumn("sim_native", ExprGlue.column(graft.expr.SimE8(
        ExprGlue.expression(col("dot_native")),
        ExprGlue.expression(col("na2")),
        ExprGlue.expression(col("nb2")))))
    val bad = df.filter(col("dot_hof") =!= col("dot_native") ||
      col("sim_dec") =!= col("sim_native")).count()
    assert(bad === 0L,
      "native long_dot/sim_e8 must equal the composable forms exactly")
    // the base-100 carry is exact at the contract boundary too
    assert(graft.expr.SimE8.compute(1L, 1L, 1L) === 100000000L)
    assert(graft.expr.SimE8.compute(-3L, 3L, 3L) === -100000000L)
    assert(graft.expr.SimE8.compute(1L, 3L, 1L) === 33333333L)
  }

  test("sim_e8: 100k fuzz against a BigInt reference across the contract domain") {
    // the kernel is hand-rolled base-100 long division — fuzz the whole
    // contract envelope (dot² and na2·nb2·100 inside a Long), not just
    // realistic vector magnitudes, against exact BigInt arithmetic
    import org.scalacheck.{Gen, rng}
    val gNorm = Gen.chooseNum(1L, 260000000L) // na2·nb2 ≤ 6.76e16; ·100 fits
    val seed0 = rng.Seed(20260814L)
    var seed = seed0
    var i = 0
    while (i < 100000) {
      val (na2, s1) = gNorm.pureApply(Gen.Parameters.default, seed) ->
        seed.next
      val (nb2, s2) = gNorm.pureApply(Gen.Parameters.default, s1) -> s1.next
      // Cauchy–Schwarz bounds any REALIZABLE dot: dot² ≤ na2·nb2 —
      // outside it both the kernel and BigInt.toLong wrap mod 2⁶⁴ and
      // the comparison is vacuous, so fuzz the realizable envelope
      // boundary-inclusive
      val dMax = math.sqrt(BigInt(na2).toDouble * BigInt(nb2).toDouble)
        .toLong.min(na2.min(nb2) * 100) // safe upper bound, then clamp
      val bound = {
        var b = dMax
        while (BigInt(b) * b > BigInt(na2) * nb2) b -= 1
        b
      }
      val (dot, s3) = Gen.chooseNum(-bound, bound)
        .pureApply(Gen.Parameters.default, s2) -> s2.next
      seed = s3
      val expect = {
        val d2 = BigInt(dot) * dot
        val q = d2 * 100000000 / (BigInt(na2) * nb2)
        (if (dot < 0) -q else q).toLong
      }
      val got = graft.expr.SimE8.compute(dot, na2, nb2)
      assert(got === expect, s"sim_e8($dot, $na2, $nb2): $got != $expect")
      i += 1
    }
  }

  test("pos_shingle_hash62: matches an independent reimplementation; " +
    "equal windows collide, sub-62-bit structure holds") {
    import org.apache.spark.sql.graftglue.ExprGlue
    val M1 = 2147483647L
    val M2 = graft.expr.PosShingleHash62.M2
    val B1 = 1000003L
    val B2 = graft.expr.PosShingleHash62.B2
    def ref(ws: Seq[String], k: Int): Seq[Long] = {
      val th = ws.map(graft.expr.PolyHash.tokenHash)
      (0 to ws.size - k).map { i =>
        var a1 = th(i) % M1; var a2 = th(i) % M2
        (1 until k).foreach { j =>
          a1 = (a1 * B1 + th(i + j)) % M1
          a2 = (a2 * B2 + th(i + j)) % M2
        }
        a1 * M2 + a2
      }
    }
    val rnd = new scala.util.Random(7)
    def word() = Seq.fill(1 + rnd.nextInt(10))(
      ('a' + rnd.nextInt(26)).toChar).mkString
    val vocab = Seq.fill(40)(word())
    val rows = Seq.fill(100)(Seq.fill(5 + rnd.nextInt(120))(
      vocab(rnd.nextInt(vocab.size))))
    val k = 5
    val df = rows.toDF("ws").withColumn("hs",
      ExprGlue.column(graft.expr.PosShingleHash62(
        ExprGlue.expression(col("ws")), k)))
    val got = df.select("ws", "hs")
      .as[(Seq[String], Seq[Long])].collect()
    got.foreach { case (ws, hs) =>
      assert(hs === ref(ws, k), s"kernel drifted from the reference")
      assert(hs.size === math.max(0, ws.size - k + 1))
    }
    // the guarantee the candidate stage rests on: identical token
    // windows ALWAYS produce identical fingerprints (no false
    // negatives — dedup can only over-candidate, never miss)
    val all = got.flatMap { case (ws, hs) =>
      hs.zipWithIndex.map { case (h, i) =>
        (ws.slice(i, i + k).mkString(" "), h) }
    }
    all.groupBy(_._1).foreach { case (gram, os) =>
      assert(os.map(_._2).distinct.size === 1,
        s"same gram, different fingerprints: $gram")
    }
    // short-array edge: fewer tokens than k → empty, no throw
    val short = Seq(Seq("a", "b")).toDF("ws").withColumn("hs",
      ExprGlue.column(graft.expr.PosShingleHash62(
        ExprGlue.expression(col("ws")), k)))
      .select("hs").as[Seq[Long]].collect()
    assert(short.head.isEmpty)
  }
}
