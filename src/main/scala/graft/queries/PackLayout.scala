package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q116/q118/q119/q120/q121/q124 — layout-and-diagnostics pack
  * (round 14): the passes a 100 TB pipeline runs ABOUT its own data
  * before committing to a physical plan —
  *
  *  - q116: Z-ORDER (Morton-curve) file layout — the Delta/Iceberg
  *    `OPTIMIZE ZORDER BY` shape: co-sort on the bit-interleaving of two
  *    dimensions so per-file min/max ranges prune point lookups on EITHER
  *    dimension, where a linear sort prunes only one,
  *  - q124: its MAINTENANCE loop — a skewed increment assigned to the
  *    frozen layout's files by boundary probe, with split flags,
  *  - q118: HEAPS-LAW vocabulary growth curve — cumulative distinct types
  *    vs cumulative tokens by corpus position decile, the crawl-health /
  *    dedup-pressure readout (a re-crawled corpus's curve flattens early),
  *  - q119: JOIN-KEY SKEW report — per-key histogram statistics + top
  *    heavy hitters + an integer salting recommendation, the diagnostic a
  *    build runs before choosing q49's salted-aggregation path,
  *  - q120: sequence-LENGTH histogram + the packing-vs-padding waste
  *    comparison at chunk granularity,
  *  - q121: cross-source OVERLAP matrix — per-pair shared 8-grams and
  *    Jaccard, the duplication heatmap that routes dedup budget.
  *
  * All oracle-gated; every ratio is integer basis points and every
  * rank/percentile is settled by the row-number device, not engine
  * percentile builtins (interpolation is an oracle-parity trapdoor).
  */
object PackLayout {

  /** Buckets per dimension (6 bits → z in 0..4095). user_id cardinality
    * in the gated data is 150, so 64 buckets keep most cells non-empty
    * at every sf; the bit count is a constant of the LAYOUT, not the
    * data — production Z-order uses 16-32 bits/dim the same way.
    */
  private[graft] val B = 64
  private val Bits = 6
  /** Target file count — the `maxPartitionBytes`-derived knob in a real
    * writer; 16 keeps per-file row counts ≈ n/16 at every sf.
    */
  private[graft] val F = 16

  /** Morton interleave of two [0, 2^Bits) bucket ids as a SQL expression
    * (x bits land at odd positions, y at even). Built from shiftright/
    * `&`/multiply so Spark codegens it and DuckDB evaluates the same
    * integer arithmetic — no engine-specific bit builtin.
    */
  private[graft] def mortonSql(x: String, y: String): String =
    (0 until Bits).map { i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i + 1)}" +
        s" + (($y >> $i) & 1) * ${1L << (2 * i)})"
    }.mkString(" + ")

  /** Base events projected to (event_id, user_id, us). */
  private def evFrame(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))

  /** The 1-row frozen layout stats (min/max of both dimensions). */
  private def evStats(ev: org.apache.spark.sql.DataFrame) =
    ev.agg(
      min("user_id").as("u_lo"), max("user_id").as("u_hi"),
      min("us").as("t_lo"), max("us").as("t_hi"))

  /** Every base row with its z-order file assignment — q116's machinery,
    * shared with q124's maintenance pass: one cached bucket frame, the
    * bounded two-level row-number device, per-row `file_id`. Returns
    * (assigned rows, row count).
    */
  private def zAssigned(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Long) = {
    val ev = evFrame(s, d)
    val bucketed = ev.crossJoin(broadcast(evStats(ev)))
      .withColumn("xb",
        expr(s"(user_id - u_lo) * $B div (u_hi - u_lo + 1)"))
      .withColumn("yb", expr(s"(us - t_lo) * $B div (t_hi - t_lo + 1)"))
      .withColumn("z", expr(mortonSql("xb", "yb")))
      .select("event_id", "xb", "yb", "z")
    val withZ = graft.ops.CacheScope.persisted(bucketed)
    val n = withZ.count()
    // z-value frame: ≤ B² rows regardless of corpus size — the running
    // total window is bounded-state by construction.
    val zstarts = withZ.groupBy("z").agg(count(lit(1)).as("cnt"))
      .withColumn("z_start",
        coalesce(sum("cnt").over(Window.orderBy("z")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val assigned = withZ
      .withColumn("i", row_number().over(
        Window.partitionBy("z").orderBy("event_id")).cast("long") - 1L)
      .join(broadcast(zstarts.select("z", "z_start")), "z")
      .withColumn("file_id", expr(s"(z_start + i) * $F div ${n}L"))
    (assigned, n)
  }

  /** q116 — Z-order layout audit: bucket events on (user_id, ts-micros)
    * to a 64×64 grid, Morton-interleave the bucket ids, assign rows to
    * 16 equal-count files in z order, and report each file's min/max
    * range in BOTH dimensions plus its span. The point of the curve is
    * visible in the output: every file's x-span AND y-span are ≈ √cells
    * wide, so a point lookup on either single dimension prunes ~¾ of the
    * files, where a ts-sorted layout leaves x-spans at full width (the
    * spec asserts exactly that comparison).
    *
    * Plan shape: one stats pass folds the 1-row min/max frame (mergeable
    * — shard stats combine), broadcast back; the z projection is
    * stateless. Equal-count file assignment uses the q96 two-level
    * row-number device instead of a global window: per-z-value counts
    * (≤ 4096 rows — a BOUNDED frame whatever the corpus size) take a
    * running-total window, and each row's global position is its z's
    * start plus a z-partitioned (distributed) row_number. A real writer
    * swaps the assignment for `repartitionByRange(F, z)` — same curve,
    * same ranges, Spark's native distributed sort — documented here
    * because that form isn't oracle-reproducible.
    */
  private val q116 = Q(
    "q116_zorder_layout",
    (s, d) => {
      zAssigned(s, d)._1
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min("xb").as("min_x"), max("xb").as("max_x"),
          min("yb").as("min_y"), max("yb").as("max_y"))
        .select(col("file_id"), col("n_rows"),
          col("min_x"), col("max_x"), col("min_y"), col("max_y"),
          (col("max_x") - col("min_x") + 1L).as("x_span"),
          (col("max_y") - col("min_y") + 1L).as("y_span"))
        .orderBy("file_id")
    },
    Some(s"""
      WITH ev AS (SELECT event_id, user_id, epoch_us(cast(ts AS TIMESTAMP)) AS us FROM events),
      st AS (SELECT min(user_id) u_lo, max(user_id) u_hi, min(us) t_lo, max(us) t_hi FROM ev),
      b AS (SELECT event_id,
              (user_id - u_lo) * $B // (u_hi - u_lo + 1) AS xb,
              (us - t_lo) * $B // (t_hi - t_lo + 1) AS yb
            FROM ev CROSS JOIN st),
      z AS (SELECT event_id, xb, yb, ${mortonSql("xb", "yb")} AS z FROM b),
      rn AS (SELECT xb, yb,
               (row_number() OVER (ORDER BY z, event_id) - 1)
                 * $F // (SELECT count(*) FROM z) AS file_id
             FROM z)
      SELECT CAST(file_id AS BIGINT) AS file_id, count(*) AS n_rows,
             min(xb) AS min_x, max(xb) AS max_x,
             min(yb) AS min_y, max(yb) AS max_y,
             max(xb) - min(xb) + 1 AS x_span,
             max(yb) - min(yb) + 1 AS y_span
      FROM rn GROUP BY file_id ORDER BY file_id
    """),
    doc = "Z-order file layout audit: Morton interleave on a 64×64 grid, " +
      "equal-count file assignment via the bounded two-level row-number " +
      "device, per-file min/max pruning ranges in both dimensions")

  /** q118 — Heaps-law vocabulary growth: split the corpus into 10
    * position deciles (by doc_id range — the crawl-order proxy), and for
    * each decile report tokens added, cumulative tokens, NEW types
    * (tokens whose corpus-wide first holder — min doc_id — lands in the
    * decile), cumulative types, and the type/token ratio in basis
    * points. A healthy crawl's cumulative-type curve keeps rising; a
    * re-crawl flattens — the corpus-level complement of q81's per-doc
    * novelty.
    *
    * Plan shape: q81's first-holder device — ONE token-keyed min
    * aggregation (hot tokens partial-aggregate map-side) folds to vocab
    * cardinality, bucketizes, and takes a 10-row running-total window;
    * per-decile token totals fold from the doc-cardinality length frame.
    * Nothing after the two folds is corpus-sized.
    */
  /** q118's body from a pre-tokenized frame carrying (doc_id, ws) — the
    * monitor batch ([[MonitorBatch]]) feeds the SHARED cached token
    * frame here so four monitors pay one tokenize; the standalone query
    * tokenizes inline. Result identical either way (spec-pinned).
    */
  private[graft] def q118From(tf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val docs = tf.select(col("doc_id"), col("ws"))
      val ids = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      val bucketed = docs.crossJoin(broadcast(ids))
        .withColumn("decile", expr("(doc_id - lo) * 10 div (hi - lo + 1)"))
      // doc-cardinality: per-decile token totals
      val tokTotals = bucketed
        .groupBy("decile").agg(sum(size(col("ws"))).as("toks_added"))
      // vocab-cardinality: first-holder decile per type
      val firstTypes = bucketed
        .select(col("decile"), explode(col("ws")).as("tok"))
        .groupBy("tok").agg(min("decile").as("first_decile"))
        .groupBy("first_decile").agg(count(lit(1)).as("new_types"))
      val w = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
      tokTotals
        .join(firstTypes.withColumnRenamed("first_decile", "decile"),
          Seq("decile"), "left")
        .na.fill(0L, Seq("new_types"))
        .withColumn("cum_toks", sum("toks_added").over(w))
        .withColumn("cum_types", sum("new_types").over(w))
        .select(col("decile"), col("toks_added"), col("new_types"),
          col("cum_toks"), col("cum_types"),
          // greatest(…, 1) guard: a decile of only empty docs would make
          // cum_toks 0, where Spark's div yields NULL but DuckDB's //
          // raises — the engines must stay defined AND identical on
          // degenerate input (q125/q119's pattern; ADVICE r14)
          expr("cum_types * 10000 div greatest(cum_toks, 1)").as("ttr_bp"))
        .orderBy("decile")
  }

  private val q118 = Q(
    "q118_heaps_curve",
    (s, d) => q118From(Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("ws"))),
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      ids AS (SELECT min(doc_id) lo, max(doc_id) hi FROM t),
      b AS (SELECT doc_id, ws, (doc_id - lo) * 10 // (hi - lo + 1) AS decile
            FROM t CROSS JOIN ids),
      tt AS (SELECT decile, CAST(sum(len(ws)) AS BIGINT) AS toks_added
             FROM b GROUP BY decile),
      ft AS (SELECT tok, min(decile) AS first_decile
             FROM (SELECT decile, unnest(ws) AS tok FROM b) GROUP BY tok),
      nt AS (SELECT first_decile AS decile, count(*) AS new_types
             FROM ft GROUP BY first_decile),
      c AS (SELECT tt.decile, tt.toks_added,
              COALESCE(nt.new_types, 0) AS new_types,
              CAST(sum(tt.toks_added) OVER (ORDER BY tt.decile) AS BIGINT)
                AS cum_toks,
              CAST(sum(COALESCE(nt.new_types, 0)) OVER (ORDER BY tt.decile)
                AS BIGINT) AS cum_types
            FROM tt LEFT JOIN nt ON tt.decile = nt.decile)
      SELECT decile, toks_added, new_types, cum_toks, cum_types,
             cum_types * 10000 // greatest(cum_toks, 1) AS ttr_bp
      FROM c ORDER BY decile
    """),
    doc = "Heaps-law curve: first-holder decile per type via one " +
      "token-keyed min aggregation, 10-row running-total window")

  /** q119 — join-key skew report over the corpus token stream (the key
    * q49's salted TF-IDF shuffles on): per-key counts fold once, then
    * the key-cardinality count frame yields (a) exact p50/p90/p99 via
    * the row-number device (engine percentile builtins interpolate
    * differently — parity trapdoor), (b) the top-5 heavy hitters with
    * corpus share, and (c) an integer salting recommendation
    * `least(32, max_cnt div greatest(avg, 1))` — the fan-out factor a
    * salted aggregation would use. Five rows out, each carrying the
    * global statistics (constant columns — the report reads as one
    * frame).
    *
    * Plan shape: ONE corpus-sized aggregation (token-keyed counts; hot
    * keys partial-aggregate map-side — counting is precisely the
    * operation skew cannot hurt). Everything downstream runs at vocab
    * cardinality: the percentile window sorts the count frame, the
    * top-5 is a literal rank bound (rides TakeOrderedAndProject —
    * pinned). At 100 TB the report costs one pass — which is why
    * builds run it unconditionally.
    *
    * The exact-percentile device is the one single-partition sort in
    * the report: it runs at VOCAB cardinality (post-aggregation), fine
    * at gated SFs and into the 10⁷-key range, but at web-scale
    * vocabulary (10⁸–10⁹ keys) swap the exact-rank window for q99's
    * mergeable histogram-sketch readout or q44's approx_percentile —
    * the same swap q42 and q108 document. The top-5 branch needs no
    * swap: its literal bound already prunes below the exchange.
    */
  /** q119's body from a pre-tokenized frame carrying `ws` (see
    * [[q118From]] — same monitor-batch contract).
    */
  private[graft] def q119From(tf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val counts = graft.ops.CacheScope.persisted(
        tf.select(explode(col("ws")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt")))
      val stats = counts.agg(
        count(lit(1)).as("n_keys"), sum("cnt").as("total"),
        max("cnt").as("max_cnt"))
      // exact discrete percentiles: value at ceil(q·n) in ascending order
      val ranked = counts.withColumn("r", row_number().over(
        Window.orderBy(col("cnt"), col("tok"))).cast("long"))
      val pct = ranked.crossJoin(broadcast(stats))
        .agg(
          max(when(col("r") === expr("(n_keys * 50 + 99) div 100"),
            col("cnt"))).as("p50"),
          max(when(col("r") === expr("(n_keys * 90 + 99) div 100"),
            col("cnt"))).as("p90"),
          max(when(col("r") === expr("(n_keys * 99 + 99) div 100"),
            col("cnt"))).as("p99"))
      counts
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cnt").desc, col("tok"))).cast("long"))
        .filter(col("rank") <= 5)
        .crossJoin(broadcast(stats))
        .crossJoin(broadcast(pct))
        .select(col("rank"), col("tok"), col("cnt"),
          expr("cnt * 10000 div total").as("share_bp"),
          col("n_keys"), col("total"), col("max_cnt"),
          col("p50"), col("p90"), col("p99"),
          expr("max_cnt * 10000 div (total div n_keys)")
            .as("skew_ratio_bp"),
          expr("least(32L, max_cnt div greatest(total div n_keys, 1))")
            .as("salt_factor"))
        .orderBy("rank")
  }

  private val q119 = Q(
    "q119_skew_report",
    (s, d) => q119From(
      Tables.documents(s, d).select(words(col("text")).as("ws"))),
    Some("""
      WITH t AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS tok FROM documents),
      c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
      st AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total,
                    CAST(max(cnt) AS BIGINT) AS max_cnt FROM c),
      rk AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt, tok) AS r
             FROM c),
      pct AS (SELECT
               CAST(max(CASE WHEN r = (n_keys * 50 + 99) // 100 THEN cnt END) AS BIGINT) AS p50,
               CAST(max(CASE WHEN r = (n_keys * 90 + 99) // 100 THEN cnt END) AS BIGINT) AS p90,
               CAST(max(CASE WHEN r = (n_keys * 99 + 99) // 100 THEN cnt END) AS BIGINT) AS p99
             FROM rk CROSS JOIN st),
      top AS (SELECT tok, cnt,
                row_number() OVER (ORDER BY cnt DESC, tok) AS rank
              FROM c)
      SELECT CAST(rank AS BIGINT) AS rank, tok, cnt,
             cnt * 10000 // total AS share_bp,
             n_keys, total, max_cnt, p50, p90, p99,
             max_cnt * 10000 // (total // n_keys) AS skew_ratio_bp,
             least(32, max_cnt // greatest(total // n_keys, 1)) AS salt_factor
      FROM top CROSS JOIN st CROSS JOIN pct
      WHERE rank <= 5 ORDER BY rank
    """),
    doc = "join-key skew report: one token-keyed count fold, exact " +
      "row-number percentiles at vocab cardinality, top-5 heavy hitters, " +
      "integer salting recommendation")

  /** q120 — sequence-length histogram + packing-waste audit: docs fold
    * into power-of-2 token-length buckets (integer comparisons, not
    * float log2 — parity trapdoor), and every row carries the corpus-
    * level packing comparison at chunk = 128 tokens: chunks needed by
    * q58/q96-style dense concatenation vs pad-each-doc-to-chunk, and
    * the padding waste in bp. The decision input for choosing packing
    * over padding — the waste number IS the GPU-hours argument.
    *
    * Plan shape: ONE corpus tokenize folds to the doc-cardinality
    * length frame (cached); the histogram is a ≤ 12-row aggregation,
    * the packing stats a 1-row fold broadcast onto it. Nothing after
    * the length fold is corpus-sized.
    */
  /** q120's body from a pre-tokenized frame carrying `ws` (see
    * [[q118From]] — same monitor-batch contract).
    */
  private[graft] def q120From(tf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val C = 128
      val lens = graft.ops.CacheScope.persisted(
        tf.select(size(col("ws")).as("len"))
          .filter(col("len") > 0))
      // bucket = number of powers of two ≤ len, capped at 2^11
      val bucketExpr = (1 to 11)
        .map(k => s"(case when len >= ${1L << k} then 1L else 0L end)")
        .mkString("(", " + ", ")")
      val hist = lens.withColumn("bucket", expr(bucketExpr))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("len").as("tokens"))
      val packing = lens.agg(
        sum("len").as("total_toks"),
        expr(s"(sum(len) + ${C - 1}) div $C").as("chunks_concat"),
        expr(s"sum((len + ${C - 1}) div $C)").as("chunks_padded"))
      hist.crossJoin(broadcast(packing))
        .select(col("bucket"), col("n_docs"), col("tokens"),
          expr("tokens * 10000 div total_toks").as("share_bp"),
          col("total_toks"), col("chunks_concat"), col("chunks_padded"),
          expr(s"(chunks_padded * $C - total_toks) * 10000 " +
            s"div (chunks_padded * $C)").as("pad_waste_bp"))
        .orderBy("bucket")
  }

  private val q120 = Q(
    "q120_len_histogram",
    (s, d) => q120From(
      Tables.documents(s, d).select(words(col("text")).as("ws"))),
    Some(s"""
      WITH t AS (SELECT list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      l AS (SELECT len(ws) AS len FROM t WHERE len(ws) > 0),
      h AS (SELECT ${(1 to 11)
        .map(k => s"(CASE WHEN len >= ${1L << k} THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")} AS bucket,
                   count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS tokens
            FROM l GROUP BY 1),
      p AS (SELECT CAST(sum(len) AS BIGINT) AS total_toks,
                   (CAST(sum(len) AS BIGINT) + 127) // 128 AS chunks_concat,
                   CAST(sum((len + 127) // 128) AS BIGINT) AS chunks_padded
            FROM l)
      SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, tokens,
             tokens * 10000 // total_toks AS share_bp,
             total_toks, chunks_concat, chunks_padded,
             (chunks_padded * 128 - total_toks) * 10000
               // (chunks_padded * 128) AS pad_waste_bp
      FROM h CROSS JOIN p ORDER BY bucket
    """),
    doc = "power-of-2 length histogram + packing-vs-padding waste at " +
      "chunk=128: one corpus tokenize to a cached length frame, " +
      "12-row histogram, 1-row packing fold broadcast")

  /** q121 — cross-source overlap matrix: for every source pair, the
    * number of shared distinct word-8-grams and their Jaccard in basis
    * points — the source-to-source duplication heatmap that decides
    * where dedup budget goes (two mirrors of the same crawl light up;
    * disjoint corpora read ~0). The source-level roll-up of q28's
    * pairwise doc Jaccard.
    *
    * Plan shape: grams deduplicate document-locally (array_distinct),
    * then ONE gram-keyed aggregation folds each gram to its SOURCE SET
    * (collect_set — hard-bounded at S elements, S = source count; hot
    * boilerplate grams partial-merge map-side). That single cached
    * frame feeds everything: per-source totals re-derive by exploding
    * the sets, and pair intersections come from a combinations HOF over
    * each sorted set (≤ S·(S−1)/2 structs per gram — q69's bounded-band
    * argument: hot grams cost S², never corpus²) re-aggregated at ≤ S²
    * cardinality. The first cut self-joined the (source, gram) frame on
    * the gram STRING — three ~40-byte-string-keyed exchanges of the
    * same rows; this form shuffles the strings once and builds shingles
    * with the native `word_shingle_strings` kernel (3.19 → 2.32 s at
    * sf0.1; the residue is the irreducible corpus shingle pass + the
    * one gram shuffle + per-run cache populate — the q27/q48 floor).
    * For S beyond ~32 the swap-in is the bitmask device: fold source
    * sets to a bit_or mask, collapse identical masks with counts,
    * expand pairs at mask cardinality.
    */
  private val q121 = Q(
    "q121_source_overlap",
    (s, d) => {
      val gs = graft.ops.CacheScope.persisted(
        // documentsWide: the shingle pass is the measured 1.1 s 1-task
        // stage the size-gated scan spread parallelizes (round 21)
        Tables.documentsWide(s, d)
          .select(col("source"), words(col("text")).as("ws"))
          .filter(size(col("ws")) >= 8)
          .select(col("source"), explode(
            org.apache.spark.sql.graftglue.ExprGlue.column(
              graft.expr.WordShingleStrings(
                org.apache.spark.sql.graftglue.ExprGlue.expression(
                  col("ws")), 8))).as("gram"))
          .groupBy("gram").agg(collect_set(col("source")).as("ss")))
      val ns = gs.select(explode(col("ss")).as("source"))
        .groupBy("source").agg(count(lit(1)).as("n"))
      val inter = gs.filter(size(col("ss")) >= 2)
        .select(expr("array_sort(ss)").as("s0"))
        .select(explode(expr(
          // all ordered pairs of the sorted source set
          "flatten(transform(sequence(1, size(s0) - 1), " +
            "i -> transform(slice(s0, i + 1, size(s0) - i), " +
            "x -> struct(element_at(s0, i) AS a, x AS b))))"))
          .as("p"))
        .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
        .agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(ns.withColumnRenamed("source", "src_a")
          .withColumnRenamed("n", "n_a")), "src_a")
        .join(broadcast(ns.withColumnRenamed("source", "src_b")
          .withColumnRenamed("n", "n_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("inter"),
          expr("inter * 10000 div (n_a + n_b - inter)").as("jacc_bp"))
        .orderBy("src_a", "src_b")
    },
    Some("""
      WITH t AS (SELECT source, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      g AS (SELECT DISTINCT source,
              unnest(list_distinct(list_transform(range(1, len(ws) - 6),
                i -> array_to_string(ws[i:i+7], ' ')))) AS gram
            FROM t WHERE len(ws) >= 8),
      ns AS (SELECT source, count(*) AS n FROM g GROUP BY source),
      iv AS (SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS inter
             FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
             GROUP BY 1, 2)
      SELECT src_a, src_b, na.n AS n_a, nb.n AS n_b, inter,
             inter * 10000 // (na.n + nb.n - inter) AS jacc_bp
      FROM iv JOIN ns na ON iv.src_a = na.source
      JOIN ns nb ON iv.src_b = nb.source
      ORDER BY src_a, src_b
    """),
    doc = "source-pair 8-gram overlap matrix: document-local gram dedup, " +
      "one cached source-gram distinct, gram-keyed self-join with " +
      "S2-bounded fan-out, broadcast totals")

  /** q124 — incremental Z-order maintenance: q116 freezes a layout; new
    * data keeps arriving. An increment batch (every 7th event, nudged
    * +1 h / +5 users — re-bucketed with the FROZEN layout stats and
    * clamped where it exceeds the learned range, so the planted
    * "hot tail" is observable) is assigned to the EXISTING files by
    * their z upper boundaries — append to the first file whose boundary
    * covers the row — and the report shows per-file growth and which
    * files crossed 150% of the original target size and need a split. This
    * is the `OPTIMIZE` maintenance loop as data: q112's stats-merge
    * posture applied to layout (the base corpus is never re-sorted; the
    * increment probes F boundary values).
    *
    * Plan shape: the shared assignment machinery (one cached bucket
    * frame) folds to the F-row file summary; the z boundaries collapse
    * to ONE broadcast row (an F-long array), and increment assignment
    * is a stateless HOF over it — count of boundaries below the row's
    * z. Nothing increment-side ever shuffles except its F-row count
    * fold.
    */
  /** Driver-side frozen-layout summary for the streaming maintenance
    * twin: the F (file_id, n_base, z_max) rows, the 4 layout stats, and
    * the target file size — all fixed-footprint (F + 1 rows) by
    * construction, the driftStream reference-histogram exception. The
    * zAssigned cache registers with the CALLING thread's CacheScope;
    * the caller drains after use.
    */
  private[graft] def layoutSummary(s: org.apache.spark.sql.SparkSession,
      d: String)
      : (Seq[(Long, Long, Long)], (Long, Long, Long, Long), Long) = {
    val (assigned, n) = zAssigned(s, d)
    val files = assigned.groupBy("file_id")
      .agg(count(lit(1)).as("n_base"), max("z").as("z_max"))
      .orderBy("file_id")
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val st = evStats(evFrame(s, d)).collect()(0)
    (files, (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3)),
      (n + F - 1) / F)
  }

  private val q124 = Q(
    "q124_zorder_maintain",
    (s, d) => {
      val (assigned, n) = zAssigned(s, d)
      val files = assigned.groupBy("file_id")
        .agg(count(lit(1)).as("n_base"), max("z").as("z_max"))
      // boundaries AND their real file_ids, both sorted by file_id: the
      // boundary probe yields an ORDINAL (count of boundaries below z),
      // which equals the file_id only when file_ids are contiguous
      // 0..F-1; zAssigned emits non-contiguous ids when n < F (e.g. n=8
      // gives 0,2,4..14), so the ordinal maps back through the fids
      // array (ADVICE r14: the raw ordinal silently missed the files
      // frame and dropped increment counts on degenerate layouts)
      val bounds = files.agg(
        expr("transform(array_sort(collect_list(struct(file_id, z_max))), " +
          "v -> v.z_max)").as("bs"),
        expr("transform(array_sort(collect_list(struct(file_id, z_max))), " +
          "v -> v.file_id)").as("fids"))
      val ev = evFrame(s, d)
      val inc = ev.filter(col("event_id") % 7 === 3)
        .crossJoin(broadcast(evStats(ev).select(col("u_lo").as("b_lo"))))
        .select((col("event_id") + 1000000000L).as("event_id"),
          // squeeze the increment into the lowest 1/20th of the user
          // range: a skewed ingest (one tenant, one crawl frontier) is
          // the case maintenance exists for, and it makes the split
          // flag observable at every sf
          expr("b_lo + (user_id - b_lo) div 20").as("user_id"),
          (col("us") + 3600000000L).as("us"))
        .crossJoin(broadcast(evStats(ev)))
        .withColumn("xb", expr(s"least(${B - 1}L, greatest(0L, " +
          s"(user_id - u_lo) * $B div (u_hi - u_lo + 1)))"))
        .withColumn("yb", expr(s"least(${B - 1}L, greatest(0L, " +
          s"(us - t_lo) * $B div (t_hi - t_lo + 1)))"))
        .withColumn("z", expr(mortonSql("xb", "yb")))
      val incCounts = inc.crossJoin(broadcast(bounds))
        .withColumn("file_id", expr(
          "element_at(fids, cast(least(size(bs) - 1, " +
            "size(filter(bs, b -> b < z))) as int) + 1)"))
        .groupBy("file_id").agg(count(lit(1)).as("n_inc"))
      files.join(broadcast(incCounts), Seq("file_id"), "left")
        .na.fill(0L, Seq("n_inc"))
        .select(col("file_id"), col("n_base"), col("n_inc"),
          (col("n_base") + col("n_inc")).as("new_total"),
          expr("n_inc * 10000 div n_base").as("growth_bp"),
          when(col("n_base") + col("n_inc") >
            lit(3L * ((n + F - 1) / F) / 2L), 1L).otherwise(0L)
            .as("needs_split"))
        .orderBy("file_id")
    },
    Some(s"""
      WITH ev AS (SELECT event_id, user_id, epoch_us(cast(ts AS TIMESTAMP)) AS us FROM events),
      st AS (SELECT min(user_id) u_lo, max(user_id) u_hi, min(us) t_lo, max(us) t_hi FROM ev),
      b AS (SELECT event_id,
              (user_id - u_lo) * $B // (u_hi - u_lo + 1) AS xb,
              (us - t_lo) * $B // (t_hi - t_lo + 1) AS yb
            FROM ev CROSS JOIN st),
      z AS (SELECT event_id, ${mortonSql("xb", "yb")} AS z FROM b),
      rn AS (SELECT z,
               (row_number() OVER (ORDER BY z, event_id) - 1)
                 * $F // (SELECT count(*) FROM z) AS file_id
             FROM z),
      files AS (SELECT CAST(file_id AS BIGINT) AS file_id,
                  count(*) AS n_base, max(z) AS z_max
                FROM rn GROUP BY file_id),
      bsr AS (SELECT list(z_max ORDER BY file_id) AS bs,
                     list(file_id ORDER BY file_id) AS fids FROM files),
      inc AS (SELECT u_lo + (user_id - u_lo) // 20 AS user_id,
                     us + 3600000000 AS us
              FROM ev CROSS JOIN st WHERE event_id % 7 = 3),
      ib AS (SELECT
               least(${B - 1}, greatest(0,
                 (user_id - u_lo) * $B // (u_hi - u_lo + 1))) AS xb,
               least(${B - 1}, greatest(0,
                 (us - t_lo) * $B // (t_hi - t_lo + 1))) AS yb
             FROM inc CROSS JOIN st),
      iz AS (SELECT ${mortonSql("xb", "yb")} AS z FROM ib),
      ia AS (SELECT fids[least(len(bs) - 1,
               len(list_filter(bs, x -> x < z))) + 1] AS file_id
             FROM iz CROSS JOIN bsr),
      ic AS (SELECT CAST(file_id AS BIGINT) AS file_id, count(*) AS n_inc
             FROM ia GROUP BY file_id),
      tot AS (SELECT count(*) AS n FROM z)
      SELECT f.file_id, f.n_base, COALESCE(ic.n_inc, 0) AS n_inc,
             f.n_base + COALESCE(ic.n_inc, 0) AS new_total,
             COALESCE(ic.n_inc, 0) * 10000 // f.n_base AS growth_bp,
             CAST(CASE WHEN f.n_base + COALESCE(ic.n_inc, 0)
                    > 3 * ((tot.n + $F - 1) // $F) // 2
                  THEN 1 ELSE 0 END AS BIGINT) AS needs_split
      FROM files f LEFT JOIN ic USING (file_id) CROSS JOIN tot
      ORDER BY f.file_id
    """),
    doc = "incremental z-order maintenance: frozen-layout boundary " +
      "probe for the increment (F-value broadcast array, stateless " +
      "HOF assignment), per-file growth + split flags — base never " +
      "re-sorts")

  /** q153 — data-SKIPPING effectiveness audit (round 15): q116 builds
    * the z-order layout and asserts its pruning claim in a spec; this
    * query puts the claim in the CATALOG as data, against the honest
    * alternative. Two layouts over the same events — the Morton-curve
    * files (q116's) and a time-RANGE-partitioned layout (equal time
    * spans, the default every ingest pipeline starts with) — each
    * reduced to per-file min/max ranges on BOTH dimensions (exactly the
    * parquet/Iceberg footer stats a scan planner reads), and for each
    * (layout, dimension) the average number of files a point lookup
    * must touch, over every bucket value of that dimension. The
    * expected shape IS the z-order argument: the time layout reads ~1
    * file per time lookup but nearly ALL files per user lookup, while
    * z-order reads ~√F on both — the audit a table owner runs before
    * choosing OPTIMIZE ZORDER.
    *
    * Plan shape: the z side reuses zAssigned's cached bucket frame
    * (F-row file stats); the time side is a STATELESS projection (range
    * partitioning needs no rank — that's its virtue) folding to F rows;
    * the probe is a generate of B=64 values against the ≤ 2F-row stats
    * union — everything after the two folds is constant-sized.
    */
  private val q153 = Q(
    "q153_skipping_audit",
    (s, d) => {
      val (assigned, _) = zAssigned(s, d)
      val zf = assigned.groupBy("file_id")
        .agg(min("xb").as("min_x"), max("xb").as("max_x"),
          min("yb").as("min_y"), max("yb").as("max_y"))
        .withColumn("layout", lit("zorder"))
      val ev = evFrame(s, d)
      val lin = ev.crossJoin(broadcast(evStats(ev)))
        .select(
          expr(s"(us - t_lo) * $F div (t_hi - t_lo + 1)").as("file_id"),
          expr(s"(user_id - u_lo) * $B div (u_hi - u_lo + 1)").as("xb"),
          expr(s"(us - t_lo) * $B div (t_hi - t_lo + 1)").as("yb"))
        .groupBy("file_id")
        .agg(min("xb").as("min_x"), max("xb").as("max_x"),
          min("yb").as("min_y"), max("yb").as("max_y"))
        .withColumn("layout", lit("time_range"))
      val probes = zf.unionByName(lin)
        .crossJoin(broadcast(
          s.range(B).select(col("id").as("v"))))
        .select(col("layout"), expr(
          "stack(2, 'user_id', CASE WHEN v BETWEEN min_x AND max_x " +
            "THEN 1L ELSE 0L END, " +
            "'ts', CASE WHEN v BETWEEN min_y AND max_y " +
            "THEN 1L ELSE 0L END)")
          .as(Seq("dim", "touched")))
      val nf = zf.unionByName(lin).groupBy("layout")
        .agg(count(lit(1)).as("n_files"))
      probes.groupBy("layout", "dim")
        .agg(sum("touched").as("file_probes"))
        .join(broadcast(nf), "layout")
        .select(col("layout"), col("dim"), col("n_files"),
          expr(s"file_probes * 100 div $B").as("avg_files_touched_e2"))
        .orderBy("layout", "dim")
    },
    Some(s"""
      WITH ev AS (SELECT event_id, user_id, epoch_us(cast(ts AS TIMESTAMP)) AS us FROM events),
      st AS (SELECT min(user_id) u_lo, max(user_id) u_hi, min(us) t_lo, max(us) t_hi FROM ev),
      b AS (SELECT event_id,
              (user_id - u_lo) * $B // (u_hi - u_lo + 1) AS xb,
              (us - t_lo) * $B // (t_hi - t_lo + 1) AS yb,
              (us - t_lo) * $F // (t_hi - t_lo + 1) AS lfile
            FROM ev CROSS JOIN st),
      z AS (SELECT event_id, xb, yb, ${mortonSql("xb", "yb")} AS z FROM b),
      rn AS (SELECT xb, yb,
               (row_number() OVER (ORDER BY z, event_id) - 1)
                 * $F // (SELECT count(*) FROM z) AS file_id
             FROM z),
      zf AS (SELECT 'zorder' AS layout, file_id, min(xb) AS min_x,
               max(xb) AS max_x, min(yb) AS min_y, max(yb) AS max_y
             FROM rn GROUP BY file_id),
      lf AS (SELECT 'time_range' AS layout, lfile AS file_id,
               min(xb) AS min_x, max(xb) AS max_x,
               min(yb) AS min_y, max(yb) AS max_y
             FROM b GROUP BY lfile),
      u AS (SELECT * FROM zf UNION ALL SELECT * FROM lf),
      vals AS (SELECT unnest(range(0, $B)) AS v),
      pr AS (SELECT layout, 'user_id' AS dim,
               CASE WHEN v BETWEEN min_x AND max_x THEN 1 ELSE 0 END AS touched
             FROM u CROSS JOIN vals
             UNION ALL
             SELECT layout, 'ts',
               CASE WHEN v BETWEEN min_y AND max_y THEN 1 ELSE 0 END
             FROM u CROSS JOIN vals),
      nf AS (SELECT layout, count(*) AS n_files FROM u GROUP BY layout)
      SELECT pr.layout, pr.dim, nf.n_files,
             CAST(sum(pr.touched) AS BIGINT) * 100 // $B
               AS avg_files_touched_e2
      FROM pr JOIN nf USING (layout)
      GROUP BY pr.layout, pr.dim, nf.n_files
      ORDER BY layout, dim
    """),
    doc = "data-skipping effectiveness as data: per-file min/max stats " +
      "for the z-order vs time-range layouts, average files touched " +
      "per point lookup on each dimension — the OPTIMIZE ZORDER " +
      "decision input")

  val all: Seq[Q] = Seq(q116, q118, q119, q120, q121, q124, q153)
}
