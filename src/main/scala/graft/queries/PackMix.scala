package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q63–q64 — mixture construction (round 10): the step between "filtered
  * corpus" and "training order" where the corpus's domain/language
  * balance is re-weighted toward a target mixture and materialized as an
  * epoch by weighted repetition — the Pile/DoReMi-style knob every large
  * pretraining run turns.
  *
  * Both oracle-gated, all arithmetic integer basis points (MEMORY
  * oracle-parity-trapdoors).
  */
object PackMix {

  /** q63 — mixture reweighting toward the UNIFORM language target:
    * weight_bp(lang) = (n_docs · 10⁴) div (n_langs · n_lang) — the repeat
    * factor (in basis points of one epoch) that equalizes every
    * language's contribution. Rare languages upsample (> 10⁴ bp), common
    * ones downsample; sum over the corpus of weight_bp/10⁴ ≈ n_docs, so
    * the reweighted epoch is the same size as the raw one.
    *
    * Plan shape: one partial-aggregated groupBy(lang) for the histogram,
    * a 1-row totals aggregate broadcast back over it (the q57 idiom),
    * then the per-lang weights — a LANGUAGE-cardinality dim frame —
    * broadcast-join back onto the corpus. Nothing here scales with
    * corpus size except the final stateless projection; an arbitrary
    * target mixture is the same plan with the target as a second tiny
    * dim instead of the uniform constant.
    */
  private val q63 = Q(
    "q63_mixture_weights",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val hist = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val totals = hist.agg(sum("n_lang").as("n_docs"),
        count(lit(1)).as("n_langs"))
      val weights = hist.crossJoin(broadcast(totals))
        .select(col("lang"),
          expr("n_docs * 10000 div (n_langs * n_lang)").as("weight_bp"))
      docs.select(col("doc_id"), col("lang"))
        .join(broadcast(weights), "lang")
        .select(col("doc_id"), col("lang"), col("weight_bp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH hist AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
      t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_docs,
                   count(*) AS n_langs FROM hist),
      w AS (SELECT lang, n_docs * 10000 // (n_langs * n_lang) AS weight_bp
            FROM hist CROSS JOIN t)
      SELECT d.doc_id, d.lang, w.weight_bp
      FROM documents d JOIN w USING (lang)
      ORDER BY d.doc_id
    """),
    doc = "uniform-target mixture reweighting: lang histogram + 1-row " +
      "totals broadcast, per-lang weights broadcast back over the corpus")

  /** q64 — epoch materialization by weighted repetition: each document
    * appears `weight_bp div 10⁴` times plus one more when its
    * deterministic per-doc draw (q39's LCG, reduced before the multiply
    * — overflow-free at any corpus size) lands below the fractional
    * remainder — stochastic rounding with no RNG state, so the epoch is
    * bit-reproducible AND its expected size is exactly the weighted sum
    * (plain floor/ceil would systematically under/overshoot the mixture
    * the moment weights aren't integer multiples of 10⁴).
    *
    * Plan shape: q63's weights (broadcast) + `explode(sequence(1, n))` —
    * the row amplification happens AFTER the join, executor-local, never
    * shuffled; the output sort is the oracle's determinism requirement,
    * not the operator's.
    */
  private val q64 = Q(
    "q64_epoch_expand",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val hist = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val totals = hist.agg(sum("n_lang").as("n_docs"),
        count(lit(1)).as("n_langs"))
      val weights = hist.crossJoin(broadcast(totals))
        .select(col("lang"),
          expr("n_docs * 10000 div (n_langs * n_lang)").as("weight_bp"))
      docs.select(col("doc_id"), col("lang"))
        .join(broadcast(weights), "lang")
        .withColumn("n_copies",
          expr("weight_bp div 10000 + if(((doc_id % 2147483648) * 1103515245" +
            " + 12345) % 10000 < weight_bp % 10000, 1, 0)"))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"),
          explode(expr("sequence(1, cast(n_copies as int))")).as("copy"))
        .orderBy("doc_id", "copy")
    },
    Some("""
      WITH hist AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
      t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_docs,
                   count(*) AS n_langs FROM hist),
      w AS (SELECT lang, n_docs * 10000 // (n_langs * n_lang) AS weight_bp
            FROM hist CROSS JOIN t),
      nc AS (SELECT d.doc_id,
                    w.weight_bp // 10000
                    + CASE WHEN ((d.doc_id % 2147483648) * 1103515245 + 12345) % 10000
                           < w.weight_bp % 10000 THEN 1 ELSE 0 END AS n_copies
             FROM documents d JOIN w USING (lang))
      SELECT doc_id, CAST(unnest(range(1, n_copies + 1)) AS INTEGER) AS copy
      FROM nc WHERE n_copies > 0
      ORDER BY doc_id, copy
    """),
    doc = "weighted-repetition epoch: floor copies + deterministic " +
      "LCG-draw stochastic rounding, amplification after the broadcast join")

  /** q92 — curriculum ordering: the deterministic TRAINING-ORDER schedule
    * between mixture design (q63/q64) and shard packing (q58) — band
    * every document into a fixed difficulty band by its quality score
    * (score_bp div 1000: a stateless projection, NOT a global rank — a
    * corpus-wide row_number is a single-partition window no 100 TB job
    * can run, and band membership is what a curriculum actually
    * consumes), then order easy-first across bands with q55's LCG
    * deterministic shuffle WITHIN each band (adjacent-document
    * correlation is what the shuffle exists to break; determinism is
    * what makes the run reproducible and resumable). The output ORDER
    * is the curriculum; rerunning on a grown corpus preserves every
    * document's band (thresholds are absolute, not rank-relative — the
    * q60 stability argument applied to difficulty).
    *
    * Plan shape: one stateless pass (score, band, LCG draw) over the
    * corpus, then the output sort — no aggregation, no join, no window;
    * the sort is the only exchange, and it is the product being built.
    */
  private val q92 = Q(
    "q92_curriculum_order",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .select(col("doc_id"),
          expr("size(array_distinct(ws)) * 10000L div greatest(size(ws), 1)")
            .as("score_bp"))
        .withColumn("band", expr("score_bp div 1000"))
        // q55's LCG: overflow-safe affine draw, bit-reproducible
        .withColumn("ord",
          expr("pmod(doc_id * 1103515245L + 12345L, 2147483648L)"))
        .orderBy(col("band").desc, col("ord"), col("doc_id"))
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      sc AS (SELECT doc_id,
               CAST(len(list_distinct(ws)) AS BIGINT) * 10000
                 // greatest(len(ws), 1) AS score_bp
             FROM t)
      SELECT doc_id, score_bp, score_bp // 1000 AS band,
             (doc_id * 1103515245 + 12345) % 2147483648 AS ord
      FROM sc
      ORDER BY band DESC, ord, doc_id
    """),
    doc = "curriculum training order: absolute difficulty bands (stateless," +
      " rank-free) + deterministic LCG shuffle within band — easy-first, " +
      "reproducible, resumable")

  /** q101 — temperature-scaled mixture weights: the multilingual sampling
    * rule p(lang) ∝ n(lang)^α at α = 0.5 (the XLM/mBERT exponent) —
    * BETWEEN q63's uniform target (α = 0) and raw proportions (α = 1):
    * rare languages upsample, but frequency still matters, which is the
    * balance every multilingual pretraining mix actually ships. Exact
    * integer arithmetic throughout: s = ⌊√(n·10⁸)⌋ (≈ 10⁴·√n) is exact
    * because IEEE sqrt is correctly rounded and n·10⁸ < 2⁵³ — a
    * non-perfect-square's true root sits ≥ 1 ulp-margin below the next
    * integer, so the floor can never cross (at corpus scale where n·10⁸
    * would overflow the double mantissa, drop the 10⁸ fidelity factor —
    * √n alone has 1/√n relative precision, plenty at 10¹² docs).
    * Outputs per language: the α-share in bp, the raw share in bp, and
    * boost_bp = their ratio — the "how much does temperature up/down-
    * sample this slice" audit column.
    *
    * Plan shape: q63's exactly — one partial-aggregated histogram fold,
    * a 1-row totals aggregate broadcast back (the sqrt-score total),
    * language-cardinality arithmetic. Nothing corpus-sized moves.
    */
  private val q101 = Q(
    "q101_temp_mixture",
    (s, d) => {
      val hist = Tables.documents(s, d)
        .groupBy("lang").agg(count(lit(1)).as("n_lang"))
        .withColumn("sc",
          expr("CAST(floor(sqrt(CAST(n_lang * 100000000 AS DOUBLE))) AS BIGINT)"))
      val totals = hist.agg(sum("n_lang").as("n_docs"),
        sum("sc").as("sc_tot"))
      hist.crossJoin(broadcast(totals))
        .select(col("lang"), col("n_lang"),
          expr("sc * 10000 div sc_tot").as("temp_bp"),
          expr("n_lang * 10000 div n_docs").as("raw_bp"))
        .withColumn("boost_bp",
          expr("temp_bp * 10000 div greatest(raw_bp, 1)"))
        .orderBy("lang")
    },
    Some("""
      WITH hist AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
      h AS (SELECT lang, n_lang,
                   CAST(floor(sqrt(CAST(n_lang * 100000000 AS DOUBLE))) AS BIGINT) AS sc
            FROM hist),
      t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_docs,
                   CAST(sum(sc) AS BIGINT) AS sc_tot FROM h)
      SELECT lang, n_lang, sc * 10000 // sc_tot AS temp_bp,
             n_lang * 10000 // n_docs AS raw_bp,
             (sc * 10000 // sc_tot) * 10000
               // greatest(n_lang * 10000 // n_docs, 1) AS boost_bp
      FROM h CROSS JOIN t
      ORDER BY lang
    """),
    doc = "alpha=0.5 temperature mixture: exact-integer sqrt scores, " +
      "1-row totals broadcast, language-cardinality arithmetic only")

  /** q103 — rendezvous (highest-random-weight) shard assignment: each
    * document goes to argmax over shards of an explicit integer hash of
    * (doc, shard) — the shard-STABILITY operator: when a shard is added,
    * exactly the documents whose new score beats their old max move
    * (≈ 1/(n+1) of the corpus), and none move between existing shards;
    * when one is removed, only ITS documents move. Modulo-hash
    * assignment (doc_id % n) reshuffles nearly everything on any resize
    * — the difference between re-packing 1/9 of a 100 TB corpus and
    * re-packing all of it. The score is explicit arithmetic in q93's
    * spirit but QUADRATIC ([[hrwScoreSql]] — one affine round alone
    * leaves shard scores correlated), so the oracle gates the scores
    * themselves; the HRW stability property is spec-gated (PackMixSpec
    * re-runs the assignment at 9 shards, asserts every mover lands on
    * shard 8 and the moved fraction stays near 1/9).
    *
    * Plan shape: a PURE PROJECTION — the 8 candidate scores and their
    * argmax evaluate as one array HOF per row (max(struct) ordering,
    * ties to the higher shard); no explode, no aggregation, no join —
    * the output sort is the only exchange (plan-pinned). Shard
    * assignment at 100 TB is a map, and this plan keeps it one.
    */
  private val NSh = 8
  private val M = 2147483647L

  /** Portable HRW score: one additive round then TWO modular squarings.
    * A single affine round leaves the per-doc scores correlated across
    * shards (measured: 26% of docs moved on adding a 9th shard, vs the
    * ideal 1/9 ≈ 11%) because all eight scores are linear in doc.
    * Squaring mod M is the cheapest arithmetic-only nonlinearity both
    * engines share (no xor — DuckDB's `^` is power); two rounds measure
    * 10.5% movement, zero cross-shard movers, ±4% balance at 10k docs.
    * No long-literal suffixes (DuckDB has none); CASTs keep the
    * multiplies 64-bit in BOTH engines; every intermediate < 2⁶². */
  private[graft] def hrwScoreSql(doc: String, shard: String): String = {
    val v1 = s"((($doc % $M) + ($shard) * CAST(2654435761 AS BIGINT)) % $M)"
    val v2 = s"(($v1 * $v1) % $M)"
    s"((($v2 * $v2) % $M + $v1) % $M)"
  }

  private val q103 = Q(
    "q103_rendezvous_shard",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr(s"array_max(transform(sequence(0, ${NSh - 1}), " +
            s"s -> struct(${hrwScoreSql("doc_id", "s")} as score, s as shard)))")
            .as("m"))
        .select(col("doc_id"), col("m.shard").as("shard"),
          col("m.score").as("score"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH sc AS (SELECT doc_id, shard,
                    ${hrwScoreSql("doc_id", "shard")} AS score
                  FROM documents
                  CROSS JOIN (SELECT unnest(range(0, $NSh)) AS shard)),
      rk AS (SELECT doc_id, shard, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, shard DESC) AS rn
             FROM sc)
      SELECT doc_id, CAST(shard AS INTEGER) AS shard, score
      FROM rk WHERE rn = 1 ORDER BY doc_id
    """),
    doc = "HRW/rendezvous shard assignment: per-row array-HOF argmax " +
      "over an explicit quadratic mix — a pure projection, the output " +
      "sort is the only exchange; resize moves only the moved shard's docs")

  /** q140 — epoch LEDGER (round 15): the accounting table attached to
    * every training run — per language, the PLANNED epoch contribution
    * under q63's weights (docs and tokens, in exact e4 units) against
    * the EXECUTED contribution under q64's floor + LCG-stochastic-
    * rounding expansion, with signed deviation in basis points. This is
    * the audit that certifies the mixture was delivered: floor-only
    * rounding would show every rare language systematically short, and
    * a broken draw would show deviations far beyond the ±1-draw-per-doc
    * envelope.
    *
    * The ledger never materializes the epoch: executed counts fold from
    * the per-doc `n_copies` FORMULA (q64's exact arithmetic, shared
    * constant for constant) at language cardinality — auditing a 10⁹-
    * doc epoch costs two corpus column scans (histogram pass, fold
    * pass — q57's two-pass shape, the thresholds idiom), not an
    * epoch-sized explode.
    */
  private val q140 = Q(
    "q140_epoch_ledger",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val hist = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val totals = hist.agg(sum("n_lang").as("n_docs"),
        count(lit(1)).as("n_langs"))
      val weights = hist.crossJoin(broadcast(totals))
        .select(col("lang"), col("n_lang"),
          expr("n_docs * 10000 div (n_langs * n_lang)").as("weight_bp"))
      docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .join(broadcast(weights), "lang")
        .withColumn("n_copies",
          expr("weight_bp div 10000 + if(((doc_id % 2147483648) * 1103515245" +
            " + 12345) % 10000 < weight_bp % 10000, 1, 0)"))
        .groupBy(col("lang"))
        .agg(
          max("n_lang").as("n_docs"), max("weight_bp").as("weight_bp"),
          expr("max(n_lang) * max(weight_bp)").as("planned_docs_e4"),
          sum("n_copies").as("exec_docs"),
          expr("sum(n_chars) * max(weight_bp)").as("planned_toks_e4"),
          expr("sum(n_chars * n_copies)").as("exec_toks"))
        .select(col("lang"), col("n_docs"), col("weight_bp"),
          col("planned_docs_e4"), col("exec_docs"),
          col("planned_toks_e4"), col("exec_toks"),
          expr("(exec_docs * 10000 - planned_docs_e4) * 10000 " +
            "div planned_docs_e4").as("dev_docs_bp"),
          expr("(exec_toks * 10000 - planned_toks_e4) * 10000 " +
            "div planned_toks_e4").as("dev_toks_bp"))
        .orderBy("lang")
    },
    Some("""
      WITH hist AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
      t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_docs,
                   count(*) AS n_langs FROM hist),
      w AS (SELECT lang, n_lang,
              n_docs * 10000 // (n_langs * n_lang) AS weight_bp
            FROM hist CROSS JOIN t),
      nc AS (SELECT d.lang, w.n_lang, w.weight_bp, d.n_chars,
                    w.weight_bp // 10000
                    + CASE WHEN ((d.doc_id % 2147483648) * 1103515245 + 12345) % 10000
                           < w.weight_bp % 10000 THEN 1 ELSE 0 END AS n_copies
             FROM documents d JOIN w USING (lang))
      SELECT lang, CAST(max(n_lang) AS BIGINT) AS n_docs,
             max(weight_bp) AS weight_bp,
             CAST(max(n_lang) * max(weight_bp) AS BIGINT) AS planned_docs_e4,
             CAST(sum(n_copies) AS BIGINT) AS exec_docs,
             CAST(sum(n_chars) * max(weight_bp) AS BIGINT) AS planned_toks_e4,
             CAST(sum(n_chars * n_copies) AS BIGINT) AS exec_toks,
             (CAST(sum(n_copies) AS BIGINT) * 10000
               - max(n_lang) * max(weight_bp)) * 10000
               // (max(n_lang) * max(weight_bp)) AS dev_docs_bp,
             (CAST(sum(n_chars * n_copies) AS BIGINT) * 10000
               - CAST(sum(n_chars) AS BIGINT) * max(weight_bp)) * 10000
               // (CAST(sum(n_chars) AS BIGINT) * max(weight_bp))
               AS dev_toks_bp
      FROM nc GROUP BY lang ORDER BY lang
    """),
    doc = "epoch accounting ledger: planned (q63 weights) vs executed " +
      "(q64 expansion formula) docs + tokens per language, deviation " +
      "in bp — audited at histogram cost, the epoch never materializes")

  /** Exact integer square root as dialect-neutral SQL (Spark and DuckDB
    * both parse it): float `sqrt` then a ±1 integer correction, so the
    * result is floor(√x) EXACTLY even when the double rounds across a
    * perfect square — the hash gate can't tolerate a ulp. Nesting it
    * gives floor(x^(1/4)) (the floor-of-root composition identity).
    * Domain: 0 ≤ x ≤ 2⁶² — the correction squares isqrt(x)+1, which
    * must fit a long (any count this engine can hold is far below).
    */
  private[graft] def isqrtSql(x: String): String = {
    val s0 = s"cast(floor(sqrt(cast(($x) as double))) as bigint)"
    s"($s0 + (case when ($s0 + 1) * ($s0 + 1) <= ($x) then 1 else 0 end)" +
      s" - (case when $s0 * $s0 > ($x) then 1 else 0 end))"
  }

  /** q180 — mixture TEMPERATURE sweep (round 16, the q175–q179 sweep
    * family applied to q63's knob): per temperature T ∈ {1, 2, 4, ∞},
    * each language's share of the reweighted epoch, w_l(T) ∝
    * n_l^(1/T) — T=1 is the natural mix, T=∞ uniform, the in-betweens
    * the standard multilingual upsampling curve (mT5/XLM-R's knob).
    * ALL integer: n^(1/2) and n^(1/4) are the ±1-corrected [[isqrtSql]]
    * (exact floor, no float ties), shares are `r·10⁴ div Σr`, and the
    * boost column (share vs natural) is a second exact division.
    *
    * Plan shape: ONE corpus pass builds the language histogram;
    * everything after runs on the LANGUAGE axis (root projections, a
    * 1-row totals fold broadcast back, a 4-struct explode per lang) —
    * the sweep costs nothing corpus-proportional, which is the whole
    * argument for tuning T on the histogram instead of materialized
    * epochs. 100 TB: identical to q63 — the histogram is the only
    * aggregate, mergeable map-side.
    */
  private val q180 = Q(
    "q180_mixture_temperature",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val temps = Seq("1" -> "r1", "2" -> "r2", "4" -> "r4",
        "inf" -> "rinf")
      // totals as single-partition window sums over the LANG-cardinality
      // histogram (q95's fused-quota idiom): a totals-aggregate branch
      // would recompute the histogram and scan the corpus twice
      val withTotals = temps.foldLeft(
        Tables.documents(s, d)
          .groupBy("lang").agg(count(lit(1)).as("n_lang"))
          .withColumn("r2", expr(isqrtSql("n_lang")))
          .withColumn("r4", expr(isqrtSql("r2")))
          .withColumn("r1", col("n_lang"))
          .withColumn("rinf", lit(1L))) { case (df, (t, r)) =>
        df.withColumn(s"tot_$t", sum(col(r)).over(Window.partitionBy()))
      }
      val report = temps.map { case (t, r) =>
        struct(lit(t).as("temp"),
          expr(s"$r * 10000 div tot_$t").as("share_bp"),
          expr(s"($r * 10000 div tot_$t) * 10000" +
            s" div greatest(r1 * 10000 div tot_1, 1)").as("boost_bp"))
      }
      withTotals
        .select(col("lang"), explode(array(report: _*)).as("x"))
        .select(col("x.temp"), col("lang"), col("x.share_bp"),
          col("x.boost_bp"))
        .orderBy("temp", "lang")
    },
    Some(s"""
      WITH hist AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
                    FROM documents GROUP BY lang),
      r AS (SELECT lang, n_lang AS r1, ${isqrtSql("n_lang")} AS r2
            FROM hist),
      r2 AS (SELECT lang, r1, r2, ${isqrtSql("r2")} AS r4, 1 AS rinf
             FROM r),
      t AS (SELECT CAST(sum(r1) AS BIGINT) AS tot_1,
                   CAST(sum(r2) AS BIGINT) AS tot_2,
                   CAST(sum(r4) AS BIGINT) AS tot_4,
                   CAST(sum(rinf) AS BIGINT) AS tot_inf FROM r2),
      x AS (SELECT lang, r1, r2, r4, rinf, tot_1, tot_2, tot_4, tot_inf
            FROM r2 CROSS JOIN t)
      SELECT '1' AS temp, lang, r1 * 10000 // tot_1 AS share_bp,
             (r1 * 10000 // tot_1) * 10000
               // greatest(r1 * 10000 // tot_1, 1) AS boost_bp FROM x
      UNION ALL
      SELECT '2', lang, r2 * 10000 // tot_2,
             (r2 * 10000 // tot_2) * 10000
               // greatest(r1 * 10000 // tot_1, 1) FROM x
      UNION ALL
      SELECT '4', lang, r4 * 10000 // tot_4,
             (r4 * 10000 // tot_4) * 10000
               // greatest(r1 * 10000 // tot_1, 1) FROM x
      UNION ALL
      SELECT 'inf', lang, rinf * 10000 // tot_inf,
             (rinf * 10000 // tot_inf) * 10000
               // greatest(r1 * 10000 // tot_1, 1) FROM x
      ORDER BY temp, lang
    """),
    doc = "mixture temperature sweep: language histogram once, exact " +
      "integer roots (corrected isqrt), per-T shares and boosts on the " +
      "language axis - nothing corpus-proportional after the histogram")

  val all: Seq[Q] = Seq(q63, q64, q92, q101, q103, q140, q180)
}
