package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q81/q82/q84 — corpus-signal pack (round 11): per-document signals
  * computed against CORPUS-LEVEL statistics, the family of passes a
  * training-data build runs between cleaning and mixing —
  *
  *  - q81: cross-document n-gram NOVELTY (how much of a document the
  *    corpus has already seen — the per-doc complement of q66's block
  *    dedup and the signal behind "dedup pressure" dashboards),
  *  - q82: DSIR-style IMPORTANCE WEIGHTS (hashed-feature likelihood
  *    ratios against a target distribution — Xie et al.'s data-selection
  *    device, here with exact integer arithmetic),
  *  - q84: the POLICY GATE (blocklist / language / length) every
  *    web-scale corpus runs first (C4's badwords filter shape), with the
  *    audit columns a review needs.
  *
  * All three oracle-gated; every ratio is integer basis points (MEMORY
  * oracle-parity-trapdoors — float ties differ across engines).
  */
object PackSignal {

  /** q81 — n-gram novelty: for each document, the share of its DISTINCT
    * word 4-grams whose corpus-wide FIRST occurrence (minimum doc_id
    * holding the gram) is this document. A corpus that re-crawls the
    * same content shows novelty collapsing toward zero for late doc_ids;
    * a healthy crawl stays high — the memorization-risk signal
    * deduplication work is prioritized by.
    *
    * Plan shape: grams deduplicate DOCUMENT-LOCALLY (array_distinct
    * before the explode — no shuffle spent on per-doc dedup), then ONE
    * gram-keyed aggregation derives each gram's first holder. The
    * first-holder frame joins back to the gram stream on the gram key;
    * hot grams are harmless on the build side (map-side partial min
    * forwards one row per gram per partition) and fan out 1:1 on the
    * probe side. The per-doc roll-up is the one doc-keyed shuffle.
    * At 100 TB the gram key is the natural partitioner and nothing is
    * ever corpus × corpus.
    */
  private val q81 = Q(
    "q81_ngram_novelty",
    (s, d) => {
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 4)
        // native kernel (r14): identical strings to the HOF
        // array_distinct(transform(..array_join(slice)..)) chain it
        // replaced, one codegen'd pass per doc instead of a per-window
        // slice/concat expression tree
        .select(col("doc_id"), explode(
          org.apache.spark.sql.graftglue.ExprGlue.column(
            graft.expr.WordShingleStrings(
              org.apache.spark.sql.graftglue.ExprGlue.expression(
                col("ws")), 4))).as("gram"))
      val first = grams.groupBy("gram").agg(min("doc_id").as("first_doc"))
      grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("n_novel * 10000 div n_grams").as("novelty_bp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      g AS (SELECT doc_id,
                   unnest(list_distinct(list_transform(range(1, len(ws) - 2),
                     i -> array_to_string(ws[i:i+3], ' ')))) AS gram
            FROM t WHERE len(ws) >= 4),
      f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
      SELECT g.doc_id, count(*) AS n_grams,
             CAST(count(*) FILTER (f.first_doc = g.doc_id) AS BIGINT) AS n_novel,
             CAST(count(*) FILTER (f.first_doc = g.doc_id) AS BIGINT) * 10000
               // count(*) AS novelty_bp
      FROM g JOIN f USING (gram)
      GROUP BY g.doc_id ORDER BY doc_id
    """),
    doc = "per-doc first-occurrence 4-gram novelty: document-local gram " +
      "dedup, one gram-keyed min aggregation, skew-safe probe join")

  /** q82 — DSIR-style importance weights: hash every token into a small
    * feature-bucket space (the explicit-arithmetic char hash of
    * [[graft.expr.PolyHash]] — q65's proven oracle device), estimate the
    * target and raw distributions over buckets, and score each document
    * by its mean add-one-smoothed likelihood ratio in basis points. The
    * target here is the English slice of the corpus; > 10⁴ means
    * "more target-like than the average token". This is the hashed-
    * n-gram importance-resampling selector of Xie et al. (DSIR), with
    * the log-likelihood sum swapped for the exact-integer mean ratio —
    * same feature space, same per-bucket statistics, oracle-exact (a
    * production build that wants the log form changes only the final
    * projection).
    *
    * Plan shape: TWO corpus scans, no corpus-sized cache (q77's trade:
    * every consumer wants an aggregate of the token stream, so caching
    * it buys nothing) — one folds to the 64-row bucket histogram (both
    * distributions in ONE pass via conditional aggregation), one scores.
    * The weight table is 64 rows broadcast; the per-doc roll-up is the
    * one corpus-keyed shuffle. Ratio arithmetic runs decimal(38,0) /
    * HUGEINT unconditionally (q69's overflow lesson: 10⁴·n_tgt·R wraps
    * BIGINT past ~10¹⁴ corpus tokens).
    */
  private[graft] val NB = 64 // feature buckets (q82, q111, driftStream)

  /** Native codegen'd token hash ([[graft.expr.PolyTokenHash]]) — the HOF
    * form was three nested CodegenFallback exprs per token, paid on both
    * corpus scans; the arithmetic is identical ([[bucketSql]] recomputes
    * it as a list HOF, and PackSignalSpec's in-memory twin re-derives it
    * via `PolyHash.tokenHash`).
    */
  private[graft] def bucketCol: org.apache.spark.sql.Column =
    org.apache.spark.sql.graftglue.ExprGlue.column(graft.expr.PolyTokenHash(
      org.apache.spark.sql.graftglue.ExprGlue.expression(col("tok"))))
      .%(NB)

  private def bucketSql: String =
    s"CAST(list_sum(list_transform(range(1, least(length(tok), 8) + 1), " +
      s"i -> ascii(substr(tok, i, 1)) * ${graft.expr.PolyHash.sqlPow31}[i])) " +
      s"% ${graft.expr.PolyHash.CharMod} % $NB AS BIGINT)"

  private val q82 = Q(
    "q82_dsir_weights",
    (s, d) => {
      def tokBuckets = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(words(col("text"))).as("tok"))
        .withColumn("b", bucketCol)
      val hist = tokBuckets.groupBy("b").agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_tgt"))
      val totals = hist.agg(sum("n_raw").as("rr"), sum("n_tgt").as("tt"))
      val weights = hist.crossJoin(broadcast(totals))
        .select(col("b"),
          expr(s"(cast(10000 as decimal(38,0)) * (n_tgt + 1) * (rr + $NB)) " +
            s"div (cast(n_raw + 1 as decimal(38,0)) * (tt + $NB))").as("w_bp"))
      tokBuckets.join(broadcast(weights), "b")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).as("n_toks"), sum("w_bp").as("sw"))
        .select(col("doc_id"), col("lang"), col("n_toks"),
          expr("sw div n_toks").as("score_bp"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      p AS (SELECT doc_id, lang, unnest(ws) AS tok FROM t),
      pb AS (SELECT doc_id, lang, $bucketSql AS b FROM p),
      h AS (SELECT b, count(*) AS n_raw,
                   count(*) FILTER (lang = 'en') AS n_tgt
            FROM pb GROUP BY b),
      tt AS (SELECT CAST(sum(n_raw) AS BIGINT) AS rr,
                    CAST(sum(n_tgt) AS BIGINT) AS tt FROM h),
      w AS (SELECT b,
                   CAST((CAST(10000 AS HUGEINT) * (n_tgt + 1) * (rr + $NB))
                        // (CAST(n_raw + 1 AS HUGEINT) * (tt + $NB)) AS BIGINT) AS w_bp
            FROM h CROSS JOIN tt)
      SELECT pb.doc_id, pb.lang, count(*) AS n_toks,
             CAST(sum(w.w_bp) AS BIGINT) // count(*) AS score_bp
      FROM pb JOIN w USING (b)
      GROUP BY pb.doc_id, pb.lang ORDER BY doc_id
    """),
    doc = "DSIR importance weights: explicit-hash token buckets, one-pass " +
      "dual histogram, 64-row weight table broadcast back — exact " +
      "integer likelihood ratios")

  /** q84 — corpus policy gate (C4's cleaning shape): first-matching-rule
    * verdict per document — non-target language, too short, blocklisted-
    * term share over threshold, else ok — with the audit columns a
    * filtering review adjudicates (matched terms, share in basis
    * points). Deliberately a stateless projection: at 100 TB this gate
    * rides the ingest scan and costs no shuffle before the output sort,
    * which is why policy filters run FIRST in every corpus build.
    */
  private val Blocklist = Seq("slow", "dup")
  private val AllowLangs = Seq("en", "es", "de", "fr")
  private val ShareBp = 250L // blocked-share gate, basis points

  private val q84 = Q(
    "q84_policy_gate",
    (s, d) => {
      val bl = Blocklist.map(t => s"'$t'").mkString("array(", ", ", ")")
      val al = AllowLangs.map(l => s"'$l'").mkString(", ")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          words(col("text")).as("ws"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          expr("cast(size(ws) as bigint)").as("n_toks"),
          expr(s"cast(size(filter(ws, t -> array_contains($bl, t))) as bigint)")
            .as("n_blocked"),
          expr(s"array_join(array_sort(array_distinct(filter(ws, t -> array_contains($bl, t)))), ' ')")
            .as("matched"))
        .withColumn("share_bp",
          expr("n_blocked * 10000 div greatest(n_toks, 1)"))
        .withColumn("verdict",
          when(not(expr(s"lang in ($al)")), "lang")
            .when(col("n_chars") < 60, "short")
            .when(col("share_bp") > ShareBp, "blocked")
            .otherwise("ok"))
        .select("doc_id", "lang", "n_toks", "n_blocked", "share_bp",
          "matched", "verdict")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, lang, n_chars, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      b AS (SELECT doc_id, lang, n_chars,
                   CAST(len(ws) AS BIGINT) AS n_toks,
                   CAST(len(list_filter(ws, x -> list_contains(${Blocklist.map(t => s"'$t'").mkString("[", ", ", "]")}, x))) AS BIGINT) AS n_blocked,
                   coalesce(array_to_string(list_sort(list_distinct(list_filter(ws, x -> list_contains(${Blocklist.map(t => s"'$t'").mkString("[", ", ", "]")}, x)))), ' '), '') AS matched
            FROM t)
      SELECT doc_id, lang, n_toks, n_blocked,
             n_blocked * 10000 // greatest(n_toks, 1) AS share_bp, matched,
             CASE WHEN lang NOT IN (${AllowLangs.map(l => s"'$l'").mkString(", ")}) THEN 'lang'
                  WHEN n_chars < 60 THEN 'short'
                  WHEN n_blocked * 10000 // greatest(n_toks, 1) > $ShareBp THEN 'blocked'
                  ELSE 'ok' END AS verdict
      FROM b ORDER BY doc_id
    """),
    doc = "policy gate: blocklist / language / length verdicts with audit " +
      "columns — stateless projection, rides the ingest scan")

  /** q85 — span-level dedup (the C4/CCNet paragraph-dedup shape): segment
    * each document into consecutive 10-token spans, keep each span's
    * corpus-wide FIRST occurrence (lexicographic (doc_id, span_idx)) and
    * drop every later copy, then report per document how much text
    * survives plus a hash of the rebuilt text. This is dedup at
    * SUB-document granularity — the pass that strips boilerplate
    * headers/footers exact whole-doc dedup (q24) can't see, run by every
    * web-corpus build between exact and fuzzy dedup.
    *
    * Plan shape: q81's skew-safe device on the span key — ONE span-keyed
    * aggregation derives each span's first holder as min(doc_id·10⁶ +
    * span_idx) (integer-encoded lexicographic min; sound while doc_id
    * < 9.2·10¹², documented), the probe join fans back 1:1, and the
    * per-doc roll-up is the one doc-keyed shuffle. Hot spans (true
    * boilerplate — the exact rows this query exists for) are harmless:
    * the build side partial-aggregates map-side, the probe side is 1:1.
    * The rebuilt text orders kept spans by position via sort_array over
    * (span_idx, span) structs — deterministic in both engines.
    */
  private val q85 = Q(
    "q85_span_dedup",
    (s, d) => {
      val spans = Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, (size(ws) - 1) div 10), " +
            "i -> array_join(slice(ws, i * 10 + 1, 10), ' '))")))
        .withColumnRenamed("pos", "span_idx")
        .withColumnRenamed("col", "span")
        .withColumn("k", col("doc_id") * 1000000L + col("span_idx"))
      val first = spans.groupBy("span").agg(min("k").as("fk"))
      spans.join(first, "span")
        .withColumn("kept", col("k") === col("fk"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          substring(sha2(array_join(transform(
            sort_array(collect_list(when(col("kept"),
              struct(col("span_idx").as("i"), col("span").as("sp"))))),
            x => x.getField("sp")), " "), 256), 1, 16).as("rebuilt16"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      sp0 AS (SELECT doc_id,
                unnest(list_transform(range(0, (len(ws) - 1) // 10 + 1),
                  i -> {'i': i, 'sp': array_to_string(ws[i*10+1 : i*10+10], ' ')})) AS u
              FROM t WHERE len(ws) >= 1),
      sp AS (SELECT doc_id, CAST(u.i AS BIGINT) AS span_idx, u.sp AS span FROM sp0),
      f AS (SELECT span, min(doc_id * 1000000 + span_idx) AS fk FROM sp GROUP BY span),
      j AS (SELECT sp.doc_id, sp.span_idx, sp.span,
                   sp.doc_id * 1000000 + sp.span_idx = f.fk AS kept
            FROM sp JOIN f USING (span))
      SELECT doc_id, count(*) AS n_spans,
             CAST(count(*) FILTER (kept) AS BIGINT) AS n_kept,
             substr(sha256(coalesce(array_to_string(
               list(span ORDER BY span_idx) FILTER (kept), ' '), '')), 1, 16)
               AS rebuilt16
      FROM j GROUP BY doc_id ORDER BY doc_id
    """),
    doc = "C4-style span dedup: 10-token spans, corpus-wide first-wins " +
      "via integer-encoded min, skew-safe probe join, rebuilt-text hash")

  /** q89 — source-cell reputation with empirical-Bayes shrinkage: score
    * every (source, lang) cell by its documents' mean quality, SHRUNK
    * toward the corpus-wide prior in proportion to how little evidence
    * the cell holds — shrunk = (Σscore + k·prior) / (n + k), k = 5 —
    * and propagate the cell verdict back onto every document. This is
    * the per-domain gate of CCNet/RefinedWeb-class builds done
    * honestly: a domain seen 3 times must NOT be credited with its raw
    * mean (3 lucky documents would whitelist it; 3 unlucky ones would
    * ban it) — it earns trust as evidence accumulates. All arithmetic
    * exact-integer basis points, so the oracle gates the shrinkage
    * math itself.
    *
    * Plan shape: the per-doc score frame (doc-cardinality, text-free —
    * q86's dl posture) is CacheScope-persisted and read twice: once
    * folding to the ≤ |sources|·|langs| cell histogram, once as the
    * output's left side. Cell reputation + the 1-row prior broadcast
    * back; the only corpus-sized exchanges are the score fold and the
    * output sort.
    */
  private val q89 = Q(
    "q89_source_reputation",
    (s, d) => {
      val scored = graft.ops.CacheScope.persisted(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("lang"),
            words(col("text")).as("ws"))
          .select(col("doc_id"), col("source"), col("lang"),
            expr("size(array_distinct(ws)) * 10000L div greatest(size(ws), 1)")
              .as("score_bp")))
      val cells = scored.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_cell"), sum("score_bp").as("ss"))
      val prior = cells.agg(
        expr("sum(ss) div sum(n_cell)").as("prior_bp"))
      val rep = cells.crossJoin(broadcast(prior))
        .select(col("source"), col("lang"), col("n_cell"),
          expr("(ss + 5 * prior_bp) div (n_cell + 5)").as("shrunk_bp"),
          col("prior_bp"))
      scored.join(broadcast(rep), Seq("source", "lang"))
        .select(col("doc_id"), col("source"), col("lang"), col("score_bp"),
          col("n_cell"), col("shrunk_bp"),
          (col("shrunk_bp") >= 5000L).as("source_ok"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, source, lang, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      sc AS (SELECT doc_id, source, lang,
               CAST(len(list_distinct(ws)) AS BIGINT) * 10000
                 // greatest(len(ws), 1) AS score_bp
             FROM t),
      cells AS (SELECT source, lang, count(*) AS n_cell,
                       CAST(sum(score_bp) AS BIGINT) AS ss
                FROM sc GROUP BY source, lang),
      pr AS (SELECT CAST(sum(ss) AS BIGINT) // sum(n_cell) AS prior_bp FROM cells),
      rep AS (SELECT source, lang, n_cell,
                     CAST((ss + 5 * prior_bp) // (n_cell + 5) AS BIGINT)
                       AS shrunk_bp
              FROM cells CROSS JOIN pr)
      SELECT sc.doc_id, sc.source, sc.lang, sc.score_bp,
             rep.n_cell, rep.shrunk_bp, rep.shrunk_bp >= 5000 AS source_ok
      FROM sc JOIN rep USING (source, lang)
      ORDER BY doc_id
    """),
    doc = "empirical-Bayes source reputation: (source, lang) cell means " +
      "shrunk toward the corpus prior by evidence mass, broadcast back " +
      "per doc — exact-integer shrinkage, oracle-gated")

  /** q102 — per-source score calibration: each document's quality score
    * mapped to its WITHIN-SOURCE percentile rank (exact integer bp) plus
    * the keep verdict at the bottom-decile cut. Sources score on
    * different scales — a boilerplate-heavy source's median can sit
    * below a clean source's p10 — so a single global threshold (q57)
    * over-prunes one source and under-prunes another; ranking within
    * source first is the cross-source calibration every multi-source
    * gate runs before mixing (q89's shrinkage answers "how good is this
    * source"; this answers "how good is this doc FOR its source").
    * pct_bp = (rank − 1)·10⁴ div (n − 1) with rank deterministically
    * tie-broken by doc_id; n = 1 pins to 0.
    *
    * Plan shape: one stateless scoring pass, then ONE window exchange
    * partitioned by source — rank and the partition count share the
    * same window spec, so one shuffle serves both. A corpus-wide
    * (unpartitioned) rank is the thing no 100 TB job can run (q92's
    * argument); partitioned by source it is embarrassingly parallel,
    * with the caveat that a mega-source concentrates on one reducer —
    * the documented swap-in is q99's histogram sketch per source
    * (percentile from bin counts, no sort), which changes the readout
    * and nothing else.
    */
  private val q102 = Q(
    "q102_source_calibrate",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source")
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), words(col("text")).as("ws"))
        .select(col("doc_id"), col("source"),
          expr("size(array_distinct(ws)) * 10000L div greatest(size(ws), 1)")
            .as("score_bp"))
      scored
        .withColumn("rk", row_number().over(
          w.orderBy(col("score_bp"), col("doc_id"))))
        .withColumn("n_src", count(lit(1)).over(w))
        .select(col("doc_id"), col("source"), col("score_bp"),
          expr("(rk - 1) * 10000 div greatest(n_src - 1, 1)").as("pct_bp"))
        .withColumn("keep", col("pct_bp") >= 1000)
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, source,
                   list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws
                 FROM documents),
      sc AS (SELECT doc_id, source,
               CAST(len(list_distinct(ws)) AS BIGINT) * 10000
                 // greatest(len(ws), 1) AS score_bp
             FROM t),
      rk AS (SELECT doc_id, source, score_bp,
               row_number() OVER (PARTITION BY source ORDER BY score_bp, doc_id) AS rk,
               count(*) OVER (PARTITION BY source) AS n_src
             FROM sc)
      SELECT doc_id, source, score_bp,
             (rk - 1) * 10000 // greatest(n_src - 1, 1) AS pct_bp,
             (rk - 1) * 10000 // greatest(n_src - 1, 1) >= 1000 AS keep
      FROM rk ORDER BY doc_id
    """),
    doc = "within-source percentile calibration: one scoring pass + ONE " +
      "source-partitioned window (rank + count share the shuffle); " +
      "bottom-decile cut per source, not per corpus")

  /** q104 — loss-mask interval map: the per-document list of DISJOINT
    * token-index ranges a trainer should exclude from the loss — the
    * bridge between detection (q50's PII finds, q98's boilerplate
    * verdicts) and training: masks, not deletions, because removing
    * bytes breaks the attribution/offset maps (q96) while masking
    * preserves them. Two detectors feed it: PII-shaped tokens (digit
    * runs ≥ 4 — account/phone/id shapes after tokenization) as 1-token
    * intervals, and corpus-frequent 5-token spans (q85's stride spans
    * at q98's ≥ 3-distinct-docs policy) as 5-token intervals.
    * Overlapping or touching intervals coalesce (the classic island
    * merge) so the output is the minimal disjoint cover.
    *
    * Plan shape: the span-df fold and its probe are q85's skew-safe
    * device (hot boilerplate partial-aggregates map-side, probe 1:1);
    * the island merge is TWO window passes over the interval frame —
    * interval-cardinality, partitioned by doc_id, never corpus-wide.
    * At 100 TB the mask map rides the same partitioning as the corpus
    * and every stage is keyed (span or doc) — nothing quadratic.
    */
  private val q104 = Q(
    "q104_loss_mask",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 1)
      val dig = t
        .select(col("doc_id"), posexplode(col("ws")))
        .filter(col("col").rlike("^[0-9]{4,}$"))
        .select(col("doc_id"), col("pos").cast("long").as("s"),
          col("pos").cast("long").as("e"))
      val sp = t.select(col("doc_id"), size(col("ws")).as("n"),
        posexplode(expr(
          "transform(sequence(0, (size(ws) - 1) div 5), " +
            "i -> array_join(slice(ws, i * 5 + 1, 5), ' '))")))
        .withColumnRenamed("pos", "j").withColumnRenamed("col", "span")
      val bf = sp.groupBy("span")
        .agg(countDistinct("doc_id").as("df"))
        .filter(col("df") >= 3)
      val biv = sp.join(bf, "span")
        .select(col("doc_id"), (col("j") * 5).cast("long").as("s"),
          least(col("j") * 5 + 4, col("n") - 1).cast("long").as("e"))
      val iv = dig.unionByName(biv).distinct()
      val w = Window.partitionBy("doc_id").orderBy("s", "e")
      val merged = iv
        .withColumn("pm", max("e").over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("ni",
          when(col("pm").isNull || col("s") > col("pm") + 1, 1L).otherwise(0L))
        .withColumn("g", sum("ni").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "g")
        .agg(min("s").as("m_start"), max("e").as("m_end"))
      merged
        .select(col("doc_id"), col("m_start"), col("m_end"),
          (col("m_end") - col("m_start") + 1).as("m_len"))
        .orderBy("doc_id", "m_start")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      tt AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 1),
      dig AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS s, CAST(i - 1 AS BIGINT) AS e
              FROM (SELECT doc_id, unnest(ws) AS tok,
                           generate_subscripts(ws, 1) AS i FROM tt)
              WHERE regexp_matches(tok, '^[0-9]{4,}$')),
      sp AS (SELECT doc_id, len(ws) AS n, u.j AS j, u.sp AS span
             FROM (SELECT doc_id, ws,
                     unnest(list_transform(range(0, (len(ws) - 1) // 5 + 1),
                       i -> {'j': i, 'sp': array_to_string(ws[i*5+1 : i*5+5], ' ')})) AS u
                   FROM tt)),
      bf AS (SELECT span FROM sp GROUP BY span
             HAVING count(DISTINCT doc_id) >= 3),
      biv AS (SELECT doc_id, CAST(j * 5 AS BIGINT) AS s,
                     CAST(least(j * 5 + 4, n - 1) AS BIGINT) AS e
              FROM sp JOIN bf USING (span)),
      iv AS (SELECT DISTINCT doc_id, s, e
             FROM (SELECT * FROM dig UNION ALL SELECT * FROM biv)),
      m AS (SELECT doc_id, s, e,
              max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
            FROM iv),
      isl AS (SELECT doc_id, s, e,
                sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM m)
      SELECT doc_id, min(s) AS m_start, max(e) AS m_end,
             max(e) - min(s) + 1 AS m_len
      FROM isl GROUP BY doc_id, g ORDER BY doc_id, m_start
    """),
    doc = "loss-mask map: PII digit runs + df>=3 boilerplate spans, " +
      "island-merged to the minimal disjoint token-range cover per doc; " +
      "span-keyed df fold, doc-partitioned interval windows")

  /** q108 — per-source DISTRIBUTION DRIFT: the total-variation distance
    * between each source's token distribution and the corpus-wide one,
    * in exact basis points — the mixture-health monitor a multi-source
    * corpus watches next to q100's embedding drift (a source whose
    * unigram distribution swings away from the corpus is the one whose
    * crawl changed under you) and the model-free sibling of q82's DSIR
    * ratios. TV is chosen over KL/JS deliberately: it needs no
    * logarithm, so the whole statistic is exact integer arithmetic and
    * the oracle hash-gates it (MEMORY: float ties differ across
    * engines; ln(x) differs across libm builds).
    *
    * Exactness device: TV = ½·Σ_t |p_t − q_t| over the FULL vocabulary.
    * Present tokens contribute |cnt_st·N − n_t·n_s| (common denominator
    * n_s·N — no division before the final scale); tokens ABSENT from
    * the source contribute n_t·n_s each, and their total needs no
    * complement scan: Σ_absent n_t = N − Σ_present n_t. Products reach
    * n_s·N ≈ 10²⁸ at corpus scale, so the fold runs in decimal(38,0) /
    * HUGEINT unconditionally (q69's overflow posture).
    *
    * Plan shape: ONE corpus token pass folds to the (source, tok) count
    * frame (map-side partial agg; the only corpus-sized exchange); the
    * global per-token frame RE-FOLDS from it (q100's cells device — no
    * second corpus pass) as do both totals; the drift fold runs at
    * vocab cardinality on the token-keyed join of the two count frames,
    * with the source totals and the 1-row corpus total broadcast back.
    * Shard (source, tok) counts merge by addition, so the same fold
    * runs per-executor at 100 TB and merges in one reduce.
    */
  /** q108's body from a pre-tokenized frame carrying (source, ws) — the
    * monitor batch ([[MonitorBatch]]) feeds the SHARED cached token
    * frame here so four monitors pay one tokenize; the standalone query
    * tokenizes inline. Result identical either way (spec-pinned).
    */
  private[graft] def q108From(tf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
      val st = graft.ops.CacheScope.persisted(
        tf.select(col("source"), explode(col("ws")).as("tok"))
          .groupBy("source", "tok").agg(count(lit(1)).as("cnt")))
      val glob = st.groupBy("tok").agg(sum("cnt").as("n_t"))
      val perSrc = st.groupBy("source").agg(sum("cnt").as("n_s"))
      val total = perSrc.agg(sum("n_s").as("nn"))
      st.join(glob, "tok")
        .join(broadcast(perSrc), "source")
        .crossJoin(broadcast(total))
        .groupBy("source")
        .agg(max("n_s").as("n_s"), max("nn").as("nn"),
          sum(expr("abs(cast(cnt as decimal(38,0)) * nn" +
            " - cast(n_t as decimal(38,0)) * n_s)")).as("present"),
          sum(expr("cast(n_t as decimal(38,0))")).as("seen"))
        .select(col("source"), col("n_s").as("n_toks"),
          expr("cast((present + (cast(nn as decimal(38,0)) - seen) * n_s)" +
            " * 10000 div (2 * cast(n_s as decimal(38,0)) * nn)" +
            " as bigint)").as("tv_bp"))
        .orderBy("source")
  }

  private val q108 = Q(
    "q108_source_divergence",
    (s, d) => q108From(Tables.documents(s, d)
      .select(col("source"), words(col("text")).as("ws"))),
    Some("""
      WITH t AS (SELECT source, unnest(list_filter(
                   string_split_regex(lower(text), '\W+'),
                   x -> len(x) > 0)) AS tok FROM documents),
      st AS (SELECT source, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
      g AS (SELECT tok, CAST(sum(cnt) AS BIGINT) AS n_t FROM st GROUP BY tok),
      ps AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM st GROUP BY source),
      tt AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn FROM ps),
      f AS (SELECT st.source, ps.n_s, tt.nn,
                   sum(abs(CAST(st.cnt AS HUGEINT) * tt.nn
                           - CAST(g.n_t AS HUGEINT) * ps.n_s)) AS present,
                   sum(CAST(g.n_t AS HUGEINT)) AS seen
            FROM st JOIN g USING (tok) JOIN ps USING (source) CROSS JOIN tt
            GROUP BY 1, 2, 3)
      SELECT source, n_s AS n_toks,
             CAST((present + (CAST(nn AS HUGEINT) - seen) * n_s) * 10000 //
                  (2 * CAST(n_s AS HUGEINT) * nn) AS BIGINT) AS tv_bp
      FROM f ORDER BY source
    """),
    doc = "per-source total-variation drift from the corpus token " +
      "distribution, exact basis points: one corpus token pass, global " +
      "frame re-folded from the (source, tok) counts, drift fold at " +
      "vocab cardinality with totals broadcast — log-free by design " +
      "so the sketch-to-oracle gate is a hash, not a tolerance")

  /** q111 — BUCKETED distribution drift: q108's total-variation monitor
    * computed over the 64 explicit hash buckets of q82's feature space
    * instead of the full vocabulary — the FIXED-FOOTPRINT form (64
    * cells per source whatever the vocab), which is the 100 TB swap-in
    * when the vocabulary doesn't fit (q44↔q42's pairing applied to
    * drift) and the form the STREAMING monitor can hold as state
    * ([[graft.streaming.StreamOps]] `driftStream` is its twin — 64
    * longs per source, no watermark needed, q93's bounded-state
    * argument). Hash collapse only LOWERS measured TV (buckets merge
    * mass), so the bucketed readout is a sound screening monitor: a
    * source flagged here has drifted at least that much in vocab space.
    *
    * Same exactness device as q108 (common denominator, absent-bucket
    * complement via Σ_absent r_b = R − Σ_present r_b), same one-pass /
    * re-fold plan shape — but every frame after the token pass is ≤ 64
    * rows per source.
    */
  private val q111 = Q(
    "q111_bucket_drift",
    (s, d) => {
      val sb = graft.ops.CacheScope.persisted(
        Tables.documents(s, d)
          .select(col("source"), explode(words(col("text"))).as("tok"))
          .withColumn("b", bucketCol)
          .groupBy("source", "b").agg(count(lit(1)).as("cnt")))
      val ref = sb.groupBy("b").agg(sum("cnt").as("r_b"))
      val perSrc = sb.groupBy("source").agg(sum("cnt").as("n_s"))
      val total = perSrc.agg(sum("n_s").as("rr"))
      sb.join(ref, "b")
        .join(broadcast(perSrc), "source")
        .crossJoin(broadcast(total))
        .groupBy("source")
        .agg(max("n_s").as("n_s"), max("rr").as("rr"),
          sum(expr("abs(cast(cnt as decimal(38,0)) * rr" +
            " - cast(r_b as decimal(38,0)) * n_s)")).as("present"),
          sum(expr("cast(r_b as decimal(38,0))")).as("seen"))
        .select(col("source"), col("n_s").as("n_toks"),
          expr("cast((present + (cast(rr as decimal(38,0)) - seen) * n_s)" +
            " * 10000 div (2 * cast(n_s as decimal(38,0)) * rr)" +
            " as bigint)").as("tv_bp"))
        .orderBy("source")
    },
    Some(s"""
      WITH t AS (SELECT source, unnest(list_filter(
                   string_split_regex(lower(text), '\\W+'),
                   x -> len(x) > 0)) AS tok FROM documents),
      sb AS (SELECT source, $bucketSql AS b, count(*) AS cnt
             FROM t GROUP BY 1, 2),
      g AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS r_b FROM sb GROUP BY b),
      ps AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM sb GROUP BY source),
      tt AS (SELECT CAST(sum(n_s) AS BIGINT) AS rr FROM ps),
      f AS (SELECT sb.source, ps.n_s, tt.rr,
                   sum(abs(CAST(sb.cnt AS HUGEINT) * tt.rr
                           - CAST(g.r_b AS HUGEINT) * ps.n_s)) AS present,
                   sum(CAST(g.r_b AS HUGEINT)) AS seen
            FROM sb JOIN g USING (b) JOIN ps USING (source) CROSS JOIN tt
            GROUP BY 1, 2, 3)
      SELECT source, n_s AS n_toks,
             CAST((present + (CAST(rr AS HUGEINT) - seen) * n_s) * 10000 //
                  (2 * CAST(n_s AS HUGEINT) * rr) AS BIGINT) AS tv_bp
      FROM f ORDER BY source
    """),
    doc = "bucketed TV drift: q108 over q82's 64 explicit hash buckets " +
      "— fixed 64-cell footprint per source (the vocab-free 100 TB " +
      "swap-in and the state the streaming monitor holds); hash " +
      "collapse only lowers TV, so flagged drift is a lower bound")

  val all: Seq[Q] = Seq(q81, q82, q84, q85, q89, q102, q104, q108, q111)
}
