package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q86 — retrieval pack (round 11): BM25 ranked retrieval over the
  * corpus, the query-side complement of q53's inverted index — given a
  * small set of keyword queries, return the top-5 documents per query by
  * a BM25-family score. Every corpus build runs this shape twice: once as
  * quality-aware retrieval for curation audits ("show me what the corpus
  * says about X") and once inverted as decontamination search.
  *
  * Scoring is the k1/b BM25 form (k1=1.2, b=0.75) with the log-idf
  * swapped for the exact rational idf_bp = 10⁴·(N−df) div df so the gate
  * compares integers, not float ln ties (the q82 trade — a production
  * build that wants Robertson's ln changes one projection). Per-term
  * weight, all integer after scaling num and denom by 100·avgdl:
  *
  *   w_bp = idf_bp · tf · 220 · avgdl  div  (100·avgdl·tf + 30·avgdl + 90·dl)
  *
  * evaluated in decimal(38,0)/HUGEINT (idf_bp alone reaches 10¹⁴ at
  * N=10¹⁰ docs — q69's overflow posture).
  *
  * Plan shape: the query-term list is a literal frame, so the corpus
  * token stream is SEMI-JOIN PRUNED (broadcast) to query terms before
  * anything else — df, tf fan-out, and scoring all run over the pruned
  * stream, never the full vocabulary. dl and the 1-row corpus stats are
  * the only full-corpus aggregates (one pass each; a production build
  * amortizes both from q53's index). Per-query top-5 is a literal rank
  * bound, so WindowGroupLimit prunes below the exchange. At 100 TB the
  * big frames shuffle doc-keyed exactly once.
  */
object PackRetrieval {

  private val QueryTerms: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "join",
    1L -> "window", 1L -> "sort",
    2L -> "stream", 2L -> "batch",
    3L -> "data", 3L -> "merge", 3L -> "fast")

  /** The shared scoring stack: per (q_id, doc_id), the BM25 score_bp +
    * n_terms (q86's output) AND the TF-only score (q117's baseline
    * ranker) — from ONE corpus pass. The query-term list is a LITERAL,
    * so per-term tf columns pivot out as conditional sums in the same
    * doc-keyed aggregation that computes dl (a document's exploded
    * tokens stay in its scan partition, so the map-side partial collapses
    * to one row per doc per partition — the shuffle is doc-cardinality
    * regardless of corpus size). Per-term df and the corpus stats fold
    * to ONE broadcast row from that cached frame, and scoring becomes a
    * stateless projection (a `stack` over per-query literal score
    * expressions) — no join anywhere. This is query-at-a-time scoring
    * for a fixed query batch; the ad-hoc-query path is q53's inverted
    * index. Replaced the two-scan dl+tq form: same results (hash-gated),
    * one fewer corpus scan and zero scoring joins — q86 1.65 → sub-1 s,
    * q117 4.06 → ~1.5 s at sf0.1.
    *
    * Absent terms (df = 0) contribute 0 — the old form never joined
    * them; the case guard keeps the div defined.
    */
  /** The cached per-doc (dl, tf per query term) frame plus its 1-row
    * stats fold — the ONE corpus pass every scorer here reads
    * (q86/q117's scoring stack and q181's hyperparameter grid).
    */
  private def ftStats(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val terms = QueryTerms.map(_._2).distinct
    // documentsWide: the shared ftStats tokenize pass (q86/q117/
    // q181) is 1-task work without the scan spread (round 21)
    val ex = Tables.documentsWide(s, d)
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
    val ftAggs = count(lit(1)).as("dl") +:
      terms.map(t => sum(when(col("term") === t, 1L).otherwise(0L))
        .as(s"tf_$t"))
    val ft = graft.ops.CacheScope.persisted(
      ex.groupBy("doc_id").agg(ftAggs.head, ftAggs.tail: _*))
    val statAggs = Seq(count(lit(1)).as("n_docs"),
      sum("dl").as("n_toks")) ++
      terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L))
        .as(s"df_$t"))
    (ft, ft.agg(statAggs.head, statAggs.tail: _*))
  }

  private def scoredCandidates(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val (ft, stats) = ftStats(s, d)
    def wLong(t: String): String =
      s"(case when df_$t = 0 then 0L else cast(" +
        s"cast((10000 * (n_docs - df_$t)) div df_$t as decimal(38,0)) " +
        s"* tf_$t * 220 * (n_toks div n_docs) div " +
        s"(cast(100 as decimal(38,0)) * (n_toks div n_docs) * tf_$t " +
        s"+ 30 * (n_toks div n_docs) + 90 * dl) as long) end)"
    val perQuery = QueryTerms.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, qts) =>
        val ts = qts.map(_._2)
        Seq(s"${q}L",
          ts.map(wLong).mkString(" + "),
          ts.map(t => s"(case when tf_$t > 0 then 1L else 0L end)")
            .mkString(" + "),
          ts.map(t => s"tf_$t").mkString(" + "))
      }
    ft.crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        s"stack(${perQuery.size}, ${perQuery.flatten.mkString(", ")})")
        .as(Seq("q_id", "score_bp", "n_terms", "score_tf")))
      .select(col("doc_id"), col("q_id"), col("score_bp"),
        col("n_terms"), col("score_tf"))
      .filter(col("n_terms") > 0)
  }

  private val q86 = Q(
    "q86_bm25_topk",
    (s, d) => {
      scoredCandidates(s, d)
        .withColumn("rk", row_number().over(Window.partitionBy("q_id")
          .orderBy(col("score_bp").desc, col("doc_id"))).cast("long"))
        .filter(col("rk") <= 5)
        .select("q_id", "rk", "doc_id", "n_terms", "score_bp")
        .orderBy("q_id", "rk")
    },
    Some(s"""
      WITH qt(q_id, term) AS (VALUES ${QueryTerms
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")}),
      t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      ex AS (SELECT doc_id, unnest(ws) AS term FROM t),
      dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY doc_id),
      st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_toks FROM dl),
      tq AS (SELECT doc_id, term, count(*) AS tf FROM ex
             WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
      dff AS (SELECT term, count(*) AS df FROM tq GROUP BY term),
      sc AS (SELECT qt.q_id, tq.doc_id,
               CAST(CAST((10000 * (st.n_docs - dff.df)) // dff.df AS HUGEINT)
                 * tq.tf * 220 * (st.n_toks // st.n_docs)
                 // (CAST(100 AS HUGEINT) * (st.n_toks // st.n_docs) * tq.tf
                    + 30 * (st.n_toks // st.n_docs) + 90 * dl.dl) AS BIGINT) AS w_bp
             FROM tq JOIN dff USING (term) JOIN dl USING (doc_id)
             CROSS JOIN st JOIN qt USING (term)),
      agg AS (SELECT q_id, doc_id, CAST(sum(w_bp) AS BIGINT) AS score_bp,
                     count(*) AS n_terms
              FROM sc GROUP BY q_id, doc_id),
      rk AS (SELECT *, row_number() OVER (PARTITION BY q_id
               ORDER BY score_bp DESC, doc_id) AS rk FROM agg)
      SELECT CAST(q_id AS BIGINT) AS q_id, CAST(rk AS BIGINT) AS rk,
             doc_id, n_terms, score_bp
      FROM rk WHERE rk <= 5 ORDER BY q_id, rk
    """),
    doc = "BM25 top-5 per query: broadcast semi-join prune of the token " +
      "stream, exact integer k1/b scoring, WindowGroupLimit rank bound")

  /** q117 — ranker-agreement evaluation: BM25 (q86's scorer) against the
    * TF-only baseline (sum of term frequencies — what retrieval quality
    * work compares against first), over the identical candidate set.
    * Per query: both top-10 lists' overlap, their Jaccard in basis
    * points, and where BM25's top-1 document lands in the TF ranking
    * (rank + reciprocal-rank in bp). The offline-eval harness shape every
    * retrieval/curation stack runs when swapping scorers — here with two
    * deterministic rankers so the gate is exact; swapping either side
    * for an ANN ranker (q107) changes one input frame.
    *
    * Plan shape: the shared one-pass scorer ([[scoredCandidates]] — the
    * single corpus scan q86 pays) yields both scores as a projection
    * over the cached doc-cardinality frame; both rankings window over
    * that, re-derived for free (no second cache). Top-10s ride
    * WindowGroupLimit, and the BM25 top-10 carries score_tf so the
    * top-1 probe needs no join-back. Overlap and list size fold in ONE
    * aggregation (left join + count/sum). The top-1's rank in the TF
    * ranking is computed WITHOUT materializing that ranking: 1 + count
    * of strictly-better (score, doc_id) keys — an aggregation, not a
    * window, so at 100 TB the candidate set never sorts end to end for
    * a single rank lookup (the oracle's row_number form is the
    * semantics it must match). First cut ran the two-scan join-chain
    * scorer twice: 4.06 s at sf0.1; this form is 2.08 s with q86 itself
    * dropping 1.65 → 0.98.
    */
  private val q117 = Q(
    "q117_ranker_agreement",
    (s, d) => {
      // no second cache: sc is a stateless projection over the ft cache
      // inside scoredCandidates — each window below re-derives it from
      // the cached doc-cardinality frame for free
      val sc = scoredCandidates(s, d)
        .select("q_id", "doc_id", "score_bp", "score_tf")
      val wA = Window.partitionBy("q_id")
        .orderBy(col("score_bp").desc, col("doc_id"))
      val wB = Window.partitionBy("q_id")
        .orderBy(col("score_tf").desc, col("doc_id"))
      val ra10 = graft.ops.CacheScope.persisted(
        sc.withColumn("rk", row_number().over(wA).cast("long"))
          .filter(col("rk") <= 10)
          .select("q_id", "doc_id", "rk", "score_tf"))
      val rb10 = sc.withColumn("rk", row_number().over(wB).cast("long"))
        .filter(col("rk") <= 10)
        .select(col("q_id"), col("doc_id"), lit(1L).as("in_b"))
      val naOv = ra10.join(rb10, Seq("q_id", "doc_id"), "left")
        .groupBy("q_id").agg(count(lit(1)).as("n_a"),
          coalesce(sum("in_b"), lit(0L)).as("overlap10"))
      val top1 = ra10.filter(col("rk") === 1)
        .select(col("q_id"), col("doc_id").as("t1_doc"),
          col("score_tf").as("t1_tf"))
      val t1r = sc.join(broadcast(top1), "q_id")
        .groupBy("q_id")
        .agg((sum(when(col("score_tf") > col("t1_tf") ||
          (col("score_tf") === col("t1_tf") &&
            col("doc_id") < col("t1_doc")), 1L).otherwise(0L)) + 1L)
          .as("top1_rank"))
      naOv.join(broadcast(t1r), "q_id")
        .select(col("q_id"), col("n_a"), col("overlap10"),
          expr("overlap10 * 10000 div (2 * n_a - overlap10)").as("jacc_bp"),
          col("top1_rank"),
          expr("10000 div top1_rank").as("rr_bp"))
        .orderBy("q_id")
    },
    Some(s"""
      WITH qt(q_id, term) AS (VALUES ${QueryTerms
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")}),
      t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      ex AS (SELECT doc_id, unnest(ws) AS term FROM t),
      dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY doc_id),
      st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_toks FROM dl),
      tq AS (SELECT doc_id, term, count(*) AS tf FROM ex
             WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
      dff AS (SELECT term, count(*) AS df FROM tq GROUP BY term),
      sc AS (SELECT qt.q_id, tq.doc_id,
               CAST(CAST((10000 * (st.n_docs - dff.df)) // dff.df AS HUGEINT)
                 * tq.tf * 220 * (st.n_toks // st.n_docs)
                 // (CAST(100 AS HUGEINT) * (st.n_toks // st.n_docs) * tq.tf
                    + 30 * (st.n_toks // st.n_docs) + 90 * dl.dl) AS BIGINT) AS w_bp
             FROM tq JOIN dff USING (term) JOIN dl USING (doc_id)
             CROSS JOIN st JOIN qt USING (term)),
      agg AS (SELECT q_id, doc_id, CAST(sum(w_bp) AS BIGINT) AS score_bp
              FROM sc GROUP BY q_id, doc_id),
      tfagg AS (SELECT qt.q_id, tq.doc_id, CAST(sum(tq.tf) AS BIGINT) AS score_tf
                FROM tq JOIN qt USING (term) GROUP BY 1, 2),
      ra AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
               ORDER BY score_bp DESC, doc_id) AS rk FROM agg),
      rb AS (SELECT q_id, doc_id, row_number() OVER (PARTITION BY q_id
               ORDER BY score_tf DESC, doc_id) AS rk FROM tfagg),
      na AS (SELECT q_id, count(*) AS n_a FROM ra WHERE rk <= 10 GROUP BY q_id),
      ov AS (SELECT ra.q_id, count(*) AS overlap10
             FROM ra JOIN rb ON ra.q_id = rb.q_id AND ra.doc_id = rb.doc_id
             WHERE ra.rk <= 10 AND rb.rk <= 10 GROUP BY 1),
      t1 AS (SELECT q_id, doc_id FROM ra WHERE rk = 1),
      t1r AS (SELECT rb.q_id, CAST(rb.rk AS BIGINT) AS top1_rank
              FROM rb JOIN t1 ON rb.q_id = t1.q_id AND rb.doc_id = t1.doc_id)
      SELECT CAST(na.q_id AS BIGINT) AS q_id, na.n_a,
             COALESCE(ov.overlap10, 0) AS overlap10,
             COALESCE(ov.overlap10, 0) * 10000
               // (2 * na.n_a - COALESCE(ov.overlap10, 0)) AS jacc_bp,
             t1r.top1_rank, 10000 // t1r.top1_rank AS rr_bp
      FROM na LEFT JOIN ov ON na.q_id = ov.q_id
      JOIN t1r ON na.q_id = t1r.q_id
      ORDER BY q_id
    """),
    doc = "ranker-agreement eval: BM25 vs TF top-10 overlap + Jaccard, " +
      "top-1 rank in the rival ranking via count-better aggregation " +
      "(no full-ranking window)")

  /** The (k1·100, b·100) hyperparameter grid q181 sweeps. (120, 75) is
    * q86's production point — its slice of the sweep must equal q86's
    * own ranking exactly (the spec pins it).
    */
  private val Bm25Grid: Seq[(Long, Long)] = for {
    k1c <- Seq(90L, 120L, 150L)
    bp <- Seq(0L, 40L, 75L)
  } yield (k1c, bp)

  /** q181 — BM25 HYPERPARAMETER sweep (round 16, the q175–q180 sweep
    * family applied to q86's k1/b): the top-3 ranking per query under
    * every (k1, b) in a 3×3 grid — the tuning table a retrieval stack
    * reads before fixing its scorer, produced from the SAME single
    * corpus pass q86 pays (the cached [[ftStats]] frame) instead of
    * nine re-runs.
    *
    * The weight generalizes q86's integer form by scaling numerator and
    * denominator by 100 (for b in percent) on top of the 100·avgdl
    * scaling (for k1 in centi):
    *
    *   w_bp = idf_bp · tf · (100+k1c) · avgdl · 100
    *          div (10⁴·avgdl·tf + k1c·(100−b%)·avgdl + k1c·b%·dl)
    *
    * at (k1c, b%) = (120, 75) this is q86's formula times 100/100 —
    * floor(100a/100b) = floor(a/b), so the production slice is
    * bit-identical (pinned). Grid points are LITERALS: the 36
    * (grid × query) scorings are stack arms in ONE projection over the
    * cached doc-cardinality frame, the rank bound is literal (top-3 →
    * WindowGroupLimit below the exchange), and adding a grid point is
    * a column, not a pass. 100 TB: q86's posture exactly — the corpus
    * pass is shared, the sweep multiplies only doc-cardinality rows.
    */
  private val q181 = Q(
    "q181_bm25_sweep",
    (s, d) => {
      val (ft, stats) = ftStats(s, d)
      // The grid is DATA, not literals (round 22 — VERDICT r21 item 6,
      // the planning-tier shave): the r21 form unrolled 36 grid×query
      // stack arms, and ProfileJobs put ~60 % of q181's wall in the
      // driver gap — Catalyst analyzing/optimizing/codegen'ing the
      // 36-arm expression tree on each of the bench's three fresh
      // plans. The weight expression is SYMBOLIC in (k1_c, b_pct) —
      // the same integer arithmetic with the grid literals replaced by
      // the broadcast grid row's columns, `${100+k1c}` → (100 + k1_c)
      // etc. — so ONE arm per query (4 total) scores all nine grid
      // points and the expression tree shrinks ~9×. Row flow is
      // unchanged: ft × 9 grid rows × 4 query arms = the same 36
      // scorings per doc, the same WindowGroupLimit rank bound
      // (hash-gated; the (120, 75) slice still pins against q86).
      def wG(t: String): String =
        s"(case when df_$t = 0 then 0L else cast(" +
          s"cast((10000 * (n_docs - df_$t)) div df_$t as decimal(38,0)) " +
          s"* tf_$t * (100L + k1_c) * (n_toks div n_docs) * 100 div " +
          s"(cast(10000 as decimal(38,0)) * (n_toks div n_docs) * tf_$t " +
          s"+ (k1_c * (100L - b_pct)) * (n_toks div n_docs) " +
          s"+ (k1_c * b_pct) * dl) as long) end)"
      val perQuery = QueryTerms.groupBy(_._1).toSeq.sortBy(_._1)
      val arms = perQuery.map { case (q, qts) =>
        Seq(s"${q}L",
          qts.map(t => wG(t._2)).mkString(" + "),
          qts.map(t => s"(case when tf_${t._2} > 0 then 1L else 0L end)")
            .mkString(" + "))
      }
      import s.implicits._
      val grid = Bm25Grid.toDF("k1_c", "b_pct")
      ft.crossJoin(broadcast(stats))
        .crossJoin(broadcast(grid))
        .select(col("doc_id"), col("k1_c"), col("b_pct"), expr(
          s"stack(${arms.size}, ${arms.flatten.mkString(", ")})")
          .as(Seq("q_id", "score_bp", "n_terms")))
        .filter(col("n_terms") > 0)
        .withColumn("rk", row_number().over(
          Window.partitionBy("k1_c", "b_pct", "q_id")
            .orderBy(col("score_bp").desc, col("doc_id"))).cast("long"))
        .filter(col("rk") <= 3)
        .select("k1_c", "b_pct", "q_id", "rk", "doc_id", "score_bp")
        .orderBy("k1_c", "b_pct", "q_id", "rk")
    },
    Some(s"""
      WITH qt(q_id, term) AS (VALUES ${QueryTerms
        .map { case (q, t) => s"($q, '$t')" }.mkString(", ")}),
      grid(k1_c, b_pct) AS (VALUES ${Bm25Grid
        .map { case (k, b) => s"($k, $b)" }.mkString(", ")}),
      t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      ex AS (SELECT doc_id, unnest(ws) AS term FROM t),
      dl AS (SELECT doc_id, count(*) AS dl FROM ex GROUP BY doc_id),
      st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS n_toks FROM dl),
      tq AS (SELECT doc_id, term, count(*) AS tf FROM ex
             WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2),
      dff AS (SELECT term, count(*) AS df FROM tq GROUP BY term),
      sc AS (SELECT g.k1_c, g.b_pct, qt.q_id, tq.doc_id,
               CAST(CAST((10000 * (st.n_docs - dff.df)) // dff.df AS HUGEINT)
                 * tq.tf * (100 + g.k1_c) * (st.n_toks // st.n_docs) * 100
                 // (CAST(10000 AS HUGEINT) * (st.n_toks // st.n_docs) * tq.tf
                    + g.k1_c * (100 - g.b_pct) * (st.n_toks // st.n_docs)
                    + g.k1_c * g.b_pct * dl.dl) AS BIGINT) AS w_bp
             FROM tq JOIN dff USING (term) JOIN dl USING (doc_id)
             CROSS JOIN st JOIN qt USING (term) CROSS JOIN grid g),
      agg AS (SELECT k1_c, b_pct, q_id, doc_id,
                     CAST(sum(w_bp) AS BIGINT) AS score_bp
              FROM sc GROUP BY 1, 2, 3, 4),
      rk AS (SELECT *, row_number() OVER (PARTITION BY k1_c, b_pct, q_id
               ORDER BY score_bp DESC, doc_id) AS rk FROM agg)
      SELECT CAST(k1_c AS BIGINT) AS k1_c, CAST(b_pct AS BIGINT) AS b_pct,
             CAST(q_id AS BIGINT) AS q_id, CAST(rk AS BIGINT) AS rk,
             doc_id, score_bp
      FROM rk WHERE rk <= 3 ORDER BY k1_c, b_pct, q_id, rk
    """),
    doc = "BM25 k1/b grid sweep: nine scorings as stack arms over the " +
      "one cached corpus pass q86 pays, literal rank bound - the " +
      "scorer-tuning table without nine re-runs")

  val all: Seq[Q] = Seq(q86, q117, q181)
}
