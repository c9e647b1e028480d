package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q38/q39 — corpus-statistics and sampling operators (round 3 extension
  * of the §2.9 LLM-data-pipeline surface).
  *
  * Both are staples of a training-data build: the vocabulary head (top-k
  * term frequencies — tokenizer sanity checks, stopword discovery,
  * contamination tells) and per-stratum balanced sampling (deterministic,
  * so a 100 TB re-run reproduces the same sample without storing state).
  */
object PackSample {

  /** q38 — vocabulary top-k: global term frequencies over the corpus, top
    * 20 by count (token tiebreak — hash-deterministic across engines).
    * Partial aggregation combines map-side; the final top-k is a
    * TakeOrderedAndProject, never a full sort of the vocabulary.
    */
  private val q38 = Q(
    "q38_vocab_topk",
    (s, d) => {
      val docs = Tables.documents(s, d)
      docs
        .select(explode(
          words(col("text")))
          .as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    },
    Some("""
      SELECT token, count(*) AS n FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS token
        FROM documents)
      GROUP BY token ORDER BY n DESC, token LIMIT 20
    """),
    doc = "vocabulary head: explode tokens, count, top-20 (TakeOrderedAndProject)")

  /** q39 — deterministic stratified sample: up to 50 docs per language,
    * chosen by a pure-arithmetic pseudo-random key (an LCG step on doc_id
    * — identical 64-bit math in both engines, no RNG state), so the
    * sample is reproducible and balance is exact per stratum. The window
    * shuffles once on `lang`; at scale this is the balanced-subset shape
    * that avoids a global orderBy of the corpus.
    */
  private val q39 = Q(
    "q39_stratified_sample",
    (s, d) => {
      // reduce doc_id BEFORE the multiply: the raw product overflows int64
      // for doc_id >~ 8.4e9, where Spark (non-ANSI) wraps silently but
      // DuckDB raises on BIGINT overflow — reduced, the product caps at
      // ~2^61 and the "identical 64-bit math in both engines" claim holds
      // at any corpus size (ADVICE r3). `%`, not pmod: DuckDB's % follows
      // the dividend's sign, and so does Spark's — parity for negative
      // ids too.
      val key = ((col("doc_id") % lit(2147483648L)) * lit(1103515245L)
        + lit(12345L)) % lit(2147483648L)
      val w = Window.partitionBy("lang").orderBy(key.asc, col("doc_id").asc)
      Tables.documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy("lang", "rk")
    },
    Some("""
      SELECT lang, cast(rk AS INTEGER) AS rk, doc_id FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                 ORDER BY ((doc_id % 2147483648) * 1103515245 + 12345) % 2147483648, doc_id) AS rk
        FROM documents)
      WHERE rk <= 50 ORDER BY lang, rk
    """),
    doc = "deterministic per-stratum sample via arithmetic LCG key + rank")

  /** q40 — benchmark decontamination: flag corpus documents sharing any
    * 4-word shingle with the evaluation set (doc_id < 25 stands in for the
    * benchmark). The eval shingle set is distinct'd and broadcast — at
    * 100 TB the corpus side streams through a broadcast-hash semi-ish join
    * on the shingle string, no corpus-side shuffle before the per-doc
    * aggregation. Shingle STRINGS (not hashes) keep the oracle exact.
    */
  private val q40 = Q(
    "q40_decontaminate",
    (s, d) => {
      // native one-pass shingle strings (the HOF slice+concat form cost
      // 4.5 s at sf0.1 — the same interpreted-per-window shape q27 had)
      def shingles(k: Int) =
        org.apache.spark.sql.graftglue.ExprGlue.column(
          graft.expr.WordShingleStrings(
            org.apache.spark.sql.graftglue.ExprGlue.expression(
              words(col("text"))), k))
      val docs = Tables.documents(s, d)
      val eval = docs.filter(col("doc_id") < 25)
        .select(explode(shingles(4)).as("sh")).distinct()
      val corpus = docs.filter(col("doc_id") >= 25)
        .select(col("doc_id"), explode(shingles(4)).as("sh"))
      corpus
        .join(broadcast(eval), Seq("sh"))
        .groupBy("doc_id")
        .agg(countDistinct(col("sh")).as("n_hits"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws
        FROM documents),
      sh AS (
        SELECT doc_id,
               unnest(CASE WHEN len(ws) >= 4
                 THEN list_distinct(list_transform(range(1, len(ws) - 2),
                   i -> array_to_string(list_slice(ws, i, i + 3), ' ')))
                 ELSE [] END) AS sh
        FROM w),
      e AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 25)
      SELECT s.doc_id, count(DISTINCT s.sh) AS n_hits
      FROM sh s JOIN e ON s.sh = e.sh
      WHERE s.doc_id >= 25
      GROUP BY s.doc_id ORDER BY s.doc_id
    """),
    doc = "decontamination: 4-gram overlap with the eval set via broadcast join")

  /** q122 — weighted systematic sample: the EXECUTOR of a mixture plan.
    * q63/q101 decide how many tokens each slice contributes; this
    * operator materializes a weight-proportional selection — per source,
    * walk the docs in doc_id order accumulating weight (n_chars — swap
    * in any integer quality/score column), lay a grid of `step =
    * max(1, total_w div K)` over the cumulative axis (K = 5 picks per
    * source), and select every document whose weight interval crosses a
    * grid point. `picks = ⌊cum/step⌋ − ⌊(cum−w)/step⌋` is the number of
    * crossings — selection probability exactly ∝ weight, a document
    * heavier than `step` is ALWAYS selected (picks ≥ 1, possibly > 1 =
    * sampling WITH multiplicity, the epoch-repeat semantics of mixture
    * execution), and the whole thing is deterministic integer
    * arithmetic — a 100 TB re-run reproduces the sample with no RNG
    * state (q39's posture, weighted).
    *
    * Plan shape: ONE source-partitioned cumulative-sum window
    * (distributed — never a global sort), per-source totals fold +
    * broadcast back; the output filter is stateless. At scale this is
    * one doc-keyed... source-keyed exchange and nothing else.
    */
  private val q122 = Q(
    "q122_weighted_sample",
    (s, d) => {
      val K = 5
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      val totals = Tables.documents(s, d)
        .groupBy("source").agg(sum("n_chars").as("total_w"))
        .withColumn("step", expr(s"greatest(1L, total_w div $K)"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars").as("wt"))
        .withColumn("cum", sum("wt").over(w))
        .join(broadcast(totals), "source")
        .withColumn("picks",
          expr("cum div step - (cum - wt) div step"))
        .filter(col("picks") > 0)
        .select(col("source"), col("doc_id"), col("wt"), col("cum"),
          col("step"), col("picks"))
        .orderBy("source", "doc_id")
    },
    Some("""
      WITH t AS (SELECT source, doc_id, n_chars AS wt,
               CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
             FROM documents),
      tot AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_w,
                greatest(1, CAST(sum(n_chars) AS BIGINT) // 5) AS step
              FROM documents GROUP BY source)
      SELECT t.source, t.doc_id, t.wt, t.cum, tot.step,
             t.cum // tot.step - (t.cum - t.wt) // tot.step AS picks
      FROM t JOIN tot ON t.source = tot.source
      WHERE t.cum // tot.step - (t.cum - t.wt) // tot.step > 0
      ORDER BY t.source, t.doc_id
    """),
    doc = "weighted systematic sample: source-partitioned cumulative " +
      "window + grid crossing — deterministic weight-proportional " +
      "selection with multiplicity, no RNG state")

  val all: Seq[Q] = Seq(q38, q39, q40, q122)
}
