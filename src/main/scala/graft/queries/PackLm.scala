package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q76–q77 — statistical-LM corpus machinery (round 10): the n-gram
  * count tables a Kneser–Ney language model trains from, and the
  * bigram-probability fluency score that statistical LMs contribute to
  * quality filtering (the CCNet-family device: score documents by how
  * probable their token sequences are under a model trained on the
  * corpus itself — improbable sequences flag gibberish, shuffled text,
  * and OCR noise that per-doc heuristics (q30) and repetition counters
  * (q51) both miss).
  *
  * Both oracle-gated; every probability is an exact integer basis-point
  * ratio (MEMORY oracle-parity-trapdoors — no log/float in the gate).
  */
object PackLm {

  /** Per-document bigram stream over any frame with a `text` column:
    * one HOF pass per row, exploded; every other column rides along
    * (doc_id batch-side; doc_id + ts for the streaming twin).
    * `private[graft]`: the streaming twin tokenizes identically.
    */
  private[graft] def bigramsOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("ws", words(col("text")))
      .filter(size(col("ws")) >= 2)
      .withColumn("b", explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> struct(element_at(ws, i) as w1, element_at(ws, i + 1) as w2))")))
      .withColumn("w1", col("b.w1")).withColumn("w2", col("b.w2"))
      .drop("b", "ws", "text")

  /** Per-document bigram stream: one HOF pass per row, exploded. */
  private def bigrams(s: org.apache.spark.sql.SparkSession, d: String) =
    // documentsWide: the bigram HOF pass is tokenize-heavy 1-task work
    // without the size-gated scan spread (round 21, q77 −0.7 s)
    bigramsOf(Tables.documentsWide(s, d).select(col("doc_id"), col("text")))

  /** The maximum-likelihood bigram model (w1, w2, p_bp) trained on a
    * documents frame — q77's model, shared with the streaming twin so
    * stream and batch scores agree by construction. The vocab²-bounded
    * bigram table is CacheScope-persisted (two aggregations read it).
    *
    * Cache ownership (ADVICE r10): the persisted bigram table registers
    * with the CALLING thread's [[graft.ops.CacheScope]]; whoever
    * materializes the returned plan owns the drain. Batch runners drain
    * per query; streaming callers ([[graft.streaming.StreamOps.lmScoreStream]])
    * additionally persist the FINAL model frame at stream definition and
    * drain the defining thread's scope after the stream stops — without
    * that, each stream (re)definition in a long-lived app stacks another
    * cached bigram table, and the model projection re-evaluates per
    * micro-batch.
    */
  private[graft] def modelOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val big = graft.ops.CacheScope.persisted(
      bigramsOf(docs.select(col("text")))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val pred = big.groupBy("w1").agg(sum("c12").as("c1"))
    big.join(broadcast(pred), Seq("w1"))
      .select(col("w1"), col("w2"), expr("c12 * 10000 div c1").as("p_bp"))
  }

  /** q76 — Kneser–Ney count tables: for the corpus's top-30 bigrams (by
    * raw count, lexical tiebreak), the four statistics KN smoothing
    * interpolates — the raw bigram count c(w1,w2), the predecessor
    * total c(w1,·), and the CONTINUATION counts N1+(·,w2) (distinct
    * predecessors of w2) and N1+(w1,·) (distinct successors of w1).
    * Continuation counting is the KN insight — "how many contexts does
    * this word complete" — and is precisely a distinct-count
    * aggregation, which is why n-gram LM training was the canonical
    * MapReduce job a decade before neural LMs.
    *
    * Scale posture: the corpus folds ONCE to the bigram frame (one
    * shuffle on (w1, w2), partial-aggregated map-side); the predecessor
    * totals and both continuation tables are VOCAB-cardinality
    * aggregations over that frame, broadcast back onto the top-k. The
    * top-30 is TakeOrderedAndProject (pinned). At 100 TB the bigram
    * frame is the thing you shard (hash by (w1, w2) is uniform —
    * Zipf skew lives in the COUNTS, not the keys).
    */
  private val q76 = Q(
    "q76_kn_counts",
    (s, d) => {
      // ONE corpus aggregation to the vocab²-bounded bigram table; every
      // other statistic is an aggregate OF that table — predecessor
      // totals are sums of its counts, and both KN continuation counts
      // are its row counts per side (one row per distinct (w1, w2) by
      // construction, so count(*) IS count(distinct)). Nothing
      // corpus-sized is cached or re-scanned.
      val big = graft.ops.CacheScope.persisted(
        bigrams(s, d).groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
      val pred = big.groupBy("w1").agg(sum("c12").as("c1"))
      val contW2 = big.groupBy("w2").agg(count(lit(1)).as("n_cont"))
      val succW1 = big.groupBy("w1").agg(count(lit(1)).as("n_succ"))
      // the top-30 depends on c12 alone and the stat joins are 1:1 (all
      // derived from the same frame), so LIMIT FIRST: the three joins
      // then touch 30 rows, not every bigram
      big.orderBy(col("c12").desc, col("w1"), col("w2")).limit(30)
        .join(broadcast(pred), Seq("w1"))
        .join(broadcast(contW2), Seq("w2"))
        .join(broadcast(succW1), Seq("w1"))
        .select(col("w1"), col("w2"), col("c12"), col("c1"),
          col("n_cont"), col("n_succ"))
        .orderBy(col("c12").desc, col("w1"), col("w2"))
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      b AS (SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
            FROM t WHERE len(ws) >= 2),
      big AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
      pred AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
      cont AS (SELECT w2, count(DISTINCT w1) AS n_cont FROM b GROUP BY 1),
      succ AS (SELECT w1, count(DISTINCT w2) AS n_succ FROM b GROUP BY 1)
      SELECT big.w1, big.w2, big.c12, pred.c1, cont.n_cont, succ.n_succ
      FROM big
      JOIN pred USING (w1) JOIN cont USING (w2) JOIN succ USING (w1)
      ORDER BY c12 DESC, w1, w2 LIMIT 30
    """),
    doc = "Kneser-Ney count tables: bigram counts + predecessor totals + " +
      "both continuation counts; corpus folds once, rest is vocab-local")

  /** q77 — bigram-LM fluency score: train the maximum-likelihood bigram
    * model on the corpus itself (p(w2|w1) = c(w1,w2)/c(w1,·), in exact
    * basis points), then score every document by its MEAN bigram
    * probability — integer throughout, so the oracle is bit-exact where
    * a log-perplexity would not be (the mean-prob ORDER is what the
    * bottom-decile cut consumes, and monotonicity is all a filter
    * needs). Self-trained ⇒ the model join always hits; a doc full of
    * common transitions scores high, shuffled or noisy text scores low.
    *
    * Scale posture: two aggregations over the bigram frame build the
    * model (same fold as q76); scoring joins the corpus's bigram stream
    * to the model on (w1, w2) — vocab²-bounded build side, the
    * planner's broadcast-vs-shuffle choice is stats-driven (at 100 TB:
    * prune the model to top-M rows + a backoff constant, same plan).
    * The per-doc mean rides the doc_id aggregation the output sort
    * needs anyway.
    */
  private val q77 = Q(
    "q77_lm_score",
    (s, d) => {
      // model = aggregates of the cached vocab²-bounded bigram table
      // (predecessor totals are sums of its counts — [[modelOf]]); the
      // doc-keyed bigram stream is NOT cached — at scale, re-reading
      // the text column beats materializing a corpus-sized stream, and
      // the scoring pass reads it exactly once
      val model = modelOf(Tables.documentsWide(s, d))
      bigrams(s, d).join(model, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("sum(p_bp) div count(1)").as("score_bp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      b AS (SELECT doc_id,
                   unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2
            FROM t WHERE len(ws) >= 2),
      big AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
      pred AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
      m AS (SELECT big.w1, big.w2, big.c12 * 10000 // pred.c1 AS p_bp
            FROM big JOIN pred USING (w1))
      SELECT b.doc_id, count(*) AS n_bigrams,
             CAST(sum(m.p_bp) // count(*) AS BIGINT) AS score_bp
      FROM b JOIN m USING (w1, w2)
      GROUP BY b.doc_id ORDER BY b.doc_id
    """),
    doc = "bigram-LM fluency score: self-trained ML model in integer bp, " +
      "per-doc mean bigram probability — the perplexity-proxy quality gate")

  /** q91 — token frequency SPECTRUM (count-of-counts): for every
    * occurrence count c, how many vocabulary types occur exactly c
    * times and what share of types / of running tokens they carry.
    * This is the corpus-health panel every tokenizer / LM build reads
    * first — a healthy natural corpus is Zipfian (hapax-heavy: n₁
    * dominates types while high-c rows dominate tokens), a duplicated
    * corpus shows mass piling into high-c rows — and its first two
    * rows ARE the Good–Turing / Kneser–Ney machinery: the absolute
    * discount D = n₁/(n₁+2n₂) that q76's count tables get smoothed by
    * (asserted in PackLmSpec).
    *
    * Plan shape: corpus folds ONCE to the vocab frame (q38's shape,
    * uniform token key, map-side combined), the vocab folds to the
    * spectrum (≤ distinct-count-cardinality — tiny), and the 1-row
    * totals broadcast back. Shares computed decimal(38,0): c·n_types
    * reaches 10¹⁸ at 10¹⁴ corpus tokens (q69's overflow posture).
    */
  private val q91 = Q(
    "q91_freq_spectrum",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(words(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      // the spectrum is ≤ distinct-count-cardinality (tiny); persisting
      // it keeps the corpus→vocab fold at ONE run — uncached, the
      // totals branch re-plans the whole fold from the parquet
      val spec = graft.ops.CacheScope.persisted(
        vocab.groupBy("c").agg(count(lit(1)).as("n_types")))
      val tot = spec.agg(sum("n_types").as("tv"),
        sum(expr("cast(c as decimal(38,0)) * n_types")).as("tt"))
      spec.crossJoin(broadcast(tot))
        .select(col("c").as("freq"), col("n_types"),
          expr("c * n_types").as("n_tokens"),
          expr("cast(n_types * 10000 div tv as bigint)").as("types_share_bp"),
          expr("cast(cast(c as decimal(38,0)) * n_types * 10000 div tt " +
            "as bigint)").as("tokens_share_bp"))
        .orderBy("freq")
    },
    Some("""
      WITH t AS (SELECT list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      v AS (SELECT tok, count(*) AS c
            FROM (SELECT unnest(ws) AS tok FROM t) GROUP BY tok),
      sp AS (SELECT c, count(*) AS n_types FROM v GROUP BY c),
      tot AS (SELECT CAST(sum(n_types) AS BIGINT) AS tv,
                     CAST(sum(CAST(c AS HUGEINT) * n_types) AS HUGEINT) AS tt
              FROM sp)
      SELECT c AS freq, n_types, c * n_types AS n_tokens,
             CAST(n_types * 10000 // tv AS BIGINT) AS types_share_bp,
             CAST(CAST(c AS HUGEINT) * n_types * 10000 // tt AS BIGINT)
               AS tokens_share_bp
      FROM sp CROSS JOIN tot
      ORDER BY freq
    """),
    doc = "token frequency spectrum: count-of-counts with type and token " +
      "shares — the Zipf/dedup health panel; rows n1, n2 are the KN " +
      "discount's inputs")

  val all: Seq[Q] = Seq(q76, q77, q91)
}
