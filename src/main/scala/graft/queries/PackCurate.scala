package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q68–q71 — curation + corpus-analysis signals (round 10): the knobs a
  * corpus build turns between "filtered" and "mixed" — source-balanced
  * subsampling under a hard budget, collocation mining over the token
  * stream, a byte-level redundancy signal the n-gram quality gates can't
  * see, and the pair statistic tokenizer induction maximizes.
  *
  * q68/q69/q71 are oracle-gated (all arithmetic exact BIGINT — MEMORY
  * oracle-parity-trapdoors); q70 is rows-only because no SQL engine
  * exposes deflate (same declaration as q27/q35).
  */
object PackCurate {

  /** q68 — proportional source quotas under a hard budget (largest-
    * remainder rounding), then the top-quota documents per source by a
    * deterministic priority (longest first, doc_id tiebreak): the
    * "cap-per-domain" curation pass every web-scale corpus runs so one
    * crawler-friendly site cannot dominate the mixture, made exact — the
    * quotas sum to EXACTLY the budget (floor-divide alone undershoots,
    * ceil overshoots; largest-remainder is the standard apportionment
    * fix, and it is pure integer arithmetic: base = B·n div N, then +1
    * for the `B − Σbase` largest remainders, ties broken by source name).
    *
    * Plan shape: the quota computation lives entirely on the SOURCE-
    * cardinality histogram (groupBy(source) partial-aggregates map-side;
    * the 1-row totals and the remainder-ranking window both run on that
    * tiny dim frame — the global window is over #sources rows, never the
    * corpus). The quota frame broadcast-joins back onto the corpus and
    * the per-source priority rank is the corpus's ONE shuffle; the
    * literal `rk <= B` conjunct alongside `rk <= quota` is what lets
    * Spark push a WindowGroupLimit below the exchange (a per-source
    * column bound alone is not pushable — at 100 TB the pushed limit
    * means each map partition forwards at most B rows per source instead
    * of the whole source).
    */
  private val B = 200 // document budget for the balanced subsample

  private val q68 = Q(
    "q68_source_quota",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // The histogram feeds three derivations (base/rem, Σbase, the quota
      // frame); persisting it caps the corpus at ONE aggregation scan —
      // unpersisted, each branch re-reads the corpus (seen in the plan).
      val counts = graft.ops.CacheScope.persisted(
        docs.groupBy("source").agg(count(lit(1)).as("n")))
      val totals = counts.agg(sum("n").as("nn"))
      val based = counts.crossJoin(broadcast(totals))
        .select(col("source"), col("n"),
          expr(s"($B * n) div nn").as("base"),
          expr(s"($B * n) % nn").as("rem"))
      val extra = based.agg((lit(B) - sum("base")).as("extra"))
      val quota = based.crossJoin(broadcast(extra))
        .withColumn("rr",
          row_number().over(Window.orderBy(col("rem").desc, col("source"))))
        .select(col("source"),
          (col("base") + when(col("rr") <= col("extra"), 1).otherwise(0))
            .as("quota"))
      docs.join(broadcast(quota), "source")
        .withColumn("rk", row_number().over(
          Window.partitionBy("source")
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rk") <= lit(B) && col("rk") <= col("quota"))
        .select(col("doc_id"), col("source"), col("quota"), col("rk"))
        .orderBy("source", "rk")
    },
    Some(s"""
      WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM c),
      b AS (SELECT source, n, ($B * n) // nn AS base, ($B * n) % nn AS rem
            FROM c CROSS JOIN t),
      e AS (SELECT $B - CAST(sum(base) AS BIGINT) AS extra FROM b),
      q AS (SELECT source,
                   base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                               <= extra THEN 1 ELSE 0 END AS quota
            FROM b CROSS JOIN e),
      r AS (SELECT d.doc_id, d.source, q.quota,
                   row_number() OVER (PARTITION BY d.source
                                      ORDER BY d.n_chars DESC, d.doc_id) AS rk
            FROM documents d JOIN q USING (source))
      SELECT doc_id, source, quota, CAST(rk AS INTEGER) AS rk
      FROM r WHERE rk <= quota ORDER BY source, rk
    """),
    doc = "per-source quotas by largest-remainder apportionment (sum = " +
      "budget exactly), top-quota docs per source by deterministic priority")

  /** q69 — collocation mining: token pairs co-occurring within distance
    * ≤ 3 inside a document, scored by integer lift — the corpus-analysis
    * operator behind phrase detection and tokenizer-merge candidates
    * (PMI ranking's exact-arithmetic sibling: lift = P(ab)/(P(a)P(b)) is
    * the same ratio PMI logs, so ORDER is identical and
    * `lift_bp = 10⁴·n_ab·N div (n_a·n_b)` keeps the oracle bit-exact
    * where log() could not be).
    *
    * Plan shape: pair instances generate DOCUMENT-LOCALLY — a per-row
    * HOF emits (token i, token j) for j in i+1..i+3, O(3·T) work per
    * document with no join at all (a doc_id-keyed positional self-join
    * gets the same rows but evaluates its band predicate on all T² hash
    * matches per document — quadratic join work for linear output;
    * PackLm.bigrams is the same device at distance 1). There is no
    * hot-token skew anywhere: the pair AGGREGATE partial-aggregates
    * map-side, and its shuffle key is the pair. Unigram counts fold to
    * a persisted VOCAB-cardinality table in one corpus aggregation (the
    * 1-row total is its sum — nothing corpus-sized is ever cached) and
    * broadcast onto the pair frame. Overflow: the lift arithmetic runs
    * in 128-bit unconditionally — decimal(38,0) Spark-side, HUGEINT in
    * the oracle — because 10⁴·n_ab·N wraps BIGINT silently past ~10¹⁴
    * total tokens under non-ANSI Spark (ADVICE r10), and n_a·n_b in the
    * denominator wraps even earlier for stopword pairs. decimal(38,0)
    * covers ~10³⁴ total tokens; `div` on decimals still returns BIGINT,
    * so the output schema is unchanged.
    */
  private val q69 = Q(
    "q69_cooccur_lift",
    (s, d) => {
      // ONE corpus aggregation folds the token stream to the VOCAB-
      // cardinality unigram table; the grand total derives from it by
      // summing counts — never cache a corpus-sized stream when every
      // consumer wants an aggregate of it (the cached frame here is
      // vocab-sized: three readers — totals and both pair-join sides)
      val uni = graft.ops.CacheScope.persisted(
        // documentsWide on both passes: q69's tokenize/pair HOFs are
        // the 1-task stages the scan spread parallelizes (−0.9 s)
        Tables.documentsWide(s, d).select(explode(words(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n_tok")))
      val totals = uni.agg(sum("n_tok").as("nn"))
      val pairs = Tables.documentsWide(s, d)
        .select(words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 2) // sequence(2, 1) would DESCEND
        .select(explode(expr(
          "flatten(transform(sequence(1, size(ws) - 1), i -> " +
            "transform(sequence(i + 1, least(i + 3, size(ws))), j -> " +
            "struct(element_at(ws, i) as ta, element_at(ws, j) as tb))))"))
          .as("p"))
        .select(least(col("p.ta"), col("p.tb")).as("tok_a"),
          greatest(col("p.ta"), col("p.tb")).as("tok_b"))
        .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 30)
      pairs
        .join(broadcast(uni.select(col("tok").as("tok_a"), col("n_tok").as("n_a"))),
          Seq("tok_a"))
        .join(broadcast(uni.select(col("tok").as("tok_b"), col("n_tok").as("n_b"))),
          Seq("tok_b"))
        .crossJoin(broadcast(totals))
        .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"), col("n_b"),
          expr("(cast(10000 as decimal(38,0)) * n_ab * nn) div " +
            "(cast(n_a as decimal(38,0)) * n_b)").as("lift_bp"))
        .orderBy("tok_a", "tok_b")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      p AS (SELECT doc_id, unnest(ws) AS tok, unnest(range(1, len(ws) + 1)) AS pos FROM t),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM p),
      u AS (SELECT tok, count(*) AS n_tok FROM p GROUP BY tok),
      pr AS (SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b,
                    count(*) AS n_ab
             FROM p a JOIN p b
               ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
             GROUP BY 1, 2)
      SELECT pr.tok_a, pr.tok_b, pr.n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
             CAST(CAST(10000 AS HUGEINT) * pr.n_ab * nn.nn
                  // (CAST(ua.n_tok AS HUGEINT) * ub.n_tok) AS BIGINT) AS lift_bp
      FROM pr CROSS JOIN nn
      JOIN u ua ON ua.tok = pr.tok_a
      JOIN u ub ON ub.tok = pr.tok_b
      WHERE pr.n_ab >= 30
      ORDER BY tok_a, tok_b
    """),
    doc = "windowed co-occurrence pairs with exact integer lift: doc-keyed " +
      "positional self-join (no token skew), broadcast unigram counts")

  /** q70 — compression-ratio quality signal: raw-DEFLATE length of each
    * document's UTF-8 bytes over its raw byte count, in basis points,
    * plus the repetitive-document flag a curation pass filters on. The
    * byte-level complement to q30 (heuristic ratios) and q51 (n-gram
    * repetition counters): long-range and structural repetition that
    * 2-gram counting can't see still compresses away, and natural prose
    * reliably does not. Rows-only (no SQL engine exposes deflate);
    * correctness is invariant-gated in PackCurateSpec — determinism,
    * agreement with a directly-driven java.util.zip stream, and the
    * repetitive-vs-prose separation the flag exists for.
    *
    * Scale posture: a stateless codegen'd projection (one native
    * expression over a thread-local zlib stream — [[graft.expr.DeflateLength]]),
    * no shuffle until the oracle sort; at 100 TB this rides the same
    * scan as the other per-document signals.
    */
  private val q70 = Q(
    "q70_compress_ratio",
    (s, d) => {
      import org.apache.spark.sql.graftglue.ExprGlue
      Tables.documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).as("n_bytes"),
          ExprGlue.column(graft.expr.DeflateLength(
            ExprGlue.expression(col("text")))).as("n_deflate"))
        .filter(col("n_bytes") > 0)
        .select(col("doc_id"), col("n_bytes"), col("n_deflate"),
          expr("cast(n_deflate as bigint) * 10000 div n_bytes").as("ratio_bp"))
        .withColumn("repetitive", col("ratio_bp") < 2500)
        .orderBy("doc_id")
    },
    None,
    doc = "deflate-ratio redundancy signal (rows-only): native thread-local " +
      "zlib expression, stateless projection, no shuffle before the sort")

  /** q71 — BPE merge candidates (tokenizer induction, round 0): adjacent
    * character-pair frequencies over the corpus, weighted by word
    * occurrence — exactly the statistic byte-pair encoding maximizes to
    * pick its first merge, and the reason a tokenizer build is a corpus
    * job at all. Top-20 pairs, count-desc with a lexical tiebreak, so the
    * head of the list IS the first merge an induction run would take.
    *
    * Scale posture: the corpus is touched by ONE aggregation — the token
    * count (q38's shape, partial-aggregated map-side); everything after
    * runs on the VOCAB-cardinality frame (pair explode ×(len−1), pair
    * aggregate, TakeOrderedAndProject top-k — pinned). This is the whole
    * trick of distributed BPE: fold the corpus to (word, count) once,
    * then iterate merges over the vocabulary, never re-reading the
    * corpus. Repeated pairs inside a word count once per overlap
    * position ("aaa" → "aa" twice), matching the BPE objective.
    */
  private val q71 = Q(
    "q71_bpe_pairs",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(words(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n_w"))
      vocab
        // 1-char tokens have no pairs — and MUST be filtered before the
        // transform: Spark's sequence(1, 0) is DESCENDING [1, 0], so an
        // unguarded transform fabricates phantom pairs for them
        // (substring at index 0 re-reads the first char)
        .filter(length(col("tok")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(tok) - 1), " +
            "i -> concat(substring(tok, i, 1), substring(tok, i + 1, 1)))"))
          .as("pair"), col("n_w"))
        .groupBy("pair").agg(sum("n_w").as("n_pair"))
        .orderBy(col("n_pair").desc, col("pair")).limit(20)
    },
    Some("""
      WITH t AS (SELECT list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      v AS (SELECT unnest(ws) AS tok FROM t),
      w AS (SELECT tok, count(*) AS n_w FROM v GROUP BY tok),
      p AS (SELECT unnest(list_transform(range(1, length(tok)),
                     i -> substr(tok, i, 1) || substr(tok, i + 1, 1))) AS pair,
                   n_w
            FROM w WHERE length(tok) >= 2)
      SELECT pair, CAST(sum(n_w) AS BIGINT) AS n_pair
      FROM p GROUP BY pair ORDER BY n_pair DESC, pair LIMIT 20
    """),
    doc = "BPE first-merge candidates: corpus folds to vocab once, pair " +
      "counting runs vocab-local, top-k via TakeOrderedAndProject")

  /** Shared BPE-induction machinery (q79 learn, q80 encode): the corpus
    * folds ONCE to a cached (tok, n_w, symbol-string) vocab frame; merges
    * learn and apply over that frame only. `tok` rides along untouched so
    * the encode path (q80) can join the rewritten symbols back onto the
    * corpus token stream — the learn path (q79) never reads it.
    */
  private object Bpe {
    import org.apache.spark.sql.{DataFrame, SparkSession}

    def vocab0(s: SparkSession, d: String): DataFrame =
      graft.ops.CacheScope.persisted(
        Tables.documents(s, d)
          .select(explode(words(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n_w"))
          .select(col("tok"), col("n_w"),
            regexp_replace(col("tok"), "(.)", "($1)").as("s")))

    /** adjacent symbol-pair counts of a delimited-vocab frame */
    def pairsOf(v: DataFrame): DataFrame = v
      .withColumn("sy",
        expr("split(substring(s, 2, length(s) - 2), '\\\\)\\\\(')"))
      .filter(size(col("sy")) >= 2)
      .select(col("n_w"), explode(expr(
        "transform(sequence(1, size(sy) - 1), " +
          "i -> concat(element_at(sy, i), '|', element_at(sy, i + 1)))"))
        .as("pair"))
      .groupBy("pair").agg(sum("n_w").as("n_pair"))

    def bestOf(p: DataFrame): DataFrame =
      p.orderBy(col("n_pair").desc, col("pair")).limit(1)

    /** one greedy merge, broadcast onto every word's symbol string */
    def applied(v: DataFrame, best: DataFrame): DataFrame =
      graft.ops.CacheScope.persisted(
        v.crossJoin(broadcast(best.select(col("pair").as("mp"))))
          .select(col("tok"), col("n_w"), expr(
            "replace(s, concat('(', substring_index(mp, '|', 1), ')(', " +
              "substring_index(mp, '|', -1), ')'), " +
              "concat('(', substring_index(mp, '|', 1), " +
              "substring_index(mp, '|', -1), ')'))").as("s")))

    /** the full induction trace: vocab frames v0..v3 (each cached) and
      * the merges b1..b3 that produced them — q79/q80 read the end
      * state, q183 reads the whole curve
      */
    def rounds(s: SparkSession, d: String)
        : (Seq[DataFrame], Seq[DataFrame]) = {
      val v0 = vocab0(s, d)
      val b1 = bestOf(pairsOf(v0)); val v1 = applied(v0, b1)
      val b2 = bestOf(pairsOf(v1)); val v2 = applied(v1, b2)
      val b3 = bestOf(pairsOf(v2)); val v3 = applied(v2, b3)
      (Seq(v0, v1, v2, v3), Seq(b1, b2, b3))
    }

    /** three learned merges + the vocab frame after each is applied */
    def learn3(s: SparkSession, d: String)
        : (DataFrame, DataFrame, DataFrame, DataFrame) = {
      val (vs, bs) = rounds(s, d)
      (bs(0), bs(1), bs(2), vs(3))
    }

    /** The oracle twin of the chain above — the shared CTE prefix both
      * q79's and q80's oracle strings open with (one definition, so the
      * build and probe sides can never drift — the PackDecon.pos lesson).
      * Defines t (tokenized docs), w, v0, p1..b3, v3; `tok` carried.
      */
    private def pairCte(p: String, v: String): String =
      s"""$p AS (SELECT pair, CAST(sum(n_w) AS BIGINT) AS n_pair FROM (
               SELECT n_w, unnest(list_transform(range(1, len(sy)), i -> sy[i] || '|' || sy[i + 1])) AS pair
               FROM (SELECT n_w, string_split(substr(s, 2, length(s) - 2), ')(') AS sy FROM $v)
               WHERE len(sy) >= 2) GROUP BY pair)"""

    private def bestCte(b: String, p: String): String =
      s"$b AS (SELECT pair, n_pair FROM $p ORDER BY n_pair DESC, pair LIMIT 1)"

    private def applyCte(vNew: String, vOld: String, b: String): String =
      s"$vNew AS (SELECT tok, n_w, replace(s, '(' || split_part(pair, '|', 1) || ')(' || split_part(pair, '|', 2) || ')', '(' || split_part(pair, '|', 1) || split_part(pair, '|', 2) || ')') AS s FROM $vOld, $b)"

    val oracleCtes: String =
      """t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      w AS (SELECT tok, count(*) AS n_w FROM (SELECT unnest(ws) AS tok FROM t) GROUP BY tok),
      v0 AS (SELECT tok, n_w, regexp_replace(tok, '(.)', '(\1)', 'g') AS s FROM w),
      """ +
        Seq(
          pairCte("p1", "v0"), bestCte("b1", "p1"), applyCte("v1", "v0", "b1"),
          pairCte("p2", "v1"), bestCte("b2", "p2"), applyCte("v2", "v1", "b2"),
          pairCte("p3", "v2"), bestCte("b3", "p3"), applyCte("v3", "v2", "b3"))
          .mkString(",\n      ")
  }

  /** q79 — ITERATED distributed BPE (round 11, VERDICT r10 "Next round"
    * #3): three unrolled merge rounds over the (word, count) vocab frame —
    * pick the max-count adjacent symbol pair, apply it to every word's
    * symbol sequence, recount, repeat — never re-reading the corpus
    * (q71 computed merge 0's statistic; this exercises the induction its
    * scaladoc promised). Output: the three chosen merges plus the ranked
    * top-10 candidates for merge 4, proving the vocab frame actually
    * advanced through all three rewrites.
    *
    * Symbol sequences are delimiter-wrapped strings — "hello" starts as
    * "(h)(e)(l)(l)(o)" — so applying merge (a, b) is a LITERAL
    * string replace of "(a)(b)" with "(ab)": left-to-right
    * non-overlapping replacement is exactly BPE's greedy merge order
    * ("(a)(a)(a)" → "(aa)(a)"), the delimiters make cross-symbol false
    * matches impossible (token chars are \\w — never parens), and both
    * engines share replace()'s semantics, which is what makes an
    * iterated-BPE ORACLE possible at all (the oracle unrolls the same
    * three rounds as CTEs, the q56/q61 device). Pair identity is
    * "a|b" — '|' can't occur in symbols, so multi-char merges stay
    * unambiguous where q71's concat wasn't.
    *
    * Scale posture: the corpus is touched by ONE aggregation (the vocab
    * fold, cached); each round then materializes the rewritten
    * vocab-cardinality frame once (CacheScope, eager) — the chosen pair
    * arrives via crossJoin(broadcast(limit-1 frame)), never a driver
    * collect. At 100 TB: same plan, vocab is ~10⁶ rows however big the
    * corpus — this is why BPE induction is tractable as a corpus job.
    */
  private val q79 = Q(
    "q79_bpe_iterate",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.DataFrame
      val (b1, b2, b3, v3) = Bpe.learn3(s, d)
      val w = Window.orderBy(col("n_pair").desc, col("pair"))
      val top = Bpe.pairsOf(v3)
        .orderBy(col("n_pair").desc, col("pair")).limit(10)
        .withColumn("rk", row_number().over(w))
        .select(lit("next").as("stage"), col("rk"), col("pair"), col("n_pair"))
      def m(b: DataFrame, r: Int) =
        b.select(lit("merge").as("stage"), lit(r).as("rk"),
          col("pair"), col("n_pair"))
      m(b1, 1).unionByName(m(b2, 2)).unionByName(m(b3, 3))
        .unionByName(top)
        .orderBy("stage", "rk")
    },
    Some(s"""
      WITH ${Bpe.oracleCtes},
      p4 AS (SELECT pair, CAST(sum(n_w) AS BIGINT) AS n_pair FROM (
               SELECT n_w, unnest(list_transform(range(1, len(sy)), i -> sy[i] || '|' || sy[i + 1])) AS pair
               FROM (SELECT n_w, string_split(substr(s, 2, length(s) - 2), ')(') AS sy FROM v3)
               WHERE len(sy) >= 2) GROUP BY pair),
      nx AS (SELECT 'next' AS stage, CAST(row_number() OVER (ORDER BY n_pair DESC, pair) AS INT) AS rk, pair, n_pair
             FROM (SELECT pair, n_pair FROM p4 ORDER BY n_pair DESC, pair LIMIT 10))
      SELECT * FROM (
        SELECT 'merge' AS stage, 1 AS rk, pair, n_pair FROM b1
        UNION ALL SELECT 'merge', 2, pair, n_pair FROM b2
        UNION ALL SELECT 'merge', 3, pair, n_pair FROM b3
        UNION ALL SELECT stage, rk, pair, n_pair FROM nx)
      ORDER BY stage, rk
    """),
    doc = "iterated BPE: 3 unrolled merge rounds over the cached vocab " +
      "frame (corpus folded once); greedy merge = literal replace on " +
      "delimiter-wrapped symbol strings; oracle = unrolled CTEs")

  /** q80 — BPE ENCODE (round 11): apply the three merges q79 learned to
    * tokenize the corpus, completing the tokenizer-induction story as a
    * pipeline — induce (q79) → encode (q80) → pack into training bins
    * (q58). Output per document: token count, total encoding units
    * before any merge (= characters) and after the three merges, and the
    * compression ratio in basis points — the statistic a tokenizer-build
    * run reports to decide whether the merge budget is paying for itself.
    *
    * The key scale fact this query exercises: ENCODING never re-touches
    * the induction machinery per document. The learned merges rewrite
    * the VOCAB frame (q79's cached rounds, vocab-cardinality work), and
    * the corpus is encoded by a BROADCAST join from token to its
    * rewritten symbol count — each corpus token costs one hash probe,
    * not a merge-loop evaluation. At 100 TB: the vocab-with-symbols
    * frame is ~10⁶ rows whatever the corpus size; the only corpus-scale
    * work is the probe + per-doc aggregation (one shuffle, map-side
    * combined).
    *
    * Oracle: the SAME shared CTE prefix as q79 ([[Bpe.oracleCtes]] — one
    * definition, zero drift) plus the encode tail.
    */
  private val q80 = Q(
    "q80_bpe_encode",
    (s, d) => {
      val (_, _, _, v3) = Bpe.learn3(s, d)
      val enc = v3.select(col("tok"),
        length(col("tok")).as("n_chr"),
        size(expr("split(substring(s, 2, length(s) - 2), '\\\\)\\\\(')"))
          .as("n_sym"))
      // documentsWide: the corpus encode probe is the 1-task
      // tokenize stage the scan spread parallelizes (q145 −1.0 s)
      Tables.documentsWide(s, d)
        .select(col("doc_id"), explode(words(col("text"))).as("tok"))
        .join(broadcast(enc), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum("n_chr").as("n_units_char"),
          sum("n_sym").as("n_units_bpe"))
        .select(col("doc_id"), col("n_toks"),
          col("n_units_char"), col("n_units_bpe"),
          expr("n_units_bpe * 10000 div n_units_char").as("ratio_bp"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH ${Bpe.oracleCtes},
      enc AS (SELECT tok, length(tok) AS n_chr,
                     len(string_split(substr(s, 2, length(s) - 2), ')(')) AS n_sym
              FROM v3),
      p AS (SELECT doc_id, unnest(ws) AS tok FROM t)
      SELECT p.doc_id, count(*) AS n_toks,
             CAST(sum(e.n_chr) AS BIGINT) AS n_units_char,
             CAST(sum(e.n_sym) AS BIGINT) AS n_units_bpe,
             CAST(sum(e.n_sym) AS BIGINT) * 10000 // CAST(sum(e.n_chr) AS BIGINT) AS ratio_bp
      FROM p JOIN enc e USING (tok)
      GROUP BY p.doc_id ORDER BY doc_id
    """),
    doc = "BPE encode by the learned merges: vocab rewritten once " +
      "(q79's cached rounds), corpus encoded via a broadcast " +
      "token-to-symbol-count probe — induction work never scales " +
      "with corpus size")

  /** q145 — tokenizer FERTILITY per language (round 15): the
    * tokenizer-equity readout every multilingual corpus ships with —
    * per language, word instances, BPE units after q79/q80's learned
    * merges, character units, fertility (BPE units per word, bp) and
    * compression (BPE units per character, bp). A language the merges
    * never learned reads fertility ≈ its character count — the signal
    * that its token budget is being taxed (the "tokenizer tax" the
    * vocab-allocation literature optimizes).
    *
    * Plan shape: q80's exactly — the induction work rides the shared
    * cached vocab rounds (never corpus-scaled), the corpus encodes via
    * ONE broadcast token→symbol-count probe, and the report folds at
    * language cardinality instead of q80's doc cardinality. Shared
    * machinery, different roll-up — the oracle reuses the same merge
    * CTEs verbatim.
    */
  private val q145 = Q(
    "q145_tokenizer_fertility",
    (s, d) => {
      val (_, _, _, v3) = Bpe.learn3(s, d)
      val enc = v3.select(col("tok"),
        length(col("tok")).as("n_chr"),
        size(expr("split(substring(s, 2, length(s) - 2), '\\\\)\\\\(')"))
          .as("n_sym"))
      Tables.documentsWide(s, d)
        .select(col("lang"), explode(words(col("text"))).as("tok"))
        .join(broadcast(enc), "tok")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"),
          sum("n_sym").as("n_units_bpe"),
          sum("n_chr").as("n_units_char"))
        .select(col("lang"), col("n_words"),
          col("n_units_bpe"), col("n_units_char"),
          expr("n_units_bpe * 10000 div n_words").as("fertility_bp"),
          expr("n_units_bpe * 10000 div n_units_char")
            .as("compression_bp"))
        .orderBy("lang")
    },
    Some(s"""
      WITH ${Bpe.oracleCtes},
      enc AS (SELECT tok, length(tok) AS n_chr,
                     len(string_split(substr(s, 2, length(s) - 2), ')(')) AS n_sym
              FROM v3),
      p AS (SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0)) AS tok FROM documents)
      SELECT p.lang, count(*) AS n_words,
             CAST(sum(e.n_sym) AS BIGINT) AS n_units_bpe,
             CAST(sum(e.n_chr) AS BIGINT) AS n_units_char,
             CAST(sum(e.n_sym) AS BIGINT) * 10000 // count(*) AS fertility_bp,
             CAST(sum(e.n_sym) AS BIGINT) * 10000
               // CAST(sum(e.n_chr) AS BIGINT) AS compression_bp
      FROM p JOIN enc e USING (tok)
      GROUP BY p.lang ORDER BY lang
    """),
    doc = "per-language tokenizer fertility + compression under the " +
      "learned BPE merges: q80's broadcast probe, language-cardinality " +
      "roll-up — the tokenizer-tax report")

  /** q183 — tokenizer VOCAB-GROWTH fertility curve (round 16, the
    * sweep family applied to q79's induction): after k ∈ {0, 1, 2, 3}
    * merges, the corpus-weighted symbols-per-word in 1e-4 units — the
    * compression-vs-vocab-size curve every tokenizer design reads
    * (fertility at vocab 2⁸ vs 2¹⁵ is the BPE sizing argument). Unlike
    * a naive per-size re-induction, BPE's merge list is PREFIX-STABLE:
    * the first k merges of a larger vocab ARE the k-merge tokenizer,
    * so the whole curve reads the SAME cached round frames q79 already
    * materializes (one corpus fold + three vocab-cardinality rewrites)
    * — zero additional induction work.
    *
    * Symbol counts are exact integers: every symbol is delimiter-
    * wrapped, so symbols(s) = count of '(' = length(s) −
    * length(replace(s, '(', '')). Each merge strictly shrinks the
    * weighted total (the chosen pair has n_pair > 0 occurrences), so
    * fertility is strictly decreasing in k — the spec's invariant.
    * 100 TB: q79's posture verbatim — corpus folded once, everything
    * after is vocab-cardinality.
    */
  private val q183 = Q(
    "q183_vocab_fertility",
    (s, d) => {
      val (vs, _) = Bpe.rounds(s, d)
      vs.zipWithIndex.map { case (v, k) =>
        v.select(col("n_w"),
          (length(col("s")) -
            length(regexp_replace(col("s"), "\\(", ""))).cast("long")
            .as("nsym"))
          .agg(sum(expr("n_w * nsym")).as("total_symbols"),
            sum("n_w").as("total_words"))
          .select(lit(k.toLong).as("n_merges"), col("total_symbols"),
            col("total_words"),
            expr("total_symbols * 10000 div total_words").as("fert_bp"))
      }.reduce(_ unionByName _).orderBy("n_merges")
    },
    Some(s"""
      WITH ${Bpe.oracleCtes},
      sk AS (
        SELECT 0 AS k, CAST(sum(n_w * (length(s) - length(replace(s, '(', '')))) AS BIGINT) AS total_symbols,
               CAST(sum(n_w) AS BIGINT) AS total_words FROM v0
        UNION ALL
        SELECT 1, CAST(sum(n_w * (length(s) - length(replace(s, '(', '')))) AS BIGINT),
               CAST(sum(n_w) AS BIGINT) FROM v1
        UNION ALL
        SELECT 2, CAST(sum(n_w * (length(s) - length(replace(s, '(', '')))) AS BIGINT),
               CAST(sum(n_w) AS BIGINT) FROM v2
        UNION ALL
        SELECT 3, CAST(sum(n_w * (length(s) - length(replace(s, '(', '')))) AS BIGINT),
               CAST(sum(n_w) AS BIGINT) FROM v3)
      SELECT CAST(k AS BIGINT) AS n_merges, total_symbols, total_words,
             total_symbols * 10000 // total_words AS fert_bp
      FROM sk ORDER BY n_merges
    """),
    doc = "tokenizer fertility vs vocab size: BPE's prefix-stable merge " +
      "list means the whole curve reads q79's cached round frames - " +
      "symbols-per-word after each merge, exact integers, zero extra " +
      "induction")

  val all: Seq[Q] = Seq(q68, q69, q70, q71, q79, q80, q145, q183)
}
