package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q94 — EXACT threshold set-similarity self-join via df-ordered prefix
  * filtering (the AllPairs/PPJoin family: Chaudhuri et al. ICDE'06
  * prefix-filtering principle, Bayardo et al. WWW'07, Xiao et al.
  * WWW'08). The exactness complement to the catalog's approximate
  * near-dup stack: q27 (MinHash LSH) and q35/q36 (SimHash / hyperplane
  * LSH) trade recall for work; q94 returns EVERY pair with shingle-set
  * Jaccard ≥ 0.60 — no probabilistic miss — while still never running
  * the quadratic all-pairs join. It is also the recall audit for the
  * fingerprint chain: at sf0.01 its 25 pairs are exactly the 25 that
  * q67→q73 surface, certifying the winnow candidates missed nothing at
  * this threshold.
  *
  * Algorithm: each doc becomes its DISTINCT word-4-gram shingle set
  * (q73's set semantics, [[graft.expr.WordShingleStrings]]). Tokens get
  * a global rarity order — ascending document frequency, ties broken by
  * the shingle string — realized portably as the sortable key
  * `lpad(df, 10, '0') || '|' || shingle` (both engines compare strings
  * bytewise; df ≤ 10¹⁰ never truncates). Per doc, sort the keys and keep
  * the first p = n − ⌈0.6·n⌉ + 1: the prefix-filtering lemma says two
  * sets with J ≥ t MUST share a token inside these prefixes, so the
  * candidate join is an equi-join on prefix keys — plus the length
  * filter 10·min(n_a,n_b) ≥ 6·max(n_a,n_b) (J ≤ min/max). Candidates
  * verify exactly ([[graft.expr.ArrayIntersectCount]]) and the
  * threshold test is integer-exact on both engines:
  * c·10000 div (n_a+n_b−c) ≥ 6000 ⟺ 5c ≥ 3·(n_a+n_b−c).
  *
  * Scale posture: the corpus is touched by ONE shingle projection
  * (cached — the df fold, the prefix build, and both verify sides read
  * it); df and the candidate join shuffle on the uniform shingle key.
  * The fan-out bound is the point of the ORDER: prefixes keep each
  * doc's RAREST shingles, so candidate bucket sizes concentrate at
  * df≈1 (measured here: mean shingle df 1.06) and the join work is
  * Σ df_prefix² over rare keys — the AllPairs argument — with the
  * length filter pruning cross-size pairs before the distinct. Unlike
  * q67 there is NO df cap to tune and nothing to miss: boilerplate-
  * heavy corpora degrade toward more candidates, never toward false
  * negatives (the positional/suffix filters of PPJoin are the
  * documented swap-in if that tail ever dominates). Verification cost
  * scales with candidates, not with pairs of documents.
  */
object PackSetSim {

  private val q94 = Q(
    "q94_setsim_join",
    (s, d) => {
      import org.apache.spark.sql.graftglue.ExprGlue
      def g4 = ExprGlue.column(graft.expr.WordShingleStrings(
        ExprGlue.expression(words(col("text"))), 4))
      val sets = graft.ops.CacheScope.persisted(
        Tables.documents(s, d)
          .select(col("doc_id"), g4.as("ws"))
          .filter(size(col("ws")) > 0)
          .withColumn("n", size(col("ws")).cast("bigint")))
      val ex = sets.select(col("doc_id"), col("n"),
        explode(col("ws")).as("tok"))
      val df = ex.groupBy("tok").agg(count(lit(1)).as("dfreq"))
      // rarity-ordered sortable key; the tok-keyed join reuses df's shuffle
      val keyed = ex.join(df, Seq("tok"))
        .select(col("doc_id"), col("n"),
          concat(lpad(col("dfreq").cast("string"), 10, "0"), lit("|"),
            col("tok")).as("k"))
      val pre = keyed.groupBy("doc_id", "n")
        .agg(sort_array(collect_list(col("k"))).as("ordk"))
        .select(col("doc_id"), col("n"),
          explode(slice(col("ordk"), lit(1),
            expr("cast(n - (3*n + 4) div 5 + 1 as int)"))).as("k"))
      val cand = pre.select(col("k"), col("doc_id").as("doc_a"),
          col("n").as("n_a"))
        .join(pre.select(col("k"), col("doc_id").as("doc_b"),
          col("n").as("n_b")), Seq("k"))
        .filter(col("doc_a") < col("doc_b") &&
          least(col("n_a"), col("n_b")) * 10 >=
            greatest(col("n_a"), col("n_b")) * 6)
        .select("doc_a", "doc_b").distinct()
      cand
        .join(sets.select(col("doc_id").as("doc_a"), col("ws").as("wa"),
          col("n").as("n_a")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("ws").as("wb"),
          col("n").as("n_b")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
          ExprGlue.column(graft.expr.ArrayIntersectCount(
            ExprGlue.expression(col("wa")), ExprGlue.expression(col("wb"))))
            .cast("bigint").as("n_common"))
        .withColumn("jaccard_bp",
          expr("n_common * 10000 div (n_a + n_b - n_common)"))
        .filter(col("jaccard_bp") >= 6000)
        .orderBy("doc_a", "doc_b")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w FROM documents),
      g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS ws FROM t WHERE len(w) >= 4),
      s AS (SELECT doc_id, ws, len(ws) AS n FROM g WHERE len(ws) > 0),
      ex AS (SELECT doc_id, n, unnest(ws) AS tok FROM s),
      df AS (SELECT tok, count(*) AS dfreq FROM ex GROUP BY tok),
      keyed AS (SELECT ex.doc_id, ex.n, lpad(CAST(df.dfreq AS VARCHAR), 10, '0') || '|' || ex.tok AS k FROM ex JOIN df USING (tok)),
      ord AS (SELECT doc_id, n, list_sort(list(k)) AS ordk FROM keyed GROUP BY doc_id, n),
      pre AS (SELECT doc_id, n, unnest(ordk[1 : CAST(n - (3*n + 4) // 5 + 1 AS INT)]) AS k FROM ord),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM pre a JOIN pre b ON a.k = b.k AND a.doc_id < b.doc_id WHERE least(a.n, b.n) * 10 >= greatest(a.n, b.n) * 6),
      v AS (SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, CAST(len(list_intersect(sa.ws, sb.ws)) AS BIGINT) AS n_common FROM cand JOIN s sa ON sa.doc_id = cand.doc_a JOIN s sb ON sb.doc_id = cand.doc_b)
      SELECT doc_a, doc_b, n_a, n_b, n_common, n_common * 10000 // (n_a + n_b - n_common) AS jaccard_bp
      FROM v WHERE n_common * 10000 // (n_a + n_b - n_common) >= 6000
      ORDER BY doc_a, doc_b
    """),
    doc = "exact Jaccard >= 0.6 set-similarity self-join via df-ordered " +
      "prefix filtering (AllPairs/PPJoin) — complete, no LSH miss")

  /** q105 — source-overlap matrix: for every pair of sources, how many
    * distinct word-4-gram shingles they share, and the overlap
    * coefficient (shared · 10⁴ div the smaller source's shingle count)
    * — the "who mirrors whom" crawl diagnostic: a pair at high overlap
    * is a mirror / syndication / scraper relationship, the thing a
    * crawl budget reallocates around and a dedup run prioritizes.
    * Shingles present in > 10 sources are STOP shingles (q67's cap
    * applied at source granularity): they carry no pair information —
    * they're everywhere — and capping them bounds the pair fan-out at
    * C(10,2) per shingle; universal boilerplate degrades the CAP, never
    * the correctness of what's reported (and the cap is observable:
    * n_shared counts capped shingles out on both sides of the ratio).
    *
    * Plan shape: corpus → distinct (source, shingle) (doc-local
    * distinct via the native shingle expression, then one shingle-
    * source fold); per-shingle sorted source LISTS fold at shingle
    * cardinality; pair fan-out is a document-local array HOF (q69's
    * pair device — never a self-join); the pair count partial-
    * aggregates map-side (hot pairs are exactly the signal); source
    * sizes are a SOURCE-cardinality dim broadcast back twice. At 100 TB
    * nothing exceeds shingle-keyed shuffles + a bounded fan-out.
    */
  private val q105 = Q(
    "q105_source_overlap",
    (s, d) => {
      import org.apache.spark.sql.graftglue.ExprGlue
      def g4 = ExprGlue.column(graft.expr.WordShingleStrings(
        ExprGlue.expression(words(col("text"))), 4))
      val sh = Tables.documents(s, d)
        .select(col("source"), explode(g4).as("shingle"))
        .distinct()
      val srcs = sh.groupBy("shingle")
        .agg(sort_array(collect_set("source")).as("ss"))
        .filter(size(col("ss")).between(2, 10))
      val pairs = srcs.select(explode(expr(
        "flatten(transform(sequence(0, size(ss) - 2), " +
          "i -> transform(sequence(i + 1, size(ss) - 1), " +
          "j -> struct(element_at(ss, i + 1) as a, " +
          "element_at(ss, j + 1) as b))))")).as("p"))
        .select(col("p.a").as("src_a"), col("p.b").as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
      pairs
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n_sh").as("n_a"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n_sh").as("n_b"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          expr("n_shared * 10000 div least(n_a, n_b)").as("overlap_bp"))
        .orderBy("src_a", "src_b")
    },
    Some("""
      WITH t AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS w FROM documents),
      g AS (SELECT source, list_distinct(list_transform(range(1, len(w) - 2), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS ws FROM t WHERE len(w) >= 4),
      sh AS (SELECT DISTINCT source, unnest(ws) AS shingle FROM g),
      srcs AS (SELECT shingle, list_sort(list(source)) AS ss
               FROM sh GROUP BY shingle
               HAVING count(*) BETWEEN 2 AND 10),
      pairs AS (SELECT u.a AS src_a, u.b AS src_b
                FROM (SELECT unnest(flatten(list_transform(range(1, len(ss)),
                        i -> list_transform(range(i + 1, len(ss) + 1),
                          j -> {'a': ss[i], 'b': ss[j]})))) AS u
                      FROM srcs)),
      cnt AS (SELECT src_a, src_b, count(*) AS n_shared
              FROM pairs GROUP BY src_a, src_b),
      sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source)
      SELECT cnt.src_a, cnt.src_b, n_shared,
             n_shared * 10000 // least(sa.n_sh, sb.n_sh) AS overlap_bp
      FROM cnt JOIN sizes sa ON sa.source = cnt.src_a
               JOIN sizes sb ON sb.source = cnt.src_b
      ORDER BY src_a, src_b
    """),
    doc = "pairwise source shingle-overlap matrix: per-shingle sorted " +
      "source lists (stop cap 10), document-local pair HOF fan-out, " +
      "map-side pair counts, source-size dims broadcast")

  val all: Seq[Q] = Seq(q94, q105)
}
