package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q65–q66 — content-defined dedup primitives (round 10): the two text
  * fingerprinting shapes the §2.9 north-star list still owed —
  * winnowing rolling-hash fingerprints (the MOSS/plagiarism-detection
  * device, and the substring-granularity complement to q27's whole-doc
  * MinHash) and corpus-wide sub-document dedup (the C4/MassiveText
  * "paragraph dedup" pass, here at fixed block granularity because the
  * synthetic corpus is single-line).
  *
  * Both oracle-gated; all hashing is explicit integer arithmetic (no
  * engine hash functions — xxhash64 exists on both sides but with
  * different seeds/variants, and a fingerprint you can't reproduce in
  * another engine is not a fingerprint).
  */
object PackFingerprint {

  /** Positional powers of 31 for the 8-char token hash — an explicit
    * array literal (no float `pow`), mirrored in [[graft.expr.WinnowFingerprint]].
    */
  private val PowSql = "[27512614111, 887503681, 28629151, 923521, 29791, 961, 31, 1]"

  /** q65 — winnowing fingerprints (Schleimer/Wilkerson/Aiken): token →
    * 20-bit char hash, 4-gram polynomial rolling hash mod 2³¹−1, then
    * per sliding window of 5 grams keep the minimum — the classic
    * guarantee that any shared run of ≥ 8 tokens between two documents
    * shares at least one selected fingerprint, at ~1/5 the storage of
    * the full gram set. The distinct selected hashes ARE the document's
    * fingerprint; matching docs on a shared fp is the substring-level
    * near-dup join that MinHash (whole-doc resemblance) can't express.
    *
    * Scale posture: the whole hash chain — token hashes, gram hashes,
    * window minima, distinct — is ONE native expression
    * ([[graft.expr.WinnowFingerprint]]), a single O(n) pass per document
    * row, so the operator is shuffle-FREE until the oracle's output sort
    * (same posture as q52, pinned in PlanSpec). At 100 TB the
    * fingerprint explode feeds a groupBy(fp) bucket join; nothing here
    * ever materializes per-window rows. (The composable three-HOF form
    * is a trap: CollapseProject inlines each stage into the next's
    * lambda, re-evaluating the token pass per gram and the gram pass
    * per window — interpreted O(n²·k); see the expression's scaladoc.)
    *
    * Arithmetic bounds: token hash < 2²⁰ (sum ≤ 8·122·31⁷ ≈ 2.7·10¹³,
    * then mod 1048573); gram fold keeps acc < 2³¹ and acc·31⁹+h < 2⁵¹ —
    * every intermediate fits a BIGINT exactly on both engines.
    */
  private val q65 = Q(
    "q65_winnow_fingerprint",
    (s, d) => {
      import org.apache.spark.sql.graftglue.ExprGlue
      Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 8) // 4-gram winnow needs ≥ 5 grams
        .select(col("doc_id"),
          explode(ExprGlue.column(graft.expr.WinnowFingerprint(
            ExprGlue.expression(col("ws"))))).as("fp"))
        .orderBy("doc_id", "fp")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      h AS (SELECT doc_id,
              list_transform(ws, tok ->
                CAST(list_sum(list_transform(range(1, least(length(tok), 8) + 1),
                  i -> ascii(substr(tok, i, 1)) * $PowSql[i])) % 1048573 AS BIGINT)) AS th
            FROM t WHERE len(ws) >= 8),
      g AS (SELECT doc_id,
              list_transform(range(1, len(th) - 2), i ->
                ((((th[i] * 1000003 + th[i + 1]) % 2147483647)
                   * 1000003 + th[i + 2]) % 2147483647
                   * 1000003 + th[i + 3]) % 2147483647) AS gh
            FROM h),
      w AS (SELECT doc_id,
              list_distinct(list_transform(range(5, len(gh) + 1),
                j -> list_aggregate(gh[j-4:j], 'min'))) AS fps
            FROM g)
      SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM w
      ORDER BY doc_id, fp
    """),
    doc = "winnowing rolling-hash fingerprints: 4-gram poly hash, " +
      "window-5 minima — document-local HOFs, shuffle-free until the sort")

  /** q66 — corpus-wide block dedup (sub-document first-wins): split every
    * document into non-overlapping 16-token blocks, keep each distinct
    * block's FIRST occurrence corpus-wide (ordered by doc_id, then
    * offset), and reassemble every document from its surviving blocks —
    * C4's "discard duplicate paragraphs" pass, at fixed block
    * granularity. The per-doc counters make the removal auditable: a
    * doc whose every block was seen earlier collapses to empty but is
    * still reported (it must be COUNTED as fully-deduped, not silently
    * dropped).
    *
    * Scale posture: ONE shuffle — the first-wins rank partitions by the
    * block text (at 100 TB, by its 256-bit hash: same plan, narrower
    * exchange) — and the per-doc reassembly rides the doc_id agg that
    * the final sort needs anyway. The window is per-BLOCK (cardinality
    * = distinct blocks, skew-bounded by corpus dup rate), never a
    * corpus-wide rank.
    */
  private val q66 = Q(
    "q66_block_dedup",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
      val blocks = t
        .select(col("doc_id"),
          explode(expr("sequence(0, size(ws) - 1, 16)")).as("start"),
          col("ws"))
        .select(col("doc_id"), col("start"),
          expr("array_join(slice(ws, start + 1, 16), ' ')").as("btxt"))
      val firstWins = blocks
        .withColumn("rn", row_number().over(
          Window.partitionBy("btxt").orderBy("doc_id", "start")))
        .filter(col("rn") === 1)
      val kept = firstWins
        .groupBy("doc_id")
        .agg(count(lit(1)).as("kept_blocks"),
          expr("array_join(transform(array_sort(collect_list(struct(start, btxt))), x -> x.btxt), ' ')")
            .as("new_text"))
      t.select(col("doc_id"),
          expr("cast(size(sequence(0, size(ws) - 1, 16)) as bigint)").as("n_blocks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_blocks"),
          coalesce(col("kept_blocks"), lit(0L)).as("kept_blocks"),
          coalesce(col("new_text"), lit("")).as("new_text"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents WHERE len(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) > 0),
      b AS (SELECT doc_id, unnest(range(0, len(ws), 16)) AS start, ws FROM t),
      blk AS (SELECT doc_id, start, array_to_string(ws[start + 1:start + 16], ' ') AS btxt FROM b),
      win AS (SELECT doc_id, start, btxt,
                     row_number() OVER (PARTITION BY btxt ORDER BY doc_id, start) AS rn
              FROM blk),
      kept AS (SELECT doc_id, count(*) AS kept_blocks,
                      string_agg(btxt, ' ' ORDER BY start) AS new_text
               FROM win WHERE rn = 1 GROUP BY doc_id),
      tot AS (SELECT doc_id, len(range(0, len(ws), 16)) AS n_blocks FROM t)
      SELECT tot.doc_id, tot.n_blocks,
             coalesce(kept.kept_blocks, 0) AS kept_blocks,
             coalesce(kept.new_text, '') AS new_text
      FROM tot LEFT JOIN kept USING (doc_id)
      ORDER BY doc_id
    """),
    doc = "corpus-wide 16-token-block first-wins dedup + doc reassembly " +
      "(C4 paragraph-dedup shape); one per-block shuffle")

  /** q98 — boilerplate STRIP (drop-everywhere): blocks appearing in ≥ 3
    * DISTINCT documents are removed from every holder — including the
    * first — and documents reassemble from what survives. This is the
    * C4/RefinedWeb boilerplate rule (navigation chrome, cookie banners,
    * license footers), and it is deliberately the OPPOSITE policy to
    * q66 one line up: dedup keeps one canonical copy because the
    * content is wanted once; boilerplate is wanted ZERO times, so
    * first-wins is the wrong rule for it. A real pipeline runs both —
    * q98's df gate first, q66's first-wins on what remains.
    *
    * Scale posture: the distinct-doc df aggregation and the anti-join
    * that applies the verdict share the block key, so ONE corpus
    * exchange feeds both (q67's exchange-reuse device on the block
    * text; at 100 TB the key narrows to its 256-bit hash — same plan);
    * the df frame never broadcasts anywhere (it is corpus-derived and
    * unbounded) — the anti join stays key-equi. Reassembly rides the
    * doc_id aggregation the output sort needs anyway. Per-doc audit
    * (n_blocks, boiler_blocks) makes the strip reviewable — a doc that
    * was ALL chrome reports empty but counted, q66's contract.
    */
  private val q98 = Q(
    "q98_boilerplate_strip",
    (s, d) => {
      val t = Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
      val blocks = t
        .select(col("doc_id"),
          explode(expr("sequence(0, size(ws) - 1, 16)")).as("start"),
          col("ws"))
        .select(col("doc_id"), col("start"),
          expr("array_join(slice(ws, start + 1, 16), ' ')").as("btxt"))
      val boiler = blocks.groupBy("btxt")
        .agg(countDistinct(col("doc_id")).as("dfreq"))
        .filter(col("dfreq") >= 3).select("btxt")
      val kept = blocks.join(boiler, Seq("btxt"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("kept_blocks"),
          expr("array_join(transform(array_sort(collect_list(struct(start, btxt))), x -> x.btxt), ' ')")
            .as("new_text"))
      t.select(col("doc_id"),
          expr("cast(size(sequence(0, size(ws) - 1, 16)) as bigint)").as("n_blocks"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_blocks"),
          (col("n_blocks") - coalesce(col("kept_blocks"), lit(0L)))
            .as("boiler_blocks"),
          coalesce(col("new_text"), lit("")).as("new_text"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents WHERE len(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) > 0),
      b AS (SELECT doc_id, unnest(range(0, len(ws), 16)) AS start, ws FROM t),
      blk AS (SELECT doc_id, start, array_to_string(ws[start + 1:start + 16], ' ') AS btxt FROM b),
      boiler AS (SELECT btxt FROM blk GROUP BY btxt HAVING count(DISTINCT doc_id) >= 3),
      kept AS (SELECT doc_id, count(*) AS kept_blocks,
                      string_agg(btxt, ' ' ORDER BY start) AS new_text
               FROM blk WHERE btxt NOT IN (SELECT btxt FROM boiler)
               GROUP BY doc_id),
      tot AS (SELECT doc_id, len(range(0, len(ws), 16)) AS n_blocks FROM t)
      SELECT tot.doc_id, tot.n_blocks,
             tot.n_blocks - coalesce(kept.kept_blocks, 0) AS boiler_blocks,
             coalesce(kept.new_text, '') AS new_text
      FROM tot LEFT JOIN kept USING (doc_id)
      ORDER BY doc_id
    """),
    doc = "C4-style boilerplate strip: blocks in >= 3 distinct docs drop " +
      "EVERYWHERE (the opposite policy to q66's first-wins dedup); one " +
      "block-keyed exchange feeds df and the anti join")

  /** q67 — near-dup candidate pairs from winnow fingerprints: the join
    * that turns q65's per-doc fingerprints into the (doc_a, doc_b,
    * n_shared) frame q48's clustering consumes — the winnowing papers'
    * pipeline (fingerprint → bucket → pair) completing the fuzzy-dedup
    * chain q65 → q67 → q48 → q62. Fingerprints shared by more than 20
    * documents are dropped BEFORE pairing (stop-fingerprints: boilerplate
    * grams pair everything with everything — the df cap is what bounds
    * the self-join fan-out at ≤ cap²/fp, the same device as q27's LSH
    * band buckets), and a pair must share ≥ 2 surviving fingerprints.
    *
    * Plan shape: ONE corpus shuffle on fp that the df aggregate, the
    * stop-fp semi join, and the a⋈b self-join all reuse (same key ⇒
    * Catalyst reuses the exchange), then the pair aggregate's shuffle on
    * (doc_a, doc_b). The fingerprint frame is CacheScope-persisted: four
    * plan branches read it, and at 100 TB it is ~20 longs per document —
    * two orders smaller than the corpus it summarizes.
    */
  /** The q67 candidate frame (unsorted): shared by q67 (which sorts and
    * returns it) and q73 (which verifies each candidate exactly).
    */
  private def candidates(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftglue.ExprGlue
    val fps = graft.ops.CacheScope.persisted(
      Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"),
          explode(ExprGlue.column(graft.expr.WinnowFingerprint(
            ExprGlue.expression(col("ws"))))).as("fp")))
    val stop = fps.groupBy("fp").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") <= 20)
    val keep = fps.join(stop.select("fp"), Seq("fp"), "left_semi")
    val a = keep.select(col("fp"), col("doc_id").as("doc_a"))
    val b = keep.select(col("fp"), col("doc_id").as("doc_b"))
    a.join(b, Seq("fp")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  private val q67 = Q(
    "q67_fp_candidates",
    (s, d) => candidates(s, d).orderBy("doc_a", "doc_b"),
    Some(s"""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      h AS (SELECT doc_id,
              list_transform(ws, tok ->
                CAST(list_sum(list_transform(range(1, least(length(tok), 8) + 1),
                  i -> ascii(substr(tok, i, 1)) * $PowSql[i])) % 1048573 AS BIGINT)) AS th
            FROM t WHERE len(ws) >= 8),
      g AS (SELECT doc_id,
              list_transform(range(1, len(th) - 2), i ->
                ((((th[i] * 1000003 + th[i + 1]) % 2147483647)
                   * 1000003 + th[i + 2]) % 2147483647
                   * 1000003 + th[i + 3]) % 2147483647) AS gh
            FROM h),
      w AS (SELECT doc_id, CAST(unnest(list_distinct(list_transform(range(5, len(gh) + 1),
              j -> list_aggregate(gh[j-4:j], 'min')))) AS BIGINT) AS fp
            FROM g),
      df AS (SELECT fp FROM w GROUP BY fp HAVING count(*) <= 20),
      keep AS (SELECT w.doc_id, w.fp FROM w JOIN df USING (fp)),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
                FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 2
      ORDER BY doc_a, doc_b
    """),
    doc = "near-dup candidate pairs from winnow fingerprints: stop-fp df " +
      "cap bounds the self-join fan-out; >= 2 shared fps per pair")

  /** q73 — exact verification of q67's candidates: per candidate pair,
    * the TRUE word-4-gram Jaccard (distinct shingle sets, exact integer
    * basis points) — the "verify" half of the candidate→verify contract
    * every sketch-based dedup pipeline ends with (q27/q67 generate
    * cheaply and may admit false positives; a drop decision needs the
    * real resemblance, computed ONLY for candidates — never all pairs).
    *
    * Scale posture: the candidate frame is orders smaller than the
    * corpus (bounded by q67's df cap), so the two text-fetch joins stay
    * broadcast-hash (the planner picks the smaller side from stats —
    * candidates at corpus scale; at test scale it inverts, same plan
    * class either way, never a cartesian) and the per-pair intersection
    * is one native expression over the two shingle arrays
    * ([[graft.expr.ArrayIntersectCount]]) — ~doc-sized work per
    * CANDIDATE, not per pair of documents.
    */
  private val q73 = Q(
    "q73_candidate_verify",
    (s, d) => {
      import org.apache.spark.sql.graftglue.ExprGlue
      def g4 = ExprGlue.column(graft.expr.WordShingleStrings(
        ExprGlue.expression(words(col("text"))), 4))
      val sets = Tables.documents(s, d).select(col("doc_id"), g4.as("g"))
      candidates(s, d)
        .join(sets.select(col("doc_id").as("doc_a"), col("g").as("ga")),
          Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("g").as("gb")),
          Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          ExprGlue.column(graft.expr.ArrayIntersectCount(
            ExprGlue.expression(col("ga")), ExprGlue.expression(col("gb"))))
            .cast("bigint").as("n_common"),
          (size(col("ga")) + size(col("gb"))).cast("bigint").as("sz"))
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_common"),
          (col("sz") - col("n_common")).as("n_union"),
          expr("n_common * 10000 div (sz - n_common)").as("jaccard_bp"))
        .orderBy("doc_a", "doc_b")
    },
    Some(s"""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      h AS (SELECT doc_id,
              list_transform(ws, tok ->
                CAST(list_sum(list_transform(range(1, least(length(tok), 8) + 1),
                  i -> ascii(substr(tok, i, 1)) * $PowSql[i])) % 1048573 AS BIGINT)) AS th
            FROM t WHERE len(ws) >= 8),
      g AS (SELECT doc_id,
              list_transform(range(1, len(th) - 2), i ->
                ((((th[i] * 1000003 + th[i + 1]) % 2147483647)
                   * 1000003 + th[i + 2]) % 2147483647
                   * 1000003 + th[i + 3]) % 2147483647) AS gh
            FROM h),
      w AS (SELECT doc_id, CAST(unnest(list_distinct(list_transform(range(5, len(gh) + 1),
              j -> list_aggregate(gh[j-4:j], 'min')))) AS BIGINT) AS fp
            FROM g),
      df AS (SELECT fp FROM w GROUP BY fp HAVING count(*) <= 20),
      keep AS (SELECT w.doc_id, w.fp FROM w JOIN df USING (fp)),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
                FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING count(*) >= 2),
      s4 AS (SELECT doc_id,
               CASE WHEN len(ws) >= 4
                 THEN list_distinct(list_transform(range(1, len(ws) - 2),
                   i -> array_to_string(ws[i:i+3], ' ')))
                 ELSE CAST([] AS VARCHAR[]) END AS g
             FROM t)
      SELECT p.doc_a, p.doc_b, p.n_shared,
             CAST(len(list_intersect(a.g, b.g)) AS BIGINT) AS n_common,
             CAST(len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) AS BIGINT) AS n_union,
             CAST(len(list_intersect(a.g, b.g)) * 10000
                  // (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS BIGINT) AS jaccard_bp
      FROM pairs p
      JOIN s4 a ON a.doc_id = p.doc_a
      JOIN s4 b ON b.doc_id = p.doc_b
      ORDER BY p.doc_a, p.doc_b
    """),
    doc = "exact 4-gram Jaccard for q67's candidate pairs only — the " +
      "verify half of sketch-candidate dedup; candidates broadcast, " +
      "corpus never shuffles")

  val all: Seq[Q] = Seq(q65, q66, q67, q73, q98)
}
