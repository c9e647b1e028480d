package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words
import graft.ops.SimOps

/** LLM-data-pipeline pack — q24, q25, q26 (SURVEY.md §2.9).
  *
  * Training-data-pipeline operators over `documents` / `embeddings`:
  * exact dedup (content hash + first-wins), brute-force cosine top-k (the
  * correctness baseline; the scale path is the LSH-bucketed variant in
  * graft.ops.SimOps), and tokenization/token stats.
  */
object PackText {

  /** q24 — exact dedup: sha2(text) groups, first doc_id wins, duplicate
    * count carried. One shuffle on the 256-bit content hash — uniform by
    * construction, no skew at any scale.
    */
  private val q24 = Q(
    "q24_exact_dedup",
    (s, d) => {
      val byHash = Window.partitionBy("hash").orderBy("doc_id")
      Tables.documents(s, d)
        .withColumn("hash", sha2(col("text"), 256))
        .withColumn("rn", row_number().over(byHash))
        .withColumn("n_dups", count(lit(1)).over(Window.partitionBy("hash")))
        .filter(col("rn") === 1)
        .select(
          col("doc_id"),
          substring(col("hash"), 1, 16).as("hash16"),
          col("n_dups"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, substr(sha256(text), 1, 16) AS hash16, n_dups
      FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn,
               count(*) OVER (PARTITION BY sha256(text)) AS n_dups
        FROM documents) t
      WHERE rn = 1 ORDER BY doc_id
    """),
    doc = "exact dedup: content hash + order-preserving first-wins")

  /** q25 — cosine top-k: 8 query vectors against the rest of the corpus,
    * top-5 per query by rounded score (rounding before ranking makes the
    * order robust to sub-1e-4 float differences between engines). The
    * query side is broadcast; scores are per-row HOF math; the only
    * shuffle is the per-query top-k window. At 100 TB the same query runs
    * over LSH buckets (SimOps.lshBands) instead of the full corpus.
    */
  private val q25 = Q(
    "q25_cosine_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val corpus = emb.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      val scored = corpus.crossJoin(broadcast(queries))
        .withColumn("score",
          round(SimOps.cosine(col("q_emb"), col("c_emb")), 4))
      val topk = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("c_id"))
      scored
        .withColumn("rn", row_number().over(topk))
        .filter(col("rn") <= 5)
        .select(col("q_id"), col("c_id"), col("score"), col("rn"))
        .orderBy("q_id", "rn")
    },
    Some("""
      WITH q AS (
        SELECT vec_id AS q_id, cast(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < 8),
      c AS (
        SELECT vec_id AS c_id, cast(embedding AS DOUBLE[]) AS ce
        FROM embeddings WHERE vec_id >= 8),
      sc AS (
        SELECT q_id, c_id, round(list_cosine_similarity(qe, ce), 4) AS score
        FROM q CROSS JOIN c),
      r AS (
        SELECT q_id, c_id, score,
               cast(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS INTEGER) AS rn
        FROM sc)
      SELECT q_id, c_id, score, rn FROM r WHERE rn <= 5 ORDER BY q_id, rn
    """),
    doc = "brute-force cosine top-k baseline (LSH-bucketed at scale)")

  /** q26 — tokenize + corpus token stats: regex word split, per-token
    * frequency and document frequency.
    */
  private val q26 = Q(
    "q26_token_stats",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(lower(col("text")), "\\W+")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("token")
    },
    Some("""
      SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
      FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\W+')) AS token
        FROM documents) t
      WHERE length(token) > 0
      GROUP BY token ORDER BY token
    """),
    doc = "tokenize + token/document frequency")

  /** q109 — the DEDUP AUDIT report: the cluster-size histogram of q24's
    * exact-dup groups with the char mass each size class would save —
    * the "dedup pressure" dashboard every corpus build reads before
    * spending the near-dup budget (a corpus whose duplicates sit in a
    * few huge clusters dedups cheaply; one whose mass hides in
    * millions of pairs needs the q27/q78 machinery). One row per
    * observed cluster size: how many clusters, how many documents, how
    * many of them are duplicates, and the characters dropped if each
    * cluster keeps its min-doc_id representative (q24's keeper rule —
    * the SAME rule, so this audit is exactly the mass q24 removes).
    *
    * The driver corpus carries no byte-identical pairs, so the audit
    * plants its own (q88's device): docs with id%50=1 re-enter once
    * (clusters of 2) and docs with id%100=51 re-enter twice (clusters
    * of 3) under remapped high ids — every size class observable and
    * assertable at every sf.
    *
    * Scale posture: the only corpus-sized exchange is the uniform sha2
    * groupBy (q24's shuffle, partial-aggregated map-side); the
    * histogram RE-FOLDS from the cluster frame at cluster cardinality
    * (q100's device) and is itself ≤ max-cluster-size rows. Everything
    * is exact integers — the oracle hash-gates the report.
    */
  private val q109 = Q(
    "q109_dedup_audit",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("text"))
      base
        .unionByName(base.filter(col("doc_id") % 50 === 1)
          .select((col("doc_id") + 500000L).as("doc_id"),
            col("n_chars"), col("text")))
        .unionByName(base.filter(col("doc_id") % 100 === 51)
          .select((col("doc_id") + 700000L).as("doc_id"),
            col("n_chars"), col("text")))
        .select(sha2(col("text"), 256).as("h"), col("doc_id"),
          col("n_chars"))
        .groupBy("h")
        .agg(count(lit(1)).as("k"), sum("n_chars").as("tot"),
          min(struct(col("doc_id"), col("n_chars"))).as("keep"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_clusters"),
          sum(expr("tot - keep.n_chars")).as("chars_dropped"))
        .select(col("k").as("cluster_size"), col("n_clusters"),
          (col("k") * col("n_clusters")).as("n_docs"),
          ((col("k") - 1) * col("n_clusters")).as("n_dups"),
          col("chars_dropped"))
        .orderBy("cluster_size")
    },
    Some("""
      WITH u AS (
        SELECT doc_id, n_chars, text FROM documents
        UNION ALL
        SELECT doc_id + 500000, n_chars, text FROM documents
        WHERE doc_id % 50 = 1
        UNION ALL
        SELECT doc_id + 700000, n_chars, text FROM documents
        WHERE doc_id % 100 = 51),
      cl AS (
        SELECT sha256(text) AS h, count(*) AS k,
               CAST(sum(n_chars) AS BIGINT) AS tot,
               CAST(min_by(n_chars, doc_id) AS BIGINT) AS kept
        FROM u GROUP BY sha256(text))
      SELECT k AS cluster_size, count(*) AS n_clusters,
             CAST(k * count(*) AS BIGINT) AS n_docs,
             CAST((k - 1) * count(*) AS BIGINT) AS n_dups,
             CAST(sum(tot - kept) AS BIGINT) AS chars_dropped
      FROM cl GROUP BY k ORDER BY cluster_size
    """),
    doc = "dedup audit: cluster-size histogram of the exact-dup groups " +
      "with per-size-class char savings under q24's min-doc_id keeper " +
      "rule — one uniform sha2 exchange, histogram re-folded at " +
      "cluster cardinality")

  /** q113 — exact SUBSTRING dedup at ≥ 50-token granularity (the Lee
    * et al. "Deduplicating Training Data Makes Language Models Better"
    * operator, and the one dedup granularity between q85's fixed spans
    * and q24's whole docs): any 50-token window whose exact content
    * appears earlier in the corpus (lexicographic (doc_id, pos)) marks
    * its tokens as duplicated; overlapping / adjacent duplicated
    * windows MERGE into maximal islands, so a 60-token cross-doc repeat
    * is cut as ONE 60-token island (not eleven 50-token spans) while a
    * 40-token repeat — too short to hold any window — survives intact.
    * Output per doc: token count, island count, tokens dropped, and a
    * hash of the text rebuilt without the islands.
    *
    * The driver corpus carries no ≥ 50-token cross-doc repeats, so the
    * query plants its own (q109's device): docs with id%40=3 re-enter
    * as a donor holding the source's 60-token prefix TWICE around a
    * unique marker token (caught: two islands, 120 tokens dropped,
    * only the marker survives) and docs with id%40=7 re-enter holding
    * a 40-token prefix (kept whole: below the granularity floor).
    *
    * Plan shape: candidate→verify. Windows shuffle only their 62-bit
    * positional fingerprint (graft.expr.PosShingleHash62 — one native
    * pass per doc; 8-byte keys where the first cut shipped 32-hex
    * sha256 of a ~300-byte materialized string per window); buckets
    * with a single member are provably non-duplicate and end there;
    * colliding buckets re-derive their gram strings from a second
    * corpus pass pruned to candidate positions (per-doc position lists
    * join back 1:1) and settle first-holder by EXACT string equality —
    * q85's integer-encoded min (doc_id·10⁶ + pos; sound while docs
    * stay under 10⁶ tokens) — so the 62-bit key sizes the verify set
    * (≈ n²/2⁶³ false candidates even at 10¹² windows), never the
    * result. Island merge runs per-doc (interval union via running
    * max — q104's device) at DUP-window cardinality; the rebuild joins
    * the ≤ doc-cardinality interval lists back and cuts tokens with
    * one codegen'd HOF pass. The three corpus-scale passes (fingerprint
    * pass, candidate re-read, rebuild pass) match Lee et al.'s
    * suffix-array economics; the oracle stays the naive exact form, so
    * the hash gate proves the pruning lossless.
    */
  /** The q113/q123 window size (Lee et al.'s 50-token granularity). */
  private val W = 50

  /** The donor-planted corpus q113/q123 run over: the driver documents
    * plus (a) 60-token cross-doc repeats split by a unique separator
    * (two islands in one donor) and (b) 40-token sub-floor repeats that
    * must survive. UNPERSISTED — each consumer persists its own copy so
    * CacheScope drains per run.
    */
  private def plantedCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), words(col("text")).as("ws"))
    val don60 = base
      .filter(col("doc_id") % 40 === 3 && size(col("ws")) >= 60)
      .select((col("doc_id") + 900000L).as("doc_id"),
        concat(slice(col("ws"), 1, 60),
          array(concat(lit("zzuniq"), col("doc_id"))),
          slice(col("ws"), 1, 60)).as("ws"))
    val don40 = base
      .filter(col("doc_id") % 40 === 7 && size(col("ws")) >= 40)
      .select((col("doc_id") + 950000L).as("doc_id"),
        slice(col("ws"), 1, 40).as("ws"))
    base.unionByName(don60).unionByName(don40)
  }

  /** The shared candidate→verify front half of q113/q123 (q78's device
    * at window granularity): every window ships only its 62-bit
    * positional fingerprint (native one-pass kernel — the r14 rewrite;
    * the first cut sha256'd a ~300-byte string PER WINDOW, 50× the
    * corpus text mass through a cryptographic hash, and that dominated
    * the query). Fingerprint buckets with one member are definitionally
    * non-duplicate and never materialize a gram string; only colliding
    * buckets re-read their windows and settle on EXACT string equality,
    * so hash collisions cost verification work, never correctness.
    * Returns (docs, cg) — the persisted tokenized corpus and the
    * persisted candidate-gram frame (doc_id, pos, gram, k).
    */
  private def dupCandidates(s: org.apache.spark.sql.SparkSession,
      d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // three consumers read the tokenized frame (fingerprint pass,
    // candidate re-read, rebuild); cache it once rather than running
    // tokenize + the 3-branch union per consumer — the materialize-
    // the-tokenized-intermediate trade every shard builder makes
    // (MEMORY_AND_DISK, so at 100 TB this is a spill file, vs 3×
    // re-reading and re-splitting the raw text)
    val docs = graft.ops.CacheScope.persisted(plantedCorpus(s, d))
    val wins = docs.filter(size(col("ws")) >= W)
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graftglue.ExprGlue.column(
          graft.expr.PosShingleHash62(
            org.apache.spark.sql.graftglue.ExprGlue.expression(col("ws")),
            W))).as(Seq("pos", "h")))
    // ONE shuffle on h finds the colliding buckets (q24's window-count
    // device — an aggregate + join-back would run the fingerprint pass
    // twice)
    val candPos = wins
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") > 1)
      .groupBy("doc_id").agg(collect_list(col("pos")).as("ps"))
    val cg = graft.ops.CacheScope.persisted(
      docs.join(candPos, Seq("doc_id"))
        .select(col("doc_id"), explode(expr(
          s"transform(ps, p -> named_struct('pos', p, " +
            s"'gram', array_join(slice(ws, p + 1, $W), ' ')))")).as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"),
          col("g.gram").as("gram"))
        .withColumn("k", col("doc_id") * 1000000L + col("pos")))
    (docs, cg)
  }

  private val q113 = Q(
    "q113_substring_dedup",
    (s, d) => {
      val (docs, cg) = dupCandidates(s, d)
      val firstEx = cg.groupBy("gram").agg(min("k").as("fk"))
      val dups = cg.join(firstEx, "gram")
        .filter(col("k") =!= col("fk"))
        .select(col("doc_id"), col("pos"))
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      // interval union: window [pos, pos+W-1] fuses with the running
      // island unless it starts past the covered end + 1
      val prevMax = max(col("pos"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
      val islands = dups
        .withColumn("brk",
          when(prevMax.isNull || col("pos") > prevMax + W, 1L)
            .otherwise(0L))
        .withColumn("iid", sum(col("brk"))
          .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "iid")
        .agg(min("pos").as("s"), (max("pos") + lit(W - 1)).as("e"))
      val perDoc = islands.groupBy("doc_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(col("e") - col("s") + 1).as("n_dropped"),
          sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
      docs.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_toks"),
          coalesce(col("n_islands"), lit(0L)).as("n_islands"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          substring(sha2(array_join(expr(
            "filter(ws, (x, i) -> iv IS NULL OR " +
              "NOT exists(iv, v -> i >= v.s AND i <= v.e))"),
            " "), 256), 1, 16).as("rebuilt16"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      d60 AS (SELECT doc_id + 900000 AS doc_id,
                list_concat(list_concat(ws[1:60],
                  ['zzuniq' || CAST(doc_id AS VARCHAR)]), ws[1:60]) AS ws
              FROM t WHERE doc_id % 40 = 3 AND len(ws) >= 60),
      d40 AS (SELECT doc_id + 950000 AS doc_id, ws[1:40] AS ws
              FROM t WHERE doc_id % 40 = 7 AND len(ws) >= 40),
      u AS (SELECT * FROM t UNION ALL SELECT * FROM d60
            UNION ALL SELECT * FROM d40),
      w0 AS (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 49),
               i -> {'pos': i, 'g': substr(sha256(array_to_string(
                 ws[i+1 : i+50], ' ')), 1, 32)})) AS uu
             FROM u WHERE len(ws) >= 50),
      w AS (SELECT doc_id, CAST(uu.pos AS BIGINT) AS pos, uu.g FROM w0),
      f AS (SELECT g, min(doc_id * 1000000 + pos) AS fk FROM w GROUP BY g),
      dup AS (SELECT w.doc_id, w.pos FROM w JOIN f USING (g)
              WHERE w.doc_id * 1000000 + w.pos <> f.fk),
      br AS (SELECT doc_id, pos,
               CASE WHEN max(pos) OVER pw IS NULL
                      OR pos > max(pos) OVER pw + 50
                    THEN 1 ELSE 0 END AS brk
             FROM dup
             WINDOW pw AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      i0 AS (SELECT doc_id, pos,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
             FROM br),
      isl AS (SELECT doc_id, iid, min(pos) AS s, max(pos) + 49 AS e
              FROM i0 GROUP BY doc_id, iid),
      pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_islands,
                    CAST(sum(e - s + 1) AS BIGINT) AS n_dropped
             FROM isl GROUP BY doc_id),
      tokpos AS (SELECT doc_id, unnest(ws) AS tok,
                        generate_subscripts(ws, 1) - 1 AS p FROM u),
      kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tokpos tp
               WHERE NOT EXISTS (SELECT 1 FROM isl
                 WHERE isl.doc_id = tp.doc_id
                   AND tp.p BETWEEN isl.s AND isl.e)),
      reb AS (SELECT doc_id,
                     array_to_string(list(tok ORDER BY p), ' ') AS rt
              FROM kept GROUP BY doc_id)
      SELECT u.doc_id, CAST(len(u.ws) AS BIGINT) AS n_toks,
             coalesce(pd.n_islands, 0) AS n_islands,
             coalesce(pd.n_dropped, 0) AS n_dropped,
             substr(sha256(coalesce(reb.rt, '')), 1, 16) AS rebuilt16
      FROM u LEFT JOIN pd USING (doc_id) LEFT JOIN reb USING (doc_id)
      ORDER BY doc_id
    """),
    doc = "exact substring dedup at 50-token granularity (Lee et al.): " +
      "first occurrence wins, overlapping duplicate windows merge into " +
      "maximal islands, text rebuilt without them — fingerprint-keyed " +
      "shuffle, island merge at dup-window cardinality")

  /** q123 — most-duplicated-passages report: the top-10 exactly-repeated
    * 50-token windows across the corpus with occurrence count, distinct-
    * document spread, and the first occurrence's coordinates — the
    * dashboard a dedup team eyeballs before tuning q113's knobs (is the
    * duplication boilerplate in one source, a mirrored crawl, a license
    * header?). q109 audits EXACT-doc dedup; this audits the substring
    * layer.
    *
    * Exactness: identical passages always share their fingerprint, so
    * every truly-duplicated window is in the candidate set (no misses);
    * collision-only candidates string-count to 1 and drop at the
    * `n_occ >= 2` filter — counts settle on string equality, q113's
    * argument unchanged.
    *
    * Plan shape: the shared candidate→verify front half (one fingerprint
    * shuffle, gram strings only for colliding buckets), then a gram-
    * keyed recount at candidate cardinality and a literal top-10
    * (TakeOrderedAndProject — never a global sort of the gram frame).
    */
  private val q123 = Q(
    "q123_dup_passages",
    (s, d) => {
      val (_, cg) = dupCandidates(s, d)
      cg.groupBy("gram")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min("k").as("fk"))
        .filter(col("n_occ") >= 2)
        .select(col("gram").as("passage"), col("n_occ"), col("n_docs"),
          expr("fk div 1000000").as("first_doc"),
          expr("fk % 1000000").as("first_pos"))
        .orderBy(col("n_occ").desc, col("passage"))
        .limit(10)
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      d60 AS (SELECT doc_id + 900000 AS doc_id,
                list_concat(list_concat(ws[1:60],
                  ['zzuniq' || CAST(doc_id AS VARCHAR)]), ws[1:60]) AS ws
              FROM t WHERE doc_id % 40 = 3 AND len(ws) >= 60),
      d40 AS (SELECT doc_id + 950000 AS doc_id, ws[1:40] AS ws
              FROM t WHERE doc_id % 40 = 7 AND len(ws) >= 40),
      u AS (SELECT * FROM t UNION ALL SELECT * FROM d60
            UNION ALL SELECT * FROM d40),
      w0 AS (SELECT doc_id, unnest(list_transform(range(0, len(ws) - 49),
               i -> {'pos': i,
                     'g': array_to_string(ws[i+1 : i+50], ' ')})) AS uu
             FROM u WHERE len(ws) >= 50),
      w AS (SELECT doc_id, CAST(uu.pos AS BIGINT) AS pos, uu.g AS gram
            FROM w0),
      a AS (SELECT gram, count(*) AS n_occ,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   min(doc_id * 1000000 + pos) AS fk
            FROM w GROUP BY gram HAVING count(*) >= 2)
      SELECT gram AS passage, CAST(n_occ AS BIGINT) AS n_occ, n_docs,
             fk // 1000000 AS first_doc, fk % 1000000 AS first_pos
      FROM a ORDER BY n_occ DESC, passage LIMIT 10
    """),
    doc = "top-10 duplicated 50-token passages: shared fingerprint " +
      "candidate stage, string-exact recount, literal top-10")

  /** q142 — prefix-sharing report (round 15): the PROMPT-CACHING
    * economics readout — group documents by their first-16-token
    * prefix, and for every shared prefix (≥ 2 docs) report how many
    * documents share it and the tokens a prefix cache would save
    * ((n−1)·16 — every doc after the first reuses the cached prefix
    * KV block). Top-10 groups by share count, each row carrying the
    * corpus-level totals (groups, docs-in-groups, total saved — the
    * q119 report-as-one-frame convention). Boilerplate headers,
    * templated docs, and mirrored crawls light this up; a clean corpus
    * reads near-empty — which is itself the answer.
    *
    * Plan shape: ONE corpus tokenize folds by the prefix string
    * (map-side partials collapse template-heavy keys), cached at
    * shared-prefix cardinality; the top-10 is a literal rank bound
    * (rides TakeOrderedAndProject over the cache) and the totals are a
    * 1-row broadcast fold off the same cache. Nothing after the fold
    * is corpus-sized.
    */
  private val q142 = Q(
    "q142_prefix_sharing",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val P = 16
      val groups = graft.ops.CacheScope.persisted(
        Tables.documents(s, d)
          .select(words(col("text")).as("ws"))
          .filter(size(col("ws")) >= P)
          .select(array_join(slice(col("ws"), 1, P), " ").as("prefix"))
          .groupBy("prefix").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= 2))
      val totals = groups.agg(
        count(lit(1)).as("n_groups"),
        coalesce(sum("n_docs"), lit(0L)).as("docs_in_groups"),
        coalesce(sum(expr(s"(n_docs - 1) * $P")), lit(0L))
          .as("total_saved_toks"))
      groups
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_docs").desc, col("prefix"))).cast("long"))
        .filter(col("rank") <= 10)
        .crossJoin(broadcast(totals))
        .select(col("rank"), col("prefix"), col("n_docs"),
          expr(s"(n_docs - 1) * $P").as("saved_toks"),
          col("n_groups"), col("docs_in_groups"),
          col("total_saved_toks"))
        .orderBy("rank")
    },
    Some("""
      WITH t AS (SELECT list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      g AS (SELECT array_to_string(ws[1:16], ' ') AS prefix,
              count(*) AS n_docs
            FROM t WHERE len(ws) >= 16 GROUP BY 1 HAVING count(*) >= 2),
      tot AS (SELECT count(*) AS n_groups,
                CAST(COALESCE(sum(n_docs), 0) AS BIGINT) AS docs_in_groups,
                CAST(COALESCE(sum((n_docs - 1) * 16), 0) AS BIGINT)
                  AS total_saved_toks FROM g),
      r AS (SELECT prefix, n_docs,
              row_number() OVER (ORDER BY n_docs DESC, prefix) AS rank
            FROM g)
      SELECT CAST(rank AS BIGINT) AS rank, prefix, n_docs,
             (n_docs - 1) * 16 AS saved_toks,
             n_groups, docs_in_groups, total_saved_toks
      FROM r CROSS JOIN tot WHERE rank <= 10 ORDER BY rank
    """),
    doc = "prompt-cache prefix sharing: one prefix-keyed fold (map-side " +
      "partials), cached at shared-prefix cardinality, literal top-10 " +
      "+ 1-row totals broadcast")

  /** q182 — substring GRANULARITY sweep (round 16, the last un-swept
    * knob of the sweep family): how much duplication exists at window
    * length w ∈ {30, 40, 50, 70}? Per w: string-verified repeated
    * grams, duplicate (non-first) windows, and documents touched — the
    * curve Lee et al. tune before fixing 50.
    *
    * Unlike the other sweeps there is NO shared fingerprint prefix —
    * each length hashes different windows — so the honest one-pass form
    * tokenizes ONCE (the cached planted corpus) and runs one native
    * 62-bit fingerprint pass per length over the cache, unioned and
    * bucketed per (w, h) in one exchange: ×|lengths| fingerprint volume
    * (8 bytes/window), never ×|lengths| corpus text. Candidate→verify
    * is q113's: singleton buckets die pre-shuffle-read, colliding
    * buckets re-derive their gram strings (slice length = the row's w)
    * and settle on EXACT equality, so the counts are string-true.
    * Planted discrimination: the 60-token donors repeat at w ≤ 50, the
    * 40-token donors only at w ≤ 40, and nothing survives 70 — the
    * spec pins all three regimes.
    */
  private val q182 = Q(
    "q182_granularity_sweep",
    (s, d) => {
      import org.apache.spark.sql.graftglue.ExprGlue
      val lens = Seq(30, 40, 50, 70)
      val docs = graft.ops.CacheScope.persisted(plantedCorpus(s, d))
      // all four fingerprint passes in ONE projection over the cache
      // (the kernel returns empty below w tokens, so no length filter),
      // unpivoted by stack — a per-length union would read the cache
      // once per length
      val wins = docs
        .select(col("doc_id") +: lens.map(l =>
          ExprGlue.column(graft.expr.PosShingleHash62(
            ExprGlue.expression(col("ws")), l)).as(s"hs$l")): _*)
        .select(col("doc_id"), expr(s"stack(${lens.size}, " +
          lens.map(l => s"${l}L, hs$l").mkString(", ") + ")")
          .as(Seq("w", "hs")))
        .select(col("w"), col("doc_id"),
          posexplode(col("hs")).as(Seq("pos", "h")))
      val candPos = wins
        .withColumn("c", count(lit(1)).over(Window.partitionBy("w", "h")))
        .filter(col("c") > 1)
        .groupBy("w", "doc_id").agg(collect_list(col("pos")).as("ps"))
      val cg = docs.join(candPos, Seq("doc_id"))
        .select(col("w"), col("doc_id"), explode(expr(
          "transform(ps, p -> named_struct('pos', p, 'gram', " +
            "array_join(slice(ws, p + 1, cast(w as int)), ' ')))")).as("g"))
        .select(col("w"), col("doc_id"),
          (col("doc_id") * 1000000L + col("g.pos")).as("k"),
          col("g.gram").as("gram"))
      val firstEx = graft.ops.CacheScope.persisted(
        cg.groupBy("w", "gram")
          .agg(min("k").as("fk"), count(lit(1)).as("cnt")))
      val rg = firstEx.filter(col("cnt") >= 2)
        .groupBy("w").agg(count(lit(1)).as("n_repeat_grams"))
      val dp = cg.join(firstEx.filter(col("cnt") >= 2), Seq("w", "gram"))
        .filter(col("k") =!= col("fk"))
        .groupBy("w")
        .agg(count(lit(1)).as("n_dup_windows"),
          countDistinct(col("doc_id")).as("n_docs"))
      import s.implicits._
      val ls = lens.map(_.toLong).toDF("w")
      ls.join(broadcast(rg), Seq("w"), "left")
        .join(broadcast(dp), Seq("w"), "left")
        .select(col("w"), coalesce(col("n_repeat_grams"), lit(0L))
          .as("n_repeat_grams"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy("w")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      d60 AS (SELECT doc_id + 900000 AS doc_id,
                list_concat(list_concat(ws[1:60],
                  ['zzuniq' || CAST(doc_id AS VARCHAR)]), ws[1:60]) AS ws
              FROM t WHERE doc_id % 40 = 3 AND len(ws) >= 60),
      d40 AS (SELECT doc_id + 950000 AS doc_id, ws[1:40] AS ws
              FROM t WHERE doc_id % 40 = 7 AND len(ws) >= 40),
      u AS (SELECT * FROM t UNION ALL SELECT * FROM d60
            UNION ALL SELECT * FROM d40),
      ls AS (SELECT CAST(unnest([30, 40, 50, 70]) AS BIGINT) AS w),
      wn AS (SELECT ls.w, u.doc_id,
               unnest(CASE WHEN len(ws) >= ls.w
                 THEN list_transform(range(0, len(ws) - CAST(ls.w AS INTEGER) + 1),
                   i -> {'pos': i, 'g': array_to_string(
                     ws[i + 1 : i + CAST(ls.w AS INTEGER)], ' ')})
                 ELSE [] END) AS uu
             FROM u CROSS JOIN ls),
      w2 AS (SELECT w, doc_id, uu.g AS g,
                    doc_id * 1000000 + CAST(uu.pos AS BIGINT) AS k
             FROM wn),
      f AS (SELECT w, g, min(k) AS fk, count(*) AS cnt FROM w2 GROUP BY 1, 2),
      rg AS (SELECT w, CAST(count(*) AS BIGINT) AS n_repeat_grams
             FROM f WHERE cnt >= 2 GROUP BY w),
      dp AS (SELECT w2.w, CAST(count(*) AS BIGINT) AS n_dup_windows,
                    CAST(count(DISTINCT w2.doc_id) AS BIGINT) AS n_docs
             FROM w2 JOIN f ON w2.w = f.w AND w2.g = f.g
             WHERE f.cnt >= 2 AND w2.k <> f.fk GROUP BY 1)
      SELECT ls.w, coalesce(rg.n_repeat_grams, 0) AS n_repeat_grams,
             coalesce(dp.n_dup_windows, 0) AS n_dup_windows,
             coalesce(dp.n_docs, 0) AS n_docs
      FROM ls LEFT JOIN rg USING (w) LEFT JOIN dp USING (w)
      ORDER BY ls.w
    """),
    doc = "substring granularity sweep: one cached tokenize, one native " +
      "fingerprint pass per window length, one (w, h) bucket exchange, " +
      "string-exact verify - the dedup-granularity curve without " +
      "per-length pipeline re-runs")

  val all: Seq[Q] = Seq(q24, q25, q26, q109, q113, q123, q142, q182)
}
