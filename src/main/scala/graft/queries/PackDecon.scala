package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q59–q60 — eval-safety operators (round 10): the two gates a corpus
  * build runs before any benchmark number is trusted — decontamination
  * that scales past a broadcastable eval set, and a deterministic
  * train/val/test split that needs no RNG state to reproduce.
  *
  * Both are oracle-gated. q59's bloom prefilter is engine-side-only
  * machinery: it has NO false negatives by construction, so the exact
  * confirm join behind it returns precisely the plain-join answer and
  * the DuckDB oracle stays the plain join (the sketch changes the plan,
  * never the result — same contract as q44's approx swap-in, but
  * checkable exactly).
  */
object PackDecon {

  private val M = 1 << 17 // bloom bits (16 KiB bitmap — k·n/m ≈ 0.1 at 5k grams)
  private val Words = M / 64 // 2048 bigint words
  private[graft] val K = 3 // probes per shingle

  /** Distinct 5-word shingles, one pass (q40 uses the 4-word form).
    * `private[graft]`: the streaming twin shingles identically.
    */
  private[graft] def shingles5 =
    org.apache.spark.sql.graftglue.ExprGlue.column(
      graft.expr.WordShingleStrings(
        org.apache.spark.sql.graftglue.ExprGlue.expression(
          words(col("text"))), 5))

  /** Probe i's bit position for the `sh` column — the ONE definition of
    * the hash family, which build ([[bitmapOf]] via [[pos]]) and probe
    * ([[hit]]) both derive from (VERDICT r10 cosmetic: the Column and
    * SQL-string forms used to restate the hash independently — a drift
    * risk between build and probe that shared text removes).
    * `private[graft]`: batch q59 and the streaming twin probe the SAME
    * bitmap with the SAME hash family, so neither can drift alone.
    */
  private def posSql(i: Int): String = s"pmod(xxhash64(sh, $i), $M)"

  private def pos(i: Int): Column = expr(posSql(i))

  private[graft] def hit(i: Int): Column = expr(
    s"(element_at(bm, cast(${posSql(i)} div 64 as int) + 1)" +
      s" & shiftleft(cast(1 as bigint), cast(${posSql(i)} % 64 as int))) != 0")

  /** The 1-row dense bitmap frame (`bm: array<bigint>`) for a frame of
    * distinct eval shingles in column `sh` — aggregation only, never a
    * driver-side sketch. Shared by batch q59 and the streaming twin.
    */
  private[graft] def bitmapOf(evalShingles: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    evalShingles
      .select(explode(array((1 to K).map(pos): _*)).as("pos"))
      .select(expr("pos div 64").as("w"),
        expr("shiftleft(cast(1 as bigint), cast(pos % 64 as int))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
      .agg(map_from_arrays(collect_list("w"), collect_list("bits")).as("wm"))
      .select(transform(sequence(lit(0L), lit((Words - 1).toLong)),
        i => coalesce(element_at(col("wm"), i), lit(0L))).as("bm"))

  /** q59 — bloom-prefiltered decontamination. q40's exact broadcast join
    * ships every eval shingle STRING to every executor — fine for one
    * benchmark, wrong when the eval suite is itself large (a holdout
    * corpus, all of a benchmark family). Here the eval set compresses to
    * a fixed 16 KiB bitmap (built with aggregation only — bit positions
    * → bit_or per word → one ~2048-cell array row, never a driver-side
    * sketch), the corpus probes it broadcast (k hashes per shingle, pure
    * codegen'd projection — the overwhelming majority of clean shingles
    * dies here without touching a join), and only bloom survivors reach
    * the exact confirm join that removes false positives. At 100 TB the
    * bitmap grows with log(FPR)·n_eval but never with corpus size, and
    * the confirm join's probe side is ~FPR of the corpus, so it can
    * afford a shuffle where q40's broadcast could not.
    *
    * The oracle is the PLAIN exact join: bloom filters have no false
    * negatives (every build-side bit a probe tests was set by the same
    * hash family), so prefilter + confirm ≡ exact join, row for row —
    * the gate proves the sketch path loses nothing.
    */
  private val q59 = Q(
    "q59_bloom_decon",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val eval = docs.filter(col("doc_id") < 50)
        .select(explode(shingles5).as("sh")).distinct()
      val corpus = docs.filter(col("doc_id") >= 50)
        .select(col("doc_id"), explode(shingles5).as("sh"))
      // bitmap: positions → per-word bit_or → one dense array<bigint> row
      val bitmap = bitmapOf(eval)
      val candidates = corpus
        .crossJoin(broadcast(bitmap))
        .filter((1 to K).map(hit).reduce(_ && _))
        .select(col("doc_id"), col("sh"))
      candidates
        .join(broadcast(eval), Seq("sh")) // exact confirm: kills false positives
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
               unnest(CASE WHEN len(ws) >= 5
                 THEN list_distinct(list_transform(range(1, len(ws) - 3),
                   i -> array_to_string(list_slice(ws, i, i + 4), ' ')))
                 ELSE [] END) AS sh
        FROM w),
      e AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50)
      SELECT s.doc_id, count(DISTINCT s.sh) AS n_hits
      FROM sh s JOIN e ON s.sh = e.sh
      WHERE s.doc_id >= 50
      GROUP BY s.doc_id ORDER BY s.doc_id
    """),
    doc = "decontamination via bloom prefilter + exact confirm join " +
      "(oracle = plain join: the sketch has no false negatives)")

  /** q60 — deterministic train/val/test split: bucket every document by
    * the first two hex digits of md5(doc_id) — train < 0xcc (~79.7%),
    * val < 0xe6 (~10.2%), test otherwise (~10.2%). A pure stateless
    * projection: the same document lands in the same split on any
    * cluster, any run, any engine (md5 is bit-identical everywhere),
    * which is what makes held-out data held out ACROSS corpus rebuilds —
    * the property row-number sampling and rand() both lose the moment
    * the corpus grows a row. No shuffle except the oracle's output sort;
    * at 100 TB this is a metadata-only scan stage feeding the
    * partitioned writer (`store/PartitionedStore`).
    */
  private val q60 = Q(
    "q60_split_assign",
    (s, d) => {
      val h = substring(md5(col("doc_id").cast("string")), 1, 2)
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(h < "cc", "train").when(h < "e6", "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents ORDER BY doc_id
    """),
    doc = "deterministic hash split: md5 hex buckets, stateless and " +
      "stable across corpus rebuilds")

  /** q72 — contamination SPAN report: for every (corpus doc, eval doc)
    * pair sharing ≥ 3 5-gram shingles, the total shared-shingle count AND
    * the longest run of CONSECUTIVE shared positions, reported as a token
    * span — the difference between "this doc brushed the eval set" (q40/
    * q59's per-doc hit count) and "this doc contains a verbatim 60-token
    * copy of eval item 17", which is what a decontamination review
    * actually adjudicates. Run detection is the islands-and-gaps device:
    * within a pair, `pos − row_number(order by pos)` is constant exactly
    * on consecutive-position runs.
    *
    * Scale posture: q40's — the eval side distinct-compresses and
    * broadcasts; the corpus streams through the broadcast-hash join with
    * no corpus-side shuffle before the (doc, eval) aggregation, whose
    * key cardinality is bounded by actual contamination (matched pairs),
    * not corpus size. The positional shingle array is ONE native pass
    * ([[graft.expr.WordShingleSeq]] — the distinct form destroys the
    * offsets this operator exists to aggregate); the islands window
    * partitions by (doc, eval) pair — matched positions per pair, never
    * a corpus-wide window.
    */
  private val q72 = Q(
    "q72_contam_span",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.graftglue.ExprGlue
      val shingled = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(ExprGlue.column(graft.expr.WordShingleSeq(
            ExprGlue.expression(words(col("text"))), 5))).as(Seq("pos", "sh")))
      val eval = shingled.filter(col("doc_id") < 50)
        .select(col("doc_id").as("eval_id"), col("sh")).distinct()
      val corpus = shingled.filter(col("doc_id") >= 50)
      corpus.join(broadcast(eval), Seq("sh"))
        .select(col("doc_id"), col("eval_id"), col("pos"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id", "eval_id").orderBy("pos")))
        .withColumn("grp", col("pos") - col("rn"))
        .groupBy("doc_id", "eval_id", "grp").agg(count(lit(1)).as("len"))
        .groupBy("doc_id", "eval_id")
        .agg(sum("len").as("n_shared"), (max("len") + 4).as("span_tokens"))
        .filter(col("n_shared") >= 3)
        .orderBy("doc_id", "eval_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws
        FROM documents),
      p AS (
        SELECT doc_id,
               unnest(range(1, len(ws) - 3)) AS pos,
               unnest(list_transform(range(1, len(ws) - 3),
                 i -> array_to_string(ws[i:i+4], ' '))) AS sh
        FROM w WHERE len(ws) >= 5),
      e AS (SELECT DISTINCT doc_id AS eval_id, sh FROM p WHERE doc_id < 50),
      m AS (SELECT c.doc_id, e.eval_id, c.pos
            FROM p c JOIN e USING (sh) WHERE c.doc_id >= 50),
      r AS (SELECT doc_id, eval_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id, eval_id
                                            ORDER BY pos) AS grp
            FROM m),
      g AS (SELECT doc_id, eval_id, grp, count(*) AS len
            FROM r GROUP BY 1, 2, 3)
      SELECT doc_id, eval_id, CAST(sum(len) AS BIGINT) AS n_shared,
             CAST(max(len) + 4 AS BIGINT) AS span_tokens
      FROM g GROUP BY 1, 2 HAVING sum(len) >= 3
      ORDER BY doc_id, eval_id
    """),
    doc = "contamination spans per (corpus, eval) pair: shared 5-gram " +
      "count + longest consecutive run as a token span")

  /** q87 — FUZZY decontamination: near-duplicate detection between the
    * training corpus and a (small) eval suite — the pass that catches
    * what q59's exact-shingle gate can't: an eval item that was lightly
    * rephrased, re-wrapped, or re-rendered before landing in the crawl.
    * Eval side = every 37th document with a rephrase prefix prepended
    * (near- but not exact duplicate — the q83 planted-copy device in
    * text space), so recall is observable: every planted item MUST be
    * flagged against its source document.
    *
    * Machinery is q27's oracle-proven explicit-arithmetic MinHash chain
    * (poly token hash → trigram shingles → 8-perm affine minhash → 4×2
    * band folds), but the SIDES ARE ASYMMETRIC and that is the scale
    * story: the eval suite is fixed and small, so its banded signatures
    * BROADCAST — the 100 TB corpus computes signatures in its scan
    * partitions and probes the broadcast band table with NO corpus
    * shuffle before the (candidate-sized) distinct. Exact shingle-set
    * Jaccard verify runs on candidates only (q73's contract), again
    * against the broadcast eval side.
    */
  private val q87 = Q(
    "q87_fuzzy_decon",
    (s, d) => {
      import graft.ops.SimOps
      def chain(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("sh", SimOps.wordShingleHashes(col("t"), 3))
        .filter(size(col("sh")) > 0)
        .withColumn("sig", SimOps.minhashSignature(col("sh"), 8))
      val train = graft.ops.CacheScope.persisted(chain(
        Tables.documents(s, d)
          .select(col("doc_id"), lower(col("text")).as("t"))))
      val ev = graft.ops.CacheScope.persisted(chain(
        Tables.documents(s, d).filter(col("doc_id") % 37 === 0)
          .select(col("doc_id").as("eval_id"),
            concat(lit("eval rephrase "), lower(col("text"))).as("t"))))
      val tb = train.select(col("doc_id"),
        explode(SimOps.lshBands(col("sig"), 4, 2)).as("band"))
      val eb = ev.select(col("eval_id"),
        explode(SimOps.lshBands(col("sig"), 4, 2)).as("band"))
      val cand = tb.join(broadcast(eb), "band")
        .select("doc_id", "eval_id").distinct()
      cand
        .join(train.select(col("doc_id"), col("sh").as("sh1")), "doc_id")
        .join(broadcast(ev.select(col("eval_id"), col("sh").as("sh2"))),
          "eval_id")
        .withColumn("n_common", size(array_intersect(col("sh1"), col("sh2"))))
        .withColumn("jaccard_bp", expr(
          "(n_common * 10000) div (size(sh1) + size(sh2) - n_common)"))
        .filter(col("jaccard_bp") >= 5000)
        .select(col("doc_id"), col("eval_id"), col("jaccard_bp"))
        .orderBy("doc_id", "eval_id")
    },
    Some {
      import graft.expr.PolyHash
      s"""
      WITH u AS (
        SELECT 0 AS side, doc_id AS id, lower(text) AS t FROM documents
        UNION ALL
        SELECT 1 AS side, doc_id AS id, 'eval rephrase ' || lower(text) AS t
        FROM documents WHERE doc_id % 37 = 0),
      tok AS (SELECT side, id, list_filter(string_split_regex(t, '\\W+'), x -> len(x) > 0) AS ws FROM u),
      th AS (SELECT side, id,
               list_transform(ws, tok ->
                 CAST(list_sum(list_transform(range(1, least(length(tok), 8) + 1),
                   i -> ascii(substr(tok, i, 1)) * ${PolyHash.sqlPow31}[i])) % ${PolyHash.CharMod} AS BIGINT)) AS th
             FROM tok),
      sh AS (SELECT side, id,
               list_distinct(list_transform(range(1, len(th) - 1), i ->
                 ((th[i] * ${PolyHash.B} + th[i + 1]) % ${PolyHash.M}
                    * ${PolyHash.B} + th[i + 2]) % ${PolyHash.M})) AS sh
             FROM th WHERE len(th) >= 3),
      sig AS (SELECT side, id, sh,
                list_transform(range(0, 8), p ->
                  list_aggregate(list_transform(sh, h ->
                    (${PolyHash.sqlA(PolyHash.MinHashOff, 8)}[p + 1] * h
                     + ${PolyHash.sqlC(PolyHash.MinHashOff, 8)}[p + 1]) % ${PolyHash.M}), 'min')) AS sig
              FROM sh WHERE len(sh) > 0),
      band AS (SELECT side, id, unnest(list_transform(range(0, 4), b ->
                 b * ${PolyHash.M} + (sig[2 * b + 1] * ${PolyHash.B} + sig[2 * b + 2]) % ${PolyHash.M})) AS band
               FROM sig),
      pairs AS (SELECT DISTINCT a.id AS doc_id, b.id AS eval_id
                FROM band a JOIN band b ON a.band = b.band
                WHERE a.side = 0 AND b.side = 1),
      v AS (SELECT p.doc_id, p.eval_id,
              CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_common,
              CAST(len(s1.sh) + len(s2.sh) AS BIGINT) AS n_both
            FROM pairs p
            JOIN sig s1 ON s1.id = p.doc_id AND s1.side = 0
            JOIN sig s2 ON s2.id = p.eval_id AND s2.side = 1)
      SELECT doc_id, eval_id,
             (n_common * 10000) // (n_both - n_common) AS jaccard_bp
      FROM v WHERE (n_common * 10000) // (n_both - n_common) >= 5000
      ORDER BY doc_id, eval_id
    """
    },
    doc = "fuzzy decontamination: q27's explicit MinHash chain with an " +
      "asymmetric broadcast eval side — corpus probes banded eval " +
      "signatures shuffle-free, exact Jaccard verify on candidates only")

  /** q178 — decontamination N-GRAM-LENGTH SENSITIVITY (round 16, the
    * sweep family of q175/q177 applied to the eval-safety gate): what
    * does the choice of shingle length buy? For each n in {3..7}, the
    * corpus documents that would be flagged against the eval set and
    * the number of distinct (doc, n-gram) matches — the strictness
    * curve a build reads before fixing q40/q59's gate, produced from
    * ONE corpus scan instead of five re-runs.
    *
    * One-pass device: tokenize once, emit all five shingle arrays in
    * one projection, unpivot them with `stack` (n is a literal column,
    * not a pass), explode; the eval side distinct-compresses per n and
    * BROADCASTS exactly as q59's posture demands, so the corpus never
    * shuffles to meet it and the only exchange is the final
    * 5-group aggregate. Flagged-doc counts are monotone non-increasing
    * in n by construction (every shared (n+1)-gram's constituent
    * n-grams are shared too) — the invariant the spec pins. 100 TB:
    * probe-side rows grow ×|ns| on the same scan, the eval bitmap/set
    * stays corpus-independent, and adding an n is one more stack arm.
    */
  private val q178 = Q(
    "q178_decon_ngram_sensitivity",
    (s, d) => {
      import org.apache.spark.sql.graftglue.ExprGlue
      val ns = Seq(3, 4, 5, 6, 7)
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
      def shW(n: Int) = ExprGlue.column(graft.expr.WordShingleStrings(
        ExprGlue.expression(col("ws")), n))
      val grams = tok
        .select(col("doc_id") +: ns.map(n => shW(n).as(s"sh$n")): _*)
        .select(col("doc_id"),
          expr(s"stack(${ns.length}, " +
            ns.map(n => s"$n, sh$n").mkString(", ") + ")")
            .as(Seq("n", "shs")))
        .select(col("doc_id"), col("n"), explode(col("shs")).as("sh"))
      val eval = grams.filter(col("doc_id") < 50)
        .select("n", "sh").distinct()
      grams.filter(col("doc_id") >= 50)
        .join(broadcast(eval), Seq("n", "sh"))
        .groupBy("n")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_matches"))
        .orderBy("n")
    },
    Some("""
      WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws
        FROM documents),
      ns AS (SELECT unnest([3, 4, 5, 6, 7]) AS n),
      g AS (SELECT w.doc_id, ns.n,
              unnest(CASE WHEN len(ws) >= ns.n
                THEN list_distinct(list_transform(range(1, len(ws) - ns.n + 2),
                  i -> array_to_string(list_slice(ws, i, i + ns.n - 1), ' ')))
                ELSE CAST([] AS VARCHAR[]) END) AS sh
            FROM w CROSS JOIN ns),
      e AS (SELECT DISTINCT n, sh FROM g WHERE doc_id < 50),
      c AS (SELECT g.n, g.doc_id FROM g JOIN e USING (n, sh)
            WHERE g.doc_id >= 50)
      SELECT n, count(DISTINCT doc_id) AS n_docs, count(*) AS n_matches
      FROM c GROUP BY n ORDER BY n
    """),
    doc = "decontamination n-gram-length sensitivity: one corpus scan " +
      "unpivoted over n in {3..7} via stack, broadcast eval set per n " +
      "- the gate-strictness curve without five re-runs")

  val all: Seq[Q] = Seq(q59, q60, q72, q87, q178)
}
