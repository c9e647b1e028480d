package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words

/** q56 — embedding clustering (round 10): distributed k-means, the
  * domain-balancing / topic-mixing step of a corpus build (cluster the
  * embedding space, then sample per cluster — the operator IVF ANN's
  * cell assignment (q33) borrows one iteration of).
  *
  * Scale shape is MLlib's: centroids are k tiny rows that travel
  * BROADCAST to a crossJoin (k× row amplification, never a shuffle of
  * the embeddings); the argmin is `min(struct(dist, cid))` — a plain
  * aggregate with map-side partial merge, so the assignment shuffle
  * carries ONE row per vector; the centroid update posexplodes to
  * (cid, dim) cells whose partial aggregation bounds that shuffle at
  * k·dim rows per map partition regardless of corpus size.
  *
  * Oracle parity is engineered, not hoped for: embeddings QUANTIZE to
  * integer milli-units first (deterministic double math + HALF_UP round,
  * identical in both engines), so every distance is an exact BIGINT —
  * no float-summation order traps (MEMORY oracle-parity-trapdoors).
  * Centroid updates avg exact integer sums (< 2^53, exact in double)
  * and re-round to integers, so iteration 2's inputs are also exact.
  * Ties (equal distance) break to the smaller cluster id on both sides:
  * struct ordering here, (d, cid) row_number there. The oracle unrolls
  * the two Lloyd iterations as CTEs — tractable at oracle scale, which
  * is the point.
  */
object PackCluster {

  private val K = 8

  /** Probe-cell count for the SEMDEDUP family (q83/q179): corpus size
    * div 250 cells, floored at the historical 8 — cells hold a few
    * hundred vectors at ANY scale, so the within-cell exact all-pairs
    * check stays linear in N. The r19 sf1 scaling checkpoint caught the
    * fixed K=8 making it N²/4: 78 s and 64 s of GC at 20k vectors,
    * a plan that would not survive 100×. At every driver SF the formula
    * evaluates to exactly 8, so gate hashes are unchanged; kmeans (q56)
    * keeps the fixed K — N·K is already linear there, and growing K
    * would be the quadratic. The count job is one pass over the
    * (row-bounded) embeddings table.
    */
  private def semK(base: DataFrame): Long =
    math.max(K.toLong, base.count() / 250)

  /** Integer milli-unit embeddings: exact arithmetic from here on. */
  private def quantized(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.embeddings(s, d).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("v"))

  /** Nearest centroid per vector: broadcast crossJoin (k rows) then a
    * map-side-combined argmin — one shuffled row per vector.
    */
  private def assign(q: DataFrame, c: DataFrame): DataFrame =
    q.crossJoin(broadcast(c))
      .select(col("vec_id"), col("cid"),
        aggregate(zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"))
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d").as("d"))

  /** Recompute centroids from an assignment: per-dimension integer
    * means, re-rounded to milli-units. The posexplode fan-out is bounded
    * by partial aggregation (k·dim cells per map partition); the final
    * collect_list sees k·dim rows total.
    */
  private def update(q: DataFrame, a: DataFrame): DataFrame =
    a.join(q, "vec_id")
      .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("cid", "i").agg(avg("x").as("av"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("av")))),
        s => round(s("av")).cast("long")).as("cv"))

  private val q56 = Q(
    "q56_kmeans",
    (s, d) => {
      val q = quantized(s, d)
      val c0 = q.filter(col("vec_id") < K)
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val c1 = update(q, assign(q, c0))
      assign(q, c1)
        .select(col("vec_id"), col("cid").as("cluster"), col("d").as("dist"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM q WHERE vec_id < $K),
      d1 AS (
        SELECT q.vec_id, c.cid,
               sum((q.v[g.i] - c.cv[g.i]) * (q.v[g.i] - c.cv[g.i])) AS d
        FROM q CROSS JOIN c0 c CROSS JOIN generate_series(1, 64) g(i)
        GROUP BY 1, 2),
      a1 AS (
        SELECT vec_id, cid, d FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
           FROM d1)
        WHERE rn = 1),
      c1 AS (
        SELECT cid, list(CAST(round(av) AS BIGINT) ORDER BY i) AS cv
        FROM (SELECT a1.cid, g.i, avg(q.v[g.i]) AS av
              FROM a1 JOIN q USING (vec_id)
              CROSS JOIN generate_series(1, 64) g(i)
              GROUP BY 1, 2)
        GROUP BY cid),
      d2 AS (
        SELECT q.vec_id, c.cid,
               sum((q.v[g.i] - c.cv[g.i]) * (q.v[g.i] - c.cv[g.i])) AS d
        FROM q CROSS JOIN c1 c CROSS JOIN generate_series(1, 64) g(i)
        GROUP BY 1, 2),
      a2 AS (
        SELECT vec_id, cid, d FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
           FROM d2)
        WHERE rn = 1)
      SELECT vec_id, cid AS cluster, CAST(d AS BIGINT) AS dist
      FROM a2 ORDER BY vec_id
    """),
    doc = "distributed k-means: broadcast centroids, argmin via " +
      "min(struct), exact integer milli-unit arithmetic")

  /** q57 — corpus quality gate with GLOBAL percentile thresholds: score
    * every document (integer basis points — distinct-token share plus
    * chars-per-token, both `div` exact), take the corpus-level p10/p90
    * of the score, and keep the middle of the distribution — the "drop
    * the junk and the boilerplate tails" gate a corpus build runs after
    * per-doc scoring (q30) and before tokenization.
    *
    * Plan shape this adds to the catalog: a 1-ROW global aggregate
    * broadcast back over the scored frame (BroadcastNestedLoopJoin, like
    * q49's corpus count — plan-pinned) — the two-pass "aggregate, then
    * filter by the aggregate" idiom. Exact `percentile` here for oracle
    * parity (Spark percentile ≡ DuckDB quantile_cont bit-exact, proven
    * at q42); at 100 TB the drop-in is `approx_percentile` (q44's
    * sketch), which changes no other line of the plan.
    */
  private val q57 = Q(
    "q57_quality_gate",
    (s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          words(col("text")).as("ws"))
        .select(col("doc_id"),
          expr("size(array_distinct(ws)) * 10000L div greatest(size(ws), 1)" +
            " + length(text) * 100L div greatest(size(ws), 1)").as("score"))
      val thresholds = scored.agg(
        expr("percentile(score, 0.1)").as("lo"),
        expr("percentile(score, 0.9)").as("hi"))
      scored.crossJoin(broadcast(thresholds))
        .filter(col("score") >= col("lo") && col("score") <= col("hi"))
        .select(col("doc_id"), col("score"))
        .orderBy("doc_id")
    },
    Some("""
      WITH s AS (
        SELECT doc_id,
               (CAST(len(list_distinct(ws)) AS BIGINT) * 10000)
                 // greatest(len(ws), 1)
               + (CAST(length(text) AS BIGINT) * 100) // greatest(len(ws), 1)
               AS score
        FROM (SELECT doc_id, text,
                     list_filter(string_split_regex(lower(text), '\W+'),
                       x -> len(x) > 0) AS ws
              FROM documents)),
      t AS (SELECT quantile_cont(score, 0.1) AS lo,
                   quantile_cont(score, 0.9) AS hi FROM s)
      SELECT doc_id, score FROM s, t
      WHERE score >= lo AND score <= hi ORDER BY doc_id
    """),
    doc = "global-threshold quality gate: 1-row percentile agg broadcast " +
      "back as the row filter (approx_percentile is the 100 TB swap-in)")

  /** q74 — product quantization: split each 64-dim embedding into 4
    * subspaces of 16 dims, learn a tiny per-subspace codebook (one Lloyd
    * iteration from deterministic seeds — q56's machinery, keyed by
    * subspace), and encode every vector as 4 code ids plus its total
    * quantization distortion. PQ is the MEMORY side of ANN at scale:
    * 64 floats become S small ints per vector (here 4×2 bits of id
    * space; production = 8–16 subspaces × 256 codes = 8–16 bytes), so
    * the billion-vector index fits in RAM and IVF (q33) search scans
    * codes, reconstructing distances from per-query lookup tables.
    *
    * Scale posture: codebooks are S·K tiny rows broadcast to a
    * subspace-keyed join (the embeddings never shuffle for them); the
    * per-(vector, subspace) argmin is the map-side-combined
    * `min(struct)` — the assignment shuffle carries S rows per vector;
    * the codebook update is bounded at S·K·subdim cells per map
    * partition. All arithmetic integer milli-units — every distance an
    * exact BIGINT, ties to the smaller code id (q56's parity contract).
    */
  private val S = 4       // subspaces
  private val SubDim = 16 // dims per subspace (64 / S)
  private val PQK = 4     // codes per subspace

  /** Per-(vector, subspace) slices of the quantized embeddings. */
  private def subVectors(s: org.apache.spark.sql.SparkSession, d: String) =
    quantized(s, d).select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${S - 1}), " +
        s"s -> struct(s as sub, slice(v, s * $SubDim + 1, $SubDim) as sv))"))
      .as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sv").as("sv"))

  /** Nearest codeword per (vector, subspace) against codebook `c`. */
  private def assignSub(sub: DataFrame, c: DataFrame): DataFrame =
    sub.join(broadcast(c), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cid"),
        aggregate(zip_with(col("sv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"),
        col("m.cid").as("cid"), col("m.d").as("d"))

  /** The persisted subspace frame, the learned per-subspace codebook
    * (seeds → one Lloyd update), and the final per-(vector, subspace)
    * code assignment — shared by q74 (encode) and q75 (ADC search).
    * `sub` is CacheScope-persisted: seeds, both assignment passes, the
    * codebook update, and q75's query LUT all read it — unpersisted,
    * each branch re-scans and re-explodes the embeddings.
    */
  private def pqModel(s: org.apache.spark.sql.SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val sub = graft.ops.CacheScope.persisted(subVectors(s, d))
    val c0 = sub.filter(col("vec_id") < PQK)
      .select(col("sub"), col("vec_id").as("cid"), col("sv").as("cv"))
    val c1 = assignSub(sub, c0).join(sub, Seq("vec_id", "sub"))
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy("sub", "cid", "i").agg(avg("x").as("av"))
      .groupBy("sub", "cid")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("av")))),
        t => round(t("av")).cast("long")).as("cv"))
    (sub, c1, assignSub(sub, c1))
  }

  private val q74 = Q(
    "q74_pq_encode",
    (s, d) => {
      pqModel(s, d)._3.groupBy("vec_id")
        .agg(
          max(when(col("sub") === 0, col("cid"))).as("code0"),
          max(when(col("sub") === 1, col("cid"))).as("code1"),
          max(when(col("sub") === 2, col("cid"))).as("code2"),
          max(when(col("sub") === 3, col("cid"))).as("code3"),
          sum("d").as("distortion"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings),
      sub AS (
        SELECT vec_id, s.s AS sub,
               v[s.s * $SubDim + 1 : s.s * $SubDim + $SubDim] AS sv
        FROM q CROSS JOIN generate_series(0, ${S - 1}) s(s)),
      c0 AS (SELECT sub, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < $PQK),
      d1 AS (
        SELECT t.vec_id, t.sub, c.cid,
               sum((t.sv[g.i] - c.cv[g.i]) * (t.sv[g.i] - c.cv[g.i])) AS d
        FROM sub t JOIN c0 c USING (sub)
        CROSS JOIN generate_series(1, $SubDim) g(i)
        GROUP BY 1, 2, 3),
      a1 AS (
        SELECT vec_id, sub, cid, d FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d, cid) rn FROM d1)
        WHERE rn = 1),
      c1 AS (
        SELECT sub, cid, list(CAST(round(av) AS BIGINT) ORDER BY i) AS cv
        FROM (SELECT a1.sub, a1.cid, g.i, avg(t.sv[g.i]) AS av
              FROM a1 JOIN sub t USING (vec_id, sub)
              CROSS JOIN generate_series(1, $SubDim) g(i)
              GROUP BY 1, 2, 3)
        GROUP BY sub, cid),
      d2 AS (
        SELECT t.vec_id, t.sub, c.cid,
               sum((t.sv[g.i] - c.cv[g.i]) * (t.sv[g.i] - c.cv[g.i])) AS d
        FROM sub t JOIN c1 c USING (sub)
        CROSS JOIN generate_series(1, $SubDim) g(i)
        GROUP BY 1, 2, 3),
      a2 AS (
        SELECT vec_id, sub, cid, d FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d, cid) rn FROM d2)
        WHERE rn = 1)
      SELECT vec_id,
             max(CASE WHEN sub = 0 THEN cid END) AS code0,
             max(CASE WHEN sub = 1 THEN cid END) AS code1,
             max(CASE WHEN sub = 2 THEN cid END) AS code2,
             max(CASE WHEN sub = 3 THEN cid END) AS code3,
             CAST(sum(d) AS BIGINT) AS distortion
      FROM a2 GROUP BY vec_id ORDER BY vec_id
    """),
    doc = "product quantization: per-subspace codebooks (broadcast), " +
      "4 code ids + exact distortion per vector — ANN memory compression")

  /** q75 — asymmetric-distance PQ search: top-3 neighbors per query
    * over the CODES q74 produced, never the raw vectors — the read path
    * that justifies PQ's existence. Per query: a lookup table of exact
    * partial distances to every codeword (S·K cells), then each database
    * vector's approximate distance is S table lookups summed — the ADC
    * estimate of Jégou et al.'s PQ paper, here in exact integer
    * milli-units so the oracle matches bit for bit.
    *
    * Scale posture: the LUT frame is queries × S·K rows — broadcast;
    * the database side touches only the CODE frame (S small ints per
    * vector, the 100 TB point: distance evaluation never re-reads the
    * 64-dim floats); per-query top-3 is rank-limited below the exchange
    * (WindowGroupLimit, pinned). Queries here are the 5 held-out lowest
    * ids; the database is everything else.
    */
  private val NQ = 5 // query vectors (held out of the database side)

  private val q75 = Q(
    "q75_pq_search",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val (sub, c1, a2) = pqModel(s, d)
      val lut = sub.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("sub"), col("sv"))
        .join(broadcast(c1), Seq("sub"))
        .select(col("q_id"), col("sub"), col("cid"),
          aggregate(zip_with(col("sv"), col("cv"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("pd"))
      a2.filter(col("vec_id") >= NQ)
        .select(col("vec_id"), col("sub"), col("cid"))
        .join(broadcast(lut), Seq("sub", "cid"))
        .groupBy("q_id", "vec_id").agg(sum("pd").as("adist"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("q_id").orderBy(col("adist"), col("vec_id"))))
        .filter(col("rk") <= 3)
        .select(col("q_id"), col("rk"), col("vec_id"), col("adist"))
        .orderBy("q_id", "rk")
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings),
      sub AS (
        SELECT vec_id, s.s AS sub,
               v[s.s * $SubDim + 1 : s.s * $SubDim + $SubDim] AS sv
        FROM q CROSS JOIN generate_series(0, ${S - 1}) s(s)),
      c0 AS (SELECT sub, vec_id AS cid, sv AS cv FROM sub WHERE vec_id < $PQK),
      d1 AS (
        SELECT t.vec_id, t.sub, c.cid,
               sum((t.sv[g.i] - c.cv[g.i]) * (t.sv[g.i] - c.cv[g.i])) AS d
        FROM sub t JOIN c0 c USING (sub)
        CROSS JOIN generate_series(1, $SubDim) g(i)
        GROUP BY 1, 2, 3),
      a1 AS (
        SELECT vec_id, sub, cid, d FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d, cid) rn FROM d1)
        WHERE rn = 1),
      c1 AS (
        SELECT sub, cid, list(CAST(round(av) AS BIGINT) ORDER BY i) AS cv
        FROM (SELECT a1.sub, a1.cid, g.i, avg(t.sv[g.i]) AS av
              FROM a1 JOIN sub t USING (vec_id, sub)
              CROSS JOIN generate_series(1, $SubDim) g(i)
              GROUP BY 1, 2, 3)
        GROUP BY sub, cid),
      d2 AS (
        SELECT t.vec_id, t.sub, c.cid,
               sum((t.sv[g.i] - c.cv[g.i]) * (t.sv[g.i] - c.cv[g.i])) AS d
        FROM sub t JOIN c1 c USING (sub)
        CROSS JOIN generate_series(1, $SubDim) g(i)
        GROUP BY 1, 2, 3),
      a2 AS (
        SELECT vec_id, sub, cid FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d, cid) rn FROM d2)
        WHERE rn = 1),
      lut AS (
        SELECT t.vec_id AS q_id, t.sub, c.cid,
               sum((t.sv[g.i] - c.cv[g.i]) * (t.sv[g.i] - c.cv[g.i])) AS pd
        FROM sub t JOIN c1 c USING (sub)
        CROSS JOIN generate_series(1, $SubDim) g(i)
        WHERE t.vec_id < $NQ
        GROUP BY 1, 2, 3),
      adc AS (
        SELECT l.q_id, a.vec_id, sum(l.pd) AS adist
        FROM a2 a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
        WHERE a.vec_id >= $NQ
        GROUP BY 1, 2),
      r AS (
        SELECT q_id, vec_id, adist,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adist, vec_id) AS rk
        FROM adc)
      SELECT q_id, CAST(rk AS INTEGER) AS rk, vec_id, CAST(adist AS BIGINT) AS adist
      FROM r WHERE rk <= 3 ORDER BY q_id, rk
    """),
    doc = "PQ ADC search: per-query codeword lookup tables broadcast " +
      "over the code frame; top-3 via WindowGroupLimit — distance " +
      "evaluation never re-reads the raw vectors")

  /** q83 — SEMANTIC dedup (SemDeDup, Abbas et al.): cluster the
    * embedding space, then inside each cluster drop every vector whose
    * cosine to a LOWER-ID clustermate clears the duplicate threshold —
    * the embedding-space complement of the text-side fuzzy chain (q78):
    * paraphrases and re-renders that share no n-grams still collapse to
    * the same region of embedding space. Output: every vector with its
    * cluster, the id it duplicates (−1 if none), and the keep verdict.
    *
    * The corpus plants a perturbed copy of every 25th vector (±3
    * milli-units per dimension, deterministic integer perturbation both
    * engines compute identically — q36's planted-dup device, upgraded
    * from exact copies so the threshold actually discriminates).
    *
    * Scale posture — the whole point of SemDeDup: the only pairwise work
    * is WITHIN cells (self-join on the cell id; k chosen at scale so
    * cells stay bounded — the same fan-out contract as q27's LSH
    * buckets and q67's df cap), never corpus × corpus. Pairing is
    * MULTI-PROBE: every vector pairs inside its TOP-2 nearest cells,
    * not just the argmin — a near-dup pair straddling a Voronoi
    * boundary (measured at sf0.001: a planted copy at cosine 0.9999
    * landed one cell over from its original) still meets in the second
    * probe. IVF's standard recall device (q33's probe list), costing 2×
    * the pairing work for recall the single cell provably loses; the
    * probe rank is literal-bounded so WindowGroupLimit prunes below the
    * exchange. Centroids travel broadcast (q56's machinery). Threshold
    * compare is EXACT: cos ≥ 0.95 evaluated as
    * dot > 0 ∧ dot²·10⁸ ≥ 9500²·|a|²·|b|² in decimal(38,0)/HUGEINT —
    * no sqrt, no float ties (q69's overflow posture).
    */
  private val SdBp = 9500L // cosine threshold, basis points

  private val q83 = Q(
    "q83_semdedup",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val base = quantized(s, d)
      val planted = base.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id"),
          expr("transform(v, (x, i) -> x + pmod(vec_id + i, 7) - 3)").as("v"))
        .select((col("vec_id") + 100000).as("vec_id"), col("v"))
      val corpus = graft.ops.CacheScope.persisted(base.unionByName(planted))
      val c0 = base.filter(col("vec_id") < semK(base))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val probes = corpus.crossJoin(broadcast(c0))
        .select(col("vec_id"), col("cid"),
          aggregate(zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))))
        .filter(col("rn") <= 2)
      val av = graft.ops.CacheScope.persisted(
        probes.join(corpus, "vec_id")
          .select(col("cid"), col("rn"), col("vec_id"), col("v"),
            expr("aggregate(v, cast(0 as bigint), (a, x) -> a + x * x)")
              .as("n2")))
      val dupOf = av
        .join(av.select(col("cid"), col("vec_id").as("vec_id2"),
          col("v").as("v2"), col("n2").as("n2b")), "cid")
        .filter(col("vec_id") < col("vec_id2"))
        .select(col("vec_id"), col("vec_id2"), col("n2"), col("n2b"),
          // native per-pair dot + exact 1e-8 score (q110's r13 kernels:
          // the HOF/decimal forms pay interpreted lambdas and a
          // BigDecimal per pair); cos ≥ 0.95 ⟺ sim_e8 ≥ 9500² exactly
          // (floor(x/y) ≥ t ⟺ x ≥ t·y on integers), so the verdict
          // set — and the oracle hash — is bit-identical
          org.apache.spark.sql.graftglue.ExprGlue.column(graft.expr.LongDot(
            org.apache.spark.sql.graftglue.ExprGlue.expression(col("v")),
            org.apache.spark.sql.graftglue.ExprGlue.expression(col("v2"))))
            .as("dot"))
        .filter(col("dot") > 0 &&
          org.apache.spark.sql.graftglue.ExprGlue.column(graft.expr.SimE8(
            org.apache.spark.sql.graftglue.ExprGlue.expression(col("dot")),
            org.apache.spark.sql.graftglue.ExprGlue.expression(col("n2")),
            org.apache.spark.sql.graftglue.ExprGlue.expression(col("n2b"))))
            >= lit(SdBp * SdBp))
        .groupBy("vec_id2").agg(min("vec_id").as("dup_of"))
      av.filter(col("rn") === 1).select(col("vec_id"), col("cid").as("cluster"))
        .join(dupOf.withColumnRenamed("vec_id2", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .withColumn("kept", col("dup_of") === -1L)
        .orderBy("vec_id")
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings),
      corpus AS (
        SELECT vec_id, v FROM q
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_transform(range(1, len(v) + 1),
                 i -> v[i] + (vec_id + i - 1) % 7 - 3) AS v
        FROM q WHERE vec_id % 25 = 0),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM q
             WHERE vec_id < greatest($K, (SELECT count(*) FROM embeddings) // 250)),
      dist AS (
        SELECT t.vec_id, c.cid,
               sum((t.v[g.i] - c.cv[g.i]) * (t.v[g.i] - c.cv[g.i])) AS d
        FROM corpus t CROSS JOIN c0 c CROSS JOIN generate_series(1, 64) g(i)
        GROUP BY 1, 2),
      a AS (
        SELECT vec_id, cid, rn FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
           FROM dist)
        WHERE rn <= 2),
      av AS (
        SELECT a.cid, a.rn, a.vec_id, t.v,
               list_sum(list_transform(t.v, x -> x * x)) AS n2
        FROM a JOIN corpus t USING (vec_id)),
      dup AS (
        SELECT y.vec_id AS vec_id2, min(x.vec_id) AS dup_of
        FROM av x JOIN av y ON x.cid = y.cid AND x.vec_id < y.vec_id
        WHERE list_sum(list_transform(range(1, len(x.v) + 1),
                i -> x.v[i] * y.v[i])) > 0
          AND CAST(list_sum(list_transform(range(1, len(x.v) + 1),
                i -> x.v[i] * y.v[i])) AS HUGEINT)
              * list_sum(list_transform(range(1, len(x.v) + 1),
                i -> x.v[i] * y.v[i])) * 100000000
              >= CAST($SdBp AS HUGEINT) * $SdBp * x.n2 * y.n2
        GROUP BY y.vec_id)
      SELECT av.vec_id, av.cid AS cluster,
             coalesce(dup.dup_of, -1) AS dup_of,
             coalesce(dup.dup_of, -1) = -1 AS kept
      FROM av LEFT JOIN dup ON dup.vec_id2 = av.vec_id
      WHERE av.rn = 1
      ORDER BY av.vec_id
    """),
    doc = "SemDeDup with multi-probe recall: top-2 cell assignment " +
      "(broadcast centroids), in-cell cosine near-dup pruning with " +
      "exact integer threshold compare — pairwise work bounded by " +
      "cell size, never corpus x corpus")

  /** q97 — SQ8 scalar quantization + quantized-space search: learn a
    * per-dimension [lo, hi] range over the corpus, encode every vector
    * as 64 bytes (q = (x−lo)·255 div span — 4 bytes/float becomes 1),
    * and run the top-5 nearest-neighbor search ENTIRELY in code space
    * for 4 query vectors. SQ8 is PQ's (q74/q75) simpler sibling and the
    * other standard memory-side ANN codec (FAISS's SQ8 / Lucene's
    * scalar quantizer): no codebook training, distances directly on
    * byte codes, ~4× memory down with near-exact ranking. All
    * arithmetic is exact integers after q74's milli-unit conversion,
    * so the oracle hash-gates the codec itself, not a float echo.
    *
    * Scale posture: the range learn is ONE posexplode fold that
    * partial-aggregates to 64 rows map-side (the per-dim min/max is the
    * classic mergeable stat — shard ranges combine by min/min,
    * max/max); the 1-row range-array frame broadcasts back and encoding
    * is a stateless zip_with projection — the corpus never shuffles to
    * be encoded. The CODE frame (cached: the corpus probe side and the
    * 4-row query side both read it) is what search touches — the
    * original floats are never read again (q75's contract). Top-5 per
    * query rides the literal rk ≤ 5 WindowGroupLimit.
    */
  private val q97 = Q(
    "q97_sq8_search",
    (s, d) => {
      val m = quantized(s, d)
      val e = m.select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
      val ranges = e.groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
        .agg(sort_array(collect_list(struct(col("pos"), col("lo")))).as("pl"),
          sort_array(collect_list(struct(col("pos"), col("hi")))).as("ph"))
        .select(
          expr("transform(pl, p -> p.lo)").as("los"),
          expr("transform(ph, p -> p.hi)").as("his"))
      val codes = graft.ops.CacheScope.persisted(
        m.crossJoin(broadcast(ranges))
          .select(col("vec_id"), expr(
            "zip_with(zip_with(v, los, (x, l) -> x - l)," +
              " zip_with(his, los, (h, l) -> greatest(h - l, 1L))," +
              " (dd, sp) -> dd * 255 div sp)").as("q")))
      val qs = codes.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("q").as("qv"))
      codes.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          expr("aggregate(zip_with(q, qv, (a, b) -> (a - b) * (a - b))," +
            " 0L, (acc, x) -> acc + x)").as("qdist"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("qid")
            .orderBy(col("qdist"), col("vec_id"))))
        .filter(col("rk") <= 5)
        .orderBy("qid", "rk")
    },
    Some("""
      WITH m AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v FROM embeddings),
      e AS (SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM m),
      r AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM e GROUP BY pos),
      c AS (SELECT e.vec_id, e.pos, (e.x - r.lo) * 255 // greatest(r.hi - r.lo, 1) AS q FROM e JOIN r USING (pos)),
      qd AS (SELECT a.vec_id AS qid, b.vec_id AS vec_id, CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS qdist
             FROM c a JOIN c b ON a.pos = b.pos AND a.vec_id < 4 AND b.vec_id <> a.vec_id GROUP BY 1, 2),
      t AS (SELECT qid, vec_id, qdist, row_number() OVER (PARTITION BY qid ORDER BY qdist, vec_id) AS rk FROM qd)
      SELECT qid, vec_id, qdist, CAST(rk AS INTEGER) AS rk
      FROM t WHERE rk <= 5 ORDER BY qid, rk
    """),
    doc = "SQ8 scalar quantization: 64-row mergeable range learn, " +
      "broadcast ranges, stateless byte encode, top-5 search on codes " +
      "only — PQ's no-training sibling")

  /** q100 — per-label centroid drift: for each label, the cosine between
    * its embedding centroid and the corpus-wide centroid — the
    * domain-drift / slice-health panel a multi-source corpus watches
    * (a slice whose centroid swings away from the corpus is the one to
    * re-crawl or re-weight; SemDeDup's cluster geometry as a MONITOR
    * instead of a filter). Cosine is scale-invariant, so SUM vectors
    * stand in for centroids exactly — no division before the final
    * ratio, everything integer. Output is the signed squared cosine in
    * 10⁻⁸ units (q83's no-sqrt device: sign(dot)·dot²·10⁸ div
    * (|a|²·|b|²) — float sqrt ties would differ across engines).
    *
    * Plan shape — the scale story is that a mean vector is THE
    * mergeable distributed statistic: ONE corpus scan posexplodes to
    * (label, dim) cells that partial-aggregate map-side to
    * labels×64 rows; the global vector is a re-fold of those cells
    * (64 rows, never a second corpus pass); the dim-keyed join runs at
    * cell cardinality with the global side broadcast. Shard sums
    * combine by addition — the same fold runs per-executor at 100 TB
    * and merges in one reduce. Ratio arithmetic is decimal(38,0) /
    * HUGEINT unconditionally (q69's overflow posture: dot² reaches
    * 10²⁶ already at this sf; per-dim BIGINT sums hold to ~10¹⁵
    * vectors).
    */
  private val q100 = Q(
    "q100_centroid_drift",
    (s, d) => {
      // the labels×64 cell frame is read twice (global re-fold + the dim
      // join) — cached, or the second consumer re-plans the corpus scan
      val cells = graft.ops.CacheScope.persisted(
        Tables.embeddings(s, d)
          .select(col("label"),
            transform(col("embedding"),
              x => round(x.cast("double") * 1000).cast("long")).as("v"))
          .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("label", "dim")
          .agg(sum("x").as("sv"), count(lit(1)).as("cnt")))
      val glob = cells.groupBy("dim").agg(sum("sv").as("gv"))
      cells.join(broadcast(glob), "dim")
        .groupBy("label")
        .agg(max("cnt").as("n"),
          sum(expr("cast(sv as decimal(38,0)) * gv")).as("dot"),
          sum(expr("cast(sv as decimal(38,0)) * sv")).as("na2"),
          sum(expr("cast(gv as decimal(38,0)) * gv")).as("nb2"))
        .select(col("label"), col("n"),
          expr("cast((case when dot < 0 then -1 else 1 end) * " +
            "((dot * dot * 100000000) div (na2 * nb2)) as bigint)")
            .as("cos2_e8"))
        .orderBy("label")
    },
    Some("""
      WITH m AS (SELECT label,
                   list_transform(cast(embedding AS DOUBLE[]),
                     x -> CAST(round(x * 1000) AS BIGINT)) AS v
                 FROM embeddings),
      cells AS (SELECT label, dim, CAST(sum(x) AS BIGINT) AS sv,
                       count(*) AS cnt
                FROM (SELECT label, unnest(v) AS x,
                             generate_subscripts(v, 1) - 1 AS dim FROM m)
                GROUP BY label, dim),
      gtot AS (SELECT dim, CAST(sum(sv) AS BIGINT) AS gv
               FROM cells GROUP BY dim),
      j AS (SELECT label, max(cnt) AS n,
                   sum(CAST(sv AS HUGEINT) * gv) AS dot,
                   sum(CAST(sv AS HUGEINT) * sv) AS na2,
                   sum(CAST(gv AS HUGEINT) * gv) AS nb2
            FROM cells JOIN gtot USING (dim) GROUP BY label)
      SELECT label, n,
             CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
                  ((dot * dot * 100000000) // (na2 * nb2)) AS BIGINT)
               AS cos2_e8
      FROM j ORDER BY label
    """),
    doc = "per-label centroid vs corpus centroid, signed squared cosine " +
      "in 1e-8 units: one posexplode fold to mergeable (label, dim) " +
      "sums, global vector re-folded from cells, broadcast dim join")

  /** q177 — quality-band SENSITIVITY sweep (round 16, q175's one-pass
    * multi-threshold device applied to q57's gate): for each symmetric
    * trim level {0, 5, 10, 20}%, the documents and character mass a
    * [P(p), P(1−p)] score band would keep — the budget-vs-strictness
    * curve a corpus build reads before fixing the gate, without
    * re-running the gate per candidate level.
    *
    * Plan shape: the score projects ONCE to a doc-cardinality cached
    * frame; ALL six percentile probes ride one 1-row aggregate
    * (mergeable partials — approx_percentile is the 100 TB swap-in,
    * q57's note); band membership is conditional sums in ONE pass over
    * the cached frame; the 4-row report explodes from a struct array
    * (q159's device). Adding a trim level is a column, not a pass.
    */
  private val q177 = Q(
    "q177_quality_band_sweep",
    (s, d) => {
      val scored = graft.ops.CacheScope.persisted(
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars"), col("text"),
            words(col("text")).as("ws"))
          .select(col("doc_id"), col("n_chars"),
            expr("size(array_distinct(ws)) * 10000L div greatest(size(ws), 1)" +
              " + length(text) * 100L div greatest(size(ws), 1)").as("score")))
      val thresholds = scored.agg(
        expr("percentile(score, array(0.05, 0.10, 0.20))").as("lo"),
        expr("percentile(score, array(0.95, 0.90, 0.80))").as("hi"))
      val trims = Seq(0, 500, 1000, 2000) // bp trimmed off EACH tail
      val conds = trims.flatMap { t =>
        val in =
          if (t == 0) lit(true)
          else {
            val i = trims.indexOf(t) // 1-based into the prob arrays
            col("score") >= element_at(col("lo"), i) &&
              col("score") <= element_at(col("hi"), i)
          }
        Seq(sum(when(in, 1L).otherwise(0L)).as(s"n$t"),
          sum(when(in, col("n_chars")).otherwise(0L)).as(s"c$t"))
      }
      val folded = scored.crossJoin(broadcast(thresholds))
        .agg(conds.head, conds.tail: _*)
        .withColumn("n_all", col("n0"))
      val report = trims.map(t =>
        struct(lit(t.toLong).as("trim_bp"), col(s"n$t").as("n_docs"),
          col(s"c$t").as("n_chars"),
          expr(s"n$t * 10000 div greatest(n_all, 1)").as("share_bp")))
      folded
        .select(explode(array(report: _*)).as("r"))
        .select(col("r.trim_bp"), col("r.n_docs"), col("r.n_chars"),
          col("r.share_bp"))
        .orderBy("trim_bp")
    },
    Some("""
      WITH s AS (
        SELECT doc_id, n_chars,
               (CAST(len(list_distinct(ws)) AS BIGINT) * 10000)
                 // greatest(len(ws), 1)
               + (CAST(length(text) AS BIGINT) * 100) // greatest(len(ws), 1)
               AS score
        FROM (SELECT doc_id, n_chars, text,
                     list_filter(string_split_regex(lower(text), '\W+'),
                       x -> len(x) > 0) AS ws
              FROM documents)),
      t AS (SELECT quantile_cont(score, 0.05) AS lo5,
                   quantile_cont(score, 0.95) AS hi5,
                   quantile_cont(score, 0.10) AS lo10,
                   quantile_cont(score, 0.90) AS hi10,
                   quantile_cont(score, 0.20) AS lo20,
                   quantile_cont(score, 0.80) AS hi20 FROM s),
      c AS (SELECT count(*) AS n0, CAST(sum(n_chars) AS BIGINT) AS c0,
              CAST(sum(CASE WHEN score >= lo5 AND score <= hi5
                THEN 1 ELSE 0 END) AS BIGINT) AS n500,
              CAST(sum(CASE WHEN score >= lo5 AND score <= hi5
                THEN n_chars ELSE 0 END) AS BIGINT) AS c500,
              CAST(sum(CASE WHEN score >= lo10 AND score <= hi10
                THEN 1 ELSE 0 END) AS BIGINT) AS n1000,
              CAST(sum(CASE WHEN score >= lo10 AND score <= hi10
                THEN n_chars ELSE 0 END) AS BIGINT) AS c1000,
              CAST(sum(CASE WHEN score >= lo20 AND score <= hi20
                THEN 1 ELSE 0 END) AS BIGINT) AS n2000,
              CAST(sum(CASE WHEN score >= lo20 AND score <= hi20
                THEN n_chars ELSE 0 END) AS BIGINT) AS c2000
            FROM s CROSS JOIN t)
      SELECT CAST(0 AS BIGINT) AS trim_bp, n0 AS n_docs, c0 AS n_chars,
             n0 * 10000 // greatest(n0, 1) AS share_bp FROM c
      UNION ALL SELECT 500, n500, c500, n500 * 10000 // greatest(n0, 1)
        FROM c
      UNION ALL SELECT 1000, n1000, c1000, n1000 * 10000 // greatest(n0, 1)
        FROM c
      UNION ALL SELECT 2000, n2000, c2000, n2000 * 10000 // greatest(n0, 1)
        FROM c
      ORDER BY trim_bp
    """),
    doc = "quality-band sensitivity: one cached doc-cardinality score " +
      "frame, six percentile probes in one 1-row aggregate, band " +
      "membership as conditional sums in one pass — the gate-tuning " +
      "curve without per-level re-runs")

  /** q179 — SemDeDup THRESHOLD SENSITIVITY (round 16, the q175/q177/
    * q178 sweep family applied to q83's cosine bar): for each candidate
    * threshold {9000, 9300, 9500, 9700, 9900} bp, the in-cell pairs
    * that would flag and the vectors that would be DROPPED — the
    * semantic-dedup budget curve read before fixing the 0.95 bar,
    * produced from ONE pairing pass instead of five re-runs of q83.
    *
    * Plan shape: q83's corpus (planted perturbed copies included),
    * top-2 multi-probe assignment, and in-cell pairing run ONCE; the
    * exact signed integer score ([[graft.expr.SimE8]] — sign(dot)
    * carries, so negative-cosine pairs fail every bar with no extra
    * guard) projects per pair-INSTANCE and a (vec_id, vec_id2) max
    * fold collapses the two probe cells' copies of a pair; both
    * readouts fold from that cached pair frame — pair counts as five
    * conditional sums, dropped-vector counts via the per-victim MAX
    * fold (q175's doc-max device: "dropped at t" = max sim over
    * lower-id clustermates ≥ t²). Thresholds are literals; adding one
    * is a column, not a pass. 100 TB: identical to q83 — pairwise work
    * never leaves the cell key, and the sweep adds only
    * pair-cardinality arithmetic on top.
    */
  private val q179 = Q(
    "q179_semdedup_sensitivity",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.graftglue.ExprGlue
      val base = quantized(s, d)
      // GRADED plants: amplitude 3 + 22·(plantIndex mod 6) ∈ {3..113}
      // milli-units against unit-norm (n2 ≈ 10⁶) vectors spreads the
      // planted cosines across ~0.75–0.9999, so every bar in the sweep
      // separates somewhere — q83's fixed ±3 plant passes ALL bars and
      // would make the curve flat (measured at sf0.001)
      val planted = base.filter(col("vec_id") % 25 === 0)
        .withColumn("amp", expr("3 + 22 * pmod(vec_id div 25, 6)"))
        .select(col("vec_id"),
          expr("transform(v, (x, i) -> x + pmod(vec_id + i, 2*amp + 1) - amp)")
            .as("v"))
        .select((col("vec_id") + 100000).as("vec_id"), col("v"))
      val corpus = graft.ops.CacheScope.persisted(base.unionByName(planted))
      val c0 = base.filter(col("vec_id") < semK(base))
        .select(col("vec_id").as("cid"), col("v").as("cv"))
      val probes = corpus.crossJoin(broadcast(c0))
        .select(col("vec_id"), col("cid"),
          aggregate(zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("dist"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))))
        .filter(col("rn") <= 2)
      val av = graft.ops.CacheScope.persisted(
        probes.join(corpus, "vec_id")
          .select(col("cid"), col("vec_id"), col("v"),
            expr("aggregate(v, cast(0 as bigint), (a, x) -> a + x * x)")
              .as("n2")))
      val sims = graft.ops.CacheScope.persisted(av
        .join(av.select(col("cid"), col("vec_id").as("vec_id2"),
          col("v").as("v2"), col("n2").as("n2b")), "cid")
        .filter(col("vec_id") < col("vec_id2"))
        .select(col("vec_id"), col("vec_id2"),
          ExprGlue.column(graft.expr.SimE8(
            ExprGlue.expression(ExprGlue.column(graft.expr.LongDot(
              ExprGlue.expression(col("v")),
              ExprGlue.expression(col("v2"))))),
            ExprGlue.expression(col("n2")),
            ExprGlue.expression(col("n2b")))).as("sim"))
        // a boundary-straddling pair meets in BOTH probe cells: collapse
        // the instances (same exact score) to one pair row
        .groupBy("vec_id", "vec_id2").agg(max("sim").as("sim")))
      val ths = Seq(9000L, 9300L, 9500L, 9700L, 9900L)
      val pairCols = ths.map(t =>
        sum(when(col("sim") >= t * t, 1L).otherwise(0L)).as(s"p$t"))
      val pairRow = sims.agg(pairCols.head, pairCols.tail: _*)
      val dropCols = ths.map(t =>
        sum(when(col("mx") >= t * t, 1L).otherwise(0L)).as(s"d$t"))
      val dropRow = sims.groupBy("vec_id2").agg(max("sim").as("mx"))
        .agg(dropCols.head, dropCols.tail: _*)
      val report = ths.map(t =>
        struct(lit(t).as("threshold_bp"),
          col(s"p$t").as("n_pairs"), col(s"d$t").as("n_dropped")))
      pairRow.crossJoin(broadcast(dropRow))
        .select(explode(array(report: _*)).as("r"))
        .select(col("r.threshold_bp"), col("r.n_pairs"), col("r.n_dropped"))
        .orderBy("threshold_bp")
    },
    Some(s"""
      WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings),
      corpus AS (
        SELECT vec_id, v FROM q
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_transform(range(1, len(v) + 1),
                 i -> v[i] + (vec_id + i - 1) % (2 * amp + 1) - amp) AS v
        FROM (SELECT vec_id, v, 3 + 22 * ((vec_id // 25) % 6) AS amp
              FROM q WHERE vec_id % 25 = 0)),
      c0 AS (SELECT vec_id AS cid, v AS cv FROM q
             WHERE vec_id < greatest($K, (SELECT count(*) FROM embeddings) // 250)),
      dist AS (
        SELECT t.vec_id, c.cid,
               sum((t.v[g.i] - c.cv[g.i]) * (t.v[g.i] - c.cv[g.i])) AS d
        FROM corpus t CROSS JOIN c0 c CROSS JOIN generate_series(1, 64) g(i)
        GROUP BY 1, 2),
      a AS (
        SELECT vec_id, cid FROM
          (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) rn
           FROM dist)
        WHERE rn <= 2),
      av AS (
        SELECT a.cid, a.vec_id, t.v,
               list_sum(list_transform(t.v, x -> x * x)) AS n2
        FROM a JOIN corpus t USING (vec_id)),
      p AS (
        SELECT x.vec_id, y.vec_id AS vec_id2,
               CAST(list_sum(list_transform(range(1, len(x.v) + 1),
                 i -> x.v[i] * y.v[i])) AS HUGEINT) AS dot,
               CAST(x.n2 AS HUGEINT) AS na2, CAST(y.n2 AS HUGEINT) AS nb2
        FROM av x JOIN av y ON x.cid = y.cid AND x.vec_id < y.vec_id),
      ps AS (
        SELECT vec_id, vec_id2,
               max(CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
                 ((dot * dot * 100000000) // (na2 * nb2)) AS BIGINT)) AS sim
        FROM p GROUP BY 1, 2),
      th AS (SELECT CAST(unnest([9000, 9300, 9500, 9700, 9900]) AS BIGINT)
               AS threshold_bp),
      pc AS (SELECT th.threshold_bp,
               CAST(sum(CASE WHEN ps.sim >= th.threshold_bp * th.threshold_bp
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
             FROM th CROSS JOIN ps GROUP BY 1),
      mx AS (SELECT vec_id2, max(sim) AS mx FROM ps GROUP BY 1),
      dc AS (SELECT th.threshold_bp,
               CAST(sum(CASE WHEN mx.mx >= th.threshold_bp * th.threshold_bp
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
             FROM th CROSS JOIN mx GROUP BY 1)
      SELECT threshold_bp, n_pairs, n_dropped
      FROM pc JOIN dc USING (threshold_bp) ORDER BY threshold_bp
    """),
    doc = "SemDeDup threshold sensitivity: q83's multi-probe in-cell " +
      "pairing run once, exact signed integer scores, five conditional " +
      "sums + a per-victim max fold - the cosine-bar tuning curve " +
      "without five re-runs")

  val all: Seq[Q] = Seq(q56, q57, q74, q75, q83, q97, q100, q177, q179)
}
