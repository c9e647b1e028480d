package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.TextOps.words
import graft.expr.PolyHash
import graft.ops.SimOps

/** Extended LLM-data-pipeline pack — q27–q31 (north-star surface beyond
  * SURVEY.md §2.9's declared minimum): near-dup detection (MinHash-LSH and
  * n-gram Jaccard), language-ID heuristic, document quality scoring, and
  * vector math over embeddings.
  *
  * Scale posture: q27 is the 100 TB near-dup shape — candidates come from
  * an LSH band-bucket equi-join (shuffle on band keys), with exact Jaccard
  * verification only WITHIN candidate buckets; the corpus is never
  * all-pairs joined. q28's pairwise Jaccard is deliberately band-limited
  * (adjacent ids) for the oracle. Everything else is per-row projection.
  */
object PackText2 {

  /** q27 — MinHash-LSH near-dup candidates, ORACLE-GATED as of round 11
    * (VERDICT r10 "Next round" #1): the whole hash chain — word-trigram
    * polynomial shingles, affine-family minhash, base-B band folds — is
    * explicit integer arithmetic ([[graft.ops.SimOps]] /
    * [[graft.expr.PolyHash]], q65's device), so the DuckDB oracle
    * recomputes every signature digit for digit and the driver's
    * rows+schema+hash gate applies. Jaccard reports as exact integer
    * basis points (n_common·10⁴ div n_union) — no float in the gate.
    * A variant corpus with planted near-duplicates guarantees recall is
    * observable.
    */
  private val q27 = Q(
    "q27_minhash_lsh",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.select(col("doc_id"), lower(col("text")).as("t"))
      val planted = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(lit("near duplicate head "), lower(col("text"))).as("t"))
      // word-trigram shingles: char-grams recur across unrelated docs
      // sharing vocabulary and flood the LSH buckets with candidates
      // (measured: 4.7M candidate pairs on 5.5k docs); word shingles keep
      // buckets selective. Shingling + minhash are native one-pass kernels
      // (the interpreted HOF forms were 3.0 s of this query's 4.4 s).
      // Cache is scoped: the signature pipeline feeds three join branches,
      // and the runner drains the cache after materialization.
      val corpus = graft.ops.CacheScope.persisted(
        base.unionByName(planted)
          .withColumn("sh", SimOps.wordShingleHashes(col("t"), 3))
          .filter(size(col("sh")) > 0))
      val banded = corpus.withColumn("band",
        explode(SimOps.lshBands(
          SimOps.minhashSignature(col("sh"), 8), 4, 2)))
      val pairs = banded.select(col("doc_id"), col("band"))
        .join(banded.select(col("doc_id").as("doc_id2"), col("band")), "band")
        .filter(col("doc_id") < col("doc_id2"))
        .select("doc_id", "doc_id2").distinct()
      // n_union arithmetically (|A|+|B|−|A∩B|): both engines dedupe an
      // intersection, but union-builtin duplicate semantics differ
      pairs
        .join(corpus.select(col("doc_id"), col("sh").as("sh1")), "doc_id")
        .join(corpus.select(col("doc_id").as("doc_id2"), col("sh").as("sh2")),
          "doc_id2")
        .withColumn("n_common", size(array_intersect(col("sh1"), col("sh2"))))
        .withColumn("jaccard_bp", expr(
          "(n_common * 10000) div (size(sh1) + size(sh2) - n_common)"))
        .filter(col("jaccard_bp") >= 5000)
        .select(col("doc_id"), col("doc_id2"), col("jaccard_bp"))
        .orderBy("doc_id", "doc_id2")
    },
    Some(s"""
      WITH corpus0 AS (
        SELECT doc_id, lower(text) AS t FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, 'near duplicate head ' || lower(text) AS t
        FROM documents WHERE doc_id % 10 = 0),
      tok AS (SELECT doc_id, list_filter(string_split_regex(t, '\\W+'), x -> len(x) > 0) AS ws FROM corpus0),
      th AS (SELECT doc_id,
               list_transform(ws, tok ->
                 CAST(list_sum(list_transform(range(1, least(length(tok), 8) + 1),
                   i -> ascii(substr(tok, i, 1)) * ${PolyHash.sqlPow31}[i])) % ${PolyHash.CharMod} AS BIGINT)) AS th
             FROM tok),
      sh AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(th) - 1), i ->
                 ((th[i] * ${PolyHash.B} + th[i + 1]) % ${PolyHash.M}
                    * ${PolyHash.B} + th[i + 2]) % ${PolyHash.M})) AS sh
             FROM th WHERE len(th) >= 3),
      sig AS (SELECT doc_id, sh,
                list_transform(range(0, 8), p ->
                  list_aggregate(list_transform(sh, h ->
                    (${PolyHash.sqlA(PolyHash.MinHashOff, 8)}[p + 1] * h
                     + ${PolyHash.sqlC(PolyHash.MinHashOff, 8)}[p + 1]) % ${PolyHash.M}), 'min')) AS sig
              FROM sh WHERE len(sh) > 0),
      band AS (SELECT doc_id, unnest(list_transform(range(0, 4), b ->
                 b * ${PolyHash.M} + (sig[2 * b + 1] * ${PolyHash.B} + sig[2 * b + 2]) % ${PolyHash.M})) AS band
               FROM sig),
      pairs AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS doc_id2
                FROM band a JOIN band b ON a.band = b.band AND a.doc_id < b.doc_id),
      v AS (SELECT p.doc_id, p.doc_id2,
              CAST(len(list_intersect(s1.sh, s2.sh)) AS BIGINT) AS n_common,
              CAST(len(s1.sh) + len(s2.sh) AS BIGINT) AS n_both
            FROM pairs p
            JOIN sig s1 ON s1.doc_id = p.doc_id
            JOIN sig s2 ON s2.doc_id = p.doc_id2)
      SELECT doc_id, doc_id2,
             (n_common * 10000) // (n_both - n_common) AS jaccard_bp
      FROM v WHERE (n_common * 10000) // (n_both - n_common) >= 5000
      ORDER BY doc_id, doc_id2
    """),
    doc = "MinHash-LSH band-bucket near-dup candidates + in-bucket verify " +
      "(explicit poly/affine hash family — oracle-exact)")

  /** q28 — n-gram (3-char shingle) Jaccard similarity for adjacent doc
    * pairs, fully DuckDB-expressible.
    */
  private val q28 = Q(
    "q28_ngram_jaccard",
    (s, d) => {
      graft.expr.GraftFunctions.register(s)
      val docs = Tables.documents(s, d)
      // join the raw (capped) texts and count grams in ONE native
      // expression per pair: the composable array form materialized and
      // shuffled ~200-element string arrays per side (~1 ms/row); this
      // ships 200-char strings and emits two ints (graft.expr
      // .GramJaccardCounts).
      val t = docs.select(col("doc_id"),
        substring(col("text"), 1, 200).as("t1"))
      t.join(
        t.select((col("doc_id") - 1).as("doc_id"), col("t1").as("t2")),
        "doc_id")
        .select(col("doc_id"),
          expr("gram3_jaccard_counts(t1, t2)").as("c"))
        .select(
          col("doc_id"),
          col("c.n_common").as("n_common"),
          col("c.n_total").as("n_total"),
          expr("(c.n_common * 10000) div c.n_total").cast("int")
            .as("jaccard_bp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH c AS (SELECT doc_id, substr(text, 1, 200) AS t2 FROM documents),
      g AS (
        SELECT doc_id,
          CASE WHEN length(t2) >= 3
               THEN list_distinct(list_transform(range(1, length(t2) - 1), i -> substr(t2, i, 3)))
               ELSE cast([] AS VARCHAR[]) END AS gr
        FROM c)
      SELECT a.doc_id,
        cast(len(list_intersect(a.gr, b.gr)) AS INTEGER) AS n_common,
        cast(len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr)) AS INTEGER) AS n_total,
        cast((len(list_intersect(a.gr, b.gr)) * 10000) // (len(a.gr) + len(b.gr) - len(list_intersect(a.gr, b.gr))) AS INTEGER) AS jaccard_bp
      FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
      ORDER BY a.doc_id
    """),
    doc = "char-3-gram Jaccard for adjacent doc pairs")

  /** q29 — language-ID heuristic: marker-token voting (the n-gram
    * heuristic shape over the synthetic vocabulary; real corpora swap in
    * per-language stopword lists).
    */
  private val q29 = Q(
    "q29_lang_id",
    (s, d) => {
      val docs = Tables.documentsWide(s, d)
      // Tokenize ONCE into a materialized column: inlining the split into
      // each score expression leans on codegen subexpression elimination
      // to avoid a 3× per-row recompute; a separate Project makes the
      // single evaluation structural (CollapseProject keeps a non-cheap
      // alias referenced 3× in its own node — r3 advice).
      def score(words: Seq[String]) =
        size(array_intersect(col("toks"), array(words.map(lit): _*)))
      val s1 = score(Seq("the", "a", "fast", "slow"))
      val s2 = score(Seq("spark", "join", "merge", "sort"))
      val s3 = score(Seq("customer", "order", "line", "part"))
      docs
        .select(col("doc_id"),
          array_distinct(split(lower(col("text")), "\\W+")).as("toks"))
        .select(
          col("doc_id"),
          s1.as("s_common"), s2.as("s_query"), s3.as("s_biz"),
          when(s1 + s2 + s3 === 0, lit("und"))
            .when(s1 >= s2 && s1 >= s3, lit("common"))
            .when(s2 >= s3, lit("query"))
            .otherwise(lit("biz")).as("lang_pred"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id,
          cast(len(list_intersect(list_distinct(string_split_regex(lower(text), '\W+')), ['the', 'a', 'fast', 'slow'])) AS INTEGER) AS s_common,
          cast(len(list_intersect(list_distinct(string_split_regex(lower(text), '\W+')), ['spark', 'join', 'merge', 'sort'])) AS INTEGER) AS s_query,
          cast(len(list_intersect(list_distinct(string_split_regex(lower(text), '\W+')), ['customer', 'order', 'line', 'part'])) AS INTEGER) AS s_biz
        FROM documents)
      SELECT doc_id, s_common, s_query, s_biz,
        CASE WHEN s_common + s_query + s_biz = 0 THEN 'und'
             WHEN s_common >= s_query AND s_common >= s_biz THEN 'common'
             WHEN s_query >= s_biz THEN 'query'
             ELSE 'biz' END AS lang_pred
      FROM t ORDER BY doc_id
    """),
    doc = "language-ID heuristic via marker-token voting")

  /** q30 — document quality scoring: token count, average token length,
    * stopword ratio, composite score (training-data filtering shape).
    */
  private val q30 = Q(
    "q30_quality_score",
    (s, d) => {
      val docs = Tables.documentsWide(s, d)
      // ratio outputs as integer basis points (integer division): double
      // ratios like n_chars/n_tokens can be exact dyadic .xxxx5 rounding
      // ties where Spark's and DuckDB's round() disagree. Tokenize ONCE
      // into its own Project (same rationale as q29 — r3 advice).
      docs
        .withColumn("toks",
          words(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_stop",
          size(array_intersect(array_distinct(col("toks")),
            array(Seq("the", "a", "of", "and").map(lit): _*))))
        .select(
          col("doc_id"), col("n_tokens"),
          expr("(length(text) * 10000) div n_tokens").cast("int")
            .as("avg_len_bp"),
          expr("(n_stop * 10000) div n_tokens").cast("int").as("stop_bp"),
          expr("least(n_tokens, 100) * 50 + (n_stop * 5000) div n_tokens")
            .cast("int").as("quality"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, length(text) AS n_chars_t,
          cast(len(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS INTEGER) AS n_tokens,
          cast(len(list_intersect(list_distinct(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)), ['the', 'a', 'of', 'and'])) AS INTEGER) AS n_stop
        FROM documents)
      SELECT doc_id, n_tokens,
        cast((n_chars_t * 10000) // n_tokens AS INTEGER) AS avg_len_bp,
        cast((n_stop * 10000) // n_tokens AS INTEGER) AS stop_bp,
        cast(least(n_tokens, 100) * 50 + (n_stop * 5000) // n_tokens AS INTEGER) AS quality
      FROM t ORDER BY doc_id
    """),
    doc = "quality scoring: token stats + stopword ratio + composite")

  /** q31 — vector math over embeddings: L2 norm, Euclidean distance and
    * cosine to the next vector (adjacent-id pairs; rounded before compare).
    */
  private val q31 = Q(
    "q31_vector_ops",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
      val dist = sqrt(SimOps.fsumPublic(
        zip_with(col("e"), col("e2"),
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double")))))
      emb.join(
        emb.select((col("vec_id") - 1).as("vec_id"), col("e").as("e2")),
        "vec_id")
        .select(
          col("vec_id"),
          round(sqrt(SimOps.norm2(col("e"))), 4).as("norm_a"),
          round(dist, 4).as("l2_next"),
          round(SimOps.cosine(col("e"), col("e2")), 4).as("cos_next"))
        .orderBy("vec_id")
    },
    Some("""
      WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS e FROM embeddings)
      SELECT a.vec_id,
        round(sqrt(list_inner_product(a.e, a.e)), 4) AS norm_a,
        round(list_distance(a.e, b.e), 4) AS l2_next,
        round(list_cosine_similarity(a.e, b.e), 4) AS cos_next
      FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
      ORDER BY a.vec_id
    """),
    doc = "embedding vector math: norms, L2 distance, cosine")

  val all: Seq[Q] = Seq(q27, q28, q29, q30, q31)
}
