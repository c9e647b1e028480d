package graft.queries

import org.apache.spark.sql.functions._
import graft.ops.TextOps.words
import graft.ops.SimOps

/** q35/q36 — the remaining near-dup modalities (north-star dedup family:
  * exact q24, MinHash-LSH q27, n-gram Jaccard q28, SimHash q35,
  * embedding-cosine q36). Both ORACLE-GATED as of round 11 (VERDICT r10
  * "Next round" #1): the signatures run on the explicit-arithmetic
  * affine/polynomial hash family ([[graft.expr.PolyHash]], q65's
  * device), which both engines compute exactly.
  */
object PackDedup2 {

  import graft.expr.PolyHash

  /** q35 — SimHash near-dup: 48-bit per-token-bit majority signature
    * over the affine-parity family ([[graft.expr.SimHashPoly]]; 48 not
    * 64 so the oracle's bit-weight sums stay inside a signed BIGINT —
    * DuckDB errors on overflow), hamming distance over adjacent doc
    * pairs, near-dup flag at ≤ 9 of 48 bits (the r10 threshold 12/64,
    * scaled). Per-row projection + one equi-join; the signature is 8
    * bytes per document however long the text — the classic web-scale
    * dedup fingerprint.
    */
  private val q35 = Q(
    "q35_simhash",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val sig = docs
        .withColumn("ws",
          words(col("text")))
        .select(col("doc_id"), SimOps.simhashPoly(col("ws")).as("sig"))
      sig.join(
        sig.select((col("doc_id") - 1).as("doc_id"), col("sig").as("sig2")),
        "doc_id")
        .select(
          col("doc_id"),
          bit_count(col("sig").bitwiseXOR(col("sig2"))).as("hamming"))
        .withColumn("near_dup", col("hamming") <= 9)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH tok AS MATERIALIZED (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> len(x) > 0) AS ws FROM documents),
      th AS MATERIALIZED (SELECT doc_id,
               list_transform(ws, tok ->
                 CAST(list_sum(list_transform(range(1, least(length(tok), 8) + 1),
                   i -> ascii(substr(tok, i, 1)) * ${PolyHash.sqlPow31}[i])) % ${PolyHash.CharMod} AS BIGINT)) AS th
             FROM tok),
      sig AS MATERIALIZED (SELECT doc_id,
                CAST(coalesce(list_sum(list_transform(range(0, 48), b ->
                  CASE WHEN 2 * len(list_filter(th, h ->
                         ((${PolyHash.sqlA(PolyHash.SimHashOff, 48)}[b + 1] * h
                           + ${PolyHash.sqlC(PolyHash.SimHashOff, 48)}[b + 1]) % ${PolyHash.M}) % 2 = 1))
                       > len(th)
                  THEN 1::BIGINT << b ELSE 0 END)), 0) AS BIGINT) AS sig
              FROM th)
      SELECT a.doc_id,
             CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming,
             bit_count(xor(a.sig, b.sig)) <= 9 AS near_dup
      FROM sig a JOIN sig b ON b.doc_id = a.doc_id + 1
      ORDER BY a.doc_id
    """),
    doc = "SimHash-48 fingerprints + hamming distance for adjacent pairs " +
      "(affine-parity bit family — oracle-exact)")

  /** q36 — embedding-cosine near-dup via sign-LSH: 32-plane signature
    * over QUANTIZED embeddings and deterministic ±1 planes
    * ([[graft.expr.QuantSignSig]]; was driver-seeded Gaussian planes in
    * r10 — same sign-LSH collision geometry, but integer dot products
    * both engines compute exactly), bucketed by 4 bands × 8 bits — a
    * true near-dup that flips a few signature bits still shares every
    * clean band, fixing r2's full-signature recall cliff. Cosine is
    * verified only within candidate buckets — never an all-pairs join
    * over the corpus — and reported rounded to 4 decimals (the q31
    * device: float cosine round-parity is proven there). Cache is
    * scoped: the runner drains it after materialization.
    */
  private val q36 = Q(
    "q36_cosine_neardup",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("e"))
      val planted = emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("e"))
      val corpus = graft.ops.CacheScope.persisted(
        emb.unionByName(planted)
          .withColumn("sig", SimOps.quantSignSig(col("e"))))
      val banded = corpus.select(col("vec_id"), col("sig"),
        explode(SimOps.intSigBands(col("sig"), 4, 8)).as("band"))
      // hamming prefilter before the exact verify: cosine >= 0.95 flips an
      // expected ~3 of 32 sign bits, so <= 10 keeps recall while dropping
      // ~2/3 of the band-collision noise on a single integer op instead of
      // a dot product per pair
      val pairs = banded
        .join(banded.select(col("vec_id").as("vec_id2"),
          col("sig").as("sig2"), col("band")), "band")
        .filter(col("vec_id") < col("vec_id2") &&
          bit_count(col("sig").bitwiseXOR(col("sig2"))) <= 10)
        .select("vec_id", "vec_id2").distinct()
      pairs
        .join(corpus.select(col("vec_id"), col("e")), "vec_id")
        .join(corpus.select(col("vec_id").as("vec_id2"), col("e").as("e2")),
          "vec_id2")
        .withColumn("cos", round(SimOps.cosine(col("e"), col("e2")), 4))
        .filter(col("cos") >= 0.95)
        .select(col("vec_id"), col("vec_id2"), col("cos"))
        .orderBy("vec_id", "vec_id2")
    },
    Some(s"""
      WITH e0 AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      corpus AS (
        SELECT vec_id, e FROM e0
        UNION ALL
        SELECT vec_id + 100000 AS vec_id, e FROM e0 WHERE vec_id % 25 = 0),
      q AS (SELECT vec_id, e,
              list_transform(e, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS qv
            FROM corpus),
      sig AS MATERIALIZED (SELECT vec_id, e,
                CAST(list_sum(list_transform(range(0, 32), j ->
                  CASE WHEN list_sum(list_transform(range(1, len(qv) + 1), k ->
                         qv[k] * (CASE WHEN (${PolyHash.sqlA(PolyHash.PlaneOff, 32)}[j + 1] * k
                                            + ${PolyHash.sqlC(PolyHash.PlaneOff, 32)}[j + 1]) % ${PolyHash.M} % 2 = 1
                                  THEN 1 ELSE -1 END))) > 0
                  THEN 1::BIGINT << j ELSE 0 END)) AS BIGINT) AS sig
              FROM q),
      band AS MATERIALIZED (SELECT vec_id, sig, unnest(list_transform(range(0, 4), b ->
                 b * 256 + ((sig >> (b * 8)) & 255))) AS band
               FROM sig),
      pairs AS (SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS vec_id2
                FROM band a JOIN band b
                  ON a.band = b.band AND a.vec_id < b.vec_id
                     AND bit_count(xor(a.sig, b.sig)) <= 10),
      v AS (SELECT p.vec_id, p.vec_id2,
              round(list_cosine_similarity(c1.e, c2.e), 4) AS cos
            FROM pairs p
            JOIN sig c1 ON c1.vec_id = p.vec_id
            JOIN sig c2 ON c2.vec_id = p.vec_id2)
      SELECT vec_id, vec_id2, cos FROM v WHERE cos >= 0.95
      ORDER BY vec_id, vec_id2
    """),
    doc = "cosine near-dup: banded sign-LSH buckets over quantized " +
      "embeddings + in-bucket verify (oracle-exact signatures)")

  /** q37 — token counting, whitespace vs BPE-ish: the GPT-2-style
    * pre-tokenizer regex (contractions, letter runs, digit runs,
    * punctuation runs, each with optional leading space) counted per
    * document next to plain whitespace tokens — the cost-estimation
    * primitive of an LLM data pipeline. Same regex in both engines; ratio
    * as integer basis points (rounding-tie-proof).
    */
  private val q37 = Q(
    "q37_token_count",
    (s, d) => {
      val bpe = "'(?:[sdmt]|ll|ve|re)| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
      // documentsWide: the double-tokenizer regex pass is the 1-task
      // stage the size-gated scan spread parallelizes (round 21)
      val docs = Tables.documentsWide(s, d)
      val bpeToks = filter(
        regexp_extract_all(col("text"), lit(bpe), lit(0)),
        t => trim(t) =!= "")
      val wsToks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
      docs
        .select(col("doc_id"), length(col("text")).as("n_chars_t"),
          size(bpeToks).as("n_bpe"), size(wsToks).as("n_ws"))
        .select(col("doc_id"), col("n_bpe"), col("n_ws"),
          expr("(n_chars_t * 10000) div n_bpe").cast("int")
            .as("chars_per_tok_bp"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, length(text) AS n_chars_t,
          cast(len(list_filter(regexp_extract_all(text, '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'), x -> trim(x) != '')) AS INTEGER) AS n_bpe,
          cast(len(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS INTEGER) AS n_ws
        FROM documents)
      SELECT doc_id, n_bpe, n_ws,
             cast((n_chars_t * 10000) // n_bpe AS INTEGER) AS chars_per_tok_bp
      FROM t ORDER BY doc_id
    """),
    doc = "token counting: whitespace vs BPE-ish pre-tokenizer regex")

  val all: Seq[Q] = Seq(q35, q36, q37)
}
