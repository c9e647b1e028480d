package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words
import graft.ops.GraphOps

/** q48–q55 — corpus-construction pack (round 5): the operators a 100 TB
  * training-data build runs between "raw crawl" and "tokenized shards" —
  * duplicate-cluster resolution, term weighting, PII scrubbing,
  * repetition filtering, chunking, index construction, incremental corpus
  * refresh, and deterministic training-order mixing. All oracle-gated;
  * every ratio is integer basis points (float ties differ across engines
  * — MEMORY oracle-parity-trapdoors).
  */
object PackCorpus {

  /** q48 — connected-components dedup clustering: documents sharing an
    * identical 2-token prefix or suffix are dup candidates (the blocking
    * key every fuzzy-dedup pass starts from); a component is one dup
    * cluster and `comp` (its min doc_id) the canonical document. Solved
    * by GraphOps.connectedComponentsByKey's contract-then-solve: one
    * alternation level over the bucketing, contraction to the label
    * graph, then a size-gated single-task union-find finish (or the
    * pointer-jumping edge CC when the contracted graph is still big —
    * the 100 TB path). The oracle computes the same fixpoint as a
    * recursive transitive closure — tractable only at oracle scale,
    * which is the point: the Spark side is the shape that survives
    * 100 TB, the closure is the spec.
    */
  private val q48 = Q(
    "q48_cc_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val t = docs.select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 4)
      val keyed = t.select(col("doc_id").as("id"),
        explode(array(
          concat(lit("p:"), concat_ws(" ", slice(col("ws"), 1, 2))),
          concat(lit("s:"), concat_ws(" ", slice(col("ws"), -2, 2)))))
          .as("key"))
      val (lbl, _) = GraphOps.connectedComponentsByKey(keyed)
      docs.select(col("doc_id"))
        .join(lbl.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("comp")) // unkeyed docs
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE
      t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      k AS (SELECT doc_id, 'p:' || array_to_string(ws[1:2], ' ') AS key FROM t WHERE len(ws) >= 4
            UNION ALL
            SELECT doc_id, 's:' || array_to_string(ws[-2:], ' ') AS key FROM t WHERE len(ws) >= 4),
      s AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY key) AS b FROM k),
      e0 AS (SELECT doc_id AS a, b FROM s WHERE doc_id <> b),
      e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      r(src, dst) AS (SELECT doc_id, doc_id FROM documents
                      UNION
                      SELECT r.src, e.b FROM r JOIN e ON r.dst = e.a)
      SELECT src AS doc_id, min(dst) AS comp FROM r GROUP BY src ORDER BY doc_id
    """),
    doc = "connected-components dup clustering (hash-min propagation vs recursive-closure oracle)")

  /** q49 — TF-IDF-style term weighting, top-3 terms per document. The
    * weight is the exactly-representable integer `tf · ((N·10000) div df)`
    * (df-normalized term weight in basis points): monotone in tf and
    * 1/df like the log form, but free of cross-engine libm drift — the
    * ranking the gate hashes is bit-deterministic. The per-term factor is
    * reduced BEFORE the tf multiply so the int64 bound is
    * tf · (N·10⁴/df) — for any term with df ≥ N/10⁵ (every non-hapax at
    * corpus scale) the factor is ≤10⁹ and tf has ~9×10⁹ of headroom;
    * only a df=1 term inside a ~10⁹-token doc could overflow, vs the
    * unreduced tf·N·10⁴ which wraps at tf·N ≈ 9×10¹⁴ regardless of df
    * (ADVICE r6). N arrives as a broadcast 1-row frame (never a driver
    * collect).
    *
    * The tf⋈df join key is the raw token — the single most skewed key a
    * corpus owns (a stopword's tf rows are a constant fraction of ALL
    * rows). Routed through [[graft.ops.SkewOps.saltedJoin]]: the df side
    * is replicated `salts` ways and the hot token's probe rows fan out
    * across `salts` reducers, bounding any one task at 1/salts of the
    * hot key no matter how degenerate the corpus (see the single-token
    * corpus test in PackCorpusSpec).
    */
  private val q49 = Q(
    "q49_tfidf",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val ex = docs.select(col("doc_id"),
        explode(words(col("text"))).as("token"))
      val tf = ex.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = ex.groupBy("token").agg(countDistinct("doc_id").as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("w_bp").desc, col("token"))
      graft.ops.SkewOps.saltedJoin(tf, df, "token", salts = 8)
        .crossJoin(broadcast(n))
        .withColumn("w_bp", expr("tf * ((n_docs * 10000) div df)"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("token"), col("tf"),
          col("df"), col("w_bp"))
        .orderBy("doc_id", "rk")
    },
    Some("""
      WITH ex AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS token FROM documents),
      tf AS (SELECT doc_id, token, count(*) AS tf FROM ex GROUP BY doc_id, token),
      df AS (SELECT token, count(DISTINCT doc_id) AS df FROM ex GROUP BY token),
      n AS (SELECT count(*) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df, cast(tf.tf * ((n.n_docs * 10000) // df.df) AS BIGINT) AS w_bp FROM tf JOIN df USING (token) CROSS JOIN n),
      rk AS (SELECT *, cast(row_number() OVER (PARTITION BY doc_id ORDER BY w_bp DESC, token) AS INTEGER) AS rk FROM sc)
      SELECT doc_id, rk, token, cast(tf AS BIGINT) AS tf, cast(df AS BIGINT) AS df, w_bp
      FROM rk WHERE rk <= 3 ORDER BY doc_id, rk
    """),
    doc = "per-doc top-3 terms by integer-scaled df-normalized weight, skew-salted tf⋈df")

  /** q50 — PII detection + redaction: emails, NANP phone numbers, card
    * numbers (Luhn-validated), IBAN-shaped account ids, IPv4 addresses,
    * and long digit runs found and masked per document. The testdata
    * carries no PII, so each row gets a deterministic synthetic suffix
    * first — the patterns then hit a known number of times each, which
    * the count columns prove. The synthetic email id is bounded to
    * `doc_id % 10⁶` (≤6 digits) so it can never itself grow an 8-digit
    * run and perturb `n_id` at corpus-scale ids (ADVICE r6); the card /
    * IBAN / IP shapes interleave letters and separators so their digit
    * runs stay ≤4 and all seven patterns are pairwise disjoint on the
    * raw text. Each row carries TWO card-shaped candidates — one passing
    * Luhn, one off-by-one — so `n_cc_valid` (a checksum HOF over the
    * extracted candidates: Spark's codegen'd `luhn_check`, an integer
    * `list_transform`/`list_sum` fold on the oracle side) proves the
    * validator does real filtering rather than re-counting the shape
    * match. Patterns stay inside the Java-regex ∩ RE2 common subset
    * (char classes, bounded repetition — no lookaround) so Spark and the
    * oracle match byte-for-byte. Pure projection: embarrassingly
    * parallel, codegen'd, no shuffle before the output sort.
    */
  private val q50 = Q(
    "q50_pii_redact",
    (s, d) => {
      val email = "[a-z0-9._]+@[a-z0-9.-]+"
      val phone = "\\+1-[0-9]{3}-[0-9]{4}"
      val cc    = "[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}"
      val iban  = "[A-Z]{2}[0-9]{2}[A-Z0-9]{12,30}"
      val ipv4  = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
      val idnum = "[0-9]{8,}"
      // 16-digit card 4111-1111-1111-1{d14}{d15}{chk}: with the 13 fixed
      // leading digits, the Luhn sum of the first 15 digits is
      // 26 + d14 + dbl(d15), so chk closes it mod 10 — and chk+1 is the
      // per-row near-miss that must FAIL validation
      val d14 = (col("doc_id") * 3) % 10
      val d15 = (col("doc_id") * 7) % 10
      val dbl15 = when(d15 >= 5, d15 * 2 - 9).otherwise(d15 * 2)
      val chk = (lit(10) - ((lit(26) + d14 + dbl15) % 10)) % 10
      def ccNum(last: org.apache.spark.sql.Column) =
        concat(lit("4111-1111-1111-1"), d14.cast("string"),
          d15.cast("string"), last.cast("string"))
      Tables.documents(s, d)
        .withColumn("raw", concat(
          col("text"), lit(" contact user"),
          (col("doc_id") % 1000000).cast("string"),
          lit("@mail.example.com or +1-415-"),
          lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
          lit(" ref "),
          (lit(10000000L) + (col("doc_id") * 1000003L) % 90000000L)
            .cast("string"),
          lit(" card "), ccNum(chk), lit(" or "), ccNum((chk + 1) % 10),
          lit(" iban GB"),
          lpad(((col("doc_id") * 13) % 100).cast("string"), 2, "0"),
          lit("NWBK"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit("OK"),
          lpad(((col("doc_id") * 17) % 10000).cast("string"), 4, "0"),
          lit(" ip 10."), (col("doc_id") % 256).cast("string"), lit("."),
          ((col("doc_id") * 3) % 256).cast("string"), lit("."),
          ((col("doc_id") * 7) % 256).cast("string")))
        .select(col("doc_id"),
          regexp_count(col("raw"), lit(email)).as("n_email"),
          regexp_count(col("raw"), lit(phone)).as("n_phone"),
          regexp_count(col("raw"), lit(cc)).as("n_cc"),
          expr(s"size(filter(regexp_extract_all(raw, '$cc', 0), " +
            "c -> luhn_check(replace(c, '-', ''))))").as("n_cc_valid"),
          regexp_count(col("raw"), lit(iban)).as("n_iban"),
          regexp_count(col("raw"), lit(ipv4)).as("n_ip"),
          regexp_count(col("raw"), lit(idnum)).as("n_id"),
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(regexp_replace(col("raw"),
              email, "<EMAIL>"), phone, "<PHONE>"), cc, "<CC>"),
            iban, "<IBAN>"), ipv4, "<IP>"), idnum, "<ID>").as("red"))
        .orderBy("doc_id")
    },
    Some("""
      WITH p AS (SELECT doc_id, text || ' contact user' || (doc_id % 1000000) || '@mail.example.com or +1-415-' || lpad(cast((doc_id * 7) % 10000 AS VARCHAR), 4, '0') || ' ref ' || cast(10000000 + (doc_id * 1000003) % 90000000 AS VARCHAR)
        || ' card 4111-1111-1111-1' || ((doc_id * 3) % 10) || ((doc_id * 7) % 10) || ((10 - ((26 + (doc_id * 3) % 10 + CASE WHEN (doc_id * 7) % 10 >= 5 THEN ((doc_id * 7) % 10) * 2 - 9 ELSE ((doc_id * 7) % 10) * 2 END) % 10)) % 10)
        || ' or 4111-1111-1111-1' || ((doc_id * 3) % 10) || ((doc_id * 7) % 10) || ((((10 - ((26 + (doc_id * 3) % 10 + CASE WHEN (doc_id * 7) % 10 >= 5 THEN ((doc_id * 7) % 10) * 2 - 9 ELSE ((doc_id * 7) % 10) * 2 END) % 10)) % 10) + 1) % 10)
        || ' iban GB' || lpad(cast((doc_id * 13) % 100 AS VARCHAR), 2, '0') || 'NWBK' || lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0') || 'OK' || lpad(cast((doc_id * 17) % 10000 AS VARCHAR), 4, '0')
        || ' ip 10.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) || '.' || ((doc_id * 7) % 256) AS raw FROM documents)
      SELECT doc_id,
             cast(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.-]+')) AS INTEGER) AS n_email,
             cast(len(regexp_extract_all(raw, '\+1-[0-9]{3}-[0-9]{4}')) AS INTEGER) AS n_phone,
             cast(len(regexp_extract_all(raw, '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}')) AS INTEGER) AS n_cc,
             cast(len(list_filter(regexp_extract_all(raw, '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}'),
               c -> list_sum(list_transform(range(1, 17), i ->
                 CASE WHEN i % 2 = 1
                   THEN CASE WHEN 2 * cast(substr(replace(c, '-', ''), cast(i AS INT), 1) AS INT) > 9
                     THEN 2 * cast(substr(replace(c, '-', ''), cast(i AS INT), 1) AS INT) - 9
                     ELSE 2 * cast(substr(replace(c, '-', ''), cast(i AS INT), 1) AS INT) END
                   ELSE cast(substr(replace(c, '-', ''), cast(i AS INT), 1) AS INT) END)) % 10 = 0)) AS INTEGER) AS n_cc_valid,
             cast(len(regexp_extract_all(raw, '[A-Z]{2}[0-9]{2}[A-Z0-9]{12,30}')) AS INTEGER) AS n_iban,
             cast(len(regexp_extract_all(raw, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_ip,
             cast(len(regexp_extract_all(raw, '[0-9]{8,}')) AS INTEGER) AS n_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(raw, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'), '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'), '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}', '<CC>', 'g'), '[A-Z]{2}[0-9]{2}[A-Z0-9]{12,30}', '<IBAN>', 'g'), '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'), '[0-9]{8,}', '<ID>', 'g') AS red
      FROM p ORDER BY doc_id
    """),
    doc = "PII scan + mask (email/phone/card+Luhn/IBAN/IPv4/id-number), counts prove each hit")

  /** q51 — repetition quality filters (the Gopher-style gates): duplicate
    * -word fraction and most-frequent-bigram mass, both as integer basis
    * points, plus the keep/drop verdict. The per-row stats are free; the
    * top-bigram needs one groupBy keyed on (doc_id, bigram) — doc_id is
    * unique so the key cannot skew no matter how degenerate the text.
    * Bigrams keep multiplicity (the native shingle kernel dedups — wrong
    * tool here), built by an index-zip HOF.
    */
  private val q51 = Q(
    "q51_repetition_filter",
    (s, d) => {
      // documentsWide: both tokenize branches are 1-task stages
      // without the size-gated scan spread (round 21, q51 −1.0 s)
      val t = Tables.documentsWide(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
      val base = t.filter(size(col("ws")) > 0)
        .select(col("doc_id"), size(col("ws")).as("n_tok"),
          size(array_distinct(col("ws"))).as("n_uniq"))
      val bigrams = transform(
        sequence(lit(1), size(col("ws")) - 1),
        i => concat(element_at(col("ws"), i), lit(" "),
          element_at(col("ws"), i + lit(1))))
      val topbg = t.filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(bigrams).as("sh"))
        .groupBy("doc_id", "sh").count()
        .groupBy("doc_id").agg(max("count").as("top_bg_n"))
      base.join(topbg, Seq("doc_id"), "left")
        // widen BEFORE the multiply: size() is IntegerType and
        // (n_tok − n_uniq) · 10⁴ wraps int32 once a doc carries >~214k
        // duplicate tokens — exactly the doc sizes a 100 TB corpus holds —
        // while the oracle computes in BIGINT throughout (ADVICE r5/r6).
        // The cast must sit INSIDE the expr: an adjacent .cast("long")
        // alias is invisible here because expr() resolves against the
        // join's input attributes.
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
          expr("((cast(n_tok AS BIGINT) - n_uniq) * 10000) div n_tok")
            .as("dup_bp"),
          expr("(coalesce(top_bg_n, CAST(0 AS BIGINT)) * 2 * 10000) div n_tok")
            .as("top2_bp"))
        // the bigram-mass gate only applies to docs long enough for the
        // ratio to mean anything (one bigram in a 9-token doc is already
        // 22% of mass) — the same length minimums production repetition
        // filters carry
        .withColumn("keep",
          col("dup_bp") < 8000 && (col("n_tok") < 20 || col("top2_bp") < 2000))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      base AS (SELECT doc_id, len(ws) AS n_tok, len(list_distinct(ws)) AS n_uniq FROM t WHERE len(ws) > 0),
      bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])) AS sh FROM t WHERE len(ws) >= 2),
      topbg AS (SELECT doc_id, max(c) AS top_bg_n FROM (SELECT doc_id, sh, count(*) AS c FROM bg GROUP BY doc_id, sh) GROUP BY doc_id)
      SELECT b.doc_id, cast(b.n_tok AS BIGINT) AS n_tok,
             cast(((b.n_tok - b.n_uniq) * 10000) // b.n_tok AS BIGINT) AS dup_bp,
             cast((coalesce(t.top_bg_n, 0) * 2 * 10000) // b.n_tok AS BIGINT) AS top2_bp,
             (((b.n_tok - b.n_uniq) * 10000) // b.n_tok < 8000 AND (b.n_tok < 20 OR (coalesce(t.top_bg_n, 0) * 2 * 10000) // b.n_tok < 2000)) AS keep
      FROM base b LEFT JOIN topbg t ON b.doc_id = t.doc_id ORDER BY b.doc_id
    """),
    doc = "Gopher-style repetition gates: dup-word + top-bigram mass, keep verdict")

  /** q52 — training-chunk construction: fixed windows of 64 tokens with
    * stride 48 (16-token overlap so no boundary context is lost), the
    * short tail kept. One generate per document — `sequence(0, n−1, 48)`
    * is exactly DuckDB's `range(0, n, 48)` — then a slice per start; no
    * shuffle at all until the output sort, so chunking streams at scan
    * speed regardless of corpus size.
    */
  private val q52 = Q(
    "q52_chunk_stride",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("ws")) - 1, lit(48))).as("start"),
          col("ws"))
        .select(col("doc_id"), col("start"),
          size(slice(col("ws"), col("start") + 1, lit(64))).as("n_ctok"),
          concat_ws(" ", slice(col("ws"), col("start") + 1, lit(64)))
            .as("chunk_text"))
        .orderBy("doc_id", "start")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      c AS (SELECT doc_id, unnest(range(0, len(ws), 48)) AS start, ws FROM t WHERE len(ws) > 0)
      SELECT doc_id, cast(start AS INTEGER) AS start,
             cast(len(ws[start+1:start+64]) AS INTEGER) AS n_ctok,
             array_to_string(ws[start+1:start+64], ' ') AS chunk_text
      FROM c ORDER BY doc_id, start
    """),
    doc = "64-token chunks, stride 48 (overlap 16), short tail kept — shuffle-free")

  /** q53 — inverted-index construction: per term, total frequency,
    * document frequency, and the first-5 posting list. The posting list
    * is BOUNDED BEFORE collection — row_number ≤ 5 per term, then the
    * ≤5-element collect — never an unbounded collect_list a hot term
    * ('the') would blow up at corpus scale. Posting rendered as a comma
    * string so the gate compares text, not engine list encodings.
    */
  private val q53 = Q(
    "q53_inverted_index",
    (s, d) => {
      val ex = Tables.documents(s, d)
        .select(col("doc_id"), explode(words(col("text"))).as("token"))
      val stats = ex.groupBy("token")
        .agg(count(lit(1)).as("tf"), countDistinct("doc_id").as("df"))
      val top5 = ex.select("token", "doc_id").distinct()
        .withColumn("rn",
          row_number().over(Window.partitionBy("token").orderBy("doc_id")))
        .filter(col("rn") <= 5)
      val post = top5.groupBy("token")
        .agg(array_join(
          transform(sort_array(collect_list("doc_id")), x => x.cast("string")),
          ",").as("posting"))
      stats.join(post, "token").orderBy("token")
    },
    Some("""
      WITH ex AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS token FROM documents),
      stats AS (SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df FROM ex GROUP BY token),
      pd AS (SELECT DISTINCT token, doc_id FROM ex),
      top5 AS (SELECT token, doc_id FROM (SELECT token, doc_id, row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn FROM pd) WHERE rn <= 5),
      post AS (SELECT token, array_to_string(list(cast(doc_id AS VARCHAR) ORDER BY doc_id), ',') AS posting FROM top5 GROUP BY token)
      SELECT s.token, cast(s.tf AS BIGINT) AS tf, cast(s.df AS BIGINT) AS df, p.posting
      FROM stats s JOIN post p USING (token) ORDER BY s.token
    """),
    doc = "inverted index: tf/df per term + first-5 posting list, bounded pre-collect")

  /** q54 — incremental corpus refresh (CDC merge): a change set of
    * updates (every 10th doc), inserts (20 new ids), and delete
    * tombstones (every 97th + 3) merged latest-wins into the base
    * snapshot. One shuffle on doc_id; the tie at (version, doc 100 —
    * updated AND deleted in the same batch) is broken deterministically
    * by `deleted DESC` (a tombstone outranks a same-version update). At
    * scale this plan IS merge-on-read compaction: union + one
    * row_number, no full-table rewrite.
    */
  private val q54 = Q(
    "q54_corpus_merge",
    (s, d) => {
      val docs = Tables.documents(s, d)
      def shaped(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), col("text"), col("version"), col("deleted"))
      val base = shaped(docs
        .withColumn("version", lit(1)).withColumn("deleted", lit(false)))
      val upd = shaped(docs.filter(col("doc_id") % 10 === 0)
        .withColumn("text", concat(lit("UPDATED "), col("text")))
        .withColumn("version", lit(2)).withColumn("deleted", lit(false)))
      val ins = shaped(docs.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 1000000)
        .withColumn("text", concat(lit("NEW "), col("text")))
        .withColumn("version", lit(2)).withColumn("deleted", lit(false)))
      val del = shaped(docs.filter(col("doc_id") % 97 === 3)
        .withColumn("text", lit(null).cast("string"))
        .withColumn("version", lit(2)).withColumn("deleted", lit(true)))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("version").desc, col("deleted").desc)
      base.unionByName(upd).unionByName(ins).unionByName(del)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && !col("deleted"))
        .select(col("doc_id"), col("version"),
          length(col("text")).cast("long").as("len"))
        .orderBy("doc_id")
    },
    Some("""
      WITH base AS (SELECT doc_id, text, 1 AS version, false AS deleted FROM documents),
      upd AS (SELECT doc_id, 'UPDATED ' || text AS text, 2 AS version, false AS deleted FROM documents WHERE doc_id % 10 = 0),
      ins AS (SELECT doc_id + 1000000 AS doc_id, 'NEW ' || text AS text, 2 AS version, false AS deleted FROM documents WHERE doc_id < 20),
      del AS (SELECT doc_id, cast(NULL AS VARCHAR) AS text, 2 AS version, true AS deleted FROM documents WHERE doc_id % 97 = 3),
      u AS (SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM del),
      w AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY version DESC, deleted DESC) AS rn FROM u)
      SELECT doc_id, cast(version AS INTEGER) AS version, cast(length(text) AS BIGINT) AS len
      FROM w WHERE rn = 1 AND NOT deleted ORDER BY doc_id
    """),
    doc = "CDC merge: upserts + delete tombstones, latest-wins, one shuffle")

  /** q55 — deterministic training-order interleave: each source's docs
    * get a reproducible pseudo-random rank (Knuth multiplicative LCG on
    * doc_id — doc_id reduced before the multiply so the product can
    * never overflow int64, q39's lesson), then sources are read
    * round-robin by (rank, source). Epoch N is a different constant; the
    * shuffle is a function of ids only, so a 100 TB re-run reproduces
    * the exact batch order with zero stored state. The global sort is
    * the oracle-determinism tail; the scale path writes
    * range-partitioned shards sorted within each shard by the same key.
    */
  private val q55 = Q(
    "q55_interleave_shuffle",
    (s, d) => {
      val key = ((col("doc_id") % lit(2147483648L)) * lit(2654435761L)
        + lit(1013904223L)) % lit(2147483648L)
      val w = Window.partitionBy("source").orderBy(key.asc, col("doc_id").asc)
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .select(col("rn"), col("source"), col("doc_id"))
        .orderBy("rn", "source", "doc_id")
    },
    Some("""
      WITH r AS (SELECT doc_id, source, cast(row_number() OVER (PARTITION BY source ORDER BY ((doc_id % 2147483648) * 2654435761 + 1013904223) % 2147483648, doc_id) AS INTEGER) AS rn FROM documents)
      SELECT rn, source, doc_id FROM r ORDER BY rn, source, doc_id
    """),
    doc = "deterministic per-source shuffle + round-robin source interleave")

  /** q58 — greedy sequence packing: q52's chunks fill fixed 256-token
    * training bins, first-come in (doc_id, start) order, per SHARD
    * (doc_id mod 8) — the "pack sequences into training examples" step
    * between chunking and tokenized-shard export. Packing is genuinely
    * sequential state (a bin boundary depends on every fill before it),
    * which is the one shape SURVEY §2 reserves `mapPartitions` for: each
    * shard streams through one task with three integers of state, no
    * collect, no window tricks. Parallelism = shard count — the real
    * knob at 100 TB, where a corpus exports thousands of shards; the
    * shard→bin layout is part of the output contract (a training file
    * per shard), not a perf artifact. The oracle replays the same greedy
    * fill as a recursive CTE — per-shard rows advance in lockstep, so
    * recursion depth is max rows per shard, tractable at oracle scale.
    */
  /** Training-shard fan-out and per-bin token budget for q58. */
  private val SHARDS = 8
  private val BUDGET = 256

  private val q58 = Q(
    "q58_sequence_pack",
    (s, d) => {
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"), words(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("ws")) - 1, lit(48))).as("start"),
          col("ws"))
        .select(col("doc_id"), col("start"),
          size(slice(col("ws"), col("start") + 1, lit(64))).as("n_ctok"),
          (col("doc_id") % SHARDS).cast("int").as("shard"))
      import org.apache.spark.sql.Encoders
      val tup = Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong,
        Encoders.scalaInt, Encoders.scalaInt)
      val packed = chunks
        .select(col("shard"), col("doc_id"),
          col("start").cast("int"), col("n_ctok").cast("int"))
        .as[(Int, Long, Int, Int)](tup)
        .repartition(SHARDS, col("shard"))
        .sortWithinPartitions("shard", "doc_id", "start")
        .mapPartitions { it =>
          // greedy first-come fill; several shards may share a task —
          // state resets at each shard boundary (rows arrive grouped)
          var curShard = Int.MinValue
          var bin = 0
          var fill = 0
          it.map { case (shard, docId, start, n) =>
            if (shard != curShard) { curShard = shard; bin = 0; fill = n }
            else if (fill + n > BUDGET) { bin += 1; fill = n }
            else fill += n
            (shard, bin, docId, start, n)
          }
        }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt,
          Encoders.scalaLong, Encoders.scalaInt, Encoders.scalaInt))
        .toDF("shard", "bin", "doc_id", "start", "n_ctok")
      packed.orderBy("shard", "bin", "doc_id", "start")
    },
    Some(raw"""
      WITH RECURSIVE
      t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0) AS ws FROM documents),
      c AS (SELECT doc_id, unnest(range(0, len(ws), 48)) AS start, ws FROM t WHERE len(ws) > 0),
      ch AS (SELECT doc_id, CAST(start AS INTEGER) AS start,
                    CAST(len(ws[start+1:start+64]) AS INTEGER) AS n_ctok
             FROM c),
      s AS (SELECT *, CAST(doc_id % $SHARDS AS INTEGER) AS shard,
                   row_number() OVER (PARTITION BY doc_id % $SHARDS ORDER BY doc_id, start) AS rn
            FROM ch),
      packed AS (
        SELECT shard, rn, doc_id, start, n_ctok, 0 AS bin, n_ctok AS fill
        FROM s WHERE rn = 1
        UNION ALL
        SELECT s.shard, s.rn, s.doc_id, s.start, s.n_ctok,
               CASE WHEN p.fill + s.n_ctok > $BUDGET THEN p.bin + 1 ELSE p.bin END,
               CASE WHEN p.fill + s.n_ctok > $BUDGET THEN s.n_ctok ELSE p.fill + s.n_ctok END
        FROM packed p JOIN s ON s.shard = p.shard AND s.rn = p.rn + 1)
      SELECT shard, CAST(bin AS INTEGER) AS bin, doc_id, start, n_ctok
      FROM packed ORDER BY shard, bin, doc_id, start
    """),
    doc = "greedy 256-token sequence packing per training shard: the one " +
      "honest mapPartitions (sequential fill state), oracle via recursive CTE")

  /** q96 — global concatenation offsets via a DISTRIBUTED two-level
    * prefix sum: lay every document's tokens end to end in doc_id order
    * (the GPT-style "concatenate the corpus, then cut fixed windows"
    * shard layout) and report each doc's absolute start offset and the
    * 1024-token chunks it spans. The natural SQL is
    * `sum(n) OVER (ORDER BY doc_id)` — an UNPARTITIONED window, i.e.
    * every row through one reducer, the single shape this catalog
    * refuses to run corpus-wide (q92's argument). The scalable form is
    * the textbook two-level scan: bucket docs by `doc_id div 32`,
    * (1) per-bucket token totals fold map-side to a BUCKET-cardinality
    * frame, (2) the running total over that tiny frame is the only
    * unpartitioned window (n/K rows on one task — fine through ~10⁷
    * docs at K=32), (3) broadcast the bucket bases back and finish
    * with a window PARTITIONED by bucket — bounded partitions,
    * corpus-parallel. Past ~10⁹ docs n/K itself is 3×10⁷ rows through
    * one task, and the swap-in is either of: scale K to ≈√n so both
    * levels hold ~√n rows, or add a THIRD level (bucket the buckets by
    * `b div K`, same three steps) so every window holds ≤ max(K, n/K²)
    * rows — the recursion is exactly this function applied to its own
    * bucket frame, and each extra level divides the per-task bound by
    * K (q42's document-the-swap-in convention). The oracle RUNS the naive
    * global window (DuckDB is single-node — it's fine there), so the
    * hash gate proves the two-level decomposition exact, row for row.
    *
    * Chunk math is pure integer follow-through: chunk_first =
    * start div 1024, chunk_last = (start+n−1) div 1024 — the shard
    * writer's manifest of which training windows touch which document
    * (attribution/unlearning needs exactly this map).
    */
  /** The q96 two-level distributed prefix sum, shared with q115: the
    * (doc_id, n, start) concat-offset frame over non-empty docs. See
    * q96's scaladoc for the decomposition argument.
    */
  private def concatOffsets(
      s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val K = 32L
    val t = Tables.documents(s, d)
      .select(col("doc_id"), size(words(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("b", expr(s"doc_id div $K"))
    val bases = t.groupBy("b").agg(sum("n").as("bn"))
      .withColumn("boff", coalesce(sum("bn").over(
        Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("b", "boff")
    t.withColumn("woff", coalesce(sum("n").over(
        Window.partitionBy("b").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .join(broadcast(bases), Seq("b"))
      .select(col("doc_id"), col("n"),
        (col("boff") + col("woff")).as("start"))
  }

  private val q96 = Q(
    "q96_pack_offsets",
    (s, d) => {
      val C = 1024L
      concatOffsets(s, d)
        .select(col("doc_id"), col("n"), col("start"),
          (col("start") + col("n") - 1).as("end_off"),
          expr(s"start div $C").as("chunk_first"),
          expr(s"(start + n - 1) div $C").as("chunk_last"),
          expr(s"(start + n - 1) div $C - start div $C + 1").as("n_chunks"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS BIGINT) AS n
                 FROM documents),
      p AS (SELECT doc_id, n,
              CAST(COALESCE(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
            FROM t WHERE n > 0)
      SELECT doc_id, n, start, start + n - 1 AS end_off,
             start // 1024 AS chunk_first,
             (start + n - 1) // 1024 AS chunk_last,
             (start + n - 1) // 1024 - start // 1024 + 1 AS n_chunks
      FROM p ORDER BY doc_id
    """),
    doc = "global concat offsets by two-level distributed prefix sum " +
      "(bucket totals -> tiny running window -> partitioned finish); " +
      "oracle runs the naive unpartitioned window")

  /** q115 — the INVERSE chunk map: q96 tells each document which
    * 1024-token training windows it feeds; q115 answers the other
    * direction — for every training chunk, WHICH documents contributed
    * and exactly where their tokens sit inside it. This is the
    * unlearning / attribution lookup as data: delete (or attribute) a
    * document → the poisoned windows and offsets fall out of this
    * frame by filter; audit a training window → its provenance is one
    * chunk_id lookup. Every per-row fact (offset-in-chunk, token
    * count, first/last flags) is pure integer follow-through from the
    * offsets frame.
    *
    * Plan shape: reads ONLY the (doc_id, n, start) offset frame
    * (doc-cardinality, one corpus tokenize inside concatOffsets — no
    * additional corpus pass); the explode fans each doc to its
    * chunk_last − chunk_first + 1 intersections, i.e. total rows ≈
    * corpus_tokens/1024 + n_docs — LINEAR, never quadratic; the only
    * exchange after the fan-out is the output sort. The oracle runs
    * the same expansion off the naive global-window offsets, so the
    * hash gate ties the inverse map to q96's decomposition exactly.
    */
  private val q115 = Q(
    "q115_chunk_attribution",
    (s, d) => {
      val C = 1024L
      concatOffsets(s, d)
        .select(col("doc_id"), col("n"), col("start"),
          explode(expr(s"sequence(start div $C, (start + n - 1) div $C)"))
            .as("chunk_id"))
        .select(col("chunk_id"), col("doc_id"),
          greatest(col("start") - col("chunk_id") * C, lit(0L))
            .as("off_in_chunk"),
          (least(col("start") + col("n") - 1, col("chunk_id") * C + C - 1)
            - greatest(col("start"), col("chunk_id") * C) + 1).as("n_tok"),
          greatest(col("start"), col("chunk_id") * C)
            .minus(col("start")).as("doc_off"),
          (col("start") >= col("chunk_id") * C).as("doc_starts_here"),
          (col("start") + col("n") - 1 < col("chunk_id") * C + C)
            .as("doc_ends_here"))
        .orderBy("chunk_id", "doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS BIGINT) AS n
                 FROM documents),
      p AS (SELECT doc_id, n,
              CAST(COALESCE(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
            FROM t WHERE n > 0),
      e AS (SELECT doc_id, n, start,
              unnest(range(start // 1024, (start + n - 1) // 1024 + 1))
                AS chunk_id
            FROM p)
      SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
             greatest(start - chunk_id * 1024, 0) AS off_in_chunk,
             least(start + n - 1, chunk_id * 1024 + 1023)
               - greatest(start, chunk_id * 1024) + 1 AS n_tok,
             greatest(start, chunk_id * 1024) - start AS doc_off,
             start >= chunk_id * 1024 AS doc_starts_here,
             start + n - 1 < chunk_id * 1024 + 1024 AS doc_ends_here
      FROM e ORDER BY chunk_id, doc_id
    """),
    doc = "inverse chunk attribution: per 1024-token training window, " +
      "the contributing documents with in-chunk offsets and in-doc " +
      "offsets — the unlearning lookup, linear fan-out from the " +
      "offsets frame, no extra corpus pass")

  /** q189 — TAKEDOWN IMPACT report (r18, the consumer side of q188):
    * once a takedown batch is known, the training-data question is not
    * just "which labels move" (q188) but "which ALREADY-PACKED training
    * windows are poisoned and how badly" — the artifact an unlearning
    * run reads to decide which shards to drop, repack, or surgically
    * mask. This is q115's inverse chunk map folded per chunk against
    * the deletion set: for every AFFECTED 1024-token window, how many
    * contributing docs are deleted, how many of its tokens they own,
    * and whether the window is fully poisoned (drop it outright) or
    * partial (repack/mask). The planted takedown includes a CONTIGUOUS
    * doc run (doc_id div 64 = 1) precisely because chunks are
    * contiguous in doc order — a long-enough run fully owns interior
    * windows, making the fully_poisoned verdict observable at every sf
    * (2 such chunks at each of the three SFs, measured) — plus the
    * scattered doc_id%25=3 singles that poison partially.
    *
    * Plan shape: q96's two-level offset frame (one corpus tokenize),
    * q115's linear chunk fan-out (≈ tokens/1024 + n_docs rows), the
    * deletion flag as a pure integer predicate on the fanned rows, ONE
    * map-side-combined groupBy(chunk_id), affected-only filter on the
    * aggregate. Nothing beyond q115's proven shapes; the oracle runs
    * the identical expansion off the naive global-window offsets.
    */
  private val q189 = Q(
    "q189_takedown_impact",
    (s, d) => {
      val C = 1024L
      concatOffsets(s, d)
        .select(col("doc_id"), col("n"), col("start"),
          explode(expr(s"sequence(start div $C, (start + n - 1) div $C)"))
            .as("chunk_id"))
        .select(col("chunk_id"), col("doc_id"),
          (least(col("start") + col("n") - 1, col("chunk_id") * C + C - 1)
            - greatest(col("start"), col("chunk_id") * C) + 1).as("n_tok"),
          (col("doc_id") % 25 === 3 ||
            expr("doc_id div 64") === 1).as("del"))
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tok"),
          sum(when(col("del"), 1L).otherwise(0L)).as("n_del_docs"),
          sum(when(col("del"), col("n_tok")).otherwise(0L)).as("n_del_tok"))
        .filter(col("n_del_docs") > 0)
        .select(col("chunk_id"), col("n_docs"), col("n_tok"),
          col("n_del_docs"), col("n_del_tok"),
          (col("n_del_tok") === col("n_tok")).as("fully_poisoned"))
        .orderBy("chunk_id")
    },
    Some("""
      WITH t AS (SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS BIGINT) AS n
                 FROM documents),
      p AS (SELECT doc_id, n,
              CAST(COALESCE(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
            FROM t WHERE n > 0),
      e AS (SELECT doc_id, n, start,
              unnest(range(start // 1024, (start + n - 1) // 1024 + 1)) AS chunk_id
            FROM p),
      a AS (SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
              least(start + n - 1, chunk_id * 1024 + 1023)
                - greatest(start, chunk_id * 1024) + 1 AS n_tok,
              (doc_id % 25 = 3 OR doc_id // 64 = 1) AS del
            FROM e)
      SELECT chunk_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tok,
             CAST(count(*) FILTER (del) AS BIGINT) AS n_del_docs,
             CAST(COALESCE(sum(n_tok) FILTER (del), 0) AS BIGINT) AS n_del_tok,
             COALESCE(sum(n_tok) FILTER (del), 0) = sum(n_tok) AS fully_poisoned
      FROM a GROUP BY chunk_id
      HAVING count(*) FILTER (del) > 0
      ORDER BY chunk_id
    """),
    doc = "takedown impact: per affected 1024-token training window, " +
      "deleted-doc count, poisoned-token count, and the fully-poisoned " +
      "verdict — q115's inverse chunk map folded against the deletion " +
      "set; contiguous planted run makes full poisoning observable")

  /** q114 — INTERLEAVED multimodal record assembly (the MM1/Flamingo
    * input layout): each document becomes an ordered list of segments —
    * text spans cut at image anchor positions, interleaved with image
    * refs, every image consuming a fixed 64-token visual budget — and
    * every segment lands at its absolute offset in the single
    * interleaved token stream (q96's concat map extended to mixed
    * modalities: attribution and unlearning need exactly this segment →
    * training-window map, and the shard writer packs from it).
    *
    * The driver corpus has no image table, so the manifest is
    * synthesized from the corpus (q109's device): docs with id%7=2
    * carry one image anchored after token 10, docs with id%21=2 a
    * second after token 30 (anchors clamp to the doc length, so every
    * edge — image at end-of-doc, both images coincident on a short doc,
    * leading/empty text span — is planted and observable at every sf).
    * The bytes side of the same assembly (decoded frames joined onto
    * the refs) is the ⊘ half in [[graft.multimodal.Multimodal]]; this
    * query gates the metadata/offset algebra, which is where the scale
    * risk lives.
    *
    * Plan shape: ONE corpus text pass folds to the (doc_id, n) length
    * frame, cached (text never re-read); the manifest joins back at
    * image cardinality; segments assemble declaratively from the
    * boundary list (text span [B_j, B_{j+1}) sorts before the image AT
    * B_{j+1} via the (pos, rnk) key — no HOF interleave, no driver
    * loop); the segment frame is cached and read twice (per-doc totals
    * fold; output join). Global bases use q96's two-level prefix sum —
    * the only unpartitioned window is over the bucket frame. The
    * oracle runs the naive global window instead (single-node DuckDB),
    * so the hash gate proves the distributed decomposition exact.
    */
  private val q114 = Q(
    "q114_interleave_mm",
    (s, d) => {
      val IMG = 64L; val K = 32L
      val t = graft.ops.CacheScope.persisted(
        Tables.documents(s, d)
          .select(col("doc_id"), size(words(col("text"))).cast("long").as("n"))
          .filter(col("n") > 0))
      val imgs = t.filter(col("doc_id") % 7 === 2)
        .select(col("doc_id"), col("n"), explode(
          when(col("doc_id") % 21 === 2, array(lit(1L), lit(2L)))
            .otherwise(array(lit(1L)))).as("k"))
        .select(col("doc_id"), col("k"),
          when(col("k") === 1L, least(lit(10L), col("n")))
            .otherwise(least(lit(30L), col("n"))).as("anchor"),
          concat(lit("img_"), col("doc_id"), lit("_"), col("k")).as("ref"))
      val alist = imgs.groupBy("doc_id")
        .agg(expr("transform(array_sort(collect_list(struct(anchor, k)))," +
          " x -> x.anchor)").as("alist"))
      val textSegs = t.join(alist, Seq("doc_id"), "left")
        .withColumn("bs", concat(array(lit(0L)),
          coalesce(col("alist"), array()), array(col("n"))))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, size(bs) - 1), j -> named_struct(" +
            "'pos', element_at(bs, j + 1), 's', element_at(bs, j), " +
            "'n_tok', element_at(bs, j + 1) - element_at(bs, j)))"))
          .as(Seq("i0", "g")))
        .select(col("doc_id"), col("g.pos").as("pos"), lit(0L).as("rnk"),
          lit("text").as("kind"), lit("").as("ref"),
          col("g.s").as("local_start"), col("g.n_tok").as("n_tok"))
        .filter(col("n_tok") > 0)
      val imgSegs = imgs.select(col("doc_id"), col("anchor").as("pos"),
        col("k").as("rnk"), lit("image").as("kind"), col("ref"),
        col("anchor").as("local_start"), lit(IMG).as("n_tok"))
      val byDoc = Window.partitionBy("doc_id").orderBy("pos", "rnk")
      val segs = graft.ops.CacheScope.persisted(
        textSegs.unionByName(imgSegs)
          .withColumn("seg_idx", (row_number().over(byDoc) - 1).cast("long"))
          .withColumn("loff", coalesce(sum("n_tok").over(
            byDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))))
      val tot = segs.groupBy("doc_id").agg(sum("n_tok").as("dn"))
        .withColumn("b", expr(s"doc_id div $K"))
      val bases = tot.groupBy("b").agg(sum("dn").as("bn"))
        .withColumn("boff", coalesce(sum("bn").over(Window.orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("b", "boff")
      val docBase = tot
        .withColumn("woff", coalesce(sum("dn").over(
          Window.partitionBy("b").orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .join(broadcast(bases), Seq("b"))
        .select(col("doc_id"), (col("boff") + col("woff")).as("base"))
      segs.join(docBase, Seq("doc_id"))
        .select(col("doc_id"), col("seg_idx"), col("kind"), col("ref"),
          col("local_start"), col("n_tok"),
          (col("base") + col("loff")).as("g_off"))
        .orderBy("doc_id", "seg_idx")
    },
    Some("""
      WITH t AS (SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS BIGINT) AS n
                 FROM documents),
      t2 AS (SELECT * FROM t WHERE n > 0),
      im0 AS (SELECT doc_id, n,
                unnest(CASE WHEN doc_id % 21 = 2 THEN [1, 2] ELSE [1] END) AS k
              FROM t2 WHERE doc_id % 7 = 2),
      imgs AS (SELECT doc_id, CAST(k AS BIGINT) AS k,
                 CAST(CASE WHEN k = 1 THEN least(10, n)
                      ELSE least(30, n) END AS BIGINT) AS anchor,
                 'img_' || doc_id || '_' || k AS ref
               FROM im0),
      al AS (SELECT doc_id, list(anchor ORDER BY anchor, k) AS alist
             FROM imgs GROUP BY doc_id),
      wb AS (SELECT t2.doc_id, t2.n,
               list_concat(list_concat([CAST(0 AS BIGINT)],
                 coalesce(al.alist, [])), [t2.n]) AS bs
             FROM t2 LEFT JOIN al USING (doc_id)),
      ts0 AS (SELECT doc_id, unnest(list_transform(range(1, len(bs)), j ->
                {'pos': bs[j+1], 's': bs[j], 'n_tok': bs[j+1] - bs[j]})) AS g
              FROM wb),
      tsg AS (SELECT doc_id, g.pos AS pos, CAST(0 AS BIGINT) AS rnk,
                     'text' AS kind, '' AS ref, g.s AS local_start,
                     g.n_tok AS n_tok
              FROM ts0 WHERE g.n_tok > 0),
      isg AS (SELECT doc_id, anchor AS pos, k AS rnk, 'image' AS kind,
                     ref, anchor AS local_start, CAST(64 AS BIGINT) AS n_tok
              FROM imgs),
      segs AS (SELECT * FROM tsg UNION ALL SELECT * FROM isg),
      wl AS (SELECT doc_id, kind, ref, local_start, n_tok,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY pos, rnk) - 1 AS BIGINT) AS seg_idx,
               CAST(coalesce(sum(n_tok) OVER (PARTITION BY doc_id
                 ORDER BY pos, rnk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS loff
             FROM segs),
      db AS (SELECT doc_id, sum(n_tok) AS dn FROM segs GROUP BY doc_id),
      b2 AS (SELECT doc_id,
               CAST(coalesce(sum(dn) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS base
             FROM db)
      SELECT wl.doc_id, wl.seg_idx, wl.kind, wl.ref, wl.local_start,
             wl.n_tok, wl.loff + b2.base AS g_off
      FROM wl JOIN b2 USING (doc_id)
      ORDER BY doc_id, seg_idx
    """),
    doc = "interleaved multimodal record assembly: text spans cut at " +
      "image anchors, 64-token visual budget per image, absolute " +
      "offsets into the mixed-modality concat stream via the two-level " +
      "distributed prefix sum")

  val all: Seq[Q] = Seq(q48, q49, q50, q51, q52, q53, q54, q55, q58, q96,
    q114, q115, q189)
}
