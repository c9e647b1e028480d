package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.TextOps.words
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.8 — north-star requirement,
  * absent in the reference which is strictly batch, run.py:37-156).
  *
  * The window shapes are `DataFrame => DataFrame` functions, so the SAME
  * logical plans back both the batch oracle queries (q21–q23) and the
  * streaming wrappers here — identical semantics by construction; only the
  * source/sink and state management differ. Stateful pieces (watermark,
  * dedup-within-watermark, session merge) are streaming-only and covered
  * by MemoryStream tests, not the DuckDB oracle.
  *
  * Scale posture: all aggregations are keyed by (window, key) — state is
  * bounded by watermark eviction; dedup state is bounded likewise. The
  * one custom-state operator ([[nearDupStream]]) bounds its state twice:
  * event-time timeout evicts idle band buckets, and each bucket caps its
  * canonical list.
  */
object StreamOps {

  final case class BandedDoc(
      band: Long, doc_id: Long, ts: java.sql.Timestamp, sig: Seq[Long])
  /** Per-band state: canonicals OLDEST-FIRST (first-wins attribution) as
    * one list of (doc_id, signature) pairs — parallel lists would have to
    * mutate in lockstep — plus the largest event time ever seen, so a
    * late-but-valid older event cannot move the eviction timeout
    * backwards.
    */
  final case class BandSeen(maxTs: Long, docs: List[(Long, Seq[Long])])
  final case class NearDupHit(
      doc_id: Long, dup_of: Long, sim: Double, ts: java.sql.Timestamp)

  /** [[nearDupStream]]'s output schema — for schema-pinned reads of a
    * possibly-empty sink directory. Derived from the case class: the one
    * source of truth.
    */
  val nearDupHitSchema: StructType =
    org.apache.spark.sql.Encoders.product[NearDupHit].schema

  /** q21's shape: tumbling 1-hour counts+sums per event type. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Tumbling with event-time watermark: late rows beyond `delay` are
    * dropped once the watermark passes their window's end (append mode
    * emits each window exactly once, finalized).
    */
  def tumblingWithWatermark(events: DataFrame, delay: String): DataFrame =
    events.withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** q22's shape: sliding 1-hour window, 15-minute slide. */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** q23's shape: 30-minute-gap session windows per user. */
  def session(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"),
        col("n"), col("sum_value"))

  /** Streaming as-of join — the streaming twin PackAsof.q32 promises: for
    * each error event, the latest purchase by the same user in
    * `[e_ts - horizon, e_ts]`, as a watermarked stream-stream LEFT OUTER
    * band join followed by a windowed latest-wins aggregation (chained
    * stateful operators, append mode — Spark 3.5+).
    *
    * State is bounded twice over: the join buffers each side only within
    * `delay` + `horizon` of the watermark (the band condition gives the
    * planner both bounds), and the downstream window aggregation evicts
    * finalized (window, e_id) groups as the watermark passes. An error
    * with no purchase in the horizon emits its null-augmented row when the
    * join state expires, surfacing as last_purchase = -1 — q32's
    * `coalesce` contract.
    *
    * `errors` columns: (e_id, user_id, e_ts); `purchases`:
    * (p_id, p_user, p_ts, p_value).
    */
  def asofJoin(
      errors: DataFrame,
      purchases: DataFrame,
      horizon: String = "1 hour",
      delay: String = "10 minutes"): DataFrame = {
    val e = errors.withWatermark("e_ts", delay)
    val p = purchases.withWatermark("p_ts", delay)
    // latest-wins ordering matches the batch q32 emulation: (p_ts, p_id)
    // descending, expressed as max_by over a struct; unmatched rows carry a
    // NULL ordering key so max_by ignores them and the group yields NULL
    val ord = when(col("p_id").isNotNull, struct(col("p_ts"), col("p_id")))
    e.join(p,
        col("p_user") === col("user_id") &&
          col("p_ts") <= col("e_ts") &&
          col("p_ts") >= col("e_ts") - expr(s"INTERVAL $horizon"),
        "leftOuter")
      .groupBy(window(col("e_ts"), horizon), col("e_id"), col("user_id"))
      .agg(max_by(struct(col("p_id"), col("p_value")), ord).as("m"))
      .select(
        col("window.start").as("w_start"), col("e_id"), col("user_id"),
        coalesce(col("m.p_id"), lit(-1L)).as("last_purchase"),
        coalesce(col("m.p_value"), lit(0.0)).as("purchase_value"))
  }

  /** Streaming NEAR-dup detection — the streaming form of q27's
    * MinHash-LSH (batch: queries/PackText2.scala q27). Per document:
    * word-trigram shingles → minhash signature (native one-pass kernels,
    * ops/SimOps) → LSH band keys. Per-band keyed state holds the
    * (doc_id, signature) canonicals seen so far; an arriving document
    * whose signature agrees with a stored canonical on ≥ `minSim` of the
    * minhash components emits a (doc_id, dup_of, sim, ts) hit, otherwise
    * it registers as a new canonical (first-wins, the streaming seen-set).
    *
    * State is bounded twice: an event-time timeout evicts a band bucket
    * untouched for watermark + `delay`, and each bucket keeps at most
    * `maxPerBand` canonicals (newest win — a hot band degrades recall,
    * never memory). A pair sharing several bands can emit one hit per
    * shared band; sinks dedup idempotently on doc_id.
    *
    * `docs` columns: (doc_id: long, ts: timestamp, text: string).
    */
  def nearDupStream(
      docs: DataFrame,
      delay: String = "10 minutes",
      minSim: Double = 0.8,
      perms: Int = 8,
      bands: Int = 4,
      maxPerBand: Int = 64): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = docs.sparkSession
    import sp.implicits._
    val rowsPerBand = perms / bands
    val banded = docs.withWatermark("ts", delay)
      .withColumn("sh",
        graft.ops.SimOps.wordShingleHashes(lower(col("text")), 3))
      // a doc too short to shingle (< 3 words, or null text) has no
      // signature — it can never match anything, and an all-null sig
      // would fail the non-nullable encoder and WEDGE the query (the
      // checkpoint replays the poison batch forever)
      .filter(size(col("sh")) > 0)
      .withColumn("sig", graft.ops.SimOps.minhashSignature(col("sh"), perms))
      .withColumn("band",
        explode(graft.ops.SimOps.lshBands(col("sig"), bands, rowsPerBand)))
      .select(col("band"), col("doc_id"), col("ts"), col("sig"))
      .as[BandedDoc]
    banded.groupByKey(_.band)
      .flatMapGroupsWithState[BandSeen, NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val prev = state.getOption.getOrElse(BandSeen(Long.MinValue, Nil))
            var docs = prev.docs // oldest-first
            val out = List.newBuilder[NearDupHit]
            var maxTs = prev.maxTs // monotone: an older-but-not-late event
            // must not move the eviction timeout backwards
            // deterministic first-wins within the micro-batch
            rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id)).foreach { r =>
              maxTs = math.max(maxTs, r.ts.getTime)
              // oldest-first search: a doc matching several canonicals
              // attributes to the EARLIEST (first-wins lineage)
              val m = docs.iterator.map { case (id, s) =>
                val agree = s.iterator.zip(r.sig.iterator)
                  .count { case (a, b) => a == b }
                (id, agree.toDouble / r.sig.size)
              }.find(_._2 >= minSim)
              m match {
                case Some((id, sim)) =>
                  out += NearDupHit(r.doc_id, id, sim, r.ts)
                case None => // new canonical; cap keeps the newest
                  docs = (docs :+ (r.doc_id -> r.sig)).takeRight(maxPerBand)
              }
            }
            state.update(BandSeen(maxTs, docs))
            if (maxTs != Long.MinValue)
              state.setTimeoutTimestamp(maxTs, delay)
            out.result().iterator
          }
      }.toDF()
  }

  /** A CDC change event: upsert (text + version) or delete tombstone. */
  final case class CdcEvent(
      doc_id: Long, text: Option[String], version: Int,
      deleted: Boolean, ts: java.sql.Timestamp)

  /** Per-doc merge state: the current winner, plus the max event time
    * seen for the key (monotone — timeouts must never move backwards).
    */
  final case class DocState(
      version: Int, deleted: Boolean, len: Option[Long], maxTs: Long)

  /** One changelog row: the doc's new current record after a batch. */
  final case class CorpusChange(
      doc_id: Long, version: Int, deleted: Boolean, len: Option[Long])

  /** Streaming twin of q54's CDC corpus merge: a continuous change feed
    * (upserts + delete tombstones) folds into per-doc latest-wins state,
    * emitting one changelog row per doc per micro-batch in which its
    * current record changed — merge-on-read compaction as a stream, the
    * incremental corpus refresh the batch query recomputes from scratch.
    *
    * Semantics match the batch q54 exactly: higher version wins; at equal
    * version a tombstone outranks an update (`deleted DESC`); stale
    * arrivals (rank ≤ current state) are ignored, so a late lower-version
    * update can never resurrect a deleted doc.
    *
    * State is bounded the way a corpus store has to be: LIVE docs persist
    * (they ARE the corpus — at scale this keyed state lives in the
    * RocksDB state store), while TOMBSTONES evict after the watermark
    * passes `tombstoneRetention` beyond the delete — kept exactly long
    * enough to fence out permissibly-late stale updates, the standard
    * CDC tombstone-retention contract. A resurrection (higher-version
    * upsert for a tombstoned doc) cancels the pending eviction by
    * surviving it: the timeout handler keeps any state that is live
    * again and only removes tombstones.
    *
    * `changes` columns: (doc_id long, text string nullable, version int,
    * deleted boolean, ts timestamp).
    */
  def cdcMergeStream(
      changes: DataFrame,
      tombstoneRetention: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = changes.sparkSession
    import sp.implicits._
    // rank: version, then tombstone-outranks at the same version
    def rank(version: Int, deleted: Boolean): Long =
      version.toLong * 2 + (if (deleted) 1 else 0)
    changes.withWatermark("ts", tombstoneRetention)
      .select(col("doc_id"), col("text"), col("version"),
        col("deleted"), col("ts"))
      .as[CdcEvent]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[DocState, CorpusChange](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (id, rows, state) =>
          if (state.hasTimedOut) {
            // only tombstones schedule eviction; a doc resurrected since
            // the timeout was set stays (update re-arms nothing)
            if (state.get.deleted) state.remove() else state.update(state.get)
            Iterator.empty
          } else {
            val prev = state.getOption
            var cur = prev
            var maxTs = prev.map(_.maxTs).getOrElse(Long.MinValue)
            rows.foreach { r =>
              maxTs = math.max(maxTs, r.ts.getTime)
              val better = cur.forall(s =>
                rank(r.version, r.deleted) > rank(s.version, s.deleted))
              if (better)
                cur = Some(DocState(r.version, r.deleted,
                  r.text.map(_.length.toLong), maxTs))
            }
            val next = cur.get.copy(maxTs = maxTs) // rows is never empty
            state.update(next)
            if (next.deleted && maxTs != Long.MinValue)
              state.setTimeoutTimestamp(maxTs, tombstoneRetention)
            val changed = prev.forall(p =>
              rank(next.version, next.deleted) > rank(p.version, p.deleted))
            if (changed)
              Iterator.single(CorpusChange(
                id, next.version, next.deleted, next.len))
            else Iterator.empty
          }
      }.toDF()
  }

  /** One chunk arriving to be packed: shard routing is the caller's. */
  final case class PackChunk(shard: Int, doc_id: Long, start: Int, n_ctok: Int)

  /** Per-shard packing state: the open bin and its fill. */
  final case class ShardFill(bin: Int, fill: Int)

  /** A packed chunk: which training bin of which shard it landed in. */
  final case class PackedChunk(
      shard: Int, bin: Int, doc_id: Long, start: Int, n_ctok: Int)

  /** Streaming twin of q58's sequence packing: chunks arrive continuously
    * and fill the current bin of their shard, greedy first-come — the
    * incremental form of training-shard construction (append-only bins;
    * a bin is complete the moment a chunk doesn't fit). State per shard
    * is TWO integers (open bin, fill), so the state store is bounded by
    * the shard count alone — no timeout machinery needed.
    *
    * Packing is arrival-order-sensitive by nature; within a micro-batch
    * rows apply in (doc_id, start) order, so feeding the batch q58's
    * chunk stream in order reproduces its exact bin layout (pinned by
    * test). `chunks` columns: (shard int, doc_id long, start int,
    * n_ctok int).
    */
  def packStream(chunks: DataFrame, budget: Int = 256): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = chunks.sparkSession
    import sp.implicits._
    chunks.select(col("shard"), col("doc_id"), col("start"), col("n_ctok"))
      .as[PackChunk]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[ShardFill, PackedChunk](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          var cur = state.getOption.getOrElse(ShardFill(0, 0))
          val out = rows.toSeq.sortBy(r => (r.doc_id, r.start)).map { r =>
            cur =
              if (cur.fill == 0) ShardFill(cur.bin, r.n_ctok)
              else if (cur.fill + r.n_ctok > budget)
                ShardFill(cur.bin + 1, r.n_ctok)
              else ShardFill(cur.bin, cur.fill + r.n_ctok)
            PackedChunk(shard, cur.bin, r.doc_id, r.start, r.n_ctok)
          }
          state.update(cur)
          out.iterator
      }.toDF()
  }

  /** Streaming twin of q59's bloom-prefiltered decontamination: documents
    * arrive as a stream and are probed against a STATIC eval suite — the
    * production shape of eval safety (the corpus streams in continuously;
    * the benchmark set changes rarely and is fixed per run).
    *
    * The machinery is literally q59's (`PackDecon.shingles5 / bitmapOf /
    * hit` — same tokenizer, same hash family, same bitmap builder), so
    * the no-false-negative contract carries over structurally: bloom
    * prefilter + exact confirm ≡ the plain exact join, row for row, and
    * the MemoryStream test pins the stream's output to batch q59's.
    *
    * Every per-shingle step is STATELESS in streaming terms — the bitmap
    * arrives broadcast via a stream-static join, the bloom probe is a
    * codegen'd filter, the confirm is a stream-static equi-join (no
    * buffering: the static side is a hashed relation). State appears only
    * at the end and is bounded twice by the watermark: the per-(doc,
    * shingle) dedup (countDistinct is not streamable; first-wins dedup +
    * count is its streaming form) and the windowed per-doc count, both
    * evicted as event time passes. `docs` columns: (doc_id long,
    * ts timestamp, text string); eval docs are a static frame.
    *
    * The static side is PERSISTED at stream definition: Spark re-executes
    * the static sub-plan of a stream-static join on every micro-batch, so
    * an unpersisted eval/bitmap would pay two full eval-corpus
    * aggregations per batch (ADVICE r10). Cache ownership: the frames
    * register with the DEFINING thread's [[graft.ops.CacheScope]] — the
    * caller drains that scope after the stream stops (the tests do; a
    * long-lived app that redefines streams must too, or caches stack).
    */
  def bloomDeconStream(
      docs: DataFrame,
      evalDocs: DataFrame,
      delay: String = "10 minutes"): DataFrame = {
    import graft.queries.PackDecon
    val eval = graft.ops.CacheScope.persisted(
      evalDocs.select(explode(PackDecon.shingles5).as("sh")).distinct())
    val bitmap = graft.ops.CacheScope.persisted(PackDecon.bitmapOf(eval))
    docs.withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"), explode(PackDecon.shingles5).as("sh"))
      .join(broadcast(bitmap)) // 1-row static bitmap: stream-static cross
      .filter((1 to PackDecon.K).map(PackDecon.hit).reduce(_ && _))
      .select(col("doc_id"), col("ts"), col("sh"))
      .join(broadcast(eval), Seq("sh")) // exact confirm: kills false positives
      .dropDuplicatesWithinWatermark("doc_id", "sh")
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col("window.start").as("w_start"), col("doc_id"), col("n_hits"))
  }

  /** Streaming twin of q77's bigram-LM fluency scoring: documents stream
    * in and are scored against a model trained batch-side on a STATIC
    * corpus — the production "model refresh" shape (the model retrains
    * rarely; the corpus arrives continuously, and each batch's documents
    * are gated before they enter the corpus).
    *
    * The machinery is literally q77's (`PackLm.bigramsOf / modelOf` —
    * same tokenizer, same model arithmetic), so stream and batch scores
    * agree by construction when the stream's documents were in the
    * training corpus (pinned by the MemoryStream test). A streamed
    * bigram UNSEEN in the model is dropped by the inner stream-static
    * join — exactly the batch semantics, where self-training makes the
    * join total; with a stale model, n_bigrams reports the SCORED count,
    * so downstream can gate on coverage too.
    *
    * Per-bigram work is stateless (the model arrives broadcast via a
    * stream-static join); the only state is the watermark-bounded
    * windowed per-doc aggregation. `docs` columns: (doc_id long,
    * ts timestamp, text string); `trainDocs` is a static frame with a
    * `text` column.
    *
    * The FINAL model frame is persisted (not just modelOf's intermediate
    * bigram table): the static sub-plan of a stream-static join re-runs
    * per micro-batch, and without this the model projection + broadcast
    * build would recompute every batch (ADVICE r10). Cache ownership:
    * both frames register with the DEFINING thread's
    * [[graft.ops.CacheScope]] — the caller drains that scope after the
    * stream stops; a long-lived app that redefines streams must drain
    * between definitions or cached models accumulate.
    */
  def lmScoreStream(
      docs: DataFrame,
      trainDocs: DataFrame,
      delay: String = "10 minutes"): DataFrame = {
    val model = graft.ops.CacheScope.persisted(
      graft.queries.PackLm.modelOf(trainDocs))
    graft.queries.PackLm.bigramsOf(docs.withWatermark("ts", delay))
      .join(broadcast(model), Seq("w1", "w2")) // stream-static, stateless
      .groupBy(window(col("ts"), "1 hour"), col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_bp) div count(1)").as("score_bp"))
      .select(col("window.start").as("w_start"), col("doc_id"),
        col("n_bigrams"), col("score_bp"))
  }

  /** One 10-token span of an arriving document. */
  final case class SpanRow(span: String, doc_id: Long, span_idx: Long,
      ts: java.sql.Timestamp)

  /** Per-span state: the first holder's encoded key + the newest event
    * time touching the span (monotone, drives the eviction timeout).
    */
  final case class SpanSeen(maxTs: Long, firstK: Long)

  /** The verdict for one (doc, span): kept = this doc is the span's
    * first holder; dropped spans carry the holder's encoded key
    * (doc·10⁶ + idx — q85's encoding) for lineage.
    */
  final case class SpanVerdict(doc_id: Long, span_idx: Long, span: String,
      kept: Boolean, first_k: Long, ts: java.sql.Timestamp)

  /** Streaming twin of q85's span-level dedup: documents arrive
    * continuously, segment into 10-token spans (q85's device verbatim),
    * and each span's corpus-wide FIRST holder keeps it — later copies
    * emit kept = false with the holder's key. The streaming form of the
    * C4 boilerplate strip: the seen-span set IS the keyed state store,
    * one long per span (RocksDB-ready at scale), so the stripping runs
    * on the live crawl instead of in a nightly batch.
    *
    * Ordering contract (packStream's): within a micro-batch rows apply
    * in encoded-key order, so feeding documents in doc_id order
    * reproduces batch q85's lexicographic-min first-wins exactly
    * (equivalence + checkpointed-restart pinned in StreamingSpec /
    * StreamRestartSpec). Out of order across batches, first-ARRIVAL
    * wins — the honest streaming semantics, same trade
    * dedupWithinWatermark makes for F4.
    *
    * State is evicted once the watermark passes a span untouched for
    * `delay` — a boilerplate span re-arriving after eviction
    * re-registers (bounded state trades recall at the horizon;
    * nearDupStream's posture, documented there).
    *
    * `docs` columns: (doc_id: long, ts: timestamp, text: string).
    */
  def spanDedupStream(docs: DataFrame, delay: String = "10 minutes")
      : DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = docs.sparkSession
    import sp.implicits._
    val spans = docs.withWatermark("ts", delay)
      .select(col("doc_id"), col("ts"),
        words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), col("ts"), posexplode(expr(
        "transform(sequence(0, (size(ws) - 1) div 10), " +
          "i -> array_join(slice(ws, i * 10 + 1, 10), ' '))")))
      .select(col("col").as("span"), col("doc_id"),
        col("pos").cast("long").as("span_idx"), col("ts"))
      .as[SpanRow]
    spans.groupByKey(_.span)
      .flatMapGroupsWithState[SpanSeen, SpanVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (span, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cur = state.getOption.getOrElse(SpanSeen(Long.MinValue, -1L))
            val out = rows.toSeq
              .sortBy(r => r.doc_id * 1000000L + r.span_idx)
              .map { r =>
                val k = r.doc_id * 1000000L + r.span_idx
                val first = cur.firstK < 0
                if (first) cur = cur.copy(firstK = k)
                cur = cur.copy(maxTs = math.max(cur.maxTs, r.ts.getTime))
                SpanVerdict(r.doc_id, r.span_idx, span, first, cur.firstK,
                  r.ts)
              }
            state.update(cur)
            if (cur.maxTs != Long.MinValue)
              state.setTimeoutTimestamp(cur.maxTs, delay)
            out.iterator
          }
      }.toDF()
  }

  /** Streaming twin of q93's count-min sketch: documents stream in and
    * the 4×256 counter table maintains itself as a plain streaming
    * aggregation on the cell key. The kernel — tokenizer, affine hash
    * family, geometry — is literally q93's
    * ([[graft.queries.PackScale.Cms]]), so over the same rows the
    * stream's final table equals the batch sketch cell for cell (the
    * MemoryStream test pins exactly that, and re-derives q93's top-20
    * estimates from the streamed cells).
    *
    * Alone among the twins this one needs NO watermark and no eviction:
    * the state IS the sketch — ≤ D·W = 1024 cells whatever streams past
    * — which is precisely why CMS is the streaming answer to frequency
    * tracking (exact per-token state grows with the vocabulary; the
    * sketch's footprint is a constant). Complete-mode output emits the
    * current table each trigger; tables from parallel streams or shards
    * merge by addition (the sketch of a union is the sum of the
    * sketches — the batch query's shard-mergeability, unchanged).
    * `docs` columns: (doc_id long, text string); only text is read.
    */
  def cmsStream(docs: DataFrame): DataFrame = {
    import graft.queries.PackScale.Cms
    docs.select(explode(words(col("text"))).as("tok"))
      .withColumn("th", Cms.th)
      .select(Cms.cellsOf: _*)
      .select(Cms.cellExplode.as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("cnt"))
  }

  /** Streaming histogram-quantile sketch: the incremental twin of batch
    * q99 ([[graft.queries.PackScale.Hist]] kernel — same cents
    * projection, same bin function, same 1024-bin geometry, so the
    * stream's counter table equals the batch sketch over the same rows
    * cell for cell by construction). The per-group [lo, hi] cents range
    * arrives as a STATIC frame `(g, lo, hi)` fixed a priori — the
    * single-pass trade every production histogram makes: q99's batch
    * form learns the range in its first pass, a stream cannot two-pass,
    * so the range is configuration (rows outside it clamp into the edge
    * bins, which is the documented failure mode of a misconfigured
    * range, not silent loss). State is the per-(group, bin) counter
    * table: ≤ groups × 1024 cells whatever streams past — q93's
    * bounded-state argument applied to quantiles; complete-mode tables
    * merge by addition, so no watermark/eviction is needed. The static
    * side is a constant frame, not a corpus derivation, so per-batch
    * re-evaluation costs nothing (the bloomDeconStream persist lesson
    * does not arise).
    */
  def histStream(orders: DataFrame, range: DataFrame): DataFrame = {
    import graft.queries.PackScale.Hist
    orders.select(col("o_orderstatus").as("g"), Hist.cents.as("c"))
      .join(broadcast(range), "g")
      .select(col("g"), Hist.bin.as("bin"))
      .groupBy("g", "bin").agg(count(lit(1)).as("cnt"))
  }

  final case class KmvRow(g: String, h: Long)
  /** Per-group KMV state: the k smallest distinct affine hashes, sorted
    * ascending — 64 longs per group whatever streams past, the sketch's
    * whole selling point, so no watermark/eviction is needed (q93's
    * bounded-state argument).
    */
  final case class KmvState(hs: Seq[Long])
  final case class KmvReadout(
      source: String, n_kept: Long, kth_h: Long, est_distinct: Long)

  /** Streaming twin of q106's KMV distinct sketch: documents stream in,
    * each group's bottom-64 hash set maintains itself as
    * flatMapGroupsWithState state, and every micro-batch emits the
    * group's refreshed readout (n_kept, kth order statistic, estimate).
    * The kernel — shingle chain, affine map, k=64 floor, estimator — is
    * literally q106's ([[graft.queries.PackScale.Kmv]]), and inserting a
    * row into a KMV sketch is the same truncation-merge the batch spec
    * proves (state ∪ batch, re-take k), so the stream's final readout
    * equals batch q106 over the same rows by construction
    * (StreamingSpec), and recovered state keeps merging after a restart
    * (StreamRestartSpec).
    */
  def kmvStream(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.queries.PackScale.Kmv
    val sp = docs.sparkSession
    import sp.implicits._
    docs
      .select(col("source").as("g"),
        explode(graft.ops.SimOps.wordShingleHashes(lower(col("text")), 3))
          .as("sh"))
      .select(col("g"), Kmv.h.as("h"))
      .as[KmvRow]
      .groupByKey(_.g)
      .flatMapGroupsWithState[KmvState, KmvReadout](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g, rows, state) =>
          val prev = state.getOption.map(_.hs).getOrElse(Seq.empty)
          val merged = (prev ++ rows.map(_.h)).distinct.sorted.take(Kmv.K)
          state.update(KmvState(merged))
          Iterator.single(KmvReadout(g, merged.size.toLong, merged.last,
            Kmv.estOf(merged.size.toLong, merged.last)))
      }.toDF()
  }

  final case class DriftRow(g: String, b: Long)
  /** Per-source drift state: the 64 bucket counters — fixed footprint
    * whatever streams past (q93's bounded-state argument), so no
    * watermark/eviction is needed.
    */
  final case class DriftState(counts: Seq[Long])
  final case class DriftReadout(source: String, n_toks: Long, tv_bp: Long)

  /** Streaming twin of q111's bucketed distribution drift: documents
    * stream in, each source's 64 bucket counters maintain themselves as
    * flatMapGroupsWithState state, and every micro-batch emits the
    * source's refreshed total-variation distance against a STATIC
    * reference corpus — the production drift monitor: the reference mix
    * is computed once, the crawl arrives forever, and the dashboard
    * wants "how far has source X drifted from the reference" after
    * every batch.
    *
    * The kernel is literally q111's (`TextOps.words` / `bucketCol` —
    * the explicit PolyHash feature space, and the identical
    * full-support TV algebra in exact BigInt), so stream and batch
    * readouts agree when the stream replays the reference corpus
    * (pinned by the MemoryStream test). The reference histogram is 64
    * longs COLLECTED driver-side — the fixed-footprint exception
    * (1-row-manifest class): it rides into the stateful function as a
    * closure, the one way a mapGroups function can see it.
    *
    * Self-drift convention matches q111: when the stream replays the
    * reference itself, a source's TV measures its distance from the
    * corpus-wide mixture — the same readout q111 gates.
    */
  def driftStream(docs: DataFrame, reference: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.queries.PackSignal
    val sp = docs.sparkSession
    import sp.implicits._
    val nb = PackSignal.NB
    val refArr = Array.fill(nb)(0L)
    reference.select(explode(words(col("text"))).as("tok"))
      .select(PackSignal.bucketCol.as("b"))
      .groupBy("b").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect()
      .foreach { case (b, n) => refArr(b.toInt) = n }
    val rr = BigInt(refArr.sum)
    docs
      .select(col("source").as("g"), explode(words(col("text"))).as("tok"))
      .select(col("g"), PackSignal.bucketCol.as("b"))
      .as[DriftRow]
      .groupByKey(_.g)
      .flatMapGroupsWithState[DriftState, DriftReadout](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g, rows, state) =>
          val counts = state.getOption
            .map(_.counts.toArray).getOrElse(Array.fill(nb)(0L))
          rows.foreach(r => counts(r.b.toInt) += 1)
          state.update(DriftState(counts.toVector))
          val ns = BigInt(counts.sum)
          // q111's exact full-support TV: here the complement needs no
          // algebraic trick — the state IS the full 64-cell support
          val present = (0 until nb).map(i =>
            (BigInt(counts(i)) * rr - BigInt(refArr(i)) * ns).abs).sum
          val tv =
            if (ns == 0 || rr == 0) 0L
            else (present * 10000 / (2 * ns * rr)).toLong
          Iterator.single(DriftReadout(g, counts.sum, tv))
      }.toDF()
  }

  /** Stateful streaming dedup: first occurrence of `keys` wins; state for
    * a key is dropped once the watermark passes it (bounded state — the
    * streaming form of F4's seen-set, extract.py:87-97).
    */
  def dedupWithinWatermark(events: DataFrame, delay: String,
      keys: String*): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming twin of q88's incremental ingest cleaning — the most
    * stream-shaped job in the catalog: the corpus was cleaned once and
    * sits still; crawl increments arrive forever. Each streamed
    * increment document gets the batch verdict — `exact_dup` (its hash
    * exists in the corpus), `stale` (span novelty ≤ 5000 bp: a re-crawl
    * or light re-wrap), or `keep` — plus the span-novelty audit numbers.
    *
    * The kernel is literally q88's ([[graft.queries.PackRefresh]]'s
    * tokenizer and 10-token span segmentation), so stream and batch
    * verdicts agree by construction (pinned by the MemoryStream test).
    *
    * Scale posture — the streaming direction FLIPS q88's asymmetry: in
    * batch, the increment is known up front, so its sets broadcast and
    * the corpus scans once per granularity. A stream doesn't know its
    * increment ahead of time, so the corpus side becomes the STATIC
    * index: its distinct hash set and distinct span set are computed
    * once, persisted (the static sub-plan of a stream-static join
    * re-runs every micro-batch otherwise — the lmScoreStream lesson),
    * and probed per arriving row. Neither static set gets a broadcast
    * hint: both are corpus-derived and unbounded (q98's posture) — the
    * hash/span probes are plain stream-static equi-joins, state-free by
    * construction; the only streaming state is the watermark-bounded
    * per-document window aggregation.
    *
    * `inc` columns: (new_id long, ts timestamp, text string).
    * `corpus` is a static frame with a `text` column. Documents with no
    * tokens are dropped (batch q88's `size(ws) >= 1` gate).
    */
  def incrementCleanStream(
      inc: DataFrame,
      corpus: DataFrame,
      delay: String = "10 minutes"): DataFrame = {
    import graft.queries.PackRefresh
    val corpusHashes = graft.ops.CacheScope.persisted(
      corpus.select(sha2(col("text"), 256).as("h")).distinct()
        .withColumn("isdup", lit(1L)))
    val corpusSpans = graft.ops.CacheScope.persisted(
      corpus.select(words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 1)
        .select(explode(expr(PackRefresh.spanExpr)).as("span")).distinct()
        .withColumn("stale", lit(1L)))
    inc.withWatermark("ts", delay)
      .withColumn("h", sha2(col("text"), 256))
      .withColumn("ws", words(col("text")))
      .filter(size(col("ws")) >= 1)
      .select(col("new_id"), col("ts"), col("h"),
        explode(expr(PackRefresh.spanExpr)).as("span"))
      .join(corpusSpans, Seq("span"), "left")
      .join(corpusHashes, Seq("h"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("new_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("stale").isNotNull, 0L).otherwise(1L)).as("n_new"),
        max(col("isdup")).as("isdup"))
      .select(col("window.start").as("w_start"), col("new_id"),
        col("n_spans"), col("n_new"),
        expr("n_new * 10000 div n_spans").as("novelty_bp"),
        when(col("isdup").isNotNull, "exact_dup")
          .when(expr("n_new * 10000 div n_spans") <= 5000, "stale")
          .otherwise("keep").as("verdict"))
  }

  /** Streaming twin of q107's SEARCH stage — ANN serving: the index is
    * built batch-side once (q107's exact frames via
    * [[graft.queries.PackAnn.sq8Parts]] — cell centroid sums, SQ8
    * ranges, the cached code frame), and QUERIES arrive as a stream,
    * each probing its top-2 cells and returning its top-3 neighbors in
    * code space. This is the production shape of every vector index:
    * the corpus is indexed rarely; queries arrive forever.
    *
    * The kernels are literally q107's (`encodeExpr`, `probeScoreOf` —
    * one definition, so batch and stream cannot drift); the probe
    * mechanics differ only where streaming must: a streaming frame
    * cannot rank with a window function, so the per-cell scores are
    * computed inside ONE array expression against the broadcast 1-row
    * index (cells are index-cardinality, bounded by construction) and
    * top-2 falls out of `array_sort` + `slice` — per-row scalar work,
    * no state. The MemoryStream spec pins stream = batch q107 row for
    * row.
    *
    * Scale posture: the collapsed (cells, ranges) row is tiny and
    * broadcasts; the CODE frame is the served index — the stream-static
    * equi-join on the probed cell is stateless and reads codes only
    * (never corpus floats, q107's contract), with no broadcast hint
    * (corpus-derived, unbounded). The only streaming state is the
    * watermark-bounded per-query window aggregation that assembles the
    * top-3 (a bounded collect_list: ≤ probed-cells × cell-occupancy
    * candidates per query, then sliced to 3).
    *
    * `queries` columns: (q_id long, ts timestamp,
    * embedding array<float>). `sfDir` locates the embeddings table the
    * index is built from. Caches (stats + codes + index row) register
    * with the defining thread's CacheScope — drain after the stream
    * stops.
    */
  def annServeStream(
      queries: DataFrame,
      sfDir: String,
      delay: String = "10 minutes"): DataFrame = {
    import graft.queries.PackAnn
    val s = queries.sparkSession
    val (_, reps, ranges, codes) = PackAnn.sq8Parts(s, sfDir)
    // collapse the index-side small frames to ONE row: every streamed
    // query meets the whole coarse quantizer + ranges in one broadcast
    val idx = graft.ops.CacheScope.persisted(
      reps.agg(sort_array(collect_list(
        struct(col("cell"), col("rv"), col("nb2")))).as("cs"))
        .crossJoin(ranges))
    queries.withWatermark("ts", delay)
      .select(col("q_id"), col("ts"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")).as("qv"))
      .join(broadcast(idx)) // 1-row static index: stream-static cross
      .withColumn("na2",
        expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)"))
      .withColumn("sc", expr(
        "transform(cs, c -> struct(" +
          "aggregate(zip_with(qv, c.rv, (a, b) -> a * b), 0L," +
          " (acc, x) -> acc + x) as dot, c.nb2 as nb2, c.cell as cell))"))
      // top-2 cells by (score desc, cell): default struct sort on
      // (-score, cell) — the window-free form of q107's probe rank
      // na2 guards to 1 for a degenerate all-zero query vector (its dot
      // is 0, so the score is 0 either way — but a serving stream must
      // not die on junk input the batch side cannot even express)
      .withColumn("top2", expr(
        "slice(array_sort(transform(sc, t -> struct(" +
          "-" + PackAnn.probeScoreOf("t.dot", "greatest(na2, 1L)", "t.nb2") +
          " as negscore, t.cell as cell))), 1, 2)"))
      .withColumn("qc", expr(PackAnn.encodeExpr.format("qv")))
      .select(col("q_id"), col("ts"), col("qc"),
        explode(expr("transform(top2, t -> t.cell)")).as("cell"))
      .join(codes, Seq("cell")) // stream-static equi-join on the index
      .select(col("q_id"), col("ts"), col("cell"), col("c_id"),
        expr("aggregate(zip_with(code, qc, (a, b) -> (a - b) * (a - b))," +
          " 0L, (acc, x) -> acc + x)").as("qdist"))
      .groupBy(window(col("ts"), "1 hour"), col("q_id"))
      .agg(expr("slice(array_sort(collect_list(" +
        "struct(qdist, c_id, cell))), 1, 3)").as("top"))
      .select(col("window.start").as("w_start"), col("q_id"),
        posexplode(col("top")).as(Seq("i", "t")))
      .select(col("w_start"), col("q_id"), col("t.cell").as("cell"),
        col("t.c_id").as("c_id"), col("t.qdist").as("qdist"),
        (col("i") + 1).cast("int").as("rk"))
  }

  /** The events table's on-disk schema when the driver writes ts as
    * parquet timestamp[ns] (arrives as long nanos under nanosAsLong —
    * see graft.queries.Tables.events). The r12 testdata regeneration
    * switched ts to timestamp[us], which arrives natively as a
    * timestamp; [[eventsStream]] probes the actual layout instead of
    * assuming this schema.
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source streaming read of an events directory — the streaming
    * twin of Tables.events; new parquet files appearing under `dir` are
    * incrementally processed. A streaming source needs its schema
    * declared up front, so the on-disk layout is probed with ONE batch
    * metadata read (footer only — no data scan), then normalized exactly
    * as Tables.events does: long nanos truncate to microseconds, native
    * timestamp[us] casts through. Assuming the ns layout against a µs
    * file silently reads raw micros as nanos — timestamps land in 1970
    * and every window is wrong (r13 regression). If the directory holds
    * no parquet yet (a stream defined before its first file lands — a
    * legitimate streaming start order), the probe can't infer anything;
    * fall back to the declared ns layout so definition still succeeds,
    * matching pre-r13 behavior for the empty-dir case.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk =
      try spark.read.parquet(dir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => eventsRawSchema }
    val df = spark.readStream.schema(onDisk).parquet(dir)
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Streaming twin of q113 — exact-substring dedup of INCOMING docs
    * against a STATIC corpus (the production shape of substring dedup:
    * the corpus index is built rarely, new crawl arrives forever —
    * incrementCleanStream's asymmetry at 50-token window granularity).
    * Each incoming doc explodes its 50-token window fingerprints
    * (q113's `pos_shingle_hash62` — the ONE kernel, so stream and
    * batch cannot drift), probes the corpus fingerprint set with a
    * stateless stream-static left join, and folds its duplicate
    * positions into maximal islands (q113's interval union) inside ONE
    * `aggregate` HOF — a streaming frame cannot rank with a window
    * function, but a doc's duplicate-position list is bounded by its
    * own length, so the fold is per-row scalar work, no state beyond
    * the watermark-bounded per-doc window aggregation.
    *
    * DEFINED semantics differ from batch q113 in two honest ways:
    * (1) dedup is against the corpus only — intra-increment repeats
    * are the batch pass's job; (2) the match is fingerprint-exact
    * (62-bit), not string-exact — the verify stage needs the corpus
    * gram strings, which is batch work (q113's colliding-bucket
    * re-read); a false hit is ~corpus_windows/2⁶² per window, and
    * docs this stream flags re-check exactly in the next batch cycle.
    *
    * Output per (hour window, new_id): token/window counts, duplicate
    * windows, maximal islands, tokens covered, and the verdict every
    * crawl loop routes on — `subsumed` (every token duplicated),
    * `partial_dup`, `clean`.
    *
    * `inc` columns: (new_id long, ts timestamp, text string).
    */
  def substringDedupStream(
      inc: DataFrame,
      corpus: DataFrame,
      delay: String = "10 minutes"): DataFrame = {
    val W = 50
    def fps(wsCol: org.apache.spark.sql.Column) =
      org.apache.spark.sql.graftglue.ExprGlue.column(
        graft.expr.PosShingleHash62(
          org.apache.spark.sql.graftglue.ExprGlue.expression(wsCol), W))
    val corpusFps = graft.ops.CacheScope.persisted(
      corpus.select(words(col("text")).as("ws"))
        .filter(size(col("ws")) >= W)
        .select(explode(fps(col("ws"))).as("h")).distinct()
        .withColumn("hit", lit(1L)))
    inc.withWatermark("ts", delay)
      .withColumn("ws", words(col("text")))
      .withColumn("n", size(col("ws")).cast("long"))
      .filter(col("n") >= 1)
      .select(col("new_id"), col("ts"), col("n"),
        posexplode_outer(fps(col("ws"))).as(Seq("pos", "h")))
      .join(corpusFps, Seq("h"), "left")
      .groupBy(window(col("ts"), "1 hour"), col("new_id"))
      .agg(first(col("n")).as("n_toks"),
        count(col("pos")).as("n_windows"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L))
          .as("n_dup_windows"),
        sort_array(collect_list(when(col("hit").isNotNull, col("pos"))))
          .as("ps"))
      // q113's interval union as a fold: new island when a window
      // starts past the covered end + 1; adjacent/overlapping extend
      .withColumn("isl", expr(s"""aggregate(ps,
          named_struct('last', cast(-2 as bigint),
                       'isl', cast(0 as bigint),
                       'drop', cast(0 as bigint)),
          (acc, p) -> case
            when p > acc.last + 1 then named_struct(
              'last', cast(p as bigint) + ${W - 1},
              'isl', acc.isl + 1, 'drop', acc.drop + $W)
            when p + ${W - 1} > acc.last then named_struct(
              'last', cast(p as bigint) + ${W - 1}, 'isl', acc.isl,
              'drop', acc.drop + cast(p as bigint) + ${W - 1} - acc.last)
            else acc end)"""))
      .select(col("window.start").as("w_start"), col("new_id"),
        col("n_toks"), col("n_windows"), col("n_dup_windows"),
        col("isl.isl").as("n_islands"), col("isl.drop").as("n_dropped"),
        when(col("isl.drop") === 0L, "clean")
          .when(col("isl.drop") >= col("n_toks"), "subsumed")
          .otherwise("partial_dup").as("verdict"))
  }

  final case class FunnelEvent(user_id: Long, event_type: String, us: Long)
  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  final case class FunnelStep(user_id: Long, step: Long, us: Long)

  /** Streaming twin of q125's ordered funnel: users' step transitions
    * emit the MOMENT they happen — the live conversion dashboard.
    * State per user is three longs (the step timestamps, −1 = not yet);
    * a row advances the funnel only if its step is next AND its time is
    * STRICTLY after the previous step's (batch q125's semantics — and
    * under time-ordered replay the first qualifying event seen IS the
    * minimum the batch operator picks, so the emitted step sets equal
    * batch counts exactly, pinned by test). Like packStream, the
    * operator is arrival-order-sensitive by nature: within a
    * micro-batch rows apply in event-time order, and the equivalence
    * contract assumes batches arrive in time order (the file-source /
    * kafka-per-key reality; a production deployment adds a watermark
    * re-sort upstream if its source reorders).
    *
    * `events` columns: (user_id long, event_type string, us long).
    */
  def funnelStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("event_type"), col("us"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStep](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ListBuffer.empty[FunnelStep]
          rows.toSeq.sortBy(_.us).foreach { r =>
            r.event_type match {
              case "view" if st.t1 < 0 =>
                st = st.copy(t1 = r.us)
                out += FunnelStep(uid, 1L, r.us)
              case "click" if st.t1 >= 0 && st.t2 < 0 && r.us > st.t1 =>
                st = st.copy(t2 = r.us)
                out += FunnelStep(uid, 2L, r.us)
              case "purchase" if st.t2 >= 0 && st.t3 < 0 && r.us > st.t2 =>
                st = st.copy(t3 = r.us)
                out += FunnelStep(uid, 3L, r.us)
              case _ => ()
            }
          }
          state.update(st)
          out.iterator
      }.toDF()
  }

  final case class RetEvent(user_id: Long, event_type: String, wk: Long)
  final case class RetState(cohort: Long, mask: Long)
  final case class RetDelta(cohort_wk: Long, wk_offset: Long, user_id: Long)

  /** Streaming twin of q130's cohort retention: the triangle updates
    * LIVE — each (user, week) first-activity emits one delta row
    * (cohort_wk, wk_offset, user_id), and the dashboard is a running
    * count over the deltas (the test folds them and pins the result to
    * batch q130's triangle). State per user is TWO longs: the cohort
    * week and a bitmask of already-emitted offsets (64-week horizon —
    * the dashboard window; offsets past it are dropped, documented),
    * so re-delivery across micro-batches and restarts can never
    * double-count a cell. funnelStream's ordering contract: batches
    * replay in time order, and within a batch signups sort before
    * same-week activity so the cohort is set when its own week's
    * activity lands.
    *
    * `events` columns: (user_id long, event_type string, wk long).
    */
  def retentionStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("event_type"), col("wk"))
      .as[RetEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, RetDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, rows, state) =>
          var st = state.getOption.getOrElse(RetState(-1L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[RetDelta]
          rows.toSeq
            .sortBy(r => (r.wk, if (r.event_type == "signup") 0 else 1))
            .foreach { r =>
              if (r.event_type == "signup" && st.cohort < 0)
                st = st.copy(cohort = r.wk)
              if (st.cohort >= 0 && r.wk >= st.cohort) {
                val off = r.wk - st.cohort
                if (off < 64 && ((st.mask >> off) & 1L) == 0L) {
                  st = st.copy(mask = st.mask | (1L << off))
                  out += RetDelta(st.cohort, off, uid)
                }
              }
            }
          state.update(st)
          out.iterator
      }.toDF()
  }

  final case class GapEvent(event_type: String, hour: Long)
  final case class GapState(next: Long, pending: Map[Long, Long])
  final case class GapRow(event_type: String, hour: Long, n: Long,
      filled: Long)

  /** Streaming twin of q131's time-series gap-fill: the LIVE
    * densification readout — dashboards consume exactly this shape. Per
    * event type, buckets finalize as the observed frontier advances:
    * when an event lands in hour H, every bucket strictly below the
    * type's max observed hour is closed and emitted — observed buckets
    * with their counts, EMPTY buckets as explicit (n=0, filled=1) rows,
    * exactly the batch operator's dense axis, in axis order, incremental.
    * The frontier bucket itself stays open (an in-order stream may still
    * add to it), so each emitted row is FINAL — no retraction channel
    * needed, which is what makes the append-mode dashboard read correct.
    *
    * State per type: the next-unemitted hour plus counts for the OPEN
    * tail only (hours in [next, frontier]) — bounded by the reorder
    * horizon, not the axis length; closed buckets leave state the
    * moment they emit. Ordering contract (funnelStream's): batches
    * replay in event-time order; within a batch order is free (the
    * fold maxes the frontier before emitting). A row arriving BELOW
    * `next` lands in an already-finalized bucket and is dropped —
    * that is a watermark-violating late row, the same drop
    * `dedupWithinWatermark` documents, not silent data loss.
    *
    * Feeding batch q131's events hour-ordered plus one flush row per
    * type past the axis end reproduces the batch rows for the full
    * [h_lo, h_hi] axis (pinned by test); a checkpointed restart
    * recovers frontier and open-tail counts exactly.
    *
    * `events` columns: (event_type string, hour long).
    */
  def gapfillStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("event_type"), col("hour"))
      .as[GapEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[GapState, GapRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ, rows, state) =>
          val rs = rows.toSeq
          var st = state.getOption.getOrElse(GapState(-1L, Map.empty))
          val origin = if (st.next >= 0L) st.next else rs.map(_.hour).min
          var pending = st.pending
          rs.foreach { r =>
            if (r.hour >= origin) // below = finalized-bucket late row
              pending = pending.updated(r.hour,
                pending.getOrElse(r.hour, 0L) + 1L)
          }
          val frontier = pending.keys.foldLeft(origin)(math.max)
          val out = (origin until frontier).map { h =>
            val n = pending.getOrElse(h, 0L)
            GapRow(typ, h, n, if (n == 0L) 1L else 0L)
          }
          state.update(
            GapState(frontier, pending.filter(_._1 >= frontier)))
          out.iterator
      }.toDF()
  }

  final case class TransEvent(user_id: Long, event_type: String, us: Long,
      event_id: Long)
  final case class TransState(us: Long, event_id: Long, event_type: String)
  final case class TransDelta(src: String, dst: String)

  /** Streaming twin of q132's transition matrix — the live Sankey feed:
    * each arriving event emits one (src, dst) delta against its user's
    * LAST event, and the dashboard is a running count over the deltas
    * (the test folds them and pins the result to batch q132's matrix).
    * State per user is one (us, event_id, event_type) triple — the
    * minimum that continues the walk — so state is user-cardinality
    * whatever streams past, and a restart resumes mid-walk exactly.
    *
    * Ordering contract (funnelStream's): batches replay in time order;
    * within a batch the fold sorts by (us, event_id) — q132's exact
    * tie-break — before walking.
    */
  def transitionStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("event_type"), col("us"),
        col("event_id"))
      .as[TransEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          var prev = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer.empty[TransDelta]
          rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
            if (prev != null) out += TransDelta(prev.event_type, r.event_type)
            prev = TransState(r.us, r.event_id, r.event_type)
          }
          state.update(prev)
          out.iterator
      }.toDF()
  }

  final case class BurstState(next: Long, pending: Map[Long, Long],
      ring: Seq[(Long, Long)])
  final case class BurstRow(event_type: String, hour: Long, n: Long,
      trail_n: Long, trail_sum: Long, burst: Long)

  /** Streaming twin of q134's burst detection — the LIVE alerting form:
    * hourly buckets close as the per-type observed frontier advances
    * (gapfillStream's finalize-on-advance device), and each closing
    * bucket is judged against the trailing ≤24 CLOSED observed buckets
    * by the same integer cross-multiplication (`n·trail_n >
    * 3·trail_sum`). Rows emit only once the warm-up bound (6 trailing
    * buckets) is met — exactly the batch predicate, so the alert fires
    * the moment the batch report WOULD have flagged the bucket, not at
    * end of day.
    *
    * State per type: the frontier, the open-tail pending counts
    * (gapfillStream's bound), and the 24-slot closed-bucket ring —
    * fixed footprint whatever streams past. Ordering contract and late
    * handling are gapfillStream's verbatim: within-batch free,
    * cross-batch time-ordered, below-frontier rows dropped as
    * finalized-bucket stragglers.
    *
    * `events` columns: (event_type string, hour long).
    */
  def burstStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("event_type"), col("hour"))
      .as[GapEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[BurstState, BurstRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ, rows, state) =>
          val rs = rows.toSeq
          val st = state.getOption
            .getOrElse(BurstState(-1L, Map.empty, Seq.empty))
          val origin = if (st.next >= 0L) st.next else rs.map(_.hour).min
          var pending = st.pending
          rs.foreach { r =>
            if (r.hour >= origin)
              pending = pending.updated(r.hour,
                pending.getOrElse(r.hour, 0L) + 1L)
          }
          val frontier = pending.keys.foldLeft(origin)(math.max)
          var ring = st.ring
          val out = scala.collection.mutable.ListBuffer.empty[BurstRow]
          // q134's axis is OBSERVED buckets only: closing hours are the
          // pending keys below the frontier, in axis order
          pending.keys.filter(_ < frontier).toSeq.sorted.foreach { h =>
            val n = pending(h)
            val (tn, ts) = (ring.size.toLong, ring.map(_._2).sum)
            if (tn >= 6)
              out += BurstRow(typ, h, n, tn, ts,
                if (n * tn > 3L * ts) 1L else 0L)
            ring = (ring :+ (h, n)).takeRight(24)
          }
          state.update(
            BurstState(frontier, pending.filter(_._1 >= frontier), ring))
          out.iterator
      }.toDF()
  }

  final case class CusumState(next: Long, pending: Map[Long, Long],
      seen: Long, b: Long, s: Long)
  final case class CusumRow(event_type: String, day: Long, n: Long,
      b: Long, s: Long, alarm: Long)

  /** Streaming twin of q166's CUSUM drift detector — the LIVE
    * level-shift monitor: daily buckets close as the per-type observed
    * frontier advances (gapfillStream's finalize-on-advance device),
    * the first 7 closed days fix the baseline sum B, and every later
    * closing day folds straight through the recurrence
    * `S ← max(0, S + 14·n − 3·B)` — O(1) state per type, the batch
    * operator's prefix-minimum window identity un-needed here because a
    * stream IS the recurrence. The alarm (`S > 8·B`) raises the moment
    * the shifted day closes, not at end of report.
    *
    * Emitted rows are FINAL (each monitored day is scored exactly once,
    * at closure — append sink, no retractions). Feeding batch q166's
    * events plus a flush sentinel beyond the last day reproduces its
    * monitored rows exactly (pinned by test); a checkpointed restart
    * recovers (frontier, baseline, S) and continues the fold, so a
    * mid-baseline split cannot corrupt B. Ordering contract and late
    * handling are gapfillStream's verbatim: within-batch free,
    * cross-batch time-ordered, below-frontier stragglers dropped.
    *
    * `events` columns: (event_type string, day long).
    */
  def cusumStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("event_type"), col("day").as("hour"))
      .as[GapEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ, rows, state) =>
          val rs = rows.toSeq
          val st = state.getOption
            .getOrElse(CusumState(-1L, Map.empty, 0L, 0L, 0L))
          val origin = if (st.next >= 0L) st.next else rs.map(_.hour).min
          var pending = st.pending
          rs.foreach { r =>
            if (r.hour >= origin)
              pending = pending.updated(r.hour,
                pending.getOrElse(r.hour, 0L) + 1L)
          }
          val frontier = pending.keys.foldLeft(origin)(math.max)
          var (seen, b, s) = (st.seen, st.b, st.s)
          val out = scala.collection.mutable.ListBuffer.empty[CusumRow]
          pending.keys.filter(_ < frontier).toSeq.sorted.foreach { d =>
            val n = pending(d)
            seen += 1
            if (seen <= 7L) b += n
            else {
              s = math.max(0L, s + 14L * n - 3L * b)
              out += CusumRow(typ, d, n, b, s,
                if (s > 8L * b) 1L else 0L)
            }
          }
          state.update(CusumState(frontier,
            pending.filter(_._1 >= frontier), seen, b, s))
          out.iterator
      }.toDF()
  }

  /** STREAM-STREAM interval join — the attribution pair feed under
    * q147: purchases and touches arrive as two live streams, and every
    * (purchase, preceding-touch-within-30-min) pair emits the moment
    * both sides exist. This is the one streaming-join class the rest
    * of the catalog's twins don't exercise (they are stateful folds or
    * stream-STATIC probes): both sides carry event-time watermarks and
    * the join condition is time-bounded in both directions, which is
    * exactly what lets Spark expire join state — without the interval
    * bound the touch buffer would grow forever. Inner-join semantics
    * emit eagerly (no flush needed); the last-touch argmax is the
    * consumer's fold (the test pins pairs→argmax ≡ batch q147's
    * attributed rows), because collapsing to the winner inside the
    * stream would need a second stateful stage that append-mode
    * stream-stream joins cannot chain — a real pipeline lands the
    * pairs and lets the mart fold them, so the operator models that.
    *
    * `purchases` columns: (user_id long, event_id long, us long);
    * `touches` columns: (user_id long, event_id long, event_type
    * string, us long).
    */
  def touchPairsStream(purchases: DataFrame, touches: DataFrame)
      : DataFrame = {
    val p = purchases
      .select(col("user_id"), col("event_id").as("purchase_id"),
        timestamp_micros(col("us")).as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val t = touches
      .select(col("user_id").as("t_user"),
        col("event_id").as("touch_id"),
        col("event_type").as("touch_type"),
        timestamp_micros(col("us")).as("t_ts"))
      .withWatermark("t_ts", "1 hour")
    p.join(t,
        col("user_id") === col("t_user") &&
          col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("user_id"),
        col("touch_id"), col("touch_type"),
        unix_micros(col("p_ts")).as("p_us"),
        unix_micros(col("t_ts")).as("t_us"))
  }

  final case class TrendState(h0: Long, next: Long,
      pending: Map[Long, Long], n: Long, sx: Long, sy: Long, sxy: Long,
      sxx: Long)
  final case class TrendRow(event_type: String, n_buckets: Long,
      events: Long, slope_e6: Long)

  /** Streaming twin of q150's OLS trend — ONLINE regression: the five
    * sufficient statistics (n, Σx, Σy, Σxy, Σx²) accumulate per type
    * as hourly buckets CLOSE (gapfillStream's frontier device decides
    * closure; the open bucket's count may still grow, so it never
    * enters the sums), and each micro-batch that closes ≥ 1 bucket
    * emits the refreshed slope once n ≥ 2 — the live trend line under
    * the dashboard, recomputed from O(1) state per type, never from
    * history. x rebases to the type's first observed hour exactly as
    * the batch operator does, so feeding batch q150's events plus a
    * flush sentinel reproduces its rows as each type's LAST emission
    * (pinned by test); a checkpointed restart recovers the sums and
    * continues the fit.
    *
    * Ordering contract and late handling are gapfillStream's verbatim.
    * `events` columns: (event_type string, hour long).
    */
  def trendStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("event_type"), col("hour"))
      .as[GapEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[TrendState, TrendRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ, rows, state) =>
          val rs = rows.toSeq
          val st = state.getOption.getOrElse(
            TrendState(-1L, -1L, Map.empty, 0L, 0L, 0L, 0L, 0L))
          val h0 = if (st.h0 >= 0L) st.h0 else rs.map(_.hour).min
          val origin = if (st.next >= 0L) st.next else h0
          var pending = st.pending
          rs.foreach { r =>
            if (r.hour >= origin)
              pending = pending.updated(r.hour,
                pending.getOrElse(r.hour, 0L) + 1L)
          }
          val frontier = pending.keys.foldLeft(origin)(math.max)
          var (n, sx, sy, sxy, sxx) = (st.n, st.sx, st.sy, st.sxy, st.sxx)
          var closed = false
          pending.keys.filter(_ < frontier).toSeq.sorted.foreach { h =>
            val (x, y) = (h - h0, pending(h))
            n += 1; sx += x; sy += y; sxy += x * y; sxx += x * x
            closed = true
          }
          state.update(TrendState(h0, frontier,
            pending.filter(_._1 >= frontier), n, sx, sy, sxy, sxx))
          if (closed && n >= 2)
            Iterator.single(TrendRow(typ, n, sy,
              (n * sxy - sx * sy) * 1000000L / (n * sxx - sx * sx)))
          else Iterator.empty
      }.toDF()
  }

  final case class ZIncRow(file_id: Long, event_id: Long)
  final case class ZMaintState(cnt: Long)
  final case class ZMaintReport(file_id: Long, n_base: Long, n_inc: Long,
      new_total: Long, needs_split: Long)

  /** Streaming twin of q124's Z-order maintenance: the layout is FROZEN
    * (computed batch-side, `PackLayout.layoutSummary` — F boundary
    * values, F base counts, 4 bucket stats, the target size: a
    * fixed-footprint driver-side summary, driftStream's reference-
    * histogram exception), and increments stream in. Each row re-buckets
    * with the frozen stats (clamped at the learned range), takes its
    * file by counting boundaries below its z — a literal-array HOF, no
    * join at all — and per-file counters accumulate in state: ONE long
    * per file, bounded by F whatever streams past. Every micro-batch
    * emits the refreshed report row for each TOUCHED file, so the
    * `needs_split` flip is an alert the moment it happens — the
    * OPTIMIZE-trigger dashboard as a stream.
    *
    * Feeding batch q124's increment reproduces its per-file rows for
    * every touched file (pinned by test); a checkpointed restart
    * recovers the counters exactly.
    *
    * `inc` columns: (event_id long, user_id long, us long).
    */
  def zorderMaintainStream(inc: DataFrame,
      files: Seq[(Long, Long, Long)], stats: (Long, Long, Long, Long),
      target: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.queries.PackLayout.{B, mortonSql}
    val sp = inc.sparkSession
    import sp.implicits._
    val nF = files.size
    val sorted = files.sortBy(_._1)
    val bounds = sorted.map(_._3)
    val baseOf = files.map(f => f._1 -> f._2).toMap
    val (uLo, uHi, tLo, tHi) = stats
    val bsLit = bounds.map(b => s"${b}L").mkString("array(", ", ", ")")
    // ordinal -> REAL file_id: the boundary count equals the file_id only
    // for contiguous 0..F-1 layouts; a degenerate base (n < F) emits
    // sparse ids and the raw ordinal would credit phantom files with
    // n_base=0 (ADVICE r14 — batch q124 fixed the same way)
    val fidsLit = sorted.map(f => s"${f._1}L").mkString("array(", ", ", ")")
    inc
      .withColumn("xb", expr(s"least(${B - 1}L, greatest(0L, " +
        s"(user_id - ${uLo}L) * $B div ${uHi - uLo + 1}L))"))
      .withColumn("yb", expr(s"least(${B - 1}L, greatest(0L, " +
        s"(us - ${tLo}L) * $B div ${tHi - tLo + 1}L))"))
      .withColumn("z", expr(mortonSql("xb", "yb")))
      .withColumn("file_id", expr(s"element_at($fidsLit, " +
        s"cast(least(${nF - 1}, size(filter($bsLit, b -> b < z))) as int)" +
        " + 1)"))
      .select(col("file_id"), col("event_id"))
      .as[ZIncRow]
      .groupByKey(_.file_id)
      .flatMapGroupsWithState[ZMaintState, ZMaintReport](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fid, rows, state) =>
          val cnt = state.getOption.map(_.cnt).getOrElse(0L) + rows.size
          state.update(ZMaintState(cnt))
          val nb = baseOf.getOrElse(fid, 0L)
          Iterator.single(ZMaintReport(fid, nb, cnt, nb + cnt,
            if (nb + cnt > 3L * target / 2L) 1L else 0L))
      }.toDF()
  }

  final case class WSampleDoc(source: String, doc_id: Long, wt: Long,
      step: Long)
  final case class WSampleState(cum: Long)
  final case class WSamplePick(source: String, doc_id: Long, wt: Long,
      cum: Long, step: Long, picks: Long)

  /** Streaming twin of q122's weighted systematic sample — the mixture
    * plan EXECUTED on a live ingest: the per-source grid step (the plan —
    * q63/q101's output, total_w/K in the batch form) is a STATIC frame
    * computed upstream; documents stream in, each source accumulates
    * weight, and a document is emitted with `picks = ⌊cum/step⌋ −
    * ⌊(cum−wt)/step⌋` crossings exactly as the batch operator computes
    * them. Feeding the batch corpus in doc_id order with the batch's
    * step frame reproduces batch q122 row for row (pinned by test).
    *
    * State per source is ONE long (the cumulative weight) — bounded by
    * source count, no watermark or timeout machinery (packStream's
    * posture). The step frame rides in via a stream-static broadcast
    * join BEFORE the stateful operator, so the state function never
    * holds the plan — swap the static frame to re-plan, state carries
    * over (the re-mix-without-restart property).
    *
    * ORDERING CONTRACT (the systematic-sample analogue of an as-of
    * join's time ordering): WITHIN a micro-batch arrival order is free
    * — the fold sorts each source's rows by doc_id before walking the
    * grid (tested with shuffled batches). ACROSS micro-batches each
    * source's doc_ids must arrive non-decreasing; the deployment that
    * guarantees it is source-per-partition ingest (one Kafka partition
    * per source, offsets follow doc order — the same contract the
    * batch operator's `orderBy(doc_id)` walk encodes). A cross-batch
    * violation keeps every source's total pick count within ±1 of
    * plan (crossing count is a telescoping sum over cum) but shifts
    * WHICH documents sit on the grid points, so the twin pins
    * equivalence only under the contract — there is no watermark-based
    * reorder buffer here because doc_id is not event time and late
    * rows are not late data, they are a broken partition assignment.
    *
    * `docs` columns: (source string, doc_id long, wt long);
    * `steps` columns: (source string, step long).
    */
  def weightedSampleStream(docs: DataFrame, steps: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = docs.sparkSession
    import sp.implicits._
    val st = graft.ops.CacheScope.persisted(
      steps.select(col("source"), col("step")))
    docs.select(col("source"), col("doc_id"), col("wt"))
      .join(broadcast(st), "source")
      .as[WSampleDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[WSampleState, WSamplePick](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src, rows, state) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = rows.toSeq.sortBy(_.doc_id).flatMap { r =>
            val before = cum
            cum += r.wt
            val picks = cum / r.step - before / r.step
            if (picks > 0)
              Some(WSamplePick(src, r.doc_id, r.wt, cum, r.step, picks))
            else None
          }
          state.update(WSampleState(cum))
          out.iterator
      }.toDF()
  }

  final case class BasketItem(l_orderkey: Long, l_partkey: Long)
  final case class BasketState(ps: Set[Long])
  final case class PairDelta(part_a: Long, part_b: Long)

  /** Streaming twin of q161's support fold — the live co-purchase feed:
    * lineitems arrive continuously, and the moment an order's basket
    * gains a part, one (part_a, part_b) delta emits per EXISTING basket
    * member. Folding the deltas downstream yields exactly the batch
    * pair-support counts (pinned by test), so the affinity dashboard
    * updates per arriving line without ever re-scanning order history.
    *
    * State per order is its part SET — hard-bounded by parts-per-order
    * (the same C(n,2) bound that makes q161's pair HOF safe), O(1)
    * membership probes; duplicate (order, part) arrivals are absorbed
    * by set membership, so re-delivery can never double-count a pair.
    * Deltas are FINAL (supports only grow — append sink, no
    * retractions). Keyed state is EVICTED after `evictAfter` of
    * processing-time quiet per order (baskets finish arriving within
    * minutes in practice, so an idle order's state is dead weight —
    * without eviction state grows unboundedly with order count); a
    * basket line arriving AFTER its order's eviction re-opens an empty
    * basket and under-emits that line's pairs — the documented
    * trade-off of any TTL, tuned by the parameter, and `None` keeps the
    * keep-forever semantics for bounded replays/tests. No watermark:
    * lineitem rows carry no event time (cmsStream's posture).
    *
    * State-schema note (ADVICE r16): r16 changed [[BasketState]] from
    * `List[Long]` to `Set[Long]`, which changes the
    * flatMapGroupsWithState state ENCODER on the wire — a checkpoint
    * written by the r15 List form does not restore under this build.
    * That break is accepted deliberately: no long-lived production
    * checkpoints exist for this operator (every consumer here replays
    * from source), and the Set form is what the semantics want
    * (idempotent re-delivery via O(1) membership). A deployment that
    * must upgrade a live checkpoint keeps the old encoding on the wire
    * and converts at the state boundary — the standard state-evolution
    * move — which this operator would adopt at that point, not before.
    */
  def copurchaseStream(
      items: DataFrame, evictAfter: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = items.sparkSession
    import sp.implicits._
    val timeout = if (evictAfter.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout
    items.select(col("l_orderkey"), col("l_partkey"))
      .as[BasketItem]
      .groupByKey(_.l_orderkey)
      .flatMapGroupsWithState[BasketState, PairDelta](
        OutputMode.Append, timeout) {
        (_, rows, state) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var ps = state.getOption.map(_.ps).getOrElse(Set.empty[Long])
            val out = scala.collection.mutable.ListBuffer.empty[PairDelta]
            rows.toSeq.sortBy(_.l_partkey).foreach { r =>
              if (!ps.contains(r.l_partkey)) {
                ps.foreach { p =>
                  out += PairDelta(math.min(p, r.l_partkey),
                    math.max(p, r.l_partkey))
                }
                ps = ps + r.l_partkey
              }
            }
            state.update(BasketState(ps))
            evictAfter.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }.toDF()
  }

  final case class SessEvent(
      user_id: Long, event_id: Long, us: Long, ts: java.sql.Timestamp)
  final case class SessState(start: Long, last: Long, depth: Long)
  final case class SessRow(user_id: Long, depth: Long, dur_us: Long)

  /** Streaming twin of q154's sessionize — the LIVE session feed: each
    * user's session emits the moment it CLOSES, either because a new
    * event arrives past the 30-minute gap (same boundary rule as the
    * batch windows) or because the event-time watermark passes the
    * session's last event + gap (the open-tail close the batch operator
    * gets for free by seeing the whole table). The depth histogram is a
    * running fold over these rows — the engagement dashboard without
    * re-scanning history.
    *
    * State per user is THREE longs (start, last, depth) — no event list,
    * no unbounded growth; eviction is the event-time timeout itself, so
    * an idle user costs state only until the watermark clears their
    * session. funnelStream's ordering contract applies (batches replay
    * in time order; within a batch rows apply in (us, event_id) order).
    * Emitted rows are FINAL — closing is monotone in the watermark, so
    * there is no retraction channel, which is what makes the sink
    * appendable at 100 TB.
    *
    * `events` columns: (user_id long, event_id long, ts timestamp);
    * `delay` is the watermark lateness bound.
    */
  def sessionDepthStream(
      events: DataFrame, delay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    val G = 1800000000L // 30 min in micros — q154/q23's gap
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("ts"))
      .withWatermark("ts", delay)
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          val out = scala.collection.mutable.ListBuffer.empty[SessRow]
          if (state.hasTimedOut) {
            val st = state.get
            out += SessRow(uid, st.depth, st.last - st.start)
            state.remove()
          } else {
            var st = state.getOption.orNull
            rows.toSeq.sortBy(r => (r.us, r.event_id)).foreach { r =>
              if (st == null) st = SessState(r.us, r.us, 1L)
              else if (r.us - st.last >= G) {
                out += SessRow(uid, st.depth, st.last - st.start)
                st = SessState(r.us, r.us, 1L)
              } else st = SessState(st.start, r.us, st.depth + 1L)
            }
            state.update(st)
            // close when the watermark clears the gap past the last event
            state.setTimeoutTimestamp(st.last / 1000L + G / 1000L)
          }
          out.iterator
      }.toDF()
  }

  final case class MadState(next: Long, pending: Map[Long, Long],
      ring: Seq[(Long, Long)])
  final case class MadRow(event_type: String, day: Long, n: Long,
      med: Long, mad: Long, anomaly: Long)

  /** Streaming twin of q162's 3×-MAD anomaly detector — the LIVE robust
    * outlier monitor: daily buckets close as the per-type observed
    * frontier advances (gapfillStream's finalize-on-advance device),
    * and each closing day is judged against the lower median and MAD of
    * the trailing ≤24 CLOSED days (q134's ring device). The honest
    * caveat vs the batch q162: an exact median NEEDS the window's
    * values — unlike CUSUM's O(1) recurrence there is no constant-size
    * sufficient statistic for a median — so the stream holds the
    * bounded 24-slot ring and judges against the TRAILING median where
    * the batch report judges against the GLOBAL one; the equivalence
    * test therefore pins the stream against a trailing-window batch
    * reference, and med/mad are emitted so the sink can audit the
    * threshold that fired. Median/MAD are the LOWER-median convention
    * throughout (q162's — integer-exact, breakdown point 1/2; a MAD of
    * 0 flags any deviation, the estimator's documented property).
    * Warm-up mirrors q134: a day is judged only once ≥6 closed days
    * trail it.
    *
    * State per type: frontier + open-tail pending counts
    * (gapfillStream's bound) + the 24-slot ring — fixed footprint
    * whatever streams past. Emitted rows are FINAL (each day is scored
    * once, at closure — append sink, no retractions). Ordering contract
    * and late handling are gapfillStream's verbatim: within-batch free,
    * cross-batch time-ordered, below-frontier stragglers dropped.
    *
    * `events` columns: (event_type string, day long).
    */
  def madStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    def lowerMedian(vs: Seq[Long]): Long = {
      val s = vs.sorted
      s((s.size + 1) / 2 - 1)
    }
    events.select(col("event_type"), col("day").as("hour"))
      .as[GapEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[MadState, MadRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ, rows, state) =>
          val rs = rows.toSeq
          val st = state.getOption
            .getOrElse(MadState(-1L, Map.empty, Seq.empty))
          val origin = if (st.next >= 0L) st.next else rs.map(_.hour).min
          var pending = st.pending
          rs.foreach { r =>
            if (r.hour >= origin)
              pending = pending.updated(r.hour,
                pending.getOrElse(r.hour, 0L) + 1L)
          }
          val frontier = pending.keys.foldLeft(origin)(math.max)
          var ring = st.ring
          val out = scala.collection.mutable.ListBuffer.empty[MadRow]
          pending.keys.filter(_ < frontier).toSeq.sorted.foreach { d =>
            val n = pending(d)
            if (ring.size >= 6) {
              val med = lowerMedian(ring.map(_._2))
              val mad = lowerMedian(ring.map(v => math.abs(v._2 - med)))
              out += MadRow(typ, d, n, med, mad,
                if (math.abs(n - med) > 3L * mad) 1L else 0L)
            }
            ring = (ring :+ (d, n)).takeRight(24)
          }
          state.update(
            MadState(frontier, pending.filter(_._1 >= frontier), ring))
          out.iterator
      }.toDF()
  }

  final case class AucEvent(user_id: Long, event_id: Long, is_purchase: Long)
  final case class AucUserState(score: Long, purchases: Long)
  final case class AucDelta(score: Long, d_pos: Long, d_neg: Long)

  /** Streaming feed under q164's ROC-AUC — the ONLINE model-eval
    * monitor (VERDICT r15 item 7): user activity arrives continuously,
    * and each batch emits per active user at most TWO axis deltas — a
    * retraction of the user's pre-batch (score, label) bucket and an
    * addition of the post-batch one. Folding the deltas downstream
    * yields exactly q164's score-value axis (score → positives,
    * negatives), from which the refreshed AUC is the same
    * axis-cardinality Mann-Whitney fold the batch runs — pinned by
    * test, copurchaseStream's delta-feed posture (the winner-fold
    * lives in the mart because collapsing a GLOBAL statistic inside
    * the stream would funnel every event through one task; the axis
    * fold is a tiny batch job or a materialized-view upsert).
    *
    * State per user is TWO longs (activity count, purchase count) —
    * the sufficient statistic for the user's (score, conv-label)
    * bucket under q164's definitions (score = event count, conv =
    * purchases ≥ 14). Deltas within a batch COALESCE (one retract +
    * one add per user per batch, not per event), so the feed's volume
    * is bounded by active-users-per-batch, and retract/add pairs make
    * the fold exact under any batch split — re-delivery safety comes
    * from the checkpointed state, restart-tested like every twin.
    *
    * `events` columns: (user_id long, event_id long, is_purchase long).
    */
  def aucDeltaStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = events.sparkSession
    import sp.implicits._
    def bucket(s: AucUserState): (Long, Boolean) =
      (s.score, s.purchases >= 14L)
    events.select(col("user_id"), col("event_id"), col("is_purchase"))
      .as[AucEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AucUserState, AucDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val rs = rows.toSeq
          val before = state.getOption
          val after = rs.foldLeft(before.getOrElse(AucUserState(0L, 0L))) {
            (st, r) => AucUserState(st.score + 1L,
              st.purchases + (if (r.is_purchase != 0L) 1L else 0L))
          }
          state.update(after)
          val out = scala.collection.mutable.ListBuffer.empty[AucDelta]
          val nb = bucket(after)
          before.map(bucket) match {
            case Some(ob) if ob == nb => // no bucket move (empty batch)
            case Some((s0, p0)) =>
              out += AucDelta(s0, if (p0) -1L else 0L, if (p0) 0L else -1L)
              out += AucDelta(nb._1, if (nb._2) 1L else 0L,
                if (nb._2) 0L else 1L)
            case None =>
              out += AucDelta(nb._1, if (nb._2) 1L else 0L,
                if (nb._2) 0L else 1L)
          }
          out.iterator
      }.toDF()
  }

  final case class BacklogItem(l_orderkey: Long, open_d: Long, ship_d: Long)
  final case class BacklogState(close_d: Long)
  final case class BacklogDelta(day: Long, d_open: Long, d_close: Long)

  /** Streaming twin of q176's backlog curve — the LIVE work-in-progress
    * feed: lineitems arrive continuously, each order's first sighting
    * emits its +1 open delta and a close delta at its current interval
    * end, and a line that EXTENDS an order's interval emits a
    * retract/re-emit pair moving the close delta right (aucDeltaStream's
    * retraction posture — an order's last-ship day is only provisional
    * while lines keep arriving). Folding the deltas by day yields
    * exactly batch q176's (day, n_opened, n_closed) frame (pinned by
    * test), and the running sum over the folded frame is the live
    * backlog curve.
    *
    * State per order is ONE long (the current close day); the open day
    * rides the stream via the stream-static orders probe, so first
    * sighting is `state.isEmpty` — no per-order open flag. Interval
    * semantics are the batch operator's verbatim: [open, max(open,
    * last_ship)]. Deltas within a batch coalesce (one retract/re-emit
    * pair per order per batch however many lines land), re-delivery of
    * an already-seen ship day is absorbed by the max. A production
    * deployment evicts closed orders on a completion signal, exactly as
    * copurchaseStream documents.
    *
    * `items` columns: (l_orderkey long, open_d long, ship_d long) — the
    * open day joined on from the orders dimension upstream (a
    * stream-static broadcast probe, annServeStream's posture).
    */
  def backlogStream(items: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sp = items.sparkSession
    import sp.implicits._
    items.select(col("l_orderkey"), col("open_d"), col("ship_d"))
      .as[BacklogItem]
      .groupByKey(_.l_orderkey)
      .flatMapGroupsWithState[BacklogState, BacklogDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, rows, state) =>
          val rs = rows.toSeq
          val open = rs.head.open_d
          val shipMax = rs.map(_.ship_d).max
          val out = scala.collection.mutable.ListBuffer.empty[BacklogDelta]
          state.getOption match {
            case None =>
              val close = math.max(open, shipMax)
              out += BacklogDelta(open, 1L, 0L)
              out += BacklogDelta(close + 1L, 0L, 1L)
              state.update(BacklogState(close))
            case Some(st) if shipMax > st.close_d =>
              out += BacklogDelta(st.close_d + 1L, 0L, -1L)
              out += BacklogDelta(shipMax + 1L, 0L, 1L)
              state.update(BacklogState(shipMax))
            case _ => // interval unchanged — nothing to emit
          }
          out.iterator
      }.toDF()
  }
}
