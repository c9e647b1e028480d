package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of q185's rank sketch — the quantile monitor run
  * continuously over an unbounded value stream with NO prior about the
  * range: each micro-batch folds to its own per-shard stride-decimation
  * sketch (the EXACT batch kernel,
  * [[graft.queries.PackScale.sketchOf]] — shared code, no divergence)
  * and lands as one generation; the reader treats every
  * (generation, shard) pair as a sketch CELL and runs the same readout
  * ([[graft.queries.PackScale.rankEstimates]]) over their union.
  *
  * Why the union is still a sketch: within any cell the sample weights
  * telescope to exact cell-local ranks, so the global running sum
  * underestimates true rank by less than Σ_cells t_cell — the identical
  * argument q185's scaladoc proves for shards, applied cell-wise. The
  * cost of streaming is that the BOUND grows with the number of
  * generations (more cells), and the store grows ~2 KB per shard per
  * batch; both are reported in the estimate frame (`bound`, and the
  * store's file count), and a deployment bounds them by compacting on a
  * cadence — re-decimating the union — which widens `t` and is the same
  * accuracy-for-size trade every mergeable quantile summary makes.
  *
  * Exactly-once: a batch overwrites its own `gen=<id>` directory, so a
  * replayed batch (crash before the checkpoint commit) rewrites
  * identical content — the batch sketch is a deterministic function of
  * the batch's multiset (spec-pinned on the batch side).
  */
object SketchStore {

  /** One batch → one generation: the deterministic foreachBatch body,
    * public so a batch driver (e.g. the store-backed catalog queries)
    * can build the identical store the stream would — the sketch is a
    * deterministic function of the batch's multiset, so replay rewrites
    * identical content (the exactly-once argument above).
    */
  def appendBatch(batch: DataFrame, id: Long, path: String): Unit =
    if (!batch.isEmpty) {
      graft.queries.PackScale.sketchOf(batch)
        .coalesce(1) // sketch-cardinality: one small file per batch
        .write.mode("overwrite").parquet(s"$path/gen=$id")
    }

  /** Continuous ingestion: `rows` carries q185's shard-row shape
    * (c, shard, l_orderkey, l_linenumber).
    */
  def appendStream(rows: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        appendBatch(batch, id, path)
        ()
      }
      .start()

  /** Current quantile estimates over everything ingested so far:
    * (p_bp, n, k, bound, est_c) — `n` is the exact total row count
    * (cell max-ranks sum exactly), `bound` the rank-error window all
    * generations together guarantee.
    */
  def estimates(spark: SparkSession, path: String): DataFrame =
    graft.queries.PackScale.rankEstimates(live(spark, path)
      .select((col("gen") * 32 + col("shard")).as("cell"),
        col("c"), col("r"), col("t")))
      .drop("v_lo") // q185's band edge; not part of the monitor surface

  /** The visible generations under the [[Generations]] rule, with an
    * unbounded ceiling: a batch is one write, so the sketch keeps no
    * commit markers. The rule is load-bearing here beyond consistency:
    * a sketch cell must count EXACTLY once, so a crashed retire loop's
    * leftovers (already inside the fold) must be invisible, not merely
    * tolerated — stricter than [[LabelStore]]'s newest-wins fold, which
    * only needs consistency, not uniqueness.
    */
  private def live(spark: SparkSession, path: String): DataFrame = {
    val gens = Generations.list(spark, path, None)
    require(gens.ids.nonEmpty,
      s"SketchStore not initialized: no gen= directories under $path " +
        "(stream at least one non-empty batch first)")
    gens.read(spark)
  }

  /** Fold all generations into ONE compacted cell — the
    * accuracy-for-size trade the object scaladoc promises, made
    * explicit: the union's running cums are exact sums of cell-local
    * ranks (error ≤ B_old = Σ_cells (t−1)); keeping every second sample
    * (plus the last, so n survives) leaves consecutive kept-cum gaps
    * ≤ g, so the compacted sketch's true window is B_old + g — written
    * into its single `t` as t_new = B_old + g + 1, which is exactly
    * what [[graft.queries.PackScale.rankEstimates]] will report as the
    * new `bound`. Estimates may move WITHIN the widened window, never
    * outside it (spec-gated against the exact sort). Store size halves;
    * the generation count resets; crash safety is the [[Generations]]
    * compaction protocol (the fold id names what it folded, so a
    * crashed retire loop's leftovers are filtered out rather than
    * double-counted).
    */
  def compact(spark: SparkSession, path: String): Unit =
    Generations.compact(spark, "SketchStore.compact", None)(
      (path, (st: String) => writeFold(spark, path, st)))

  /** Writes the compacted cell of every visible generation to `st`. */
  private def writeFold(spark: SparkSession, path: String,
      st: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val sk = live(spark, path)
      .select((col("gen") * 32 + col("shard")).as("cell"),
        col("c"), col("r"), col("t"))
    val bOld = sk.groupBy("cell").agg(max("t").as("t"))
      .agg(coalesce(sum(expr("t - 1")), lit(0L)).as("b"))
      .head().getLong(0) // 1-row bounded aggregate
    val wc = Window.partitionBy("cell").orderBy("r")
    val w = Window.orderBy(col("c"), col("cell"), col("r"))
    val cums = sk
      .withColumn("wt", col("r") - lag("r", 1, 0L).over(wc))
      .withColumn("cum", sum("wt").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w).cast("long"))
    val nRows = cums.count() // sketch-cardinality
    val kept = cums.filter(col("rn") % 2 === 0 || col("rn") === nRows)
      .select(col("c"), col("cum"))
    val gap = kept
      .withColumn("g", col("cum") - lag("cum", 1, 0L).over(
        Window.orderBy("cum")))
      .agg(max("g").as("g")).head().getLong(0)
    val tNew = bOld + gap + 1
    kept.select(lit(0L).as("shard"), col("c"), col("cum").as("r"),
      lit(tNew).as("t"))
      .coalesce(1).write.mode("overwrite").parquet(st)
  }
}
