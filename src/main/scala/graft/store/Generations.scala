package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The generation log the merge-on-read stores share ([[LabelStore]],
  * [[VecStore]], [[SketchStore]]): the one module that knows the
  * on-disk generation layout, the commit-marker format and the horizon
  * encoding. Each store keeps only what is its own — table names, the
  * fold each compaction writes, what an absent table reads as, and its
  * bucketing.
  *
  * Layout. A table is a directory of generations `<table>/gen=<g>/`.
  * Batch `g ≥ 0` writes `gen=<g>` by overwrite from a pre-state read at
  * `gen < g`. A negative generation is a compaction FOLD:
  * `gen = −(h + 2)` holds everything through batch id `h`, its HORIZON;
  * the gen −1 bootstrap is the degenerate fold through nothing
  * (horizon −1). Every fold lands strictly below every id present, so
  * the most negative generation is the newest fold.
  *
  * Marker ceiling (READ-COMMITTED). A store whose batch spans several
  * table writes creates the empty file `<root>/_commits/<id>` after ALL
  * of them ([[markCommitted]]); a reader racing the maintainer between
  * two writes, or inside one write's job-commit renames, would
  * otherwise fold a torn batch. Batch ids never regress, so the newest
  * marker is the ceiling: a positive generation above it is in flight
  * and invisible. Folds need no marker — they publish by one atomic
  * rename — and a store with one write per batch keeps no markers, so
  * its ceiling is unbounded.
  *
  * Visibility. Readers keep the newest fold plus the positive
  * generations above its horizon and at or below the ceiling. Anything
  * else present — an older fold, a positive at or below the horizon —
  * is content the fold already holds, left by a crashed retire loop or
  * a replayed batch, so the rule drops it and newest-wins can never
  * resurrect a stale row.
  *
  * Replay. A crash between a batch's writes and the stream checkpoint
  * replays the batch under the same id: it reads the same pre-state and
  * overwrites the same directories with identical content, so batch ids
  * may repeat but never regress ([[Listing.requireBatchId]]). A
  * maintenance op that reads its pre-state unbounded needs an id above
  * every generation and the horizon ([[Listing.requireFreshId]]).
  * Audit time travel (`asOf`, reads `gen < asOf`) must stay above the
  * horizon ([[Listing.checkAsOf]]); internal replay bounds are exempt,
  * because a replayed batch below the horizon re-reads the fold and its
  * rewrite is invisible. The one residual gap: a replay overwrites an
  * already-marked generation in place, and reads during that window
  * keep the single-writer assumption.
  *
  * Compaction ([[compact]]), per table: the store's fold is written to
  * hidden staging and (1) PUBLISHED by one rename to
  * `−(max live positive + 2)` through [[PartitionedStore.stagePublish]],
  * which aborts before anything is deleted if the rename fails; then
  * (2) every superseded generation RETIRES one by one — a crash inside
  * this loop leaves only generations the visibility rule drops; and
  * after the last table (3) the spent MARKERS (ids at or below the
  * ceiling the compaction read) are deleted. Positives above the
  * ceiling are neither folded nor retired: folding through an in-flight
  * id would lose its content when its batch lands below the new
  * horizon. With nothing live above the horizon (a replay after a fold)
  * there is nothing to fold, and the pass only deletes the leftovers.
  */
private[graft] object Generations {

  /** The horizon encoding. It is its own inverse: it maps the batch id
    * a fold merged through to the fold's generation id, and back.
    */
  private def flip(g: Long): Long = -g - 2

  /** One table directory's generation ids, listed together with the
    * store's commit ceiling (None for a store without markers). Every
    * decision the protocol makes about the table derives from these.
    */
  final case class Listing(dir: String, ids: Seq[Long],
      ceiling: Option[Long]) {
    private val fold: Option[Long] = ids.minOption.filter(_ < 0)
    private def committed(g: Long): Boolean = ceiling.forall(g <= _)

    /** The batch id the newest fold merged through; −1 with no fold. */
    val horizon: Long = fold.fold(-1L)(flip)

    /** Whether readers see generation `g`. */
    def isVisible(g: Long): Boolean =
      fold.fold(committed(g))(f => g == f || (g > horizon && committed(g)))

    /** [[isVisible]] as a filter on `gen`; None when nothing is hidden
      * (no fold, no ceiling).
      */
    def visible: Option[Column] = {
      val gen = col("gen")
      val below = ceiling.map(gen <= _)
      fold.map(f =>
        gen === f || below.fold(gen > horizon)(gen > horizon && _))
        .orElse(below)
    }

    /** False for an absent table, or a fresh one whose first batch is
      * still in flight.
      */
    def anyVisible: Boolean = ids.exists(isVisible)

    /** The visible generations of the table. */
    def read(spark: SparkSession): DataFrame = {
      val raw = spark.read.parquet(dir)
      visible.fold(raw)(c => raw.filter(c))
    }

    /** The newest positive generation present, committed or not; −1
      * when there is none.
      */
    def maxLive: Long = ids.filter(_ >= 0).foldLeft(-1L)(math.max)

    /** Fails an audit read at or below the horizon: the fold merged
      * that history, and `gen < asOf` would pass the fold's negative id
      * through and serve head state labeled as history.
      */
    def checkAsOf(asOf: Option[Long]): Unit = asOf.foreach(b =>
      require(b > horizon,
        s"asOf=$b reads below the compaction horizon ($horizon) of " +
          s"$dir: generations <= $horizon were folded and the " +
          "pre-horizon state is unrecoverable; keep an uncompacted " +
          "store (or raise the compaction cadence) for audit reads"))

    /** An `asOf` bound pinning a multi-read operation to the generations
      * committed now, so a batch that commits between its reads stays
      * out of all of them. None for a store without markers.
      */
    def pinned: Option[Long] = ceiling.map(c => math.max(c, horizon) + 1)

    /** A CDC batch id may repeat (a crash replay) but never regress: a
      * stale id would overwrite an existing generation from a partial
      * pre-state.
      */
    def requireBatchId(id: Long): Unit = require(id >= maxLive,
      s"batch id $id regresses below the newest live generation " +
        s"$maxLive of $dir — CDC batch ids must be non-decreasing")

    /** An op that reads its pre-state unbounded needs an id above every
      * generation and the horizon: re-running an id whose generation
      * half-landed would fold its own partial writes.
      */
    def requireFreshId(id: Long, op: String): Unit =
      require(id > maxLive && id > horizon,
        s"$op id $id must exceed every live generation " +
          s"(max=$maxLive, compaction horizon=$horizon) of $dir")

    /** The generations a compaction folds: visible positives. */
    def livePos: Seq[Long] = ids.filter(g => g >= 0 && isVisible(g))

    /** The generations a compaction supersedes: every fold and every
      * committed positive.
      */
    def retired: Seq[Long] = ids.filter(g => g < 0 || committed(g))

    /** The fold's target id. livePos.max > horizon, so it lies strictly
      * below every id present and the rename target cannot exist.
      */
    def foldId: Long = flip(livePos.max)
  }

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genIds(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen="))
      .map(_.getPath.getName.stripPrefix("gen=").toLong)
  }

  private def markers(root: String): Path = new Path(s"$root/_commits")

  private def committedMax(spark: SparkSession, root: String): Long = {
    val p = markers(root)
    val fs = fileSystem(spark, p)
    if (!fs.exists(p)) -1L
    else fs.listStatus(p).foldLeft(-1L)((m, st) =>
      math.max(m, st.getPath.getName.toLong))
  }

  /** Lists `dir` once, with the ceiling of the markers kept under
    * `root` (None: a store without markers).
    */
  def list(spark: SparkSession, dir: String, root: Option[String]): Listing =
    Listing(dir, genIds(spark, dir), root.map(committedMax(spark, _)))

  /** Makes batch `id` of the store at `root` visible; called after
    * every table write of the batch.
    */
  def markCommitted(spark: SparkSession, root: String, id: Long): Unit = {
    val p = new Path(markers(root), id.toString)
    val fs = fileSystem(spark, p)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** One compaction pass (publish → retire per table, in order, then
    * marker GC). `tables` pairs each table directory with the writer of
    * its fold, called with the staging path; the ceiling is read once,
    * before the first table.
    */
  def compact(spark: SparkSession, what: String, root: Option[String])
      (tables: (String, String => Unit)*): Unit = {
    val ceiling = root.map(committedMax(spark, _))
    tables.foreach { case (dir, write) =>
      val gens = Listing(dir, genIds(spark, dir), ceiling)
      val fs = fileSystem(spark, new Path(dir))
      def retire(gs: Seq[Long]): Unit =
        gs.foreach(g => fs.delete(new Path(s"$dir/gen=$g"), true))
      if (gens.livePos.isEmpty) // nothing to fold: keep the newest fold
        retire(gens.retired.filterNot(gens.ids.minOption.contains))
      else {
        PartitionedStore.stagePublish(fs, dir, s"$dir/gen=${gens.foldId}",
          s"$what($dir)")(write)
        retire(gens.retired)
      }
    }
    for (r <- root; c <- ceiling) {
      val p = markers(r)
      val fs = fileSystem(spark, p)
      if (fs.exists(p))
        fs.listStatus(p).map(_.getPath).filter(_.getName.toLong <= c)
          .foreach(fs.delete(_, false))
    }
  }

  /** The streaming maintainer body: skip an empty micro-batch, apply
    * it, drain its scoped caches, and compact every `compactEvery`
    * batches (never on batch 0; 0 disables compaction).
    */
  def maintain(events: DataFrame, checkpoint: String, compactEvery: Int)
      (apply: (DataFrame, Long) => Unit, compact: SparkSession => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty) {
          apply(batch, id)
          graft.ops.CacheScope.drain()
          if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
            compact(batch.sparkSession)
        }
        ()
      }
      .start()
}
