package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.store.{LabelStore, VecStore}
import graft.store.Generations.Listing

/** The generation-log protocol: its id rules on plain id sets, the
  * in-flight rule of compaction against both marker-keeping stores, and
  * a guard that keeps the protocol inside `store/Generations.scala`.
  */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  /** One row per listing: the rules' expected answers. */
  private case class Row(what: String, l: Listing, horizon: Long,
      visible: Set[Long], livePos: Set[Long], retired: Set[Long],
      foldId: Option[Long], maxLive: Long, pinned: Option[Long],
      batchOk: Long, batchBad: Long, freshOk: Long, freshBad: Long)

  private val table = Seq(
    Row("fresh vec store, batch 2 in flight",
      Listing("t", Seq(0L, 1L, 2L), Some(1L)), horizon = -1,
      visible = Set(0, 1), livePos = Set(0, 1), retired = Set(0, 1),
      foldId = Some(-3), maxLive = 2, pinned = Some(2),
      batchOk = 2, batchBad = 1, freshOk = 3, freshBad = 2),
    Row("label bootstrap, nothing folded yet",
      Listing("t", Seq(-1L, 0L, 1L), Some(1L)), horizon = -1,
      visible = Set(-1, 0, 1), livePos = Set(0, 1),
      retired = Set(-1, 0, 1), foldId = Some(-3), maxLive = 1,
      pinned = Some(2), batchOk = 1, batchBad = 0, freshOk = 2,
      freshBad = 1),
    Row("folded through 2, leftovers of a crashed retire, 4 in flight",
      Listing("t", Seq(-4L, -1L, 1L, 2L, 3L, 4L), Some(3L)), horizon = 2,
      visible = Set(-4, 3), livePos = Set(3),
      retired = Set(-4, -1, 1, 2, 3), foldId = Some(-5), maxLive = 4,
      pinned = Some(4), batchOk = 4, batchBad = 3, freshOk = 5,
      freshBad = 4),
    Row("replayed batch below the horizon: nothing to fold",
      Listing("t", Seq(-4L, 2L), Some(2L)), horizon = 2,
      visible = Set(-4), livePos = Set(), retired = Set(-4, 2),
      foldId = None, maxLive = 2, pinned = Some(3), batchOk = 2,
      batchBad = 1, freshOk = 3, freshBad = 2),
    Row("folded through 5, markers already collected",
      Listing("t", Seq(-7L), Some(-1L)), horizon = 5,
      visible = Set(-7), livePos = Set(), retired = Set(-7),
      foldId = None, maxLive = -1, pinned = Some(6), batchOk = 0,
      batchBad = -2, freshOk = 6, freshBad = 5),
    Row("sketch: no markers, unbounded ceiling",
      Listing("t", Seq(-3L, 0L, 1L, 2L), None), horizon = 1,
      visible = Set(-3, 2), livePos = Set(2), retired = Set(-3, 0, 1, 2),
      foldId = Some(-4), maxLive = 2, pinned = None, batchOk = 2,
      batchBad = 1, freshOk = 3, freshBad = 2),
    Row("sketch never folded",
      Listing("t", Seq(0L, 1L), None), horizon = -1,
      visible = Set(0, 1), livePos = Set(0, 1), retired = Set(0, 1),
      foldId = Some(-3), maxLive = 1, pinned = None, batchOk = 1,
      batchBad = 0, freshOk = 2, freshBad = 1),
    Row("absent table",
      Listing("t", Seq(), Some(-1L)), horizon = -1, visible = Set(),
      livePos = Set(), retired = Set(), foldId = None, maxLive = -1,
      pinned = Some(0), batchOk = 0, batchBad = -2, freshOk = 0,
      freshBad = -1))

  test("id rules on plain id sets: horizon, visibility, livePos, " +
    "retired, fold id and both id guards") {
    table.foreach { r =>
      val l = r.l
      withClue(r.what) {
        assert(l.horizon === r.horizon)
        assert(l.ids.filter(l.isVisible).toSet === r.visible)
        assert(l.anyVisible === r.visible.nonEmpty)
        assert(l.livePos.toSet === r.livePos)
        assert(l.retired.toSet === r.retired)
        assert(l.maxLive === r.maxLive)
        assert(l.pinned === r.pinned)
        r.foldId match {
          case Some(f) =>
            assert(l.foldId === f)
            assert(l.ids.forall(_ > f), "fold id must be below every id")
            // the published fold's horizon is what it folded through
            assert(Listing("t", l.ids :+ f, l.ceiling).horizon ===
              l.livePos.max)
          case None => assert(l.livePos.isEmpty)
        }
        l.requireBatchId(r.batchOk)
        intercept[IllegalArgumentException](l.requireBatchId(r.batchBad))
        l.requireFreshId(r.freshOk, "op")
        intercept[IllegalArgumentException](l.requireFreshId(r.freshBad, "op"))
        l.checkAsOf(None)
        l.checkAsOf(Some(r.horizon + 1))
        intercept[IllegalArgumentException](l.checkAsOf(Some(r.horizon)))
        // the column predicate readers filter with agrees with the rule
        // over a small local relation
        val gens = (l.ids ++ Seq(-9L, -2L, -1L, 0L, 5L, 9L)).distinct
        val df = gens.toDF("gen")
        val kept = l.visible.fold(df)(c => df.filter(c))
          .as[Long].collect().toSet
        assert(kept === gens.filter(l.isVisible).toSet)
      }
    }
  }

  private def genDirs(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten
      .filter(_.startsWith("gen=")).sorted

  /** Hides batch `id` as if its writes landed but its marker did not. */
  private def unmark(store: String, id: Long): Unit =
    assert(new java.io.File(s"$store/_commits/$id").delete())

  private def mark(store: String, id: Long): Unit =
    assert(new java.io.File(s"$store/_commits/$id").createNewFile())

  test("compact neither folds nor retires an in-flight generation; " +
    "once its marker lands it is visible and the next compact folds it") {
    val lpath = Files.createTempDirectory("gens-inflight-label").toString
    val docs = (1L to 12L).map(i => (i, s"alpha$i beta$i gamma$i delta$i"))
      .toDF("doc_id", "text")
    try {
      LabelStore.init(docs, lpath)
      graft.ops.CacheScope.drain()
      LabelStore.applyBatch(docs.limit(3).select(col("doc_id"),
        col("text"), lit("del").as("op")), 0L, lpath)
      graft.ops.CacheScope.drain()
      LabelStore.applyBatch(Seq((100L, "omega100 psi100 chi100 phi100", "add"))
        .toDF("doc_id", "text", "op"), 1L, lpath)
      graft.ops.CacheScope.drain()
      unmark(lpath, 1L)
      def labels = LabelStore.readLabels(spark, lpath)
        .as[(Long, Long)].collect().toMap
      val committed = labels
      assert(committed.keySet === (4L to 12L).toSet)
      LabelStore.compact(spark, lpath) // folds through 0 only
      Seq("labels", "keyidx").foreach { sub =>
        assert(genDirs(s"$lpath/$sub") === Seq("gen=-2", "gen=1"),
          s"$sub: the in-flight gen=1 must stay, unfolded")
      }
      // batch 0 deleted only, so dockeys had nothing committed to fold
      assert(genDirs(s"$lpath/dockeys") === Seq("gen=-1", "gen=1"))
      assert(labels === committed, "in-flight batch leaked into reads")
      mark(lpath, 1L)
      val landed = labels
      assert(landed.keySet === (4L to 12L).toSet + 100L)
      LabelStore.compact(spark, lpath)
      Seq("labels", "keyidx", "dockeys").foreach { sub =>
        assert(genDirs(s"$lpath/$sub") === Seq("gen=-3"), sub)
      }
      assert(labels === landed)
    } finally graft.ops.CacheScope.drain()

    val vpath = Files.createTempDirectory("gens-inflight-vec").toString
    val vs = spark.range(40).select(col("id").as("vec_id"),
      (col("id") % 4).cast("int").as("label"),
      expr("array(cast(id as float), cast(1.0 as float))")
        .as("embedding"), lit("add").as("op"))
    try {
      VecStore.applyBatch(vs, 0L, vpath)
      graft.ops.CacheScope.drain()
      VecStore.applyBatch(vs.limit(5).withColumn("op", lit("del")),
        1L, vpath)
      graft.ops.CacheScope.drain()
      unmark(vpath, 1L)
      def members = VecStore.readMembers(spark, vpath).count()
      def n = VecStore.readCentroids(spark, vpath)
        .agg(sum("n_members")).head().getLong(0)
      assert(members === 40L && n === 40L)
      VecStore.compact(spark, vpath)
      Seq("members", "cstats").foreach { sub =>
        assert(genDirs(s"$vpath/$sub") === Seq("gen=-2", "gen=1"),
          s"$sub: the in-flight gen=1 must stay, unfolded")
      }
      assert(members === 40L && n === 40L)
      mark(vpath, 1L)
      assert(members === 35L && n === 35L)
      VecStore.compact(spark, vpath)
      Seq("members", "cstats").foreach { sub =>
        assert(genDirs(s"$vpath/$sub") === Seq("gen=-3"), sub)
      }
      assert(members === 35L && n === 35L)
    } finally graft.ops.CacheScope.drain()
  }

  test("the marker format and gen= listing live only in " +
    "store/Generations.scala") {
    val root = Paths.get("src/main/scala")
    val owner = root.resolve("graft/store/Generations.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.contains(owner)) // ran from the repo root
    def code(p: Path) = Files.readAllLines(p).asScala.zipWithIndex
      .filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
    val hits = for {
      p <- files if p != owner
      (l, i) <- code(p)
      if l.contains("_commits") || l.contains("startsWith(\"gen=\")")
    } yield s"$p:${i + 1}"
    assert(hits.isEmpty,
      hits.mkString("generation protocol outside Generations: ", ", ", ""))
  }
}
