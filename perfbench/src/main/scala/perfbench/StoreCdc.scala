package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.store.{LabelStore, VecStore}

/** The store half of `catalog_store`. From an empty directory, seeded
  * vector CDC batches (adds, deletes and cell moves) built from the
  * committed `embeddings` table go through `VecStore.applyBatch`, one
  * batch per pass; a seeded sample of the `documents` table bootstraps a
  * `LabelStore` once through `LabelStore.init`. After each batch the pass
  * serves nearest-neighbour queries and looks up a seeded id sample in
  * both stores; the run ends by compacting both stores and reading again.
  * Lookups must return exactly the generator's live set, and `serve`
  * must answer the same before and after `compact`.
  */
object StoreCdc {

  /** One vector CDC batch: events (id, cell, embedding, op). */
  type Batch = Seq[(Long, Int, Array[Float], String)]

  /** A seeded CDC history, the live id → cell map after each batch, the
    * documents, the lookup ids and the serving queries.
    */
  final case class History(batches: Seq[Batch], liveVecs: Seq[Map[Long, Int]],
      docs: Seq[(Long, String)], probeIds: Seq[Long],
      queries: Seq[(Long, Array[Float])])

  /** The CDC history over the embeddings table's rows `(vec_id, label,
    * embedding)` and the documents table's rows `(doc_id, text)`. The
    * rows are taken in a seeded order: batch 0 adds `vectors` of them with
    * their label as cell; each later batch deletes or moves to another
    * cell about a fifth of the live vectors and adds `vectors / 5` new
    * rows while the table has any left. `docs` documents are sampled the
    * same way. The probe ids mix live, deleted and never-added ids.
    */
  def generate(seed: Long, embRows: IndexedSeq[(Long, Int, Array[Float])],
      docRows: IndexedSeq[(Long, String)], vectors: Int, docs: Int,
      batches: Int): History = {
    val rnd = new java.util.Random(seed * 6364136223846793005L + 1442695040888963407L)
    def shuffled[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val l = new java.util.ArrayList[T]()
      xs.foreach(l.add)
      java.util.Collections.shuffle(l, rnd)
      import scala.jdk.CollectionConverters._
      l.asScala.toIndexedSeq
    }
    val pool = shuffled(embRows)
    require(pool.size >= vectors, s"${pool.size} embeddings, $vectors wanted")
    val cells = embRows.map(_._2).distinct.sorted
    val embOf = embRows.map(r => r._1 -> r._3).toMap
    var vlive = Map.empty[Long, Int]
    var next = 0
    val out = Seq.newBuilder[Batch]
    val lv = Seq.newBuilder[Map[Long, Int]]
    for (b <- 0 until batches) {
      val vs = Seq.newBuilder[(Long, Int, Array[Float], String)]
      if (b > 0) vlive.keys.toVector.sorted.filter(_ => rnd.nextDouble() < 0.2)
        .foreach { id =>
          if (rnd.nextBoolean()) { vs += ((id, 0, null, "del")); vlive -= id }
          else {
            val others = cells.filter(_ != vlive(id))
            val c = others(rnd.nextInt(others.size))
            vs += ((id, c, embOf(id), "add")); vlive += id -> c
          }
        }
      pool.slice(next, next + (if (b == 0) vectors else vectors / 5)).foreach {
        case (id, c, e) => vs += ((id, c, e, "add")); vlive += id -> c; next += 1
      }
      out += vs.result()
      lv += vlive
    }
    val ds = shuffled(docRows).take(docs).sortBy(_._1)
    val maxId = (embRows.map(_._1) ++ docRows.map(_._1)).max
    // probe sample: live, deleted and never-added ids
    val probe = (Seq.fill(24)(rnd.nextInt(maxId.toInt + 8).toLong) ++
      Seq(-1L)).distinct.sorted
    val qs = (0 until 4).map(i => (i.toLong, pool(rnd.nextInt(pool.size))._3))
    History(out.result(), lv.result(), ds, probe, qs)
  }

  val layerNames: Seq[(String, String)] = Seq(
    "vecstore.apply_span_s" -> "s", "vecstore.serve_span_s" -> "s",
    "vecstore.lookup_span_s" -> "s", "vecstore.compact_span_s" -> "s",
    "vecstore.bytes_written" -> "bytes", "vecstore.files" -> "count",
    "vecstore.rows_read_per_row_returned" -> "ratio",
    "labelstore.init_span_s" -> "s", "labelstore.lookup_span_s" -> "s",
    "labelstore.compact_span_s" -> "s", "labelstore.bytes_written" -> "bytes",
    "store_write_p50_s" -> "s", "store_read_p50_s" -> "s",
    "store_compact_s" -> "s", "store_space_amp" -> "bytes/byte")

  /** (bytes, files) of the parquet files under `f`. */
  def parquetBytes(f: File): (Long, Long) =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).map(parquetBytes)
        .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (f.getName.endsWith(".parquet")) (f.length, 1L)
    else (0L, 0L)
}

/** The stores of one run. [[start]] bootstraps both stores from an empty
  * directory with batch 0, each [[step]] applies the next batch and reads,
  * and [[finish]] compacts both stores and reads again.
  */
class StoreCdc(a: Main.Args) {
  import StoreCdc._

  /** One timed store call; `problem` is set when it threw or its answer
    * failed the check.
    */
  final case class Call(kind: String, store: String, wallS: Double,
      problem: Option[String])

  final case class Outcome(calls: Seq[Call], problems: Seq[String],
      layers: Map[String, Double])

  private val Vectors = 160
  private val Docs = 160
  private val MaxBatches = 32

  private var h: History = _
  private val root = s"${a.work}/store"
  private val vpath = s"$root/vec"
  private val lpath = s"$root/label"
  private var applied = 0
  private var lastServe: Option[Seq[Row]] = None
  private var initS = 0.0

  /** Times calls into the stores, checking each answer. */
  private final class Recorder(tr: Tracer) {
    val calls = Seq.newBuilder[Call]
    def apply[T](kind: String, store: String)(body: => T)(
        check: T => Option[String]): Option[T] = {
      val t0 = System.nanoTime()
      val r =
        try Right(tr.span(s"$store.$kind")(body))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
        finally graft.ops.CacheScope.drain()
      val dt = (System.nanoTime() - t0) / 1e9
      Log.op(s"$store.$kind", dt)
      val problem = r.fold(e => Some(s"threw: $e"), check)
      calls += Call(kind, store, dt, problem.map(p => s"$store.$kind after batch $applied: $p"))
      r.toOption
    }
    def spans(store: String, kind: String): Double =
      calls.result().filter(c => c.store == store && c.kind == kind).map(_.wallS).sum
  }

  /** The history over the committed sf0.01 `embeddings` and `documents`. */
  private def load(spark: SparkSession): History = {
    import spark.implicits._
    val dir = s"${a.root}/perfbench/data/sf0.01"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label", "embedding").as[(Long, Int, Seq[Float])]
      .collect().sortBy(_._1).map { case (i, l, e) => (i, l, e.toArray) }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    generate(a.seed, emb.toIndexedSeq, docs.toIndexedSeq, Vectors, Docs, MaxBatches)
  }

  /** Fresh store directories, then batch 0. */
  def start(spark: SparkSession): Outcome = {
    h = load(spark)
    Fs.deleteTree(new File(root))
    applied = 0
    step(spark, Tracer.Off, None)
  }

  /** Apply the next vector batch (batch 0 also bootstraps the label store),
    * then serve and look up. */
  def step(spark: SparkSession, tr: Tracer, probes: Option[Probes]): Outcome = {
    require(applied < MaxBatches, s"more than $MaxBatches store batches")
    import spark.implicits._
    val rec = new Recorder(tr)
    val i = applied.toLong
    val vecs = spark.createDataFrame(
      spark.sparkContext.parallelize(h.batches(applied).map { case (id, c, e, op) =>
        Row(id, c, if (e == null) null else e.toSeq, op) }, 2),
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id long, label int, embedding array<float>, op string"))
    rec("apply", "vecstore")(VecStore.applyBatch(vecs, i, vpath))(_ => None)
    if (i == 0) {
      rec("init", "labelstore")(
        LabelStore.init(h.docs.toDF("doc_id", "text"), lpath))(_ => None)
      initS = rec.spans("labelstore", "init")
    }
    val rows = reads(spark, rec, probes, applied)
    lastServe = rows.served
    applied += 1
    val cs = rec.calls.result()
    Outcome(cs, Nil, rows.layers ++ Map(
      "vecstore.apply_span_s" -> rec.spans("vecstore", "apply"),
      "store_write_p50_s" -> Stats.median(cs.filter(_.kind == "apply").map(_.wallS)),
      "store_read_p50_s" -> Stats.median(cs.filter(_.kind != "apply").map(_.wallS))))
  }

  private final case class Reads(served: Option[Seq[Row]], layers: Map[String, Double])

  /** serve, then point lookups in both stores, checked against the
    * generator's live state after batch `at`.
    */
  private def reads(spark: SparkSession, rec: Recorder,
      probes: Option[Probes], at: Int): Reads = {
    import spark.implicits._
    val live = h.liveVecs(at)
    val queries = h.queries.map { case (i, e) => (i, e.toSeq) }.toDF("q_id", "q_emb")
    val served = rec("serve", "vecstore") {
      VecStore.serve(spark, vpath, queries).collect().toSeq
    }(rows => if (rows.size == h.queries.size * 3) None
      else Some(s"${rows.size} answers for ${h.queries.size} queries"))
    val before = probes.map { p => p.drain(); p.snapshot() }
    val got = rec("lookup", "vecstore") {
      VecStore.lookupMembers(spark, vpath, h.probeIds)
        .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    } { got =>
      val want = h.probeIds.flatMap(i => live.get(i).map(i -> _)).toMap
      if (got == want) None else Some(s"members $got, expected $want")
    }
    val readRatio = (probes, before, got) match {
      case (Some(p), Some(b), Some(g)) if g.nonEmpty =>
        p.drain()
        p.since(b)("spark.records_read") / g.size
      case _ => 0.0
    }
    rec("lookup", "labelstore") {
      LabelStore.lookupLabels(spark, lpath, h.probeIds)
        .select("doc_id").as[Long].collect().toSet
    } { got =>
      val docIds = h.docs.map(_._1).toSet
      val want = h.probeIds.filter(docIds).toSet
      if (got == want) None else Some(s"labels $got, expected $want")
    }
    Reads(served, Map(
      "vecstore.serve_span_s" -> rec.spans("vecstore", "serve"),
      "vecstore.lookup_span_s" -> rec.spans("vecstore", "lookup"),
      "labelstore.lookup_span_s" -> rec.spans("labelstore", "lookup"),
      "vecstore.rows_read_per_row_returned" -> readRatio))
  }

  /** Space amplification, compaction of both stores, and the same reads
    * again: `serve` must answer exactly as before compaction.
    */
  def finish(spark: SparkSession, tr: Tracer, probes: Option[Probes]): Outcome = {
    import spark.implicits._
    val last = applied - 1
    val (vBytes, vFiles) = parquetBytes(new File(vpath))
    val (lBytes, _) = parquetBytes(new File(lpath))
    // the same live rows written once, as the space-amplification base
    val live = h.liveVecs(last)
    val embOf = h.batches.take(applied).flatten.collect {
      case (id, c, e, "add") if live.get(id).contains(c) => id -> e.toSeq
    }.toMap
    val once = s"$root/once"
    live.toSeq.map { case (id, c) => (id, c, embOf(id)) }
      .toDF("vec_id", "cell", "embedding").coalesce(1).write.parquet(s"$once/vec")
    h.docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$once/doc")
    val onceBytes = parquetBytes(new File(once))._1

    val rec = new Recorder(tr)
    val before = lastServe
    rec("compact", "vecstore")(VecStore.compact(spark, vpath))(_ => None)
    rec("compact", "labelstore")(LabelStore.compact(spark, lpath))(_ => None)
    val after = reads(spark, rec, probes, last)
    def answers(rs: Option[Seq[Row]]) = rs.map(_.map(_.toString).sorted)
    val problems =
      if (answers(after.served) == answers(before)) Nil
      else Seq("vecstore.serve answers changed across compact")
    Fs.deleteTree(new File(root))
    Outcome(rec.calls.result(), problems, Map(
      "vecstore.compact_span_s" -> rec.spans("vecstore", "compact"),
      "labelstore.compact_span_s" -> rec.spans("labelstore", "compact"),
      "store_compact_s" -> (rec.spans("vecstore", "compact") +
        rec.spans("labelstore", "compact")),
      "vecstore.bytes_written" -> vBytes.toDouble,
      "vecstore.files" -> vFiles.toDouble,
      "labelstore.bytes_written" -> lBytes.toDouble,
      "labelstore.init_span_s" -> initS,
      "store_space_amp" -> (vBytes + lBytes).toDouble / onceBytes))
  }
}
