package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Seeded offline corpus for the `etl` workload, built from the committed
  * HTML fixtures (`src/test/resources/fixtures`) with ids rewritten per
  * case. The generator decides every page's content and fault up front
  * and records each input URL occurrence's expected routing status, so
  * the pipeline's manifest can be checked against it.
  */
object EtlCorpus {

  val Base = "https://www.shippai.org/fkd"

  /** Shape of a corpus: its size, the share of cases whose page routes
    * to excluded, how many successful cases share one scenario page, and
    * the fetch latency. On top of that every corpus holds exactly one case
    * of each fault kind (see [[generate]]).
    */
  final case class Spec(
      cases: Int,
      excludedShare: Double,
      sharedScenarioCases: Int,
      latencyMs: Int)

  sealed trait Fault
  case object NoFault extends Fault
  case object Timeout extends Fault
  case object Http5xx extends Fault

  /** One served URL: its body (text or binary) and the fault it raises. */
  final case class Page(body: Array[Byte], fault: Fault)

  /** Expected outcome of one case URL; `stem` (`{case_id}_{case_name}`)
    * names the JSON and PDF files a success writes.
    */
  final case class Expect(url: String, status: String, stem: String)

  final case class Corpus(
      inputs: Vector[String],          // case URL occurrences, input order
      expected: Map[String, Expect],   // per distinct case URL
      pages: Map[String, Page],        // text pages
      binaries: Map[String, Page]) {   // image bytes
    def expectedRoster: Vector[(String, String)] =
      inputs.map(u => u -> expected(u).status)
    def successStems: Set[String] =
      expected.values.filter(_.status == "success").map(_.stem).toSet

    /** Most fetch calls any URL may receive: once per input occurrence
      * for case pages, once for scenario pages and images (fetch-once).
      */
    def maxCalls(url: String): Int =
      if (url.contains("/cf/")) inputs.count(_ == url) else 1

    /** Stable digest of everything the generator produced. */
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      inputs.foreach(u => md.update((u + "\n").getBytes(UTF_8)))
      expected.toSeq.sortBy(_._1).foreach { case (_, e) =>
        md.update(s"${e.url}|${e.status}|${e.stem}\n".getBytes(UTF_8))
      }
      (pages.toSeq ++ binaries.toSeq).sortBy(_._1).foreach { case (u, p) =>
        md.update(s"$u|${p.fault}|".getBytes(UTF_8))
        md.update(p.body)
      }
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  final class Fixtures(root: String) {
    private def read(n: String) = new String(Files.readAllBytes(
      Paths.get(root, "src/test/resources/fixtures", n)), UTF_8)
    val full: String = read("case_full.html")
    val adversarial: String = read("case_adversarial.html")
    val missing: String = read("case_missing.html")
    val scenario: String = read("scenario_2b.html")
  }

  private val FullName = "トンネル坑口崩落事故"
  private val AdvName = "入れ子テーブル事例"
  private val MissingName = "情報不足の事例"
  private val TemplateId = "0200703"

  /** Generate the corpus for `spec` and `seed`: same arguments, same bytes. */
  def generate(fx: Fixtures, spec: Spec, seed: Long): Corpus = {
    val rnd = new java.util.Random(seed * 1000003L + spec.cases)
    val pages = Map.newBuilder[String, Page]
    val binaries = Map.newBuilder[String, Page]
    val expected = Map.newBuilder[String, Expect]
    val urls = Vector.newBuilder[String]
    val imgs = new Images(seed)

    val sharedScenId = "9000000"
    pages += s"$Base/sf/SZ$sharedScenId.html" -> Page(
      fx.scenario.getBytes(UTF_8), NoFault)

    // One case of each fault kind, so that every error and excluded route
    // is taken; they cover routes, they do not model real traffic. The
    // excluded share includes the truncated and the missing-field case.
    // Kinds: 0 timeout, 1 5xx, 2 truncated, 3 missing field, 5 scenario
    // 5xx, 4 excluded template, 6 plain success, 7 success sharing one
    // scenario page. A seeded shuffle places them; every seed has the
    // same counts, only positions differ.
    val excludedTemplate = math.round(spec.excludedShare * spec.cases).toInt - 2
    val faults = Seq(0, 1, 2, 3, 5)
    val kinds0 = faults ++ Seq.fill(excludedTemplate)(4) ++
      Seq.fill(spec.sharedScenarioCases)(7)
    require(kinds0.size <= spec.cases, s"corpus of ${spec.cases} cases is too small")
    val kinds = kinds0 ++ Seq.fill(spec.cases - kinds0.size)(6)
    // (kind, adversarial template): the cases that can succeed take the
    // two success-routing fixtures in turn
    val attrs = kinds.groupBy(identity).toSeq.sortBy(_._1).flatMap { case (k, ks) =>
      ks.indices.map(j => (k, k != 4 && j % 2 == 1))
    }
    val order = new java.util.ArrayList[(Int, Boolean)]()
    attrs.foreach(order.add)
    java.util.Collections.shuffle(order, rnd)

    val idBase = math.floorMod(seed * 7919L, 5000000L) + 1000000L
    for (i <- 0 until spec.cases) {
      val num = f"${idBase + i}%07d"
      val url = s"$Base/cf/CZ$num.html"
      urls += url
      val (kind, adversarial) = order.get(i)
      val sharedScen = kind == 7
      val scenId = if (sharedScen) sharedScenId else num
      val (tmpl, name0) =
        if (kind == 4) (fx.missing, MissingName)
        else if (adversarial) (fx.adversarial, AdvName)
        else (fx.full, FullName)
      val name = s"$name0$num"
      var html = tmpl.replace(s"../sf/SZ$TemplateId.html", s"../sf/SZ$scenId.html")
        .replace(s"DZ$TemplateId", s"DZ$num")
        .replace(s"MZ$TemplateId", s"MZ$num")
        .replace(name0, name)
      if (kind == 2) {
        // cut mid-row inside 経過: 経過's text, 原因, 対策 and the scenario
        // link are lost, so the case routes to excluded
        val at = html.indexOf("経過</td>")
        html = html.substring(0, at + "経過</td><td>".length + 3)
      }
      if (kind == 3)
        html = html.replaceAll("<tr><td bgcolor=\"#DFE9F2\">原因</td>.*?</tr>\n", "")
      val fault = kind match {
        case 0 => Timeout
        case 1 => Http5xx
        case _ => NoFault
      }
      pages += url -> Page(html.getBytes(UTF_8), fault)
      val hasScenarioLink = kind != 2 && kind != 4
      if (hasScenarioLink && !sharedScen)
        pages += s"$Base/sf/SZ$scenId.html" -> Page(
          fx.scenario.getBytes(UTF_8), if (kind == 5) Http5xx else NoFault)
      val status =
        if (fault != NoFault) "error"
        else if (!hasScenarioLink) "excluded"
        else if (kind == 5) "error"
        else if (kind == 3) "excluded"
        else "success"
      expected += url -> Expect(url, status, s"CZ${num}_$name")
      if (status == "success" && !adversarial) {
        binaries += s"$Base/df/DZ$num.jpg" -> Page(imgs.jpeg(i), NoFault)
        binaries += s"$Base/mf/MZ$num-1.jpg" -> Page(imgs.jpeg(i + 1), NoFault)
        binaries += s"$Base/mf/MZ$num-2.jpg" -> Page(imgs.png(i), NoFault)
      }
    }

    // one duplicate input URL: an earlier URL again at a seeded position
    val in = urls.result()
    val dup = in(rnd.nextInt(in.size))
    val at = rnd.nextInt(in.size + 1)
    Corpus((in.take(at) :+ dup) ++ in.drop(at), expected.result(),
      pages.result(), binaries.result())
  }

  /** Small deterministic JPEG and PNG images, drawn with `javax.imageio`. */
  final class Images(seed: Long) {
    private def draw(v: Int): java.awt.image.BufferedImage = {
      val w = 48 + v % 5 * 8
      val h = 32 + v % 3 * 8
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        im.setRGB(x, y, ((x * 5 + v * 13) & 0xff) << 16 |
          ((y * 7 + seed.toInt) & 0xff) << 8 | ((x ^ y) & 0xff))
      im
    }
    private def encode(v: Int, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(draw(v), fmt, bos)
      bos.toByteArray
    }
    private val jpegs = (0 until 8).map(encode(_, "jpg"))
    private val pngs = (0 until 8).map(encode(_, "png"))
    def jpeg(i: Int): Array[Byte] = jpegs(math.floorMod(i, 8))
    def png(i: Int): Array[Byte] = pngs(math.floorMod(i, 8))
  }
}

/** The fetcher the benchmark injects into the pipeline. It serves the
  * current corpus from a JVM-wide registry (local mode runs tasks in this
  * JVM, so closures stay tiny), sleeps the configured latency, raises the
  * page's fault, and counts calls per URL, busy time, faults and the most
  * calls in flight at once. Traced passes also record one span per call.
  */
object FetchStub {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

  @volatile private var corpus: EtlCorpus.Corpus = _
  @volatile private var latencyMs = 0
  @volatile var tracer: Tracer = Tracer.Off

  val perUrl = new ConcurrentHashMap[String, AtomicInteger]()
  val calls = new AtomicLong
  val binaryCalls = new AtomicLong
  val busyNs = new AtomicLong
  val faults = new AtomicLong
  private val inflight = new AtomicInteger
  val maxInflight = new AtomicInteger

  def install(c: EtlCorpus.Corpus, latency: Int): Unit = {
    corpus = c
    latencyMs = latency
    perUrl.clear()
    Seq(calls, binaryCalls, busyNs, faults).foreach(_.set(0))
    maxInflight.set(0)
  }

  private def serve(u: String, kind: String,
      table: EtlCorpus.Corpus => Map[String, EtlCorpus.Page]): Array[Byte] = {
    val t0 = System.nanoTime()
    val parent = tracer.current
    val n = inflight.incrementAndGet()
    maxInflight.accumulateAndGet(n, math.max)
    perUrl.computeIfAbsent(u, _ => new AtomicInteger).incrementAndGet()
    try {
      if (latencyMs > 0) Thread.sleep(latencyMs)
      table(corpus).get(u) match {
        case None =>
          faults.incrementAndGet()
          throw new java.io.IOException(s"HTTP 404: $u")
        case Some(p) => p.fault match {
          case EtlCorpus.Timeout =>
            faults.incrementAndGet()
            throw new java.net.http.HttpTimeoutException(s"request timed out: $u")
          case EtlCorpus.Http5xx =>
            faults.incrementAndGet()
            throw new java.io.IOException(s"HTTP 503: $u")
          case EtlCorpus.NoFault => p.body
        }
      }
    } finally {
      inflight.decrementAndGet()
      val t1 = System.nanoTime()
      busyNs.addAndGet(t1 - t0)
      tracer.add(kind, t0, t1, parent)
    }
  }

  def text(u: String): String = {
    calls.incrementAndGet()
    new String(serve(u, "fetch.call", _.pages), java.nio.charset.StandardCharsets.UTF_8)
  }

  def binary(u: String): Array[Byte] = {
    binaryCalls.incrementAndGet()
    serve(u, "fetch.binary_call", _.binaries)
  }
}
