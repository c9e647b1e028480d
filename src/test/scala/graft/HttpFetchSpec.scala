package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.ingest.{Fetch, HttpFetch, Pipeline}

/** The deployable HTTP client over real sockets: an in-process HttpServer
  * serves the fixture site and the full pipeline runs against it through
  * `HttpFetch.text` — the r2 verdict's missing integration path (pooling,
  * timeout config, non-2xx → fetch_error, charset decode).
  */
class HttpFetchSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] =
    Files.readAllBytes(
      Paths.get(getClass.getResource(s"/fixtures/$name").toURI))

  private def withServer(
      routes: Map[String, (String, Array[Byte])])(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      routes.get(path) match {
        case Some((ctype, bytes)) =>
          ex.getResponseHeaders.add("Content-Type", ctype)
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        case None =>
          ex.sendResponseHeaders(404, -1L)
      }
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("full pipeline over real sockets; 404 → roster error; image → PDF page") {
    val html = "text/html; charset=utf-8"
    // a real JPEG served as the representative image of case_full
    val img = new java.awt.image.BufferedImage(
      32, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    val jpeg = bos.toByteArray

    withServer(Map(
      "/fkd/lis/cat1.html" -> (html, fixture("list_cat.html")),
      "/fkd/cf/CZ0200701.html" -> (html, fixture("case_full.html")),
      "/fkd/cf/CZ0200702.html" -> (html, fixture("case_missing.html")),
      // CZ0200703 is crawled but NOT served → HTTP 404 → error route
      "/fkd/sf/SZ0200703.html" -> (html, fixture("scenario_2b.html")),
      "/fkd/df/DZ0200703.jpg" -> ("image/jpeg", jpeg))) { base =>
      val out = Files.createTempDirectory("httpfetch").toString
      val res = Pipeline.runUrls(
        spark, Seq(s"$base/fkd/lis/cat1.html"), limit = 3, outDir = out)(
        HttpFetch.text, HttpFetch.binary)
      assert(res.total === 3)
      assert(res.success === 1)
      assert(res.excluded === 1)
      assert(res.error === 1)
      val manifest = new String(
        Files.readAllBytes(Paths.get(out, res.manifestFile)), UTF_8)
      assert(manifest.contains("HTTP 404"),
        s"manifest must carry the HTTP status message:\n$manifest")
      // the success case's PDF embeds the fetched representative image
      // (download_image → scale-to-fit parity, render_pdf.py:90-118)
      val pdf = Files.readAllBytes(
        Paths.get(out, "CZ0200701_トンネル坑口崩落事故.pdf"))
      val s = new String(pdf, java.nio.charset.StandardCharsets.US_ASCII)
      assert(s.contains("/Filter /DCTDecode"), "PDF must carry the image page")
      assert(s.contains("/Width 32") && s.contains("/Height 24"))
      assert(pdf.containsSlice(jpeg), "JPEG bytes embed verbatim")
    }
  }

  test("charset decode follows Content-Type; binary fetch returns raw bytes") {
    val sjis = "駅前立坑の崩落".getBytes("Shift_JIS")
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    withServer(Map(
      "/sjis.html" -> ("text/html; charset=Shift_JIS", sjis),
      "/plain.html" -> ("text/html", "日本語UTF8".getBytes(UTF_8)),
      "/img.png" -> ("image/png", png))) { base =>
      assert(HttpFetch.text(s"$base/sjis.html") === "駅前立坑の崩落")
      assert(HttpFetch.text(s"$base/plain.html") === "日本語UTF8") // UTF-8 default
      assert(HttpFetch.binary(s"$base/img.png").toSeq === png.toSeq)
      val e = intercept[java.io.IOException](HttpFetch.text(s"$base/missing"))
      assert(e.getMessage.startsWith("HTTP 404"))
    }
  }

  test("one task keeps several requests in flight over real sockets") {
    // each response takes 50 ms, served by a pool as wide as the window
    val open = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val ports = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val handlers = java.util.concurrent.Executors.newFixedThreadPool(Fetch.Window)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(handlers)
    server.createContext("/", (ex: HttpExchange) => {
      peak.accumulateAndGet(open.incrementAndGet(), math.max)
      ports.add(ex.getRemoteAddress.getPort)
      try {
        Thread.sleep(50)
        val body = ex.getRequestURI.getPath.getBytes(UTF_8)
        ex.sendResponseHeaders(200, body.length.toLong)
        ex.getResponseBody.write(body)
      } finally {
        open.decrementAndGet()
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val urls = (1 to 32).map(i => s"$base/p$i.html")
      val got = spark.sparkContext.parallelize(urls, 1)
        .mapPartitions(Fetch.inFlight(_)(HttpFetch.text)).collect().toSeq
      assert(got === urls.map(u => u -> Right(u.stripPrefix(base))))
      assert(peak.get > 1 && peak.get <= Fetch.Window, s"peak ${peak.get}")
      assert(ports.size > 1, s"client ports $ports")
    } finally {
      server.stop(0)
      handlers.shutdownNow()
    }
  }
}
