package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

/** The deployable HTTP fetcher behind [[Fetch]]'s injection point —
  * reference parity with `fetch_html` (/root/reference/src/extract.py:34-38):
  * GET with a 30 s timeout, non-2xx raises (`raise_for_status`), body
  * decoded from the response charset (UTF-8 default).
  *
  * One pooled client per JVM: `HttpFetch.text`/`HttpFetch.binary` are
  * object methods, so an executor deserializing the closure touches the
  * lazily-built per-JVM client — java.net.http.HttpClient keeps an
  * internal connection pool, giving keep-alive reuse across the rows of
  * every partition that executor runs. The client is thread-safe, as
  * Fetch requires: a task's overlapped calls share it, each on its own
  * connection. Redirects follow
  * `NORMAL` policy (http→https allowed, not https→http), like requests'
  * default.
  */
object HttpFetch {

  private final val TimeoutSecs = 30L

  @transient private lazy val client: HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(TimeoutSecs))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()

  private def get(url: String): HttpResponse[Array[Byte]] = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(TimeoutSecs))
      .GET()
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
    val code = resp.statusCode()
    if (code < 200 || code >= 300)
      // parity with requests.raise_for_status: non-2xx is an error the
      // caller maps to the fetch_error column / F3 error route
      throw new java.io.IOException(s"HTTP $code: $url")
    resp
  }

  /** Charset from Content-Type, UTF-8 when unspecified or unknown. */
  private def charsetOf(resp: HttpResponse[Array[Byte]]) =
    resp.headers().firstValue("Content-Type").map[java.nio.charset.Charset] {
      ct =>
        val m = "(?i)charset=([\\w.:-]+)".r.findFirstMatchIn(ct)
        m.map(_.group(1)).flatMap { name =>
          try Some(java.nio.charset.Charset.forName(name))
          catch { case _: Exception => None }
        }.getOrElse(StandardCharsets.UTF_8)
    }.orElse(StandardCharsets.UTF_8)

  /** Text fetch for [[Fetch.fetchPages]]. */
  def text(url: String): String = {
    val resp = get(url)
    new String(resp.body(), charsetOf(resp))
  }

  /** Binary fetch for [[Fetch.fetchBinary]] (images etc.). */
  def binary(url: String): Array[Byte] = get(url).body()
}
