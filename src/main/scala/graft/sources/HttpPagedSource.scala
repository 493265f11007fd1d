package graft.sources

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** REAL HTTP transport for the paged-source family (SURVEY.md §2.1
  * S1–S4) — the one layer the engine previously left as an interface
  * exercised by fakes. A [[PagedSource.PagedApi]] (and the multi-feed
  * [[PagedStream.MediaPagedApi]]) over `java.net.http.HttpClient`:
  *
  *  - GET per page with caller-supplied headers (the reference
  *    authenticates with a bearer token header, REF
  *    `glue_jobs/bronze/wistia_pull_wistia_api.py:83-115`; never bake
  *    credentials into code — pass them in from the environment);
  *  - HTTP status ≥ 400 surfaces as [[PagedSource.HttpStatusFailure]]
  *    and connect/read/timeout errors as [[PagedSource.TransportFailure]],
  *    so [[PagedSource.retrying]] applies the reference's exact truth
  *    table on top (5xx retry with backoff, 4xx fatal, transport retry);
  *  - envelope hints (`size`, `total`, `per_page`) parse driver-side
  *    from the payload with the SAME data|events|items|results
  *    coalesce order as [[graft.ops.Flatten.normalizePages]] (REF
  *    `:135-146`), feeding [[PagedSource.isLastPage]]'s last-page
  *    algebra unchanged.
  *
  * Placement: the client lives ONLY on the driver, inside
  * `latestOffset`'s admission-controlled pull (see
  * [[PagedStream]]'s scaladoc for why that is the right place for
  * auth/rate limits/sessions at any scale) — executors never open a
  * socket. An unparseable 200 body reports `size = 0`, which ends that
  * feed's pagination (short page): the payload itself still lands and
  * the quarantine twin surfaces it — the same stop-on-garbage behavior
  * as the reference's `len(items)` probe.
  *
  * Tested against a live in-process `com.sun.net.httpserver.HttpServer`
  * (HttpPagedSourceSpec): real sockets, injected 503s proving the
  * backoff path, 401 proving fatal-4xx, and the full api→fact pipeline
  * drained over HTTP.
  */
object HttpPagedSource {

  /** Envelope hints from a raw page payload: (size, total, per_page).
    * Bare JSON array → (length, None, None); object → the first of
    * data|events|items|results as the row array plus optional integer
    * total/per_page; anything unparseable → (0, None, None) — the
    * short-page stop, see object scaladoc.
    */
  private[graft] def envelopeHints(payload: String)
      : (Long, Option[Long], Option[Long]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def arrLen(v: JValue): Option[Long] = v match {
      case JArray(xs) => Some(xs.length.toLong)
      case _          => None
    }
    def intOf(v: JValue): Option[Long] = v match {
      case JInt(i)     => Some(i.toLong)
      case JLong(l)    => Some(l)
      case JDouble(d) if d.isWhole => Some(d.toLong)
      case _           => None
    }
    scala.util.Try(JsonMethods.parse(payload)).toOption match {
      case Some(arr @ JArray(_)) => (arrLen(arr).get, None, None)
      case Some(obj: JObject) =>
        val rows = Seq("data", "events", "items", "results").iterator
          .map(k => arrLen(obj \ k)).collectFirst { case Some(n) => n }
        (rows.getOrElse(0L), intOf(obj \ "total"), intOf(obj \ "per_page"))
      case _ => (0L, None, None)
    }
  }

  private def newClient(connectTimeoutMillis: Long): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(connectTimeoutMillis))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()

  private def get(client: HttpClient, url: String,
                  headers: Map[String, String],
                  requestTimeoutMillis: Long): PagedSource.Page = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofMillis(requestTimeoutMillis)).GET()
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp =
      try client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      catch {
        case e: java.io.IOException =>
          throw new PagedSource.TransportFailure(
            s"GET $url failed before a status existed: ${e.getMessage}", e)
        case e: InterruptedException =>
          // cancellation, not a transport fault: keep the interrupt
          // status SET and propagate outside the retry taxonomy so
          // retrying() rethrows immediately instead of re-sending a
          // cancelled fetch through the backoff schedule
          Thread.currentThread().interrupt()
          throw new IllegalStateException(s"GET $url interrupted", e)
      }
    // >= 300, not >= 400: Redirect.NORMAL follows same-scheme redirects
    // transparently, so any 3xx that REACHES us was refused (https→http
    // downgrade, exhausted chain) — treating it as a page would let
    // envelopeHints read the stub body as size 0 and silently mark the
    // feed complete. Surface it; 3xx is not in the retryable set, so it
    // fails loudly rather than looping.
    if (resp.statusCode() >= 300)
      throw PagedSource.HttpStatusFailure(resp.statusCode())
    val body = resp.body()
    val (size, total, perPage) = envelopeHints(body)
    PagedSource.Page(body, size, total, perPage)
  }

  /** Single-feed HTTP [[PagedSource.PagedApi]]: `urlForPage` builds the
    * page URL (the reference's `?page=N&per_page=M` shape stays the
    * caller's template — endpoints differ per deployment). Wrap with
    * [[PagedSource.retrying]] for the reference's backoff schedule, or
    * use [[retryingApi]].
    */
  def api(urlForPage: Long => String,
          headers: Map[String, String] = Map.empty,
          connectTimeoutMillis: Long = 10000L,
          requestTimeoutMillis: Long = 30000L): PagedSource.PagedApi = {
    val client = newClient(connectTimeoutMillis)
    new PagedSource.PagedApi {
      def fetch(page: Long): PagedSource.Page =
        get(client, urlForPage(page), headers, requestTimeoutMillis)
    }
  }

  /** A shareable client for multi-call sweeps — HttpClient is
    * unclosable before JDK 21 (each instance holds a selector thread +
    * pool until GC), so a per-media metadata loop must reuse ONE.
    */
  def sharedClient(connectTimeoutMillis: Long = 10000L): HttpClient =
    newClient(connectTimeoutMillis)

  /** S2: single-object GET (the reference's per-media metadata fetch,
    * REF `wistia_pull_wistia_api.py:99-102`) through the same status /
    * transport error mapping and the reference retry schedule. Returns
    * the raw payload; parse downstream with
    * [[graft.schema.Schemas.wistiaMediaRaw]] → `Flatten.dimMedia`.
    * Pass a [[sharedClient]] when calling in a loop (one client per
    * sweep, not per media — connection reuse plus no leaked selector
    * threads); the default builds a one-shot client.
    */
  def fetchObject(url: String,
                  headers: Map[String, String] = Map.empty,
                  connectTimeoutMillis: Long = 10000L,
                  requestTimeoutMillis: Long = 30000L,
                  backoffMillis: Seq[Long] = Seq(1000L, 2000L, 4000L),
                  sleep: Long => Unit = Thread.sleep,
                  client: Option[HttpClient] = None): String = {
    val c = client.getOrElse(newClient(connectTimeoutMillis))
    PagedSource.retrying(new PagedSource.PagedApi {
      def fetch(page: Long): PagedSource.Page =
        get(c, url, headers, requestTimeoutMillis)
    }, backoffMillis, sleep = sleep).fetch(1L).payload
  }

  /** [[api]] pre-wrapped in the reference's retry/backoff truth table
    * (S4: 500/502/503/504 + transport retry with the (1, 2, 4) s
    * schedule, anything else fatal).
    */
  def retryingApi(urlForPage: Long => String,
                  headers: Map[String, String] = Map.empty,
                  backoffMillis: Seq[Long] = Seq(1000L, 2000L, 4000L),
                  sleep: Long => Unit = Thread.sleep)
      : PagedSource.PagedApi =
    PagedSource.retrying(api(urlForPage, headers),
      backoffMillis = backoffMillis, sleep = sleep)

  /** Multi-feed HTTP [[PagedStream.MediaPagedApi]] for the first-class
    * streaming source: one paged feed per media id (the reference's
    * per-media loop), every fetch through ONE shared client and the
    * retry schedule. Register it under a key
    * (`PagedStream.register(key, this)`) and the whole api→fact
    * pipeline
    * ([[graft.streaming.MedallionStream.factEventsFromApiSinglePassQuery]])
    * runs over live HTTP.
    */
  def mediaApi(media: Seq[String], urlFor: (String, Long) => String,
               headers: Map[String, String] = Map.empty,
               connectTimeoutMillis: Long = 10000L,
               requestTimeoutMillis: Long = 30000L,
               backoffMillis: Seq[Long] = Seq(1000L, 2000L, 4000L),
               sleep: Long => Unit = Thread.sleep)
      : PagedStream.MediaPagedApi = {
    require(media.nonEmpty, "HttpPagedSource.mediaApi: empty media list")
    val client = newClient(connectTimeoutMillis)
    new PagedStream.MediaPagedApi {
      def mediaIds: Seq[String] = media
      def fetch(m: String, page: Long): PagedSource.Page = {
        val raw = new PagedSource.PagedApi {
          def fetch(p: Long): PagedSource.Page =
            get(client, urlFor(m, p), headers, requestTimeoutMillis)
        }
        PagedSource.retrying(raw, backoffMillis, sleep = sleep).fetch(page)
      }
    }
  }
}
