package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.sources.{HttpPagedSource, PagedSource, PagedStream}
import graft.streaming.MedallionStream

/** The HTTP transport against a LIVE in-process server (real sockets on
  * 127.0.0.1, JDK HttpServer): paged drain over the wire, the
  * reference's retry truth table on real status codes (503 retried
  * with backoff, 401 fatal), transport failure on a dead port, and the
  * full api→fact streaming pipeline pulled over HTTP.
  */
class HttpPagedSourceSpec extends SparkSpec {

  private def ev(key: String, ts: String, media: String): String =
    s"""{"event_key":"$key","received_at":"$ts","percent_viewed":0.5,
       |"visitor_key":"v-$key","media_id":"$media","media_name":"vid"}"""
      .stripMargin.replaceAll("\n", "")

  /** nFull full pages (2 events) + one short last page (1 event). */
  private def feed(media: String, nFull: Int): Vector[String] = {
    var k = 0
    def next(): String = {
      k += 1; ev(s"$media-e$k", s"2025-04-01T1${k % 10}:00:00Z", media)
    }
    (Vector.fill(nFull)(
      s"""{"data":[${next()},${next()}],"per_page":2}""") :+
      s"""{"data":[${next()}],"per_page":2}""")
  }

  /** One-endpoint paged server: /feeds/<media>?page=N serves
    * feeds(media)(N-1); optional one-shot 503 injections per (media,
    * page); requires the Authorization header when `token` is set.
    * Returns (server, hit counter).
    */
  private def pagedServer(feeds: Map[String, Vector[String]],
                          failOnce: Set[(String, Long)] = Set.empty,
                          token: Option[String] = None)
      : (HttpServer, TrieMap[(String, Long), Int]) = {
    val hits = TrieMap[(String, Long), Int]()
    val pendingFail = TrieMap(failOnce.toSeq.map(_ -> true): _*)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/feeds/", (ex: HttpExchange) => {
      val media = ex.getRequestURI.getPath.stripPrefix("/feeds/")
      val page = ex.getRequestURI.getQuery.split("&").collectFirst {
        case q if q.startsWith("page=") => q.stripPrefix("page=").toLong
      }.get
      hits.updateWith((media, page))(c => Some(c.getOrElse(0) + 1))
      def respond(status: Int, body: String): Unit = {
        val bytes = body.getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
      if (token.exists(t =>
          ex.getRequestHeaders.getFirst("Authorization") != s"Bearer $t"))
        respond(401, "")
      else if (pendingFail.replace((media, page), true, false))
        respond(503, "")
      else respond(200, feeds(media)((page - 1).toInt))
    })
    server.start()
    (server, hits)
  }

  private def baseUrl(s: HttpServer): String =
    s"http://127.0.0.1:${s.getAddress.getPort}"

  test("envelopeHints: bare array, every envelope key, hints, garbage") {
    assert(HttpPagedSource.envelopeHints("""[{"a":1},{"a":2}]""") ==
      ((2L, None, None)))
    Seq("data", "events", "items", "results").foreach { k =>
      assert(HttpPagedSource.envelopeHints(s"""{"$k":[{"a":1}]}""") ==
        ((1L, None, None)), s"envelope key $k")
    }
    assert(HttpPagedSource.envelopeHints(
      """{"data":[{},{},{}],"total":7,"per_page":3}""") ==
      ((3L, Some(7L), Some(3L))))
    // data wins over a later key, same as the flatten coalesce order
    assert(HttpPagedSource.envelopeHints(
      """{"results":[{},{}],"data":[{}]}""") == ((1L, None, None)))
    assert(HttpPagedSource.envelopeHints("not json at all") ==
      ((0L, None, None)))
    assert(HttpPagedSource.envelopeHints("""{"no_rows":true}""") ==
      ((0L, None, None)))
  }

  test("paged drain over live HTTP: short-page stop, one GET per page; " +
      "injected 503 retried with backoff; 401 and dead port surface right") {
    val (server, hits) = pagedServer(Map("m1" -> feed("m1", 2)),
      failOnce = Set(("m1", 2L)), token = Some("sekret"))
    try {
      val slept = scala.collection.mutable.ArrayBuffer[Long]()
      val api = HttpPagedSource.retryingApi(
        p => s"${baseUrl(server)}/feeds/m1?page=$p&per_page=2",
        headers = Map("Authorization" -> "Bearer sekret"),
        sleep = slept += _)
      val res = PagedSource.pull(api, PagedSource.Checkpoint(), maxPages = 10,
        timeBudgetMillis = Long.MaxValue / 4, defaultPerPage = 2)
      assert(res.complete, "short page must end the pagination")
      assert(res.payloads.size == 3)
      assert(res.payloads.map(p =>
        "\"event_key\"".r.findAllIn(p).size).sum == 5,
        "all 5 events must arrive over the wire")
      assert(res.checkpoint.lastReceivedAt.isDefined)
      assert(slept.toSeq == Seq(1000L),
        s"the injected 503 costs exactly one backoff step: $slept")
      assert(hits(("m1", 2L)) == 2 && hits(("m1", 1L)) == 1 &&
        hits(("m1", 3L)) == 1,
        s"page 2 fetched twice (503 then 200), others once: ${hits.toMap}")
      // 4xx is fatal, never retried (the reference's truth table)
      val before = hits.getOrElse(("m1", 1L), 0)
      val bad = HttpPagedSource.retryingApi(
        p => s"${baseUrl(server)}/feeds/m1?page=$p", sleep = _ => ())
      val e = intercept[PagedSource.HttpStatusFailure] { bad.fetch(1L) }
      assert(e.status == 401)
      assert(hits(("m1", 1L)) == before + 1, "401 must not retry")
    } finally server.stop(0)
    // an UNFOLLOWED 3xx (Redirect.NORMAL hands it back — e.g. an
    // https→http downgrade in production; a bare 304 here) must surface
    // as a status failure, never read as a size-0 page that would
    // silently mark the feed complete
    val s3 = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    s3.createContext("/feeds/", (ex: HttpExchange) => {
      ex.sendResponseHeaders(304, -1); ex.close()
    })
    s3.start()
    try {
      val e3 = intercept[PagedSource.HttpStatusFailure] {
        HttpPagedSource.retryingApi(
          p => s"${baseUrl(s3)}/feeds/m1?page=$p", sleep = _ => ()).fetch(1L)
      }
      assert(e3.status == 304, "unfollowed 3xx is an error, not a page")
    } finally s3.stop(0)
    // a connection that never reaches HTTP is a TransportFailure — and
    // after the schedule it PROPAGATES (the list(retries)+[None]
    // sentinel). `.invalid` is RFC-2606-guaranteed never to resolve, so
    // this is deterministic (probing a just-released ephemeral port
    // would race with whoever binds it next).
    intercept[PagedSource.TransportFailure] {
      HttpPagedSource.retryingApi(
        p => s"http://graft-no-such-host.invalid/feeds/m1?page=$p",
        backoffMillis = Seq(1L, 1L), sleep = _ => ()).fetch(1L)
    }
  }

  test("api->dim over live HTTP: single-object metadata GETs (S2) " +
      "produce the identical dim frame as the in-JVM fetcher") {
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "events")
    val meta = graft.streaming.EventsPagedApi.mediaMetadataJson(events)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val failedOnce = TrieMap[String, Boolean]()
    server.createContext("/medias/", (ex: HttpExchange) => {
      val m = ex.getRequestURI.getPath.stripPrefix("/medias/")
        .stripSuffix(".json")
      // every media's FIRST fetch 503s — the whole dim path must ride
      // the retry schedule, not just the happy path
      val body =
        if (failedOnce.putIfAbsent(m, true).isEmpty) ""
        else meta(m)
      val status = if (body.isEmpty) 503 else 200
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      // ONE client for the whole per-media sweep (HttpClient is
      // unclosable pre-JDK-21 — a client per media leaks selector
      // threads and forfeits connection reuse)
      val client = HttpPagedSource.sharedClient()
      val viaHttp = graft.streaming.EventsPagedApi.dimViaApi(spark,
        meta.keys.toSeq, m => HttpPagedSource.fetchObject(
          s"${baseUrl(server)}/medias/$m.json",
          backoffMillis = Seq(1L, 2L), sleep = _ => (),
          client = Some(client)))
      val viaMap = graft.streaming.EventsPagedApi.dimViaApi(spark,
        meta.keys.toSeq, meta)
      assert(viaHttp.count() == meta.size)
      assert(viaHttp.exceptAll(viaMap).isEmpty &&
        viaMap.exceptAll(viaHttp).isEmpty,
        "the HTTP transport must be a pure pipe: identical dim frames")
      assert(viaHttp.filter(col("updated_at").isNull ||
        col("created_at").isNull).count() == 0,
        "timestamps must survive the wire round-trip")
    } finally server.stop(0)
  }

  test("api->fact over live HTTP: the whole reference pipeline pulled " +
      "from a real server through the DataSourceV2 source") {
    val feeds = Map("m1" -> feed("m1", 2), "m2" -> feed("m2", 1))
    val (server, hits) = pagedServer(feeds, failOnce = Set(("m2", 1L)))
    val root = java.nio.file.Files.createTempDirectory("graft-http").toString
    try {
      val api = HttpPagedSource.mediaApi(
        media = Seq("m1", "m2"),
        urlFor = (m, p) => s"${baseUrl(server)}/feeds/$m?page=$p&per_page=2",
        backoffMillis = Seq(1L, 2L), sleep = _ => ())
      PagedStream.register("http-spec", api)
      try {
        val q = MedallionStream.factEventsFromApiSinglePassQuery(spark, "http-spec",
          s"$root/fact", s"$root/quarantine", s"$root/cp", maxPagesPerTrigger = 2)
        assert(q.awaitTermination(120000))
      } finally PagedStream.unregister("http-spec")
      val out = spark.read.parquet(s"$root/fact")
      assert(out.count() == 8, "5 + 3 events, exactly once, over the wire")
      assert(out.select("event_key").distinct().count() == 8)
      // every page fetched exactly once — except m2 page 1's injected
      // 503, which cost exactly one extra GET
      assert(hits.forall { case (k, n) => n == (if (k == (("m2", 1L))) 2 else 1) },
        s"exactly-once pages over HTTP: ${hits.toMap}")
    } finally server.stop(0)
  }
}
