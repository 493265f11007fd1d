package graft

import scala.collection.concurrent.TrieMap

import graft.sources.{PagedSource, PagedStream}
import graft.streaming.MedallionStream

/** The bronze pull as a FIRST-CLASS streaming source: offsets =
  * (media, page) in Spark's own offset log, per-trigger page budgets,
  * completion per the last-page algebra, checkpoint-resume without
  * re-fetching a single emitted page, late-listed media admitted from
  * page 1.
  */
class PagedStreamSpec extends SparkSpec {

  private def ev(key: String, ts: String, media: String): String =
    s"""{"event_key":"$key","received_at":"$ts","percent_viewed":0.5,
       |"visitor_key":"v-$key","media_id":"$media","media_name":"vid"}"""
      .stripMargin.replaceAll("\n", "")

  /** A media's feed: `nFull` full pages (2 events) plus one short final
    * page (1 event) — the short page is the last-page signal.
    */
  private def feed(media: String, nFull: Int): Vector[String] = {
    var k = 0
    def next(): String = { k += 1; ev(s"$media-e$k", s"2025-04-01T1${k % 10}:00:00Z", media) }
    (Vector.fill(nFull)(s"""{"data":[${next()},${next()}]}""") :+
      s"""{"data":[${next()}]}""")
  }

  private class FakeApi extends PagedStream.MediaPagedApi {
    val feeds = TrieMap[String, Vector[String]]()
    val fetches = TrieMap[(String, Long), Int]()
    def mediaIds: Seq[String] = feeds.keys.toSeq.sorted
    def fetch(media: String, page: Long): PagedSource.Page = {
      fetches.updateWith((media, page))(c => Some(c.getOrElse(0) + 1))
      val pages = feeds(media)
      require(page >= 1 && page <= pages.size,
        s"fetch past the end: $media page $page of ${pages.size}")
      val payload = pages((page - 1).toInt)
      val size = "\"event_key\"".r.findAllIn(payload).size.toLong
      PagedSource.Page(payload, size, total = None, perPage = Some(2L))
    }
  }

  test("api-driven silver: budgeted drain, exactly-once pages, " +
      "checkpoint resume admits only the late media") {
    val root = java.nio.file.Files.createTempDirectory("graft-pstream").toString
    val (fact, quar, cp) = (s"$root/fact", s"$root/quarantine", s"$root/cp")
    val api = new FakeApi
    api.feeds("m1") = feed("m1", 4) // 5 pages, 9 events
    api.feeds("m2") = feed("m2", 1) // 2 pages, 3 events
    PagedStream.register("spec-api", api)
    try {
      val q = MedallionStream.factEventsFromApiSinglePassQuery(spark, "spec-api",
        fact, quar, cp, maxPagesPerTrigger = 2)
      assert(q.awaitTermination(120000))
      val out1 = spark.read.parquet(fact)
      assert(out1.count() == 12, "every event from every page, exactly once")
      assert(out1.select("event_key").distinct().count() == 12)
      // the 2-page budget paces m1's 5 pages over >= 3 micro-batches
      assert(api.fetches.keys.count(_._1 == "m1") == 5)
      assert(api.fetches.values.forall(_ == 1),
        s"every page fetched exactly once: ${api.fetches.toMap}")

      // a media listed AFTER the first drain: restart from the same
      // checkpoint must pull only m3 — completed media are terminal and
      // emitted pages never re-fetch
      api.feeds("m3") = feed("m3", 1) // 3 events
      val q2 = MedallionStream.factEventsFromApiSinglePassQuery(spark, "spec-api",
        fact, quar, cp, maxPagesPerTrigger = 2)
      assert(q2.awaitTermination(120000))
      val out2 = spark.read.parquet(fact)
      assert(out2.count() == 15, "resume adds exactly the new media's events")
      assert(out2.select("event_key").distinct().count() == 15)
      assert(api.fetches.values.forall(_ == 1),
        s"resume must not re-fetch any page: ${api.fetches.toMap}")

      // idle restart: nothing new, nothing fetched
      val before = api.fetches.toMap
      val q3 = MedallionStream.factEventsFromApiSinglePassQuery(spark, "spec-api",
        fact, quar, cp, maxPagesPerTrigger = 2)
      assert(q3.awaitTermination(120000))
      assert(spark.read.parquet(fact).count() == 15)
      assert(api.fetches.toMap == before,
        "all media complete: an idle restart fetches nothing")
    } finally PagedStream.unregister("spec-api")
  }

  test("api-driven single pass: corrupt pages land in quarantine, " +
      "not the offset log; idle restart appends nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-psp").toString
    val api = new FakeApi
    // page 2 of 3 is corrupt JSON; pages 1/3 carry 2+1 good events
    api.feeds("m1") = Vector(
      s"""{"data":[${ev("p1", "2025-04-01T10:00:00Z", "m1")},${ev("p2", "2025-04-01T11:00:00Z", "m1")}]}""",
      // corrupt JSON that still REPORTS a full page ("event_key" twice
      // keeps the fake's size metric at perPage, so pagination continues
      // past it — the real API's envelope size is metadata, not parse
      // success)
      """{"this is": not json "event_key" "event_key"}""",
      s"""{"data":[${ev("p3", "2025-04-01T12:00:00Z", "m1")}]}""")
    PagedStream.register("sp-api", api)
    try {
      val q = MedallionStream.factEventsFromApiSinglePassQuery(spark,
        "sp-api", s"$root/fact", s"$root/quar", s"$root/cp",
        maxPagesPerTrigger = 2)
      assert(q.awaitTermination(120000))
      assert(spark.read.parquet(s"$root/fact").count() == 3,
        "good pages flatten to the fact")
      val quar = spark.read.parquet(s"$root/quar")
      assert(quar.count() == 1 &&
        quar.head().getAs[String]("raw_payload").contains("not json"),
        "the corrupt page must be quarantined, not dropped")
      // idle restart: everything committed; nothing re-fetched, nothing
      // re-appended
      val q2 = MedallionStream.factEventsFromApiSinglePassQuery(spark,
        "sp-api", s"$root/fact", s"$root/quar", s"$root/cp",
        maxPagesPerTrigger = 2)
      assert(q2.awaitTermination(120000))
      assert(spark.read.parquet(s"$root/fact").count() == 3)
      assert(spark.read.parquet(s"$root/quar").count() == 1)
      assert(api.fetches.values.forall(_ == 1),
        s"no page re-fetched: ${api.fetches.toMap}")
    } finally PagedStream.unregister("sp-api")
  }

  test("EventsPagedApi: the api→fact drain is lossless — output equals " +
      "the direct flatten of the served events slice (q213's algebra)") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "events").filter(col("event_id") % 10 === 0) // 50 events, 5 media
    // small pages + small budget force multi-trigger pagination per feed
    val got = graft.streaming.EventsPagedApi.factsViaApi(spark, events,
      pageSize = 4, maxPagesPerTrigger = 2)
    val want = events.select(
      col("event_id").cast("string").as("event_key"),
      col("ts").as("received_at"),
      col("value").cast("double").as("percent_viewed"),
      concat(lit("v"), col("user_id")).as("visitor_key"),
      col("event_type").as("media_id"),
      concat(lit("media-"), col("event_type")).as("media_name"))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "every event must round-trip the page serialization exactly once")
    // exact-multiple feed sizes end on the declared-total branch, never
    // a short page — a feed of 8 with pageSize 4 must still complete
    val api = graft.streaming.EventsPagedApi.fromEvents(
      events.limit(8).withColumn("event_type", lit("one")), pageSize = 4)
    val p2 = api.fetch("one", 2L)
    assert(p2.size == 4L && graft.sources.PagedSource.isLastPage(
      p2.size, 4L, 2L, p2.total), "declared total must mark the last page")
  }

  test("EventsPagedApi empty-input conventions: an empty served slice " +
      "is an empty fact frame; an empty media list is an empty dim; " +
      "a NULL event_type refuses loudly") {
    import org.apache.spark.sql.functions._
    val events = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "events")
    // empty slice: zero batches commit, the sink dir never exists, and
    // the result is a typed empty frame, not a read crash
    val facts = graft.streaming.EventsPagedApi.factsViaApi(spark,
      events.filter(lit(false)), pageSize = 4, maxPagesPerTrigger = 2)
    assert(facts.count() == 0)
    assert(facts.columns.toSeq == Seq("event_key", "received_at",
      "percent_viewed", "visitor_key", "media_id", "media_name"))
    // empty media list: empty dim with the declared schema
    val dim = graft.streaming.EventsPagedApi.dimViaApi(spark, Seq.empty,
      _ => fail("no fetch may happen for an empty media list"))
    assert(dim.count() == 0 &&
      dim.schema == graft.schema.Schemas.dimMedia)
    // a NULL feed key has nowhere to live — refused, never dropped
    val e = intercept[IllegalArgumentException] {
      graft.streaming.EventsPagedApi.fromEvents(
        events.limit(3).withColumn("event_type",
          lit(null).cast("string")), pageSize = 2)
    }
    assert(e.getMessage.contains("NULL event_type"))
  }

  test("Trigger.AvailableNow drains to pagination completion and " +
      "terminates itself (the T4 batch-incremental mode)") {
    val root = java.nio.file.Files.createTempDirectory("graft-pavail").toString
    val api = new FakeApi
    api.feeds("m1") = feed("m1", 4) // 5 pages > the 2-page budget
    PagedStream.register("avail-api", api)
    try {
      val q = MedallionStream.factEventsFromApiSinglePassQuery(spark, "avail-api",
        s"$root/fact", s"$root/quarantine", s"$root/cp", maxPagesPerTrigger = 2)
      assert(q.awaitTermination(120000),
        "AvailableNow must terminate on its own at drain")
      assert(spark.read.parquet(s"$root/fact").count() == 9,
        "the drain must cover ALL pages, not one budget-capped batch")
      assert(api.fetches.keys.count(_._1 == "m1") == 5 &&
        api.fetches.values.forall(_ == 1))
    } finally PagedStream.unregister("avail-api")
  }
}
