package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Medallion
import graft.pipeline.Medallion.Layout
import graft.sources.PagedSource.{Checkpoint, PullResult}

/** Golden end-to-end: the full bronze → silver → gold lifecycle over a temp
  * table root, across three incremental runs exercising the reference's
  * fresh-pull / overlap-redelivery / skip branches
  * (REF wistia_pull_wistia_api.py:173-178).
  */
class MedallionSpec extends SparkSpec {
  import spark.implicits._

  private def ev(key: String, ts: String, media: String, viewed: Double): String =
    s"""{"event_key":"$key","received_at":"$ts","percent_viewed":$viewed,
       |"visitor_key":"v-$key","media_id":"$media","media_name":"vid-$media"}"""
      .stripMargin.replaceAll("\n", "")

  private def page(events: String*): String = s"""{"data":[${events.mkString(",")}]}"""

  test("three-run medallion lifecycle: ingest, overlap re-delivery, skip") {
    val root = java.nio.file.Files.createTempDirectory("graft-medallion").toString
    val l = Layout(root)
    val done = Checkpoint(1L, None)

    // ---- run 1: fresh pull, two media -------------------------------------
    Medallion.writeBronzePages(spark, l, "m1", "2025-01-01", PullResult(Seq(
      page(ev("e1", "2025-01-01T10:00:00Z", "m1", 0.5),
        ev("e2", "2025-01-01T11:00:00Z", "m1", 0.0)),
      page(ev("e3", "2025-01-02T09:00:00Z", "m1", 0.9))), done, complete = true))
    Medallion.writeBronzePages(spark, l, "m2", "2025-01-01", PullResult(Seq(
      s"""[${ev("e4", "2025-01-01T12:00:00Z", "m2", 0.7)}]"""), done, complete = true))

    val fact1 = Medallion.refreshFactEvents(spark, l)
    assert(fact1.count() == 4)
    assert(fact1.select("event_key").distinct().count() == 4)

    // ---- run 2: overlap re-delivery (e3 again) + new events + one corrupt
    // page (must quarantine, not fail or corrupt the fact table) ----------
    Medallion.writeBronzePages(spark, l, "m1", "2025-01-02", PullResult(Seq(
      page(ev("e3", "2025-01-02T09:00:00Z", "m1", 0.9), // duplicate, same ts
        ev("e5", "2025-01-02T10:00:00Z", "m1", 0.3),
        ev("e6", "2025-01-02T11:00:00Z", "m1", 0.8)),
      """<html>502 Bad Gateway</html>"""), done, complete = true))

    val fact2 = Medallion.refreshFactEvents(spark, l)
    assert(fact2.count() == 6, "duplicate e3 must be gated by the watermark")
    assert(fact2.select("event_key").distinct().count() == 6)
    assert(spark.read.parquet(l.quarantine).count() >= 1,
      "the corrupt page must land in quarantine")

    // watermark advanced to the max received_at per media
    val state = spark.read.parquet(l.state)
      .as[(String, java.sql.Timestamp)].collect().toMap
    assert(state("m1").toInstant.toString == "2025-01-02T11:00:00Z")
    assert(state("m2").toInstant.toString == "2025-01-01T12:00:00Z")

    // ---- run 3: nothing new -> skip branch --------------------------------
    val fact3 = Medallion.refreshFactEvents(spark, l)
    assert(fact3.count() == 6, "skip branch must ingest nothing")

    // ---- crash recovery: state lost AFTER a successful append -------------
    // (equivalent to dying between the fact append and the watermark swap:
    // the next run re-selects everything, and the event_key anti-join must
    // absorb it instead of duplicating the table)
    val statePath = java.nio.file.Paths.get(l.state)
    java.nio.file.Files.walk(statePath).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.delete(f))
    val factAfterCrash = Medallion.refreshFactEvents(spark, l)
    assert(factAfterCrash.count() == 6,
      "replay with lost watermark state must not duplicate fact rows")

    // ---- watermark boundary: a DIFFERENT event at exactly the stored
    // high-water timestamp must still be ingested (inclusive gate) ---------
    Medallion.writeBronzePages(spark, l, "m1", "2025-01-03", PullResult(Seq(
      page(ev("e7", "2025-01-02T11:00:00Z", "m1", 0.2))), done, complete = true))
    val factBoundary = Medallion.refreshFactEvents(spark, l)
    assert(factBoundary.count() == 7,
      "distinct event at ts == watermark must not be dropped")

    // ---- dim upsert: v1 then v2 (stage wins) ------------------------------
    def writeMeta(path: String, json: String): String = {
      java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes)
      path
    }
    val m1v1 = writeMeta(s"$root/meta1.json",
      """[{"hashed_id":"m1","name":"First Video","duration":"10",
        |"created":"2025-01-01T00:00:00Z","updated":"2025-01-01T00:00:00Z"}]"""
        .stripMargin.replaceAll("\n", ""))
    val dim1 = Medallion.refreshDimMedia(spark, l, m1v1)
    assert(dim1.count() == 1)

    val v2 = writeMeta(s"$root/meta2.json",
      """[{"hashed_id":"m1","name":"Renamed Video","duration":"10",
        |"created":"2025-01-01T00:00:00Z","updated":"2025-01-05T00:00:00Z"},
        |{"hashed_id":"m2","name":"Second Video","duration":"20",
        |"created":"2025-01-02T00:00:00Z"}]"""
        .stripMargin.replaceAll("\n", ""))
    val dim2 = Medallion.refreshDimMedia(spark, l, v2)
    val byId = dim2.select("media_id", "media_name").as[(String, String)]
      .collect().toMap
    assert(byId == Map("m1" -> "Renamed Video", "m2" -> "Second Video"))

    // ---- gold: daily agg, idempotent partition overwrite ------------------
    val gold1 = Medallion.refreshDailyAgg(spark, l)
    val agg = gold1.orderBy("media_id", "dt").collect()
    assert(agg.length == 3) // (m1, 01-01), (m1, 01-02), (m2, 01-01)
    val m1d1 = agg(0)
    assert(m1d1.getAs[Long]("load_count") == 2)
    assert(m1d1.getAs[Long]("play_count") == 1) // e2 has percent_viewed 0.0
    assert(m1d1.getAs[Double]("play_rate") == 0.5)
    assert(m1d1.getAs[Long]("visitors") == 2)

    val gold2 = Medallion.refreshDailyAgg(spark, l)
    assert(gold2.count() == 3, "re-running the gold refresh must be idempotent")
  }

  test("re-running a silver refresh appends nothing; an incremental run keeps its job budget") {
    val l = Layout(java.nio.file.Files.createTempDirectory("graft-medallion").toString)
    val done = Checkpoint(1L, None)
    Medallion.writeBronzePages(spark, l, "m1", "2025-02-01", PullResult(Seq(
      page(ev("a1", "2025-02-01T10:00:00Z", "m1", 0.5)),
      """<html>503 Service Unavailable</html>"""), done, complete = true))
    Medallion.writeBronzePages(spark, l, "m2", "2025-02-01", PullResult(Seq(
      s"""[${ev("b1", "2025-02-01T11:00:00Z", "m2", 0.1)}]"""), done, complete = true))
    Medallion.refreshFactEvents(spark, l)

    // an incremental day: state, fact and quarantine all exist; overlap
    // re-delivery (a1), new events and a new corrupt page
    Medallion.writeBronzePages(spark, l, "m1", "2025-02-02", PullResult(Seq(
      s"""{"items":[${ev("a1", "2025-02-01T10:00:00Z", "m1", 0.5)},
         |${ev("a2", "2025-02-02T09:00:00Z", "m1", 0.7)}]}"""
        .stripMargin.replaceAll("\n", ""),
      """{"unknown":"envelope"}"""), done, complete = true))
    Medallion.writeBronzePages(spark, l, "m2", "2025-02-02", PullResult(Seq(
      s"""{"results":[${ev("b2", "2025-02-02T12:00:00Z", "m2", 0.0)}]}"""),
      done, complete = true))
    val jobs = jobsOf(Medallion.refreshFactEvents(spark, l))
    // 11 measured on Spark 4.1.2 local[4] (19 when every consumer re-parsed
    // the pages and each read inferred its schema); the headroom absorbs
    // planner drift, not a re-parse or a schema-inference job
    assert(jobs <= 13, s"incremental refreshFactEvents launched $jobs jobs")

    def snapshot() = (
      spark.read.parquet(l.factEvents).select("event_key").as[String].collect().sorted.toSeq,
      spark.read.parquet(l.quarantine).select("raw_payload").as[String].collect().sorted.toSeq,
      spark.read.parquet(l.state).as[(String, java.sql.Timestamp)].collect().sortBy(_._1).toSeq)
    val before = snapshot()
    assert(before._1 == Seq("a1", "a2", "b1", "b2"))
    assert(before._2.size == 2)
    Medallion.refreshFactEvents(spark, l)
    assert(snapshot() == before, "re-running over unchanged bronze must append 0 rows")
  }
}
