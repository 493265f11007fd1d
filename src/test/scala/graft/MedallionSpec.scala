package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.Medallion
import graft.pipeline.Medallion.Layout
import graft.schema.Schemas
import graft.sources.PagedSource.{Checkpoint, PullResult}
import graft.streaming.MedallionStream

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
    // 11 measured on Spark 4.1.2 local[4] through the shared silver sink
    // (19 when every consumer re-parsed the pages and each read inferred
    // its schema): a sink change that adds a job fails here
    assert(jobs <= 11, s"incremental refreshFactEvents launched $jobs jobs")

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

  private val done = Checkpoint(1L, None)
  private def tempRoot(): String = Files.createTempDirectory("graft-medallion").toString
  private def land(l: Layout, media: String, dt: String, pages: String*): Unit =
    Medallion.writeBronzePages(spark, l, media, dt, PullResult(pages, done, complete = true))

  /** Visible files of a bronze partition directory, as Spark lists them. */
  private def dataFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq
      .filterNot(p => Seq("_", ".").exists(p.getFileName.toString.startsWith))

  test("writeBronzePages lands a pull from the driver: no Spark job, nothing for an empty pull") {
    val l = Layout(tempRoot())
    val pages = Seq(page(ev("w1", "2025-05-01T10:00:00Z", "m1", 0.5)),
      "<html>502 Bad Gateway</html>")
    assert(jobsOf(land(l, "m1", "2025-05-01", pages: _*)) == 0)
    assert(jobsOf(land(l, "m2", "2025-05-01")) == 0)
    assert(!Files.exists(Paths.get(l.bronzeEvents, "media_id=m2")),
      "an empty pull must write nothing")
    val files = dataFiles(Paths.get(l.bronzeEvents, "media_id=m1", "dt=2025-05-01"))
    assert(files.size == 1, files)
    // JSON lines of {"payload": …}, one per page, in pull order
    val json = new ObjectMapper()
    val lines = Files.readAllLines(files.head).asScala.map(json.readTree)
    assert(lines.map(_.fieldNames().asScala.toSeq) == Seq(Seq("payload"), Seq("payload")))
    assert(lines.map(_.get("payload").asText()) == pages)
  }

  test("a driver-landed bronze file reads back as Spark's writer lays it out, " +
       "through spark.read.json and the file stream, escaped partition values included") {
    val root = tempRoot()
    val l = Layout(root)
    val media = "m/1 x:y=%" // '/', ':', '=' and '%' are escaped in a partition path
    val dt = "2025-05-02"
    val pages = Seq(page(ev("r1", "2025-05-02T10:00:00Z", media, 0.5)),
      s"""[${ev("r2", "2025-05-02T11:00:00Z", media, 0.2)}]""")
    assert(jobsOf(land(l, media, dt, pages: _*)) == 0)

    // the partition directory is the one Spark's own writer makes
    val ref = s"$root/spark-written"
    pages.map(p => (p, media, dt)).toDF("payload", "media_id", "dt")
      .write.partitionBy("media_id", "dt").json(ref)
    def partitionDirs(base: String): Seq[String] = {
      val b = Paths.get(base)
      Files.walk(b).iterator().asScala.filter(Files.isDirectory(_))
        .map(b.relativize).filter(_.getNameCount == 2).map(_.toString).toSeq
    }
    assert(partitionDirs(l.bronzeEvents) == partitionDirs(ref))
    assert(partitionDirs(ref).size == 1)

    // a landing that died before its rename leaves only a `_`-prefixed file
    val partDir = Paths.get(l.bronzeEvents).resolve(partitionDirs(ref).head)
    val ghost = s"[${ev("ghost", "2025-05-02T12:00:00Z", media, 0.1)}]"
    Files.write(partDir.resolve("_part-died-before-rename.json"),
      ("{\"payload\":" + new ObjectMapper().writeValueAsString(ghost) + "}\n")
        .getBytes("UTF-8"))

    val schema = "payload STRING, media_id STRING, dt STRING"
    val expected = pages.map(p => (p, media, dt)).toSet
    val batch = spark.read.schema(schema).option("basePath", l.bronzeEvents)
      .json(l.bronzeEvents).as[(String, String, String)].collect().toSet
    assert(batch == expected)
    val q = spark.readStream.schema(schema).option("basePath", l.bronzeEvents)
      .json(s"${l.bronzeEvents}/*/*")
      .writeStream.format("memory").queryName("landed_bronze_pages")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("landed_bronze_pages").as[(String, String, String)]
      .collect().toSet == expected)
    val fact = MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, s"$root/fact",
      s"$root/quarantine", s"$root/cp")
    assert(fact.select("event_key").as[String].collect().sorted.toSeq == Seq("r1", "r2"))
  }

  // A page much larger than any other input of the specs below: a re-parse
  // of it shows in the bytes a refresh reads.
  private val pad = "x" * 1000000
  private def paddedPage(events: String*): String =
    s"""{"data":[${events.mkString(",")}],"pad":"$pad"}"""

  test("an incremental refresh parses only the bronze files landed since the last run") {
    val l = Layout(tempRoot())
    land(l, "m1", "2025-03-01", paddedPage(ev("h1", "2025-03-01T10:00:00Z", "m1", 0.5)))
    Medallion.refreshFactEvents(spark, l)
    // the next pull lands in the watermark's own day, inside the listed window
    land(l, "m1", "2025-03-01", page(ev("h1", "2025-03-01T10:00:00Z", "m1", 0.5),
      ev("h2", "2025-03-01T12:00:00Z", "m1", 0.1)))
    val read = inputBytesOf(Medallion.refreshFactEvents(spark, l))
    assert(read < pad.length / 4, s"the refresh read $read bytes: it re-parsed an old file")
    val keys = spark.read.parquet(l.factEvents).select("event_key").as[String].collect()
    assert(keys.sorted.toSeq == Seq("h1", "h2"))
  }

  test("a crash after the fact append re-reads only that run's files and duplicates nothing; " +
       "an unreadable manifest fails the run") {
    val root = tempRoot()
    val l = Layout(root)
    land(l, "m1", "2025-03-01", paddedPage(ev("c1", "2025-03-01T10:00:00Z", "m1", 0.5)))
    Medallion.refreshFactEvents(spark, l)
    land(l, "m1", "2025-03-02", page(ev("c1", "2025-03-01T10:00:00Z", "m1", 0.5),
      ev("c2", "2025-03-02T09:00:00Z", "m1", 0.7)), "<html>504 Gateway Timeout</html>")

    // die after the fact append, before the manifest and watermark swaps:
    // the control state the run started from comes back
    val control = Seq(l.state, l.bronzeManifest).map(Paths.get(_))
    val saved = Paths.get(root, "saved-control")
    control.foreach(p => copyTree(p, saved.resolve(p.getFileName)))
    Medallion.refreshFactEvents(spark, l)
    val quarantined = spark.read.parquet(l.quarantine).count()
    assert(quarantined == 1)
    control.foreach { p => deleteTree(p); copyTree(saved.resolve(p.getFileName), p) }

    val read = inputBytesOf(Medallion.refreshFactEvents(spark, l))
    assert(read > 0 && read < pad.length / 4,
      s"the re-run read $read bytes: it must re-parse the crashed run's files only")
    val keys = spark.read.parquet(l.factEvents).select("event_key").as[String].collect()
    assert(keys.sorted.toSeq == Seq("c1", "c2"), "0 duplicate event_keys")
    assert(spark.read.parquet(l.quarantine).count() == quarantined,
      "0 extra quarantine rows")

    val manifests = dataFiles(Paths.get(l.bronzeManifest))
    assert(manifests.size == 1, manifests)
    Files.write(manifests.head, "not a manifest\n".getBytes("UTF-8"))
    Files.deleteIfExists(manifests.head.resolveSibling(s".${manifests.head.getFileName}.crc"))
    land(l, "m1", "2025-03-03", page(ev("c3", "2025-03-03T09:00:00Z", "m1", 0.3)))
    val err = intercept[IllegalStateException](Medallion.refreshFactEvents(spark, l))
    assert(err.getMessage.contains("unreadable bronze manifest"), err.getMessage)
  }

  test("an event with no received_at lands once, in the null dt partition, across re-runs; " +
       "a lost manifest re-quarantines nothing and reuses no batch id") {
    val l = Layout(tempRoot())
    val untimed = """{"event_key":"u1","percent_viewed":0.4,"visitor_key":"v-u1",""" +
      """"media_id":"m1","media_name":"vid-m1"}"""
    land(l, "m1", "2025-06-01", page(ev("t1", "2025-06-01T10:00:00Z", "m1", 0.5), untimed),
      "<html>502 Bad Gateway</html>")
    Medallion.refreshFactEvents(spark, l)
    // a later pull re-delivers it next to a new event and a corrupt page
    land(l, "m1", "2025-06-02", page(untimed, ev("t2", "2025-06-02T10:00:00Z", "m1", 0.1)),
      "<html>504 Gateway Timeout</html>")
    Medallion.refreshFactEvents(spark, l)
    def fact() = spark.read.parquet(l.factEvents)
      .select("event_key", "dt").as[(String, java.sql.Date)].collect().sortBy(_._1).toSeq
    val want = Seq(("t1", java.sql.Date.valueOf("2025-06-01")),
      ("t2", java.sql.Date.valueOf("2025-06-02")), ("u1", null))
    assert(fact() == want)
    def quarantine() = spark.read.parquet(l.quarantine).select("raw_payload")
      .as[String].collect().sorted.toSeq
    val quarantined = quarantine()
    assert(quarantined == Seq("<html>502 Bad Gateway</html>", "<html>504 Gateway Timeout</html>"))

    // lost control state: the next run re-parses every bronze file
    Seq(l.state, l.bronzeManifest).foreach(p => deleteTree(Paths.get(p)))
    Medallion.refreshFactEvents(spark, l)
    assert(fact() == want, "a re-run must not duplicate the null-time event")
    assert(quarantine() == quarantined, "a re-run must not re-quarantine a page")
    // a byte-identical corrupt page in a later pull is a new page: no batch
    // id of the runs before the loss comes back to absorb it
    land(l, "m1", "2025-06-03", "<html>504 Gateway Timeout</html>")
    Medallion.refreshFactEvents(spark, l)
    assert(quarantine() == (quarantined :+ "<html>504 Gateway Timeout</html>").sorted)

    // the rollup covers days only, whether rebuilt or refreshed by day
    val rebuilt = Medallion.refreshDailyAgg(spark, l).collect().map(_.toString).sorted.toSeq
    assert(rebuilt.size == 2 && !rebuilt.exists(_.contains("null")), rebuilt)
    val days = Seq("2025-06-01", "2025-06-02").map(java.sql.Date.valueOf)
    assert(Medallion.refreshDailyAgg(spark, l, Some(days))
      .collect().map(_.toString).sorted.toSeq == rebuilt)
  }

  test("an event re-delivered with a media_id that has no watermark is absorbed, " +
       "whatever the watermark of its bronze partition's media") {
    val l = Layout(tempRoot())
    val orphan = """{"event_key":"x1","received_at":"2025-07-01T08:00:00Z",""" +
      """"percent_viewed":0.2,"visitor_key":"v-x1"}""" // no media_id
    land(l, "m1", "2025-07-01", page(ev("e1", "2025-07-01T10:00:00Z", "m1", 0.5), orphan))
    Medallion.refreshFactEvents(spark, l)
    land(l, "m1", "2025-07-02", page(ev("e2", "2025-07-02T10:00:00Z", "m1", 0.5)))
    Medallion.refreshFactEvents(spark, l) // m1's watermark moves to 2025-07-02
    land(l, "m1", "2025-07-03", page(orphan, ev("e3", "2025-07-03T10:00:00Z", "m1", 0.5)))
    Medallion.refreshFactEvents(spark, l)
    val keys = spark.read.parquet(l.factEvents).select("event_key").as[String].collect()
    assert(keys.sorted.toSeq == Seq("e1", "e2", "e3", "x1"), "0 duplicate event_keys")
  }

  test("an incremental refresh anti-joins only the fact partitions from the delta's earliest day on") {
    val l = Layout(tempRoot())
    // 61 days of history, one event per day (2025-01-01 .. 2025-03-02)
    spark.range(61).select(Schemas.factEvents.fields.toIndexedSeq.map(f => f.name match {
      case "event_key" => concat(lit("old-"), col("id")).as(f.name)
      case "received_at" => timestamp_seconds(col("id") * 86400 + 1735725600L).as(f.name)
      case "media_id" => lit("m1").as(f.name)
      case _ => lit(null).cast(f.dataType).as(f.name)
    }): _*).withColumn("dt", to_date(col("received_at")))
      .write.partitionBy("dt").parquet(l.factEvents)
    Seq(("m1", java.sql.Timestamp.from(java.time.Instant.parse("2025-03-02T10:00:00Z"))))
      .toDF("source_key", "high_water").write.parquet(l.state)
    // the next pull re-delivers the watermark's own event and adds one
    land(l, "m1", "2025-03-03", page(ev("old-60", "2025-03-02T10:00:00Z", "m1", 0.0),
      ev("n1", "2025-03-03T09:00:00Z", "m1", 0.3)))

    val scans = scansOf(l.factEvents)(Medallion.refreshFactEvents(spark, l))
    assert(scans.nonEmpty, "the refresh must anti-join against the fact")
    scans.foreach { scan =>
      assert(scan.partitionFilters.mkString.contains("2025-03-02"),
        s"the fact scan must be bounded at the delta's earliest day: ${scan.partitionFilters}")
      assert(scan.metrics("numPartitions").value == 1,
        s"read ${scan.metrics("numPartitions").value} of 61 fact partitions")
    }
    val keys = spark.read.parquet(l.factEvents).select("event_key").as[String].collect()
    assert(keys.length == 62 && keys.toSet.size == 62 && keys.contains("n1"))
  }

  private def copyTree(from: Path, to: Path): Unit =
    if (Files.exists(from)) Files.walk(from).iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
