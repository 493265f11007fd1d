package perfbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.pipeline.Medallion
import graft.sources.{HttpPagedSource, PagedSource}

/** The reference's daily job, one pull day per op: paged HTTP pull of every
  * media feed and metadata object from a localhost server that replays the
  * generated pages → bronze pages → silver fact → silver dim → gold daily
  * upsert of the days the silver run touched. One unit is a lifecycle: the
  * backfill pull, then every incremental pull, into a fresh layout root.
  */
final class MedallionDaily(spark: SparkSession, inputs: String, work: String,
                           dump: String)
    extends Workload {
  import MedallionDaily._

  private val pulls: IndexedSeq[Pull] = {
    val files = new File(inputs).listFiles().map(_.getName)
      .filter(_.startsWith("pull_")).sorted
    files.toIndexedSeq.map { f =>
      val js = JsonMethods.parse(new String(
        Files.readAllBytes(Paths.get(inputs, f)), UTF_8))
      val JString(dt) = js \ "dt"
      val JObject(pages) = js \ "pages"
      val JObject(meta) = js \ "metadata"
      Pull(dt,
        pages.map { case (m, ps) =>
          m -> ps.children.collect { case JString(p) => p }.toIndexedSeq
        }.toMap,
        meta.map { case (m, o) => m -> JsonMethods.compact(JsonMethods.render(o)) }.toMap)
    }
  }
  private val media: Seq[String] = pulls.head.pages.keys.toSeq.sorted
  private val perPage: Long = {
    val JInt(n) = JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(inputs, "truth.json")), UTF_8)) \ "per_page"
    n.toLong
  }

  // The server replays the generated pages; one handler thread.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
  server.createContext("/", ex => {
    val parts = ex.getRequestURI.getPath.split('/').filter(_.nonEmpty)
    val body: Option[String] = parts match {
      case Array("events", m, k, p) =>
        pulls.lift(k.toInt).flatMap(_.pages.get(m)).flatMap(_.lift(p.toInt - 1))
      case Array("media", m, k) =>
        pulls.lift(k.toInt).flatMap(_.metadata.get(m))
      case _ => None
    }
    body match {
      case Some(s) =>
        val bytes = s.getBytes(UTF_8)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
      case None => ex.sendResponseHeaders(404, -1)
    }
    ex.close()
  })
  server.start()
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  @volatile private var pullIndex = 0
  private val api = HttpPagedSource.mediaApi(media,
    (m, p) => s"$base/events/$m/$pullIndex/$p")
  private val client = HttpPagedSource.sharedClient()
  private var layout: Medallion.Layout = _
  // the last day's payloads and gold partitions, for the traced counts
  private var lastPayloads = Seq.empty[String]
  private var lastPartitions = 0

  private def day(k: Int, u: Int, spans: Spans): Unit = {
    pullIndex = k
    val dt = pulls(k).dt
    val dayStart = System.currentTimeMillis()
    val (pulled, _) = spans("sources.pull", u) {
      val ev = media.map { m =>
        m -> PagedSource.pull(new PagedSource.PagedApi {
          def fetch(page: Long): PagedSource.Page = api.fetch(m, page)
        }, PagedSource.Checkpoint(), maxPages = 10000L,
          timeBudgetMillis = 600000L, defaultPerPage = perPage)
      }
      val meta = media.map(m =>
        HttpPagedSource.fetchObject(s"$base/media/$m/$k", client = Some(client)))
      (ev, meta)
    }
    val (ev, meta) = pulled
    val metaPath = s"${layout.bronzeMeta}/dt=$dt/media.json"
    spans("pipeline.bronze_write", u) {
      ev.foreach { case (m, r) => Medallion.writeBronzePages(spark, layout, m, dt, r) }
      Files.createDirectories(Paths.get(metaPath).getParent)
      Files.write(Paths.get(metaPath), meta.mkString("[", ",\n", "]").getBytes(UTF_8))
    }
    val (days, _) = spans("pipeline.silver_fact", u) {
      Medallion.refreshFactEvents(spark, layout)
      touchedDays(layout.factEvents, dayStart)
    }
    spans("pipeline.silver_dim", u)(Medallion.refreshDimMedia(spark, layout, metaPath))
    spans("pipeline.gold_daily", u)(Medallion.refreshDailyAgg(spark, layout, Some(days)))
    lastPayloads = ev.flatMap(_._2.payloads)
    lastPartitions = days.size
  }

  /** The fact partitions the silver run wrote to: every dt= directory
    * holding a file written after the day started (a listing, no job).
    */
  private def touchedDays(fact: String, sinceMs: Long): Seq[java.sql.Date] =
    Option(new File(fact).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("dt="))
      .filter(d => Option(d.listFiles()).getOrElse(Array.empty[File])
        .exists(_.lastModified() >= sinceMs))
      .map(d => java.sql.Date.valueOf(d.getName.stripPrefix("dt=")))
      .sortBy(_.getTime)

  private def lifecycle(root: String, u: Int, spans: Spans, ops: ArrayBuffer[Op],
                        days: Int, traced: Boolean,
                        perDay: (Int, Long, Long, Long) => Unit): Unit = {
    Harness.deleteTree(root)
    layout = Medallion.Layout(root)
    var k = 0
    var ok = true
    while (ok && k < days) {
      val t0 = System.nanoTime()
      val (bronze0, fact0, quar0) =
        if (traced) (Harness.dirBytes(s"$root/bronze"), count(layout.factEvents),
          count(layout.quarantine))
        else (0L, 0L, 0L)
      val t1 = System.nanoTime()
      ok = Harness.timeOp(ops, u, "day", k)(spans("day", u)(day(k, u, spans)))
      val t2 = System.nanoTime()
      if (ok && traced) perDay(k, bronze0, fact0, quar0)
      countS += ((t1 - t0) + (System.nanoTime() - t2)) / 1e9
      k += 1
    }
  }

  private def count(path: String): Long =
    if (new File(path).exists()) spark.read.parquet(path).count() else 0L

  def warmup(): Unit =
    lifecycle(s"$work/warm", -1, new Spans(spark.sparkContext),
      ArrayBuffer.empty[Op], 2, traced = false, (_, _, _, _) => ())

  private val pending = ArrayBuffer.empty[(Int, String, Double)]
  private var countS = 0.0  // client time the traced counts took

  def unit(u: Int, spans: Spans, ops: ArrayBuffer[Op], traced: Boolean): Unit = {
    pending.clear()
    countS = 0.0
    lifecycle(s"$work/life$u", u, spans, ops, pulls.size, traced,
      (k, bronze0, fact0, quar0) => {
        val appended = count(layout.factEvents) - fact0
        pending ++= Seq(
          (u, "sources.pull.pages", lastPayloads.size.toDouble),
          (u, "pipeline.bronze_write.bytes_written",
            (Harness.dirBytes(s"${layout.root}/bronze") - bronze0).toDouble),
          (u, "pipeline.silver_fact.rows_appended", appended.toDouble),
          (u, "pipeline.silver_fact.rows_absorbed",
            (lastPayloads.map(rowsIn).sum - appended).toDouble),
          (u, "pipeline.silver_fact.pages_quarantined",
            (count(layout.quarantine) - quar0).toDouble),
          (u, "pipeline.gold_daily.partitions_rewritten", lastPartitions.toDouble))
      })
  }

  /** Dumps the lifecycle's final tables for the output checks, then frees
    * its disk.
    */
  override def afterUnit(u: Int, traced: Boolean,
                         extras: ArrayBuffer[(Int, String, Double)]): Unit = {
    extras ++= pending
    if (traced) extras += ((u, "trace.overhead_s", countS))
    val root = layout.root
    def rows(path: String, cols: String*) =
      spark.read.parquet(path).selectExpr(cols: _*).collect().toList
    val quarantine = if (new File(layout.quarantine).exists())
      rows(layout.quarantine, "raw_payload").map(_.getString(0)) else Nil
    Harness.writeJson(s"$dump/life$u.json",
      ("stored_bytes" -> Harness.dirBytes(root)) ~
      ("fact_keys" -> rows(layout.factEvents, "event_key").map(_.getString(0))) ~
      ("gold" -> rows(layout.dailyAgg, "media_id", "cast(dt as string)", "load_count",
        "play_count", "sum_viewed", "visitors").map(Harness.rowJson)) ~
      ("quarantine" -> quarantine) ~
      ("dim_media" -> rows(layout.dimMedia, "media_id", "media_name",
        "duration_seconds", "section_name", "subfolder_name", "thumbnail_url",
        "project_name").map(Harness.rowJson)))
    Harness.deleteTree(root)
  }

  override def close(): Unit = {
    server.stop(0)
    server.getExecutor match {
      case e: java.util.concurrent.ExecutorService => e.shutdownNow()
      case _ => ()
    }
  }
}

object MedallionDaily {
  final case class Pull(dt: String, pages: Map[String, IndexedSeq[String]],
                        metadata: Map[String, String])

  /** Event rows a page carries, by the envelope rules (a corrupt page
    * carries none).
    */
  def rowsIn(payload: String): Long =
    scala.util.Try(JsonMethods.parse(payload)).toOption match {
      case Some(JArray(xs)) => xs.size.toLong
      case Some(o: JObject) =>
        Seq("data", "events", "items", "results").iterator.map(o \ _)
          .collectFirst { case JArray(xs) => xs.size.toLong }.getOrElse(0L)
      case _ => 0L
    }
}
