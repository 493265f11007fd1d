package graft.pipeline

import graft.GraftSession
import graft.sources.PagedSource.{Checkpoint, PullResult}

/** Runnable end-to-end demo of the medallion pipeline against a temp dir:
  * ingest two bronze pulls, refresh silver twice (second run must gate on
  * the watermark), refresh gold. Prints a summary per stage.
  *
  *   sbt "runMain graft.pipeline.MedallionDemo"
  */
object MedallionDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")

    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("medallion-demo").toString)
    val l = Medallion.Layout(root)

    def ev(key: String, ts: String, media: String, viewed: Double): String =
      s"""{"event_key":"$key","received_at":"$ts","percent_viewed":$viewed,
         |"visitor_key":"v-$key","media_id":"$media","media_name":"vid"}"""
        .stripMargin.replaceAll("\n", "")

    Medallion.writeBronzePages(spark, l, "m1", "2025-03-01", PullResult(Seq(
      s"""{"data":[${ev("e1", "2025-03-01T10:00:00Z", "m1", 0.6)},
         |${ev("e2", "2025-03-01T11:00:00Z", "m1", 0.0)}]}"""
        .stripMargin.replaceAll("\n", ""),
      s"""[${ev("e3", "2025-03-02T09:00:00Z", "m1", 0.9)}]"""),
      Checkpoint(), complete = true))

    println(s"[demo] root=$root")
    println(s"[demo] fact after run 1: ${Medallion.refreshFactEvents(spark, l).count()} rows")

    // overlap re-delivery + one new event + one corrupt page (an upstream
    // HTML error body) that must quarantine, not fail the run
    Medallion.writeBronzePages(spark, l, "m1", "2025-03-02", PullResult(Seq(
      s"""{"events":[${ev("e3", "2025-03-02T09:00:00Z", "m1", 0.9)},
         |${ev("e4", "2025-03-02T10:00:00Z", "m1", 0.4)}]}"""
        .stripMargin.replaceAll("\n", ""),
      """<html>502 Bad Gateway</html>"""),
      Checkpoint(), complete = true))
    println(s"[demo] fact after run 2 (1 dup gated, 1 new): ${Medallion.refreshFactEvents(spark, l).count()} rows")
    println(s"[demo] watermark state: ${spark.read.parquet(l.state).collect().mkString(", ")}")
    println(s"[demo] quarantined pages: ${spark.read.parquet(l.quarantine).count()}")

    val gold = Medallion.refreshDailyAgg(spark, l)
    gold.orderBy("media_id", "dt").show(truncate = false)
    println(s"[demo] gold rows: ${gold.count()}")
    spark.stop()
  }
}
