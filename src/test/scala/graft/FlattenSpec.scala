package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, JsonToStructs, StartsWith}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.ops.Flatten
import graft.schema.Schemas
import graft.sources.Tables

/** P1–P8 over synthetic bronze fixtures (FIXTURES.md §1–§2). */
class FlattenSpec extends SparkSpec {
  import spark.implicits._

  private def eventJson(key: String, ts: String, mobile: Boolean): String =
    s"""{"event_key":"$key","received_at":"$ts","percent_viewed":0.5,
       |"embed_url":"https://e/x","email":null,"ip":"1.2.3.4",
       |"user_agent_details":{"browser":"Firefox","browser_version":"1.0",
       |"platform":"Linux","mobile":$mobile},
       |"visitor_key":"v1","country":"US","region":"CA","city":"SF",
       |"lat":1.5,"lon":-2.5,"org":null,"media_id":"m1","media_name":"vid"}"""
      .stripMargin.replaceAll("\n", "")

  test("factEvents flattens nested user_agent struct into 19 typed columns") {
    val raw = Tables.loadJson(spark,
      writeTemp(Seq(eventJson("e1", "2025-05-01T14:46:32Z", true))),
      Schemas.wistiaEventRaw)
    val out = Flatten.factEvents(raw)
    assert(out.schema.fieldNames.toSeq == Schemas.factEvents.fieldNames.toSeq)
    val r = out.collect().head
    assert(r.getAs[String]("user_agent_browser") == "Firefox")
    assert(r.getAs[Boolean]("user_agent_mobile"))
    assert(r.getAs[java.sql.Timestamp]("received_at").toInstant.toString
      == "2025-05-01T14:46:32Z")
  }

  test("dimMedia applies the updated->updated_at->created fallback chain (P7)") {
    val metas = Seq(
      // has updated
      """{"hashed_id":"m1","name":"a","duration":"12.5","created":"2025-01-01T00:00:00Z",
        |"updated":"2025-02-01T00:00:00Z","section":"s",
        |"subfolder":{"name":"sub"},"thumbnail":{"url":"u"},"project":{"name":"p"}}""",
      // only updated_at
      """{"hashed_id":"m2","name":"b","duration":"3","created":"2025-01-01T00:00:00Z",
        |"updated_at":"2025-03-01T00:00:00Z"}""",
      // only created
      """{"hashed_id":"m3","name":"c","duration":"1","created":"2025-01-05T00:00:00Z"}"""
    ).map(_.stripMargin.replaceAll("\n", ""))
    val raw = Tables.loadJson(spark, writeTemp(metas), Schemas.wistiaMediaRaw)
    val out = Flatten.dimMedia(raw).orderBy("media_id").collect()
    assert(out(0).getAs[java.sql.Timestamp]("updated_at").toInstant.toString == "2025-02-01T00:00:00Z")
    assert(out(1).getAs[java.sql.Timestamp]("updated_at").toInstant.toString == "2025-03-01T00:00:00Z")
    assert(out(2).getAs[java.sql.Timestamp]("updated_at").toInstant.toString == "2025-01-05T00:00:00Z")
    assert(out(0).getAs[Double]("duration_seconds") == 12.5)
    assert(out(0).getAs[String]("subfolder_name") == "sub")
    assert(out(1).getAs[String]("subfolder_name") == null)
  }

  test("normalizePages handles every envelope variant and the bare array (P8)") {
    val ev = eventJson("e1", "2025-05-01T00:00:00Z", false)
    val pages = Seq(
      s"""{"data":[$ev],"total":1,"per_page":50}""",
      s"""{"events":[$ev,$ev]}""",
      s"""{"items":[$ev]}""",
      s"""{"results":[$ev]}""",
      s"""[$ev,$ev,$ev]""")
    val df = pages.toDF("payload")
    val out = Flatten.normalizePages(df)
    assert(out.count() == 8)
    assert(out.schema.fieldNames.contains("event_key"))
    assert(out.select("event_key").distinct().as[String].collect().toSeq == Seq("e1"))
  }

  /** The per-field form the normalizer used before `tagPages`: Catalyst
    * turns each `getField` into its own single-field parse.
    */
  private def perFieldTag(pages: DataFrame): DataFrame = {
    val env = from_json(col("payload"), Schemas.wistiaEventPage)
    val bare = from_json(col("payload"), ArrayType(Schemas.wistiaEventRaw))
    pages.withColumn("_rows", coalesce(env.getField("data"),
      env.getField("events"), env.getField("items"), env.getField("results"),
      when(ltrim(col("payload")).startsWith("["), bare)))
  }

  test("normalizePagesWithQuarantine parses each page once; every shape splits as before") {
    val ev = eventJson("e1", "2025-05-01T00:00:00Z", false)
    val pages = Seq(
      s"""{"data":[$ev],"total":1,"per_page":50}""",
      s"""{"events":[$ev,$ev]}""",
      s"""{"items":[$ev]}""",
      s"""{"results":[$ev]}""",
      s"""[$ev,$ev,$ev]""",
      "<html><body>502 Bad Gateway</body></html>",
      """{"totally":"unrecognized","total":3}""",
      s"""{"data":[$ev],"total":"many","per_page":{"n":50}}""")
    // a file scan, not a local relation, which the optimizer folds away
    val dir = java.nio.file.Files.createTempDirectory("graft-pages").toString
    pages.toDF("payload").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val (good, quarantined) = Flatten.normalizePagesWithQuarantine(df)

    for (side <- Seq(good, quarantined)) {
      val plan = side.queryExecution.optimizedPlan
      val parses = plan.flatMap(_.expressions.flatMap(_.collect {
        case j: JsonToStructs => j.schema.simpleString }))
      assert(parses.sorted == Seq(ArrayType(Schemas.wistiaEventRaw).simpleString,
        Schemas.wistiaEventPage.simpleString).sorted, plan)
      val gated = plan.flatMap(_.expressions.flatMap(_.collect {
        case CaseWhen(Seq((p, j: JsonToStructs)), None)
            if p.isInstanceOf[StartsWith] && j.schema.isInstanceOf[ArrayType] => j }))
      assert(gated.size == 1, plan)
    }

    val byPage = (f: DataFrame) => f.select("payload", "_rows").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(byPage(Flatten.tagPages(df)) == byPage(perFieldTag(df)))
    assert(good.count() == 9)
    assert(quarantined.select("raw_payload").as[String].collect().toSet ==
      Set(pages(5), pages(6)))
  }

  private def writeTemp(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-fixture").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.json"),
      lines.mkString("\n").getBytes)
    dir
  }
}
