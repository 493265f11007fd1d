package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.Medallion
import graft.pipeline.Medallion.Layout
import graft.schema.Schemas
import graft.sources.PagedSource.{Checkpoint, PullResult}
import graft.streaming.MedallionStream

/** The streaming silver path lands bronze through the batch refresh's
  * silver sink: it must reproduce the batch pipeline's fact table and
  * quarantine, absorb re-delivered duplicates, and resume from its
  * checkpoint without reprocessing.
  */
class MedallionStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(key: String, ts: String, media: String): String =
    s"""{"event_key":"$key","received_at":"$ts","percent_viewed":0.5,
       |"visitor_key":"v-$key","media_id":"$media","media_name":"vid"}"""
      .stripMargin.replaceAll("\n", "")

  test("single-pass silver: one bronze read feeds fact + quarantine; " +
       "anti-join dedup absorbs cross-trigger re-deliveries") {
    val root = java.nio.file.Files.createTempDirectory("graft-mstream1p").toString
    val l = Layout(root)
    val fact = s"$root/sp/fact"
    val quar = s"$root/sp/quarantine"
    val cp = s"$root/sp/cp"
    val done = Checkpoint()

    // trigger 1: duplicate s2 across pages + one corrupt page
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-01", PullResult(Seq(
      s"""{"data":[${ev("s1", "2025-04-01T10:00:00Z", "m1")},
         |${ev("s2", "2025-04-01T11:00:00Z", "m1")}]}"""
        .stripMargin.replaceAll("\n", ""),
      s"""[${ev("s2", "2025-04-01T11:00:00Z", "m1")},
         |${ev("s3", "2025-04-01T12:00:00Z", "m1")}]"""
        .stripMargin.replaceAll("\n", ""),
      """{"oops": not json"""), done, complete = true))

    val out1 = MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, cp)
    assert(out1.count() == 3, "intra-trigger duplicate s2 must be absorbed")
    assert(spark.read.parquet(quar).count() == 1,
      "the corrupt page must land in quarantine from the same pass")

    // trigger 2: s2 re-delivered in a NEW trigger (the case the two-query
    // path handles with dropDuplicatesWithinWatermark state) + new s4
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-02", PullResult(Seq(
      s"""{"data":[${ev("s2", "2025-04-01T11:00:00Z", "m1")},
         |${ev("s4", "2025-04-02T09:00:00Z", "m1")}]}"""
        .stripMargin.replaceAll("\n", "")), done, complete = true))
    val out2 = MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, cp)
    assert(out2.count() == 4, "cross-trigger duplicate s2 must be absorbed by the anti-join")
    assert(out2.select("event_key").distinct().count() == 4)

    // drained restart: no growth in fact or quarantine
    val out3 = MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, cp)
    assert(out3.count() == 4)
    assert(spark.read.parquet(quar).count() == 1)

    // trigger 3: a null-timestamp event (parseable, no received_at) and the
    // SAME corrupt payload genuinely re-occurring in a new trigger
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-03", PullResult(Seq(
      """{"data":[{"event_key":"s5","percent_viewed":0.1,"visitor_key":"v-s5","media_id":"m1","media_name":"vid"}]}""",
      """{"oops": not json"""), done, complete = true))
    val out3b = MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, cp)
    assert(out3b.count() == 5, "null-timestamp event must land in the fact")
    assert(spark.read.parquet(quar).count() == 2,
      "a corrupt page re-occurring in a LATER trigger is a new row (new batch id)")

    // replayed micro-batch (fresh checkpoint over the same bronze) appends
    // nothing: the anti-join makes the foreachBatch sink idempotent — for
    // null-timestamp rows too (null-safe key match, isNull-keeping slice)
    val out4 = MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar,
      s"$root/sp/cp-replay")
    assert(out4.count() == 5, "full replay must be absorbed by the anti-join")
    assert(out4.filter(col("received_at").isNull).count() == 1,
      "the null-timestamp event must not duplicate on replay")
    assert(spark.read.parquet(quar).count() == 2,
      "quarantine replay must be absorbed by the (raw_payload, batch_id) anti-join")

    // parity with the batch pipeline's view of event keys
    val batchKeys = graft.ops.Dedup.firstWins(
      graft.ops.Flatten.factEvents(graft.ops.Flatten.normalizePages(
        spark.read.schema(new org.apache.spark.sql.types.StructType()
          .add("payload", org.apache.spark.sql.types.StringType))
          .json(s"${l.bronzeEvents}/*/*").select("payload"))),
      Seq("event_key"), Seq(col("received_at").desc))
      .select("event_key").as[String].collect().toSet
    assert(out4.select("event_key").as[String].collect().toSet == batchKeys)
  }

  test("single-pass silver: a batch of ONLY null-timestamp rows is replay-idempotent") {
    val root = java.nio.file.Files.createTempDirectory("graft-mstreamnull").toString
    val l = Layout(root)
    val fact = s"$root/np/fact"
    val quar = s"$root/np/quarantine"
    // trigger 1 (cp A): a normal event so the fact exists
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-01", PullResult(Seq(
      s"""{"data":[${ev("n1", "2025-04-01T10:00:00Z", "m1")}]}"""),
      Checkpoint(), complete = true))
    MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, s"$root/np/cpA")
    // trigger 2 (cp A): ONLY a null-timestamp event — min(received_at) is
    // null for the batch, the branch that must still anti-join
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-02", PullResult(Seq(
      """{"data":[{"event_key":"n2","percent_viewed":0.2,"visitor_key":"v-n2","media_id":"m1","media_name":"vid"}]}"""),
      Checkpoint(), complete = true))
    val out = MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, s"$root/np/cpA")
    assert(out.count() == 2)
    // replay the null-only page alone (a second bronze root holding just
    // that page, fresh checkpoint — the crash-before-checkpoint shape):
    // the batch's min ts is null and its row is already in the fact —
    // nothing may append
    val l2 = Layout(s"$root/replay")
    Medallion.writeBronzePages(spark, l2, "m1", "2025-04-02", PullResult(Seq(
      """{"data":[{"event_key":"n2","percent_viewed":0.2,"visitor_key":"v-n2","media_id":"m1","media_name":"vid"}]}"""),
      Checkpoint(), complete = true))
    val out2 = MedallionStream.runOnceSinglePass(spark, l2.bronzeEvents, fact, quar, s"$root/np/cpB")
    assert(out2.count() == 2,
      "null-only batch replay must be absorbed by the isNull-slice anti-join")
    assert(out2.filter(col("received_at").isNull).count() == 1)
  }

  test("stream sink: the anti-join reads the fact from the batch's earliest day on, " +
       "as a partition filter that keeps the null partition") {
    val root = java.nio.file.Files.createTempDirectory("graft-mstream-slice").toString
    val l = Layout(root)
    val (fact, quar, cp) = (s"$root/fact", s"$root/quarantine", s"$root/cp")
    // trigger 1: five days of events and one with no received_at
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-05", PullResult(Seq(
      s"""{"data":[${(1 to 5).map(d => ev(s"d$d", s"2025-04-0${d}T10:00:00Z", "m1"))
        .mkString(",")},{"event_key":"u1","media_id":"m1"}]}"""), Checkpoint(), complete = true))
    MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, cp)
    // trigger 2: a re-delivery from day 4 and a new event on day 5
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-06", PullResult(Seq(
      s"""{"data":[${ev("d4", "2025-04-04T10:00:00Z", "m1")},
         |${ev("d6", "2025-04-05T11:00:00Z", "m1")}]}""".stripMargin.replaceAll("\n", "")),
      Checkpoint(), complete = true))
    val scans = scansOf(fact)(MedallionStream.runOnceSinglePass(
      spark, l.bronzeEvents, fact, quar, cp))
    assert(scans.size == 1, scans)
    val filters = scans.head.partitionFilters.mkString
    assert(filters.contains("2025-04-04") && filters.contains("isnull(dt"),
      s"the fact scan must be bounded at the batch's earliest day: $filters")
    assert(scans.head.metrics("numPartitions").value == 3,
      "days 4 and 5 plus the null partition, of 6")
    assert(spark.read.parquet(fact).select("event_key").as[String].collect().sorted.toSeq ==
      Seq("d1", "d2", "d3", "d4", "d5", "d6", "u1"))
  }

  test("batch refresh and stream sink land the same bronze as the same fact and quarantine") {
    val root = java.nio.file.Files.createTempDirectory("graft-mstream-same").toString
    val l = Layout(root)
    val (fact, quar, cp) = (s"$root/stream/fact", s"$root/stream/quarantine", s"$root/stream/cp")
    def pull(dt: String, pages: String*): Unit = {
      Medallion.writeBronzePages(spark, l, "m1", dt, PullResult(pages, Checkpoint(), complete = true))
      Medallion.refreshFactEvents(spark, l)
      MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, cp)
    }
    def twin(viewed: Double) = ev("k1", "2025-04-01T10:00:00Z", "m1").replace(
      "\"percent_viewed\":0.5", s"\"percent_viewed\":$viewed")
    // one pull: a same-key, same-received_at pair that differs in a non-key
    // field, on two pages, a corrupt page and an event with no received_at
    pull("2025-04-01", s"""{"data":[${twin(0.9)},${ev("k2", "2025-04-01T11:00:00Z", "m1")}]}""",
      s"[${twin(0.2)}]", "<html>502 Bad Gateway</html>",
      """{"data":[{"event_key":"k0","media_id":"m1"}]}""")
    // the next pull re-delivers k2 (overlap) and adds k3
    pull("2025-04-02", s"""{"items":[${ev("k2", "2025-04-01T11:00:00Z", "m1")},
      |${ev("k3", "2025-04-02T09:00:00Z", "m1")}]}""".stripMargin.replaceAll("\n", ""))

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val batchFact = rows(Medallion.readFact(spark, l.factEvents))
    assert(batchFact.size == 4, batchFact)
    assert(batchFact.exists(_.startsWith("k0|")), "the null-time event lands")
    assert(batchFact.exists(_.startsWith("k1|2025-04-01 10:00:00.0|0.2|")),
      "the twin with the lower percent_viewed wins the total order")
    assert(rows(Medallion.readFact(spark, fact)) == batchFact)
    def payloads(dir: String) =
      spark.read.parquet(dir).select("raw_payload").as[String].collect().sorted.toSeq
    assert(payloads(l.quarantine) == Seq("<html>502 Bad Gateway</html>"))
    assert(payloads(quar) == payloads(l.quarantine))
  }

  test("single-pass sink parses each micro-batch's page envelope once") {
    val root = java.nio.file.Files.createTempDirectory("graft-mstream-parse").toString
    val l = Layout(root)
    val (fact, quar, cp) = (s"$root/fact", s"$root/quarantine", s"$root/cp")
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-01", PullResult(Seq(
      s"""{"data":[${ev("p1", "2025-04-01T10:00:00Z", "m1")}]}"""),
      Checkpoint(), complete = true))
    MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, cp)
    // the measured micro-batch takes every branch: the min probe, the fact
    // anti-join and append, the quarantine check and append
    Medallion.writeBronzePages(spark, l, "m1", "2025-04-02", PullResult(Seq(
      s"""{"events":[${ev("p2", "2025-04-02T10:00:00Z", "m1")}]}""",
      "<html>502 Bad Gateway</html>"), Checkpoint(), complete = true))

    val plans = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerDrain(spark.sparkContext) // no event of the first run may reach it
    spark.listenerManager.register(listener)
    try MedallionStream.runOnceSinglePass(spark, l.bronzeEvents, fact, quar, cp)
    finally {
      ListenerDrain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(spark.read.parquet(quar).count() == 1)

    // envelope parses the micro-batch runs: one per plan that parses
    // outside a cache, plus one per cached relation whose body parses
    // (each pinned frame is computed once, however many actions read it)
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def inExprs(node: QueryPlan[_]): Int = node.expressions.map(_.collect {
      case j: JsonToStructs if j.schema == Schemas.wistiaEventPage => j }.size).sum
    def cached(r: InMemoryRelation): Int =
      if (seen.add(r.cacheBuilder)) executed(r.cacheBuilder.cachedPlan) else 0
    def executed(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => executed(a.executedPlan)
      case s: QueryStageExec => executed(s.plan)
      case m: InMemoryTableScanExec => cached(m.relation)
      case node => inExprs(node) + node.children.map(executed).sum
    }
    def parses(plan: LogicalPlan): Int = plan.collect {
      case r: InMemoryRelation => cached(r)
      case node => inExprs(node)
    }.sum
    assert(plans.map(parses).sum == 1, plans.mkString("\n"))
  }
}
