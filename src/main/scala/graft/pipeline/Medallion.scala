package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

import graft.incr.Incremental
import graft.ops.{Agg, Dedup, Flatten, Upsert}
import graft.schema.Schemas
import graft.sources.{PagedSource, Tables}

/** The reference's full medallion lifecycle (SURVEY.md §3) as one composed
  * Spark pipeline — what EventBridge → Step Functions → Glue bronze → Glue
  * silver → Redshift procedures orchestrate across five AWS services
  * (REF docs/Architecture.PNG), collapsed into sequenced dataflows over a
  * table directory:
  *
  *   bronze:  paged pulls → partitioned JSON pages (media_id=/dt= layout)
  *   silver:  pages → normalize envelopes → flatten → dedup → fact_events;
  *            metadata → dim_media upsert (stage-wins)
  *   gold:    fact_events → daily engagement rollup → composite-key upsert
  *
  * Incremental semantics ride on [[Incremental]]'s watermark state table
  * (the reference's watermarks.json) + [[PagedSource.Checkpoint]] resume.
  */
object Medallion {

  final case class Layout(root: String) {
    val bronzeEvents = s"$root/bronze/events"
    val bronzeMeta = s"$root/bronze/metadata"
    val factEvents = s"$root/silver/fact_events"
    val dimMedia = s"$root/silver/dim_media"
    val dailyAgg = s"$root/gold/media_daily_agg"
    val state = s"$root/control/watermarks"
    val quarantine = s"$root/control/quarantine"
  }

  /** Bronze: persist one pull's page payloads under the reference's
    * media_id=/dt= partition layout (REF wistia_pull_wistia_api.py:117-129),
    * one file per pull (already in driver memory, so one task costs nothing).
    */
  def writeBronzePages(spark: SparkSession, layout: Layout, mediaId: String,
                       dt: String, pull: PagedSource.PullResult): Unit = {
    import spark.implicits._
    pull.payloads.toDF("payload").coalesce(1)
      .withColumn("media_id", lit(mediaId))
      .withColumn("dt", lit(dt))
      .write.mode("append").partitionBy("media_id", "dt")
      .json(layout.bronzeEvents)
  }

  /** Silver fact path (REF wistia_transform_silver.py:16-67): read bronze
    * pages, normalize the dynamic envelope, flatten to 19 columns, dedup by
    * event_key (deterministic total order), append only events not already
    * in the fact table.
    *
    * Exactly-once without a transactional format:
    *  1. the watermark gate is INCLUSIVE (same-timestamp events arriving in
    *     a later run are not lost) and only prunes work;
    *  2. idempotence comes from an anti-join on event_key against the
    *     existing fact table — a crash between the append and the state
    *     swap re-delivers rows, and the anti-join absorbs them (a blind
    *     append after a crash would duplicate them forever);
    *  3. the state swap happens last, as the reference persists its
    *     watermark only after a successful run (REF wistia_pull_wistia_api.py:267).
    *
    * The bronze scan is pruned to partitions at/after the oldest stored
    * watermark day, so per-run cost tracks the delta, not total history.
    * A run parses each page and dedups once: the quarantine append, the fact
    * append and the watermark advance read two pins, tagged pages and rows.
    */
  def refreshFactEvents(spark: SparkSession, layout: Layout): DataFrame = {
    val pinned = Incremental.pinnedState(spark, layout.state)
    val minDt: Option[String] = {
      val hw = pinned.collect().map(_.getTimestamp(1)).filter(_ != null)
      if (hw.isEmpty) None
      else Some(hw.min.toInstant.toString.take(10)) // min across sources
    }
    val allPages = spark.read.schema("payload STRING, media_id STRING, dt STRING")
      .option("basePath", layout.bronzeEvents)
      .json(layout.bronzeEvents)
    val pages = minDt.fold(allPages)(d => allPages.filter(col("dt") >= d))
      .select("payload")
    // T6: unparseable pages isolate into the quarantine table (the
    // reference's per-media try/except, REF wistia_pull_wistia_api.py:
    // 261-267, generalized per page).
    val tagged = Flatten.tagPages(pages).persist()
    val (rows, quarantined) = Flatten.splitTagged(tagged)
    val deduped = Dedup.firstWins(Flatten.factEvents(rows), Seq("event_key"),
      Schemas.factEvents.fieldNames.filterNot(_ == "event_key").toSeq
        .map(c => if (c == "received_at") col(c).desc else col(c).asc))
      .persist()
    try {
      if (!quarantined.isEmpty) appendNewQuarantined(spark, layout, quarantined)
      val candidates = Incremental.newRowsInclusive(
        deduped, pinned, "media_id", "received_at")
      val fresh =
        if (!Tables.pathExists(spark, layout.factEvents)) candidates
        else candidates.join(spark.read.schema("event_key STRING")
          .parquet(layout.factEvents).select("event_key"), Seq("event_key"),
          "left_anti")
      // fact is dt-partitioned so downstream gold refreshes prune to the
      // days a run actually touched.
      fresh.withColumn("dt", to_date(col("received_at")))
        .write.mode("append").partitionBy("dt").parquet(layout.factEvents)
      Upsert.atomicReplace(spark,
        Incremental.advance(pinned, deduped, "media_id", "received_at"),
        layout.state)
    } finally {
      deduped.unpersist()
      tagged.unpersist()
    }
    readFact(spark, layout)
  }

  // Known schemas: a schemaless parquet read runs a schema-inference job.
  private def readFact(spark: SparkSession, layout: Layout): DataFrame =
    spark.read.schema(Schemas.factEvents.add("dt", DateType))
      .parquet(layout.factEvents)

  /** Idempotent quarantine append: re-parsing old bronze must not re-add
    * pages already quarantined (keyed by payload hash).
    */
  private def appendNewQuarantined(spark: SparkSession, layout: Layout,
                                   quarantined: DataFrame): Unit = {
    val keyed = quarantined.withColumn("payload_hash", md5(col("raw_payload")))
    val fresh =
      if (Tables.pathExists(spark, layout.quarantine)) {
        val existing = spark.read.schema("payload_hash STRING")
          .parquet(layout.quarantine)
        keyed.join(existing, Seq("payload_hash"), "left_anti")
      } else keyed
    fresh.write.mode("append").parquet(layout.quarantine)
  }

  /** Silver dim path (REF wistia_transform_silver.py:71-112): metadata JSON
    * → dim projection → stage-wins upsert, atomically swapped (replaces the
    * Redshift staging table + sp_upsert_dim_media).
    */
  def refreshDimMedia(spark: SparkSession, layout: Layout,
                      metadataJsonPath: String): DataFrame = {
    val stage = Flatten.dimMedia(
      Tables.loadJson(spark, metadataJsonPath, Schemas.wistiaMediaRaw,
        multiLine = true))
    val targetExists = Tables.pathExists(spark, layout.dimMedia)
    val merged = if (targetExists) {
      Upsert.merge(spark.read.schema(Schemas.dimMedia).parquet(layout.dimMedia)
        .localCheckpoint(true), stage, Seq("media_id"))
    } else stage
    Upsert.atomicReplace(spark, merged, layout.dimMedia)
    spark.read.schema(Schemas.dimMedia).parquet(layout.dimMedia)
  }

  /** Gold: daily engagement rollup upserted on (media_id, dt) — the
    * declared-but-never-built job behind media_daily_agg_stage +
    * sp_upsert_media_daily_agg (REF wistia_redshift_schemas.py:43-52,
    * wistia_stored_procedures.py:49-85). Dynamic partition overwrite
    * rewrites only the days present in the refresh: pass `onlyDays` (the
    * dt values a silver run touched) and both the fact SCAN (dt partition
    * pruning) and the gold WRITE stay O(delta); None rebuilds everything.
    */
  def refreshDailyAgg(spark: SparkSession, layout: Layout,
                      onlyDays: Option[Seq[java.sql.Date]] = None): DataFrame = {
    val allFact = readFact(spark, layout)
    val fact = onlyDays.fold(allFact)(days =>
      allFact.filter(col("dt").isin(days.map(d => lit(d)): _*)))
    val daily = fact
      .groupBy(col("media_id"), col("dt"))
      .agg(
        count(lit(1)).as("load_count"),
        count(when(col("percent_viewed") > 0.0, 1)).as("play_count"),
        Agg.dsum(col("percent_viewed")).as("sum_viewed"),
        countDistinct(col("visitor_key")).as("visitors"))
      .select(col("media_id"), col("dt"), col("load_count"), col("play_count"),
        (col("play_count").cast("double") / col("load_count")).as("play_rate"),
        col("sum_viewed"), col("visitors"))
    Upsert.overwritePartitions(daily, layout.dailyAgg, Seq("dt"))
    spark.read.schema(StructType(daily.schema.filterNot(_.name == "dt") :+
      daily.schema("dt"))).parquet(layout.dailyAgg)
  }
}
