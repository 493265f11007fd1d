package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{
  getPartitionPathString, unescapePathName}
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
    val bronzeManifest = s"$root/control/bronze_manifest"
  }

  /** Bronze: persist one pull's page payloads under the reference's
    * media_id=/dt= partition layout (REF wistia_pull_wistia_api.py:117-129)
    * as one JSON-lines file of `{"payload": …}` per (media, pull). The pages
    * are already in driver memory, so the driver writes the file through the
    * Hadoop FileSystem API and no Spark job runs, as the reference writes
    * its pulls from plain Python. Partition values are escaped as Spark's
    * writer escapes them. The file is written under a `_`-prefixed name,
    * which Spark's file listing and the file-stream source skip, and then
    * renamed into place, so no reader sees a partial file. An empty pull
    * writes nothing.
    */
  def writeBronzePages(spark: SparkSession, layout: Layout, mediaId: String,
                       dt: String, pull: PagedSource.PullResult): Unit =
    if (pull.payloads.nonEmpty) {
      val json = new ObjectMapper()
      val lines = pull.payloads.map(p =>
        "{\"payload\":" + json.writeValueAsString(p) + "}\n")
      val dir = new Path(layout.bronzeEvents, getPartitionPathString("media_id",
        mediaId) + "/" + getPartitionPathString("dt", dt))
      landFile(fsOf(spark, layout), dir,
        s"part-${java.util.UUID.randomUUID()}.json", lines.mkString)
    }

  private def fsOf(spark: SparkSession, layout: Layout): FileSystem =
    Upsert.fsOf(spark, layout.root)._1

  /** Writes `text` to `dir/_name`, then renames it to `dir/name`. */
  private def landFile(fs: FileSystem, dir: Path, name: String,
                       text: String): Unit = {
    val tmp = new Path(dir, s"_$name")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
    Upsert.renameOrThrow(fs, tmp, new Path(dir, name))
  }

  /** Silver fact path (REF wistia_transform_silver.py:16-67): parse the
    * bronze pages no earlier run parsed and land them through the silver
    * sink ([[withSilverRows]], [[appendQuarantine]], [[appendFact]]), the
    * same code the streaming path ([[graft.streaming.MedallionStream]]) runs
    * per micro-batch.
    *
    * Each bronze file is parsed once. The run lists the data files of the
    * partitions at/after the oldest stored watermark day (a driver-side
    * listing of that window, no job) and subtracts the consumed-file
    * manifest under `control/`, so it reads only the files landed since the
    * last run, not the earlier pulls that share the watermark's day. A run
    * with no new file changes nothing.
    *
    * Exactly-once without a transactional format:
    *  1. the watermark gate is INCLUSIVE (same-timestamp events arriving in
    *     a later run are not lost) and keeps null-time rows, so it only
    *     prunes work;
    *  2. idempotence comes from the sink's anti-joins: on event_key for the
    *     fact and on (raw_payload, batch id) for quarantined pages. The batch
    *     id is the manifest version the run publishes;
    *  3. the manifest swap follows the fact append and the watermark swap
    *     comes last, as the reference persists its watermark only after a
    *     successful run (REF wistia_pull_wistia_api.py:267). A crash at any
    *     point re-reads at most that one run's files under the same batch
    *     id, and the anti-joins absorb them (a blind append would duplicate
    *     them forever).
    *
    * A run that finds no manifest (the first run, or one after the control
    * state was lost) cannot tell re-parsed pages from new ones: it takes the
    * batch id after the highest one in the quarantine, publishes that as the
    * manifest version, so no later run reuses an id, and absorbs pages
    * against the whole quarantine. Only this path reads beyond one batch.
    */
  def refreshFactEvents(spark: SparkSession, layout: Layout): DataFrame = {
    val pinned = Incremental.pinnedState(spark, layout.state)
    val watermarks = pinned.collect().filterNot(_.isNullAt(1))
      .map(r => (Option(r.getString(0)), r.getTimestamp(1)))
    val minDt = watermarks.map(_._2).minByOption(_.getTime)
      .map(_.toInstant.toString.take(10)) // min across sources
    // a null source_key matches no row, as in a join
    val highWater = watermarks.collect { case (Some(k), hw) => k -> hw }.toMap
    val fs = fsOf(spark, layout)
    val window = bronzeWindow(fs, layout, minDt)
    val (version, consumed) = readManifest(fs, layout)
    val delta = window.filterNot { case (key, _) => consumed(key) }
    if (delta.nonEmpty) {
      val batchId = 1 + (if (version > 0) version else lastQuarantineBatch(spark, layout))
      val pages = spark.read.schema("payload STRING")
        .json(delta.map(_._2.toString): _*)
      withSilverRows(pages) { (rows, quarantined) =>
        appendQuarantine(spark, quarantined, layout.quarantine, batchId,
          sinceBatch = if (version > 0) batchId else 0L)
        appendFact(spark, Incremental.newRowsInclusive(
          rows, highWater, "media_id", "received_at"), layout.factEvents)
        writeManifest(fs, layout, batchId, window.map(_._1))
        Upsert.atomicReplace(spark,
          Incremental.advance(pinned, rows, "media_id", "received_at"),
          layout.state)
      }
    }
    readFact(spark, layout.factEvents)
  }

  /** The highest batch id in the quarantine, 0 when there is none. */
  private def lastQuarantineBatch(spark: SparkSession, layout: Layout): Long =
    if (!Tables.pathExists(spark, layout.quarantine)) 0L
    else spark.read.schema(quarantineSchema).parquet(layout.quarantine)
      .agg(coalesce(max("batch_id"), lit(0L))).first().getLong(0)

  /** The silver sink's parse: pins [[Flatten.tagPages]] of `pages` (one
    * `payload` column), splits it, pins the fact rows deduped by event_key
    * under one total order (latest `received_at` first, then every other
    * column ascending), and lends (rows, quarantined pages) to `body`. Both
    * pins are dropped when `body` returns. The tagged pin keeps `payload`
    * only for pages no envelope rule recognizes: the rest are never read
    * again.
    */
  private[graft] def withSilverRows[T](pages: DataFrame)
                                      (body: (DataFrame, DataFrame) => T): T = {
    val tagged = Flatten.tagPages(pages)
      .withColumn("payload", when(col("_rows").isNull, col("payload"))).persist()
    val (rows, quarantined) = Flatten.splitTagged(tagged)
    val deduped = Dedup.firstWins(Flatten.factEvents(rows), Seq("event_key"),
      Schemas.factEvents.fieldNames.filterNot(_ == "event_key").toSeq
        .map(c => if (c == "received_at") col(c).desc else col(c).asc))
      .persist()
    try body(deduped, quarantined)
    finally {
      deduped.unpersist()
      tagged.unpersist()
    }
  }

  /** The silver sink's fact append: appends the `rows` whose event_key
    * (matched null-safely, so null keys are replay-idempotent too) is not
    * yet in the fact at `factDir`, partitioned by `dt`, the day of
    * `received_at`. A re-delivered event carries its original
    * `received_at`, so its first copy lies at/after the earliest day among
    * `rows`: only the fact slice `dt >= that day OR dt IS NULL` is read.
    * The day is probed as a literal because a scalar-subquery bound does
    * not reach the scan as a partition filter; when `rows` is a pin, the
    * probe is the action that builds it, so it costs no extra pass. It is
    * a top-1, one job, where a global `min` adds a shuffle stage, so a job,
    * under AQE. Rows with no `received_at` need only the null partition.
    * Before the first append there is nothing to probe or anti-join.
    */
  private[graft] def appendFact(spark: SparkSession, rows: DataFrame,
                                factDir: String): Unit = {
    val fresh = if (!Tables.pathExists(spark, factDir)) rows else {
      val fromDay = rows.select(to_date(col("received_at")).as("d"))
        .orderBy(col("d").asc_nulls_last).head(1).headOption
        .flatMap(r => Option(r.getDate(0))).getOrElse(java.sql.Date.valueOf("9999-12-31"))
      val prior = readFact(spark, factDir)
        .filter(col("dt") >= lit(fromDay) || col("dt").isNull)
        .select(col("event_key").as("_prior_key"))
      rows.join(prior, rows("event_key") <=> prior("_prior_key"), "left_anti")
    }
    fresh.withColumn("dt", to_date(col("received_at")))
      .write.mode("append").partitionBy("dt").parquet(factDir)
  }

  private val quarantineSchema = "raw_payload STRING, batch_id BIGINT"

  /** The silver sink's quarantine append, keyed by (raw_payload, batch id):
    * the pages of `quarantined` not yet in the quarantine under a batch id
    * in [`sinceBatch`, `batchId`] are appended as batch `batchId`. A re-run
    * of a batch reuses its id and is absorbed, reading only that id's rows
    * when `sinceBatch` is `batchId`; a byte-identical corrupt page in a
    * later batch is kept.
    */
  private[graft] def appendQuarantine(spark: SparkSession,
                                      quarantined: DataFrame,
                                      quarantineDir: String, batchId: Long,
                                      sinceBatch: Long): Unit =
    if (!quarantined.isEmpty) {
      val keyed = quarantined.withColumn("batch_id", lit(batchId))
      val fresh = if (!Tables.pathExists(spark, quarantineDir)) keyed else {
        val prior = spark.read.schema(quarantineSchema).parquet(quarantineDir)
          .filter(col("batch_id").between(sinceBatch, batchId))
          .select(col("raw_payload").as("_prior_payload"))
        keyed.join(prior, keyed("raw_payload") <=> prior("_prior_payload"),
          "left_anti")
      }
      fresh.write.mode("append").parquet(quarantineDir)
    }

  /** The bronze data files in the `dt` partitions at/after `minDt` (all of
    * them for None), keyed by their `media_id=…/dt=…/name` path under the
    * bronze root, sorted. Skips `_`- and `.`-prefixed names as Spark does.
    */
  private def bronzeWindow(fs: FileSystem, layout: Layout,
                           minDt: Option[String]): Seq[(String, Path)] = {
    def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    val dirs = Option(fs.globStatus(new Path(layout.bronzeEvents,
      "media_id=*/dt=*"))).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && visible(d.getPath) && minDt.forall(m =>
        unescapePathName(d.getPath.getName.stripPrefix("dt=")) >= m))
    dirs.flatMap { d =>
      val prefix = s"${d.getPath.getParent.getName}/${d.getPath.getName}/"
      fs.listStatus(d.getPath).toSeq.filter(f => f.isFile && visible(f.getPath))
        .map(f => (prefix + f.getPath.getName, f.getPath))
    }.sortBy(_._1)
  }

  private val manifestHeader = "bronze-manifest v1"

  /** The latest consumed-file manifest: its version (0 when none exists)
    * and its keys. Versions are numbered files; the highest is current.
    * A manifest that does not parse fails the run, since reading past it
    * would re-parse or skip bronze silently.
    */
  private def readManifest(fs: FileSystem,
                           layout: Layout): (Long, Set[String]) = {
    val dir = new Path(layout.bronzeManifest)
    val versions = if (!fs.exists(dir)) Seq.empty else
      fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .map(n => n.toLongOption.getOrElse(throw new IllegalStateException(
          s"unreadable bronze manifest: unexpected file ${new Path(dir, n)}")))
    if (versions.isEmpty) (0L, Set.empty) else {
      val v = versions.max
      val path = new Path(dir, v.toString)
      val in = fs.open(path)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .toVector finally in.close()
      val count = lines.headOption.filter(_.startsWith(manifestHeader + " "))
        .flatMap(_.stripPrefix(manifestHeader + " ").toIntOption)
      if (!count.contains(lines.size - 1))
        throw new IllegalStateException(s"unreadable bronze manifest: $path")
      (v, lines.tail.toSet)
    }
  }

  /** Publishes manifest `version` (temp file plus rename), then deletes the
    * older versions. A crash in between leaves two; readers take the newest.
    */
  private def writeManifest(fs: FileSystem, layout: Layout, version: Long,
                            keys: Seq[String]): Unit = {
    val dir = new Path(layout.bronzeManifest)
    landFile(fs, dir, version.toString,
      (s"$manifestHeader ${keys.size}" +: keys).mkString("", "\n", "\n"))
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.toLongOption.exists(_ < version))
      .foreach(fs.delete(_, false))
  }

  /** The fact at `factDir`, empty before its first append. The schema is
    * given: a schemaless parquet read runs a schema-inference job.
    */
  private[graft] def readFact(spark: SparkSession, factDir: String): DataFrame = {
    val schema = Schemas.factEvents.add("dt", DateType)
    if (Tables.pathExists(spark, factDir)) spark.read.schema(schema).parquet(factDir)
    else spark.createDataFrame(java.util.List.of[Row](), schema)
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
    * Events with no `received_at` have no day: they stay in the fact's null
    * `dt` partition and out of the rollup, so both forms agree.
    */
  def refreshDailyAgg(spark: SparkSession, layout: Layout,
                      onlyDays: Option[Seq[java.sql.Date]] = None): DataFrame = {
    val allFact = readFact(spark, layout.factEvents).filter(col("dt").isNotNull)
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
