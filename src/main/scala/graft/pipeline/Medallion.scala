package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
    * bronze pages no earlier run parsed, normalize the dynamic envelope,
    * flatten to 19 columns, dedup by event_key (deterministic total order),
    * append only events not already in the fact table.
    *
    * Each bronze file is parsed once. The run lists the data files of the
    * partitions at/after the oldest stored watermark day (a driver-side
    * listing of that window, no job) and subtracts the consumed-file
    * manifest under `control/`, so it reads only the files landed since the
    * last run, not the earlier pulls that share the watermark's day. A run
    * with no new file changes nothing. Each run parses and dedups its delta
    * once: the quarantine append, the fact append and the watermark advance
    * read two pins, tagged pages and rows.
    *
    * Exactly-once without a transactional format:
    *  1. the watermark gate is INCLUSIVE (same-timestamp events arriving in
    *     a later run are not lost) and only prunes work;
    *  2. idempotence comes from an anti-join on event_key against the
    *     existing fact table and, for quarantined pages, on the payload hash;
    *  3. the manifest swap follows the fact append and the watermark swap
    *     comes last, as the reference persists its watermark only after a
    *     successful run (REF wistia_pull_wistia_api.py:267). A crash at any
    *     point re-reads at most that one run's files, and the anti-joins
    *     absorb them (a blind append would duplicate them forever).
    */
  def refreshFactEvents(spark: SparkSession, layout: Layout): DataFrame = {
    val pinned = Incremental.pinnedState(spark, layout.state)
    val minDt: Option[String] = {
      val hw = pinned.collect().map(_.getTimestamp(1)).filter(_ != null)
      if (hw.isEmpty) None
      else Some(hw.min.toInstant.toString.take(10)) // min across sources
    }
    val fs = fsOf(spark, layout)
    val window = bronzeWindow(fs, layout, minDt)
    val (version, consumed) = readManifest(fs, layout)
    val delta = window.filterNot { case (key, _) => consumed(key) }
    if (delta.nonEmpty) {
      val pages = spark.read.schema("payload STRING")
        .json(delta.map(_._2.toString): _*)
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
        writeManifest(fs, layout, version + 1, window.map(_._1))
        Upsert.atomicReplace(spark,
          Incremental.advance(pinned, deduped, "media_id", "received_at"),
          layout.state)
      } finally {
        deduped.unpersist()
        tagged.unpersist()
      }
    }
    readFact(spark, layout)
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
