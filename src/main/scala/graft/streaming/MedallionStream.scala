package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.ops.Flatten

/** Streaming twin of the medallion silver path (SURVEY.md §2.10 end-state):
  * the batch pipeline's bronze → normalize → flatten → dedup → fact flow as
  * ONE continuously-running Structured Streaming query. Spark's offset log
  * replaces the hand-rolled page checkpoint (T2), `withWatermark` replaces
  * the max-received_at fold (T3), and `dropDuplicatesWithinWatermark`
  * replaces the downstream event_key dedup (T5) — late re-deliveries inside
  * the watermark are absorbed exactly once.
  *
  * At cluster scale the same query runs with `Trigger.ProcessingTime`
  * against an object-store bronze prefix; `Trigger.AvailableNow` gives the
  * run-to-completion batch-incremental mode (T4) used in tests.
  */
object MedallionStream {

  private val pageSchema = new StructType()
    .add("payload", StringType)
    .add("media_id", StringType)
    .add("dt", StringType)

  /** Continuous silver refresh: returns the running query. Idempotent
    * across restarts via `checkpointDir` (offset log + dedup state).
    */
  def factEventsQuery(spark: SparkSession, bronzeDir: String, factDir: String,
                      checkpointDir: String,
                      watermarkDelay: String = "1 day",
                      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = spark.readStream.schema(pageSchema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val pages = reader
      .option("basePath", bronzeDir)
      .json(s"$bronzeDir/*/*") // media_id=/dt= partition dirs
      .select("payload")
    val flat = Flatten.factEvents(Flatten.normalizePages(pages))
    flat
      .withWatermark("received_at", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_key")
      .writeStream
      .format("parquet")
      .option("path", factDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The WHOLE reference pipeline as one streaming query: the bronze
    * pull drives the silver path directly through the first-class
    * [[graft.sources.PagedStreamProvider]] source — Spark's offset log
    * carries the reference's (media, page) checkpoint, so a restart
    * resumes the PULL itself mid-pagination (not merely the file scan),
    * with the same per-trigger page budget (T4) and the same
    * watermarked dedup downstream. `apiKey` names a registered
    * [[graft.sources.PagedStream.MediaPagedApi]].
    */
  def factEventsFromApiQuery(spark: SparkSession, apiKey: String,
                             factDir: String, checkpointDir: String,
                             maxPagesPerTrigger: Int = 10,
                             watermarkDelay: String = "1 day",
                             trigger: Option[Trigger] = None)
      : StreamingQuery = {
    val pages = spark.readStream
      .format("graft.sources.PagedStreamProvider")
      .option("apiRegistry", apiKey)
      .option("maxPagesPerTrigger", maxPagesPerTrigger.toString)
      .load()
      .select(col("payload"))
    val w = Flatten.factEvents(Flatten.normalizePages(pages))
      .withWatermark("received_at", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_key")
      .writeStream
      .format("parquet")
      .option("path", factDir)
      .option("checkpointLocation", checkpointDir)
    // Trigger.AvailableNow() = the T4 batch-incremental mode: the source
    // drains to pagination completion and the query terminates itself
    // (PagedMicroBatchStream.prepareForTriggerAvailableNow)
    trigger.foreach(w.trigger)
    w.start()
  }

  /** Companion quarantine stream (T6 parity with the batch path): corrupt
    * pages must not vanish into the offset log — this query routes them to
    * the quarantine table under its OWN checkpoint, so both streams resume
    * independently.
    *
    * Deliberate trade-off: two queries re-read the bronze delta twice per
    * trigger, in exchange for keeping `dropDuplicatesWithinWatermark`
    * state in the streaming plan and the file sink's exactly-once commit
    * log. [[factEventsSinglePassQuery]] is the one-read alternative.
    */
  def quarantineQuery(spark: SparkSession, bronzeDir: String,
                      quarantineDir: String,
                      checkpointDir: String): StreamingQuery = {
    val pages = spark.readStream.schema(pageSchema)
      .option("basePath", bronzeDir)
      .json(s"$bronzeDir/*/*")
      .select("payload")
    val (_, quarantined) = Flatten.normalizePagesWithQuarantine(pages)
    quarantined
      .writeStream
      .format("parquet")
      .option("path", quarantineDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Drain-to-completion helper for the batch-incremental mode: runs the
    * fact stream and the quarantine stream.
    */
  def runOnce(spark: SparkSession, bronzeDir: String, factDir: String,
              checkpointDir: String): DataFrame = {
    val q = factEventsQuery(spark, bronzeDir, factDir, checkpointDir)
    val qq = quarantineQuery(spark, bronzeDir, s"$checkpointDir-quarantine-out",
      s"$checkpointDir-quarantine")
    q.processAllAvailable(); q.stop()
    qq.processAllAvailable(); qq.stop()
    spark.read.parquet(factDir)
  }

  /** The horizon slice of the at-rest fact a micro-batch must anti-join
    * against: rows with `received_at >= minTs − horizon`, plus every
    * null-event-time row (those never age out of the dedup horizon — no
    * timestamp proves them old). The bound is a LITERAL timestamp so it
    * lands in the parquet scan's `PushedFilters` as row-group pruning;
    * the per-trigger fact read is therefore proportional to the horizon,
    * not the table (MedallionStreamSpec pins the pushed filter). A null
    * `minTs` (empty batch / all-null event times) degenerates to the
    * isNull slice alone.
    */
  private[graft] def priorFactSlice(spark: SparkSession, factDir: String,
                                    minTs: java.sql.Timestamp,
                                    horizonMillis: Long): DataFrame = {
    val slice = if (minTs == null) col("received_at").isNull else
      col("received_at") >=
        lit(new java.sql.Timestamp(minTs.getTime - horizonMillis)) ||
        col("received_at").isNull
    spark.read.parquet(factDir).filter(slice)
  }

  /** Single-pass streaming silver: ONE read of the bronze delta per
    * trigger feeds BOTH the fact table and the quarantine, via
    * `foreachBatch`. Inside the sink the micro-batch is a plain batch
    * DataFrame, so `dropDuplicatesWithinWatermark` (whose state lives in
    * the streaming plan, before the sink) is unavailable; its
    * absorb-within-horizon semantics are re-expressed as an anti-join
    * against the fact rows already written, bounded below by
    * `min(batch.received_at) - dedupHorizonMillis` — a re-delivered
    * event carries its original event time, so only that slice of the
    * fact can contain its first copy. The bound reaches the parquet scan
    * as a pushed row-group predicate ([[priorFactSlice]]; partition
    * pruning instead, if the fact is laid out by day), so the per-trigger
    * read of the fact is proportional to the horizon, not to the table —
    * the state store's role, played by the sink's own recent files.
    *
    * The same anti-join is what upgrades `foreachBatch`'s at-least-once
    * to exactly-once for the fact: a replayed micro-batch finds its own
    * keys already in the fact and appends nothing. The join is NULL-SAFE
    * (`<=>`) and the fact slice keeps null-event-time rows, so events
    * with a missing key or unparseable timestamp are replay-idempotent
    * too. Quarantine replays are recognized by (raw_payload, batch_id):
    * a replay reuses the batch id and is absorbed; a byte-identical
    * corrupt page genuinely re-occurring in a LATER trigger has a new
    * batch id and is kept.
    *
    * The sink runs several actions (min, two writes, one isEmpty), so it
    * pins the tagged pages ([[Flatten.tagPages]]) and the deduped rows for
    * its duration: the fact and the quarantine frames both split the one
    * pinned parse, and no action re-reads or re-parses the bronze delta.
    */
  def factEventsSinglePassQuery(spark: SparkSession, bronzeDir: String,
                                factDir: String, quarantineDir: String,
                                checkpointDir: String,
                                dedupHorizonMillis: Long = 86400000L,
                                maxFilesPerTrigger: Option[Int] = None)
      : StreamingQuery = {
    val reader = spark.readStream.schema(pageSchema)
    maxFilesPerTrigger.foreach(n =>
      reader.option("maxFilesPerTrigger", n.toString))
    val pages = reader
      .option("basePath", bronzeDir)
      .json(s"$bronzeDir/*/*")
      .select("payload")
    pages.writeStream
      .foreachBatch(singlePassBatch(spark, factDir, quarantineDir,
        dedupHorizonMillis))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The api-driven twin of [[factEventsSinglePassQuery]]: the
    * [[graft.sources.PagedStreamProvider]] source replaces the bronze
    * file scan, so the ONE query covers pull → normalize → fact +
    * quarantine with Spark's offset log carrying the (media, page)
    * checkpoint — corrupt pages land in the quarantine table instead of
    * vanishing into the offset log (T6 parity for the first-class
    * source).
    */
  def factEventsFromApiSinglePassQuery(spark: SparkSession, apiKey: String,
                                       factDir: String, quarantineDir: String,
                                       checkpointDir: String,
                                       maxPagesPerTrigger: Int = 10,
                                       dedupHorizonMillis: Long = 86400000L,
                                       trigger: Trigger = Trigger.AvailableNow())
      : StreamingQuery =
    spark.readStream
      .format("graft.sources.PagedStreamProvider")
      .option("apiRegistry", apiKey)
      .option("maxPagesPerTrigger", maxPagesPerTrigger.toString)
      .load()
      .select(col("payload"))
      .writeStream
      .foreachBatch(singlePassBatch(spark, factDir, quarantineDir,
        dedupHorizonMillis))
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** The shared single-pass micro-batch sink (see
    * [[factEventsSinglePassQuery]]'s scaladoc for the replay/horizon
    * algebra) — source-agnostic: any stream of `payload` rows.
    */
  private def singlePassBatch(spark: SparkSession, factDir: String,
                              quarantineDir: String,
                              dedupHorizonMillis: Long)
      : (DataFrame, Long) => Unit = {
    def exists(dir: String): Boolean = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(dir))
    (batch: DataFrame, batchId: Long) => {
        val tagged = Flatten.tagPages(batch).persist()
        val (good, rawQuar) = Flatten.splitTagged(tagged)
        val flat = graft.ops.Dedup.firstWins(Flatten.factEvents(good),
          Seq("event_key"), Seq(col("received_at").desc)).persist()
        val quar = rawQuar.withColumn("batch_id", lit(batchId))
        try {
          val fresh = if (!exists(factDir)) flat else {
            // The min probe is a driver-side action ON PURPOSE, and it is
            // not an extra pass: it is the first action on the persisted
            // frame, so it doubles as the cache materializer the write
            // then reads. Folding the bound into the write's own query as
            // a scalar subquery (Dataset.scalar, Spark 4) was evaluated
            // and rejected: measured on Spark 4.1.2, a subquery bound
            // reaches the fact scan with `PushedFilters: []` while this
            // literal bound pushes GreaterThanOrEqual into row-group
            // pruning — the probe is what keeps the per-trigger fact read
            // horizon-bounded instead of full-table (the pushed filter is
            // spec-pinned via priorFactSlice).
            //
            // null min = empty batch, or a batch of only null-event-time
            // rows — the latter still needs the anti-join (against the
            // fact's isNull slice) or a replay duplicates those rows.
            val minTs = flat.agg(min(col("received_at"))).first().getTimestamp(0)
            // keep null-event-time rows in the slice and match keys
            // null-safely: otherwise a null-timestamp or null-key event
            // slips past the anti-join and duplicates on replay
            val prior = priorFactSlice(spark, factDir, minTs,
              dedupHorizonMillis)
              .select(col("event_key").as("_prior_key"))
            flat.join(prior, flat("event_key") <=> prior("_prior_key"),
              "left_anti")
          }
          fresh.write.mode("append").parquet(factDir)
          val freshQuar = if (!exists(quarantineDir)) quar else {
            // a replay can only re-deliver THIS batch id — filtering the
            // prior read to it bounds the per-trigger quarantine scan to
            // one batch (the horizon slice's analogue) and pushes down;
            // the payload match is null-safe (a null-payload record must
            // not re-append on every replay)
            val prior = spark.read.parquet(quarantineDir)
              .filter(col("batch_id") === batchId)
              .select(col("raw_payload").as("_prior_payload"))
            quar.join(prior, quar("raw_payload") <=> prior("_prior_payload"),
              "left_anti")
          }
          if (!freshQuar.isEmpty)
            freshQuar.write.mode("append").parquet(quarantineDir)
        } finally {
          flat.unpersist()
          tagged.unpersist()
        }
    }
  }

  /** Drain-to-completion helper for [[factEventsSinglePassQuery]].
    * Returns an empty fact frame when no batch ever committed (the sink
    * only creates `factDir` on its first write).
    */
  def runOnceSinglePass(spark: SparkSession, bronzeDir: String,
                        factDir: String, quarantineDir: String,
                        checkpointDir: String): DataFrame = {
    val q = factEventsSinglePassQuery(spark, bronzeDir, factDir,
      quarantineDir, checkpointDir)
    q.processAllAvailable(); q.stop()
    if (graft.sources.Tables.pathExists(spark, factDir))
      spark.read.parquet(factDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.schema.Schemas.factEvents)
  }
}
