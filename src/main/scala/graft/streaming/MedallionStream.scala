package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}

import graft.pipeline.Medallion

/** Streaming twin of the medallion silver path (SURVEY.md §2.10 end-state):
  * one Structured Streaming query per source reads the page delta once per
  * trigger and lands it through the batch refresh's own silver sink
  * ([[Medallion.withSilverRows]], [[Medallion.appendFact]],
  * [[Medallion.appendQuarantine]]) in `foreachBatch`: the same dedup order,
  * the same null-safe event_key anti-join against a `dt`-pruned fact slice,
  * the same `dt`-partitioned fact and the same (raw_payload, batch id)
  * quarantine key. Spark's offset log replaces the hand-rolled page
  * checkpoint (T2); the sink's anti-join upgrades `foreachBatch`'s
  * at-least-once to exactly-once, as it absorbs a re-run on the batch path.
  * Both queries run with `Trigger.AvailableNow`: each start drains what is
  * available and stops, the run-to-completion batch-incremental mode (T4).
  */
object MedallionStream {

  private val pageSchema = new StructType()
    .add("payload", StringType)
    .add("media_id", StringType)
    .add("dt", StringType)

  /** Streaming silver over a bronze directory (media_id=/dt= partitions):
    * each trigger's new files go through [[sink]]. Idempotent across
    * restarts via `checkpointDir`.
    */
  def factEventsSinglePassQuery(spark: SparkSession, bronzeDir: String,
                                factDir: String, quarantineDir: String,
                                checkpointDir: String): StreamingQuery =
    spark.readStream.schema(pageSchema)
      .option("basePath", bronzeDir)
      .json(s"$bronzeDir/*/*")
      .select("payload")
      .writeStream
      .foreachBatch(sink(spark, factDir, quarantineDir))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The WHOLE reference pipeline as one streaming query: the
    * [[graft.sources.PagedStreamProvider]] source replaces the bronze file
    * scan, so the query covers pull → normalize → fact + quarantine with
    * Spark's offset log carrying the (media, page) checkpoint: a restart
    * resumes the PULL itself mid-pagination, with the same per-trigger page
    * budget (T4), and corrupt pages land in the quarantine table instead of
    * vanishing into the offset log (T6). `apiKey` names a registered
    * [[graft.sources.PagedStream.MediaPagedApi]].
    */
  def factEventsFromApiSinglePassQuery(spark: SparkSession, apiKey: String,
                                       factDir: String, quarantineDir: String,
                                       checkpointDir: String,
                                       maxPagesPerTrigger: Int = 10)
      : StreamingQuery =
    spark.readStream
      .format("graft.sources.PagedStreamProvider")
      .option("apiRegistry", apiKey)
      .option("maxPagesPerTrigger", maxPagesPerTrigger.toString)
      .load()
      .select(col("payload"))
      .writeStream
      .foreachBatch(sink(spark, factDir, quarantineDir))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The micro-batch sink, source-agnostic (any stream of `payload` rows).
    * The micro-batch id keys the quarantine: a replay reuses it.
    */
  private def sink(spark: SparkSession, factDir: String,
                   quarantineDir: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      Medallion.withSilverRows(batch) { (rows, quarantined) =>
        Medallion.appendFact(spark, rows, factDir)
        Medallion.appendQuarantine(spark, quarantined, quarantineDir, batchId,
          sinceBatch = batchId)
      }

  /** Drain-to-completion helper for [[factEventsSinglePassQuery]]: the
    * fact afterwards, empty when no batch ever committed.
    */
  def runOnceSinglePass(spark: SparkSession, bronzeDir: String,
                        factDir: String, quarantineDir: String,
                        checkpointDir: String): DataFrame = {
    val q = factEventsSinglePassQuery(spark, bronzeDir, factDir,
      quarantineDir, checkpointDir)
    q.processAllAvailable(); q.stop()
    Medallion.readFact(spark, factDir)
  }
}
