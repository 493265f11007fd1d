package graft.incr

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Upsert

/** Batch-incremental watermark semantics (SURVEY.md §2.10: T1–T6).
  *
  * The reference hand-rolls this vocabulary around a JSON control file: a
  * per-source freshness gate `updated > last_seen`
  * (REF wistia_pull_wistia_api.py:173), a per-run high-water fold of
  * `received_at` (:217-224), and an atomically rewritten state map
  * (:57-77,237-247). Here the state is a tiny keyed table and every rule is
  * a dataflow:
  *
  *   new rows   = batch ⋉ state  WHERE ts > high_water   (T1/P6)
  *   next state = max(ts) per key over state ∪ batch     (T3, monotone)
  *
  * The state table is broadcast (it has one row per source), so the gate
  * adds zero shuffles to the batch scan at any scale; with a timestamp-
  * partitioned source the predicate prunes partitions before reading.
  */
object Incremental {

  val stateSchema: StructType = StructType(Seq(
    StructField("source_key", StringType),
    StructField("high_water", TimestampType)))

  private val epoch = lit("1970-01-01 00:00:00").cast("timestamp")

  def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      stateSchema)

  /** T1: rows strictly newer than the per-key watermark (keys absent from
    * the state pass entirely — the reference's "fresh pull" branch).
    *
    * The strict bound replicates the reference's `>` gate and is safe only
    * when at most one event can carry a given (key, ts). When distinct
    * events can share the watermark timestamp across runs (same-second
    * events split across pulls), use [[newRowsInclusive]] + a downstream
    * identity dedup, or the boundary events are silently lost.
    */
  def newRows(batch: DataFrame, state: DataFrame, keyCol: String,
              tsCol: String): DataFrame = {
    // State columns are renamed to reserved names before the join so a
    // batch that itself carries a `source_key`/`high_water` column (e.g.
    // advance() output piped back through) neither collides nor gets
    // silently dropped.
    val s = state.select(col("source_key").as("__graft_sk"),
      col("high_water").as("__graft_hw"))
    batch.join(broadcast(s), batch(keyCol) === s("__graft_sk"), "left")
      .filter(col(tsCol) > coalesce(col("__graft_hw"), epoch))
      .drop("__graft_sk", "__graft_hw")
  }

  /** T1 inclusive variant: re-admits rows AT the watermark so same-
    * timestamp events arriving in a later run are not dropped, and keeps
    * rows with a null `tsCol`, which no watermark proves old; the caller
    * must dedup by event identity (the medallion path anti-joins on
    * event_key against the existing fact table). The state is the
    * per-key `highWater` map the caller already holds (one entry per
    * source): the gate is a map lookup in the batch's own projection, with
    * no join and no job.
    */
  def newRowsInclusive(batch: DataFrame,
                       highWater: Map[String, java.sql.Timestamp],
                       keyCol: String, tsCol: String): DataFrame = {
    val hw = if (highWater.isEmpty) epoch
      else coalesce(try_element_at(typedLit(highWater), col(keyCol)), epoch)
    batch.filter(col(tsCol) >= hw || col(tsCol).isNull)
  }

  /** T3: advance the watermark to max(ts) per key seen in this batch, in
    * one aggregate over the union of the state and the batch: keys only in
    * the state keep their watermark, an older batch never lowers it
    * (monotone by construction), and a key whose batch timestamps are all
    * null gets the epoch.
    */
  def advance(state: DataFrame, batch: DataFrame, keyCol: String,
              tsCol: String): DataFrame =
    state.unionByName(batch.select(col(keyCol).as("source_key"),
        coalesce(col(tsCol), epoch).as("high_water")))
      .groupBy("source_key").agg(max("high_water").as("high_water"))

  /** State table read, pinned in memory: incremental results are lazy, and
    * the atomic state swap deletes the files they would otherwise re-read.
    * The state is one row per source, so this is bytes, not data.
    */
  def pinnedState(spark: SparkSession, statePath: String): DataFrame = {
    Upsert.createIfNotExists(spark, statePath, stateSchema)
    spark.createDataFrame(
      java.util.Arrays.asList(
        spark.read.schema(stateSchema).parquet(statePath).collect(): _*),
      stateSchema)
  }

  /** T1+T3+T6 end-to-end: read state table, emit new rows, persist the
    * advanced state atomically (write-temp-then-swap — the reference only
    * persists its watermark after a successful run, :267).
    * The returned rows are MATERIALIZED (localCheckpoint) before the state
    * swap: returning a lazy frame would let a caller crash after the
    * watermark already advanced, silently losing the batch on rerun — the
    * persist-last contract (REF :267) must cover the caller's consumption,
    * not just this method body.
    */
  def runIncremental(spark: SparkSession, statePath: String, batch: DataFrame,
                     keyCol: String, tsCol: String): DataFrame = {
    val pinned = pinnedState(spark, statePath)
    val fresh = newRows(batch, pinned, keyCol, tsCol).localCheckpoint(true)
    Upsert.atomicReplace(spark, advance(pinned, batch, keyCol, tsCol), statePath)
    fresh
  }
}
