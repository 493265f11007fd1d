package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Upsert / merge / maintenance operators (SURVEY.md §2.9: U0–U4).
  *
  * The reference merges via a Redshift staging table + stored procedure:
  * DELETE target rows matching stage keys, INSERT all stage rows, TRUNCATE
  * stage (REF redshift/seed_data/wistia_stored_procedures.py:3-42,49-85;
  * driver wiring wistia_transform_silver.py:93-107). In-engine that whole
  * dance is one deterministic dataflow: anti-join + union — stage wins on
  * key collision, exactly the delete+insert semantics.
  */
object Upsert {

  /** U1/U1b: delete+insert merge, stage-wins. `keys` may be composite
    * (`media_id` for dim_media, `(media_id, dt)` for the daily agg).
    *
    * Scale note: both sides shuffle on `keys` for the anti-join; when the
    * stage is an incremental delta (the common case) Catalyst broadcasts it
    * and the target is never shuffled at all — the 100 TB-friendly plan.
    */
  def merge(target: DataFrame, stage: DataFrame, keys: Seq[String]): DataFrame =
    target.join(stage, keys, "left_anti").unionByName(stage)

  /** U1 + reproducibility: apply the delete+insert merge against the
    * current HEAD of a [[graft.sources.VersionedStore]] table and publish
    * the result as the next immutable version (staged, one-rename
    * commit). Returns the published version number.
    *
    * This is the time-travel contract a training pipeline needs: a run
    * records the version it read and can re-read EXACTLY that table
    * forever, while upserts keep moving the head — the in-place
    * [[atomicReplace]] form cannot answer "what did last Tuesday's run
    * see". The per-merge write is the same O(table) the in-place dim
    * rewrite already pays; the store multiplies RETENTION, not write
    * cost — bound it with [[graft.sources.VersionedStore.retire]] on the
    * retention cadence.
    */
  def upsertVersioned(spark: SparkSession, rootDir: String,
                      stage: DataFrame, keys: Seq[String]): Long = {
    val merged = graft.sources.VersionedStore.latestVersion(spark, rootDir)
      .map(v => merge(spark.read.parquet(s"$rootDir/v=$v"), stage, keys))
      .getOrElse(stage)
    val next = graft.sources.VersionedStore.latestVersion(spark, rootDir)
      .getOrElse(0L) + 1
    graft.sources.VersionedStore.publish(spark, rootDir, next)(tmp =>
      merged.write.parquet(tmp))
    next
  }

  /** The table exactly as version `version` published it. Refused loudly
    * when the version was retired or never existed — a training run
    * re-reading its pinned snapshot must fail, not silently read the
    * head.
    */
  def readVersion(spark: SparkSession, rootDir: String,
                  version: Long): DataFrame = {
    require(graft.sources.VersionedStore.versions(spark, rootDir)
      .contains(version),
      s"readVersion: version $version of $rootDir is retired or was " +
        "never published")
    spark.read.parquet(s"$rootDir/v=$version")
  }

  /** U1b at rest: merge a delta into a dt-partitioned parquet table by
    * rewriting ONLY the partitions the delta touches
    * (`partitionOverwriteMode=dynamic`) — the Spark-idiomatic form of the
    * composite-key upsert: untouched partitions are never read or written.
    * The caller's delta must contain full replacement content for each
    * touched partition (e.g. the re-aggregated days).
    */
  def overwritePartitions(delta: DataFrame, tablePath: String,
                          partitionCols: Seq[String]): Unit =
    delta.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(tablePath)

  /** Resolve the Hadoop FileSystem of a path's scheme — file://, hdfs://,
    * s3a://, … all go through the same API; `java.io`/`java.nio` would
    * silently see nothing on anything but the local disk.
    */
  private[graft] def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[graft] def renameOrThrow(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename failed: $from -> $to")

  /** U1 at rest for unpartitioned dim tables: write-temp-then-swap, through
    * the path's Hadoop FileSystem so the same code runs on file://, hdfs://
    * and s3a://. Readers never observe a HALF-WRITTEN table, but there is an
    * unavoidable instant between the two renames where the canonical path is
    * absent — a true transaction needs a table format (MERGE INTO) or a
    * catalog pointer swap. A crash in that instant leaves the previous
    * content at `<path>.old`, which the next call (or [[recoverIfNeeded]])
    * restores instead of deleting.
    *
    * Scheme caveat: HDFS rename is an atomic namenode op; S3A rename is a
    * copy+delete (O(data), not atomic) — on object stores prefer the
    * partitioned form ([[overwritePartitions]]) or a manifest-pointer
    * layout; this swap remains CORRECT there (crash ⇒ recoverable `.old`),
    * just not instantaneous.
    */
  def atomicReplace(spark: SparkSession, merged: DataFrame, tablePath: String,
                    partitionCols: Seq[String] = Nil): Unit = {
    recoverIfNeeded(spark, tablePath)
    val tmp = tablePath + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
    // partitionCols preserves a partitioned table's on-disk layout across
    // the swap (a rewrite that flattened it would leave later
    // partition-targeted writes with a mixed-layout directory parquet
    // discovery refuses)
    val w = merged.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp)
    val (fs, target) = fsOf(spark, tablePath)
    if (fs.exists(target)) {
      val trash = new Path(tablePath + ".old")
      fs.delete(trash, true)
      renameOrThrow(fs, target, trash)
      renameOrThrow(fs, new Path(tmp), target)
      fs.delete(trash, true)
    } else {
      renameOrThrow(fs, new Path(tmp), target)
    }
  }

  /** Crash recovery: if a previous swap died between its two renames, the
    * canonical path is missing and `.old` holds the only copy — restore it
    * rather than letting the next swap's cleanup destroy it.
    */
  def recoverIfNeeded(spark: SparkSession, tablePath: String): Unit = {
    val (fs, target) = fsOf(spark, tablePath)
    val trash = new Path(tablePath + ".old")
    if (!fs.exists(target) && fs.exists(trash)) {
      renameOrThrow(fs, trash, target)
    }
  }

  /** U4: idempotent table bootstrap — create empty parquet table with the
    * given schema if absent (CREATE TABLE IF NOT EXISTS analog).
    */
  def createIfNotExists(spark: SparkSession, tablePath: String,
                        schema: org.apache.spark.sql.types.StructType): Unit = {
    val (fs, target) = fsOf(spark, tablePath)
    if (!fs.exists(target)) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.parquet(tablePath)
    }
  }

  /** Type-2 (history-preserving) dimension from a change STREAM: one
    * validity interval per maximal run of equal `stateCol` per key —
    * (keys..., version, state, valid_from, n_changes, last_ts, valid_to,
    * is_current), versions numbered 1.. per key, the open version's
    * valid_to NULL, `last_ts` the newest event timestamp inside the run.
    * The reference's dims are type-1 (delete+insert, [[merge]] — history
    * lost); this is the standard history-keeping complement, derived from
    * raw changes in one pass.
    *
    * Determinism: rows order by (ts, tieCols...) inside each key — pass a
    * unique tiebreaker (an event id) or equal-timestamp flips are
    * partition-order dependent. Two same-timestamp versions produce a
    * zero-duration interval, closed by its successor, never dropped.
    *
    * Scale shape: two event-level window passes (lag → change flag, then
    * the running version sum) and one aggregate, all partitioned by the
    * dimension key — per-partition work is bounded by changes-per-key,
    * never corpus-wide. `valid_to` IS a post-aggregation lead over runs,
    * deliberately: the runs table is orders of magnitude smaller than the
    * event log, the lead's (key, version) ordering is exactly the
    * SortAggregate's output ordering (so the extra Window node costs no
    * sort and no exchange), and the tempting "fused" alternative — a
    * min-over-following-rows frame in the event-level window pass — hits
    * Spark's UnboundedFollowingWindowFunctionFrame, which RE-EVALUATES
    * the frame for every row: O(changes²) per key. Only growing
    * (unboundedPreceding-lower) frames run in linear time; shrinking
    * frames do not. Plan shape spec-asserted: no shrinking frame in any
    * Window node, and the post-agg lead introduces no Sort/Exchange.
    */
  def scd2FromChanges(changes: DataFrame, keys: Seq[String], stateCol: String,
                      tsCol: String, tieCols: Seq[String] = Seq.empty)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ord = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // lead over RUNS (ordered by version) — post-aggregation, so it runs
    // on the collapsed runs table and reuses the aggregate's partitioning
    // and output ordering. See the scaladoc for why this beats fusing a
    // shrinking min-frame into the event-level pass.
    val wRuns = Window.partitionBy(keys.map(col): _*).orderBy(col("version").asc)
    changes
      .withColumn("_chg",
        when(lag(col(stateCol), 1).over(w).isNull ||
          lag(col(stateCol), 1).over(w) =!= col(stateCol), 1).otherwise(0))
      .withColumn("version", sum(col("_chg")).over(wRows))
      .groupBy((keys.map(col) :+ col("version")): _*)
      .agg(min(col(stateCol)).as(stateCol), // constant within a run
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_changes"),
        max(col(tsCol)).as("last_ts"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wRuns))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0).cast("int"))
  }

  /** Incremental SCD2 maintenance WITHOUT a raw change log: fold a BATCH
    * of change events into an existing [[scd2FromChanges]] history.
    * Affected keys (only) are recomputed from their own reconstructed
    * change log — each history version becomes TWO synthetic changes, one
    * at `valid_from` (weight n_changes−1) and one at `last_ts` (weight 1)
    * — unioned with the new events (weight 1); untouched keys pass
    * through. Interior event timestamps between those two endpoints are
    * NOT recoverable from the history, which bounds the exactness
    * contract (spec-asserted both ways):
    *
    *  - EXACT (equals [[scd2FromChanges]] over the full concatenated
    *    log, `last_ts` included) whenever no batch event with a state
    *    different from a run's lands STRICTLY inside that run's
    *    (valid_from, last_ts) while the run has ≥3 changes. In
    *    particular all in-order appends, new keys, late events between
    *    runs, late events inside 1- or 2-event runs, and late events at
    *    or after a run's last_ts are exact.
    *  - INEXACT otherwise: a state-differing event strictly between a
    *    ≥3-change run's endpoints re-opens the old state at `last_ts`
    *    rather than at the (unrecorded) first interior event after the
    *    intruder, shifting that boundary and its n_changes/last_ts.
    *    [[scd2LateConflicts]] detects exactly these rows; route those
    *    keys through [[scd2ApplyChangesExact]] (which refolds from the
    *    persisted raw log) when the log is retained.
    *
    * Replay: interval boundaries, states, and versions are replay-STABLE
    * (a re-delivered event folds into the run it already created);
    * n_changes counts every delivery, so exactly-once counts need
    * upstream delivery dedup — the MedallionStream anti-join pattern —
    * exactly as the batch form needs a deduplicated log.
    *
    * Ordering bound, documented not checked: the recompute orders by
    * (ts, state), so change logs must not carry two DIFFERENT states for
    * one key at one timestamp unless that order is acceptable — the raw
    * tiebreak column is consumed by the first fold and cannot be
    * reconstructed.
    *
    * Scale: per batch, work is proportional to the AFFECTED keys'
    * history + the batch — never the dimension (semi/anti joins on the
    * key; the window partitions by key).
    */
  def scd2ApplyChanges(history: DataFrame, changes: DataFrame, key: String,
                       stateCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val affected = changes.select(col(key)).distinct()
    val untouched = history.join(affected, Seq(key), "left_anti")
    val base = history.join(affected, Seq(key), "left_semi")
    // two-point reconstruction: the run's first and last REAL event
    // timestamps are known; weights preserve the total change count
    val headLog = base.select(col(key), col(stateCol),
      col("valid_from").as(tsCol),
      when(col("last_ts") > col("valid_from"), col("n_changes") - 1)
        .otherwise(col("n_changes")).as("_w"))
    val tailLog = base.filter(col("last_ts") > col("valid_from"))
      .select(col(key), col(stateCol), col("last_ts").as(tsCol),
        lit(1L).as("_w"))
    val newLog = changes.select(col(key), col(stateCol), col(tsCol))
      .withColumn("_w", lit(1L))
    val refolded = scd2FromWeightedChanges(
      headLog.unionByName(tailLog).unionByName(newLog), Seq(key), stateCol,
      tsCol)
    untouched.unionByName(refolded.select(history.columns.map(col(_)).toIndexedSeq: _*))
  }

  /** Detector for the one case [[scd2ApplyChanges]] cannot refold exactly:
    * batch rows whose state differs from a history run of the same key
    * with ≥3 changes and whose timestamp lands STRICTLY inside that run's
    * (valid_from, last_ts) — the interior event times needed to place the
    * re-opened boundary are not in the history. Returns the offending
    * change rows joined with the conflicting run's version. Empty result
    * ⇒ [[scd2ApplyChanges]] is exact for this batch. Route non-empty keys
    * through [[scd2ApplyChangesExact]].
    *
    * Scale: semi-filtered history ⋈ changes on the key only — per-key
    * work is runs × batch-rows for that key, never corpus-wide.
    */
  def scd2LateConflicts(history: DataFrame, changes: DataFrame, key: String,
                        stateCol: String, tsCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val runs = history.filter(col("n_changes") >= 3)
      .select(col(key), col(stateCol).as("_run_state"),
        col("valid_from"), col("last_ts"), col("version"))
    changes.join(runs, Seq(key))
      .filter(col(stateCol) =!= col("_run_state") &&
        col(tsCol) > col("valid_from") && col(tsCol) < col("last_ts"))
      .select(col(key), col(stateCol), col(tsCol), col("version"))
  }

  /** Exact incremental SCD2 maintenance from a PERSISTED raw change log:
    * affected keys refold from their real events (`rawLog` ∪ `changes`),
    * so every late event — including state-differing events strictly
    * inside multi-event runs, where [[scd2ApplyChanges]] is documented
    * inexact — lands exactly where the batch fold would put it. The
    * result equals [[scd2FromChanges]] over `rawLog ∪ changes`
    * (spec-asserted on random late-event streams). `rawLog` must hold
    * every event already folded into `history` (and may hold more — extra
    * keys are ignored via the semi-join); the caller appends `changes` to
    * the log after (or atomically with) this call.
    *
    * Scale: the refold reads only the affected keys' slice of the log
    * (key semi-join — partition/bucket the log by key so the probe
    * prunes), and window work partitions by key. Storage trades against
    * [[scd2ApplyChanges]]: the log is O(events), the history O(runs).
    */
  def scd2ApplyChangesExact(history: DataFrame, rawLog: DataFrame,
                            changes: DataFrame, key: String, stateCol: String,
                            tsCol: String, tieCols: Seq[String] = Seq.empty)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val affected = changes.select(col(key)).distinct()
    val untouched = history.join(affected, Seq(key), "left_anti")
    val logCols = (Seq(key, stateCol, tsCol) ++ tieCols).map(col(_))
    val fullLog = rawLog.select(logCols: _*)
      .join(affected, Seq(key), "left_semi")
      .unionByName(changes.select(logCols: _*))
    val refolded = scd2FromChanges(fullLog, Seq(key), stateCol, tsCol, tieCols)
    untouched.unionByName(refolded.select(history.columns.map(col(_)).toIndexedSeq: _*))
  }

  /** [[scd2FromChanges]] over a weighted log (each row counts `_w`
    * changes) — the recompute body of [[scd2ApplyChanges]]; ordering by
    * (ts, state) since the original tiebreak is gone. Same event-level
    * windows + post-agg lead shape as [[scd2FromChanges]].
    */
  private def scd2FromWeightedChanges(changes: DataFrame, keys: Seq[String],
                                      stateCol: String, tsCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col(stateCol).asc)
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wRuns = Window.partitionBy(keys.map(col): _*).orderBy(col("version").asc)
    changes
      .withColumn("_chg",
        when(lag(col(stateCol), 1).over(w).isNull ||
          lag(col(stateCol), 1).over(w) =!= col(stateCol), 1).otherwise(0))
      .withColumn("version", sum(col("_chg")).over(wRows))
      .groupBy((keys.map(col) :+ col("version")): _*)
      .agg(min(col(stateCol)).as(stateCol),
        min(col(tsCol)).as("valid_from"),
        sum(col("_w")).as("n_changes"),
        max(col(tsCol)).as("last_ts"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wRuns))
      .withColumn("is_current",
        when(col("valid_to").isNull, 1).otherwise(0).cast("int"))
  }

  /** Merge a full dimension SNAPSHOT into an SCD2 history as of `asOf`:
    * current rows whose attributes changed (or whose key vanished from
    * the snapshot) close with valid_to = asOf; changed and brand-new keys
    * open a version with valid_from = asOf; unchanged current rows and
    * all already-closed history pass through untouched. History schema:
    * key, attrs..., valid_from, valid_to (NULL = current).
    *
    * Same merge algebra as [[merge]] (anti-join + union), applied to the
    * CURRENT slice only — closed history never shuffles more than its
    * pass-through union. Snapshot-vs-current comparison is null-safe per
    * attribute.
    */
  def scd2Merge(history: DataFrame, snapshot: DataFrame, key: String,
                attrs: Seq[String],
                asOf: java.sql.Timestamp): DataFrame = {
    import org.apache.spark.sql.functions._
    val closed = history.filter(col("valid_to").isNotNull)
    val current = history.filter(col("valid_to").isNull)
    val snap = snapshot.select((key +: attrs).map(col): _*)
    val cur = current.select((key +: attrs).map(col): _*)
    // keys whose current attributes match the snapshot exactly (null-safe)
    val unchangedKeys = cur.intersect(snap).select(col(key))
    val stillCurrent = current.join(unchangedKeys, Seq(key), "left_semi")
    val toClose = current.join(unchangedKeys, Seq(key), "left_anti")
      .withColumn("valid_to", lit(asOf))
    val opened = snap.join(unchangedKeys, Seq(key), "left_anti")
      .withColumn("valid_from", lit(asOf))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val cols = history.columns.map(col(_)).toSeq
    closed.select(cols: _*)
      .unionByName(stillCurrent.select(cols: _*))
      .unionByName(toClose.select(cols: _*))
      .unionByName(opened.select(cols: _*))
  }
}
