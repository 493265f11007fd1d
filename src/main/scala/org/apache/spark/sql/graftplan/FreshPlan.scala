package org.apache.spark.sql.graftplan

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType

/** Plan hygiene for iterative fixpoints (lives under `org.apache.spark.sql`
  * solely for `private[sql]` access to `internalCreateDataFrame`).
  *
  * Since SPARK-39834, the `LogicalRDD` a `localCheckpoint` produces
  * carries the ORIGIN plan's statistics. Inside a fixpoint loop that is a
  * correctness-adjacent scale bug: every round's self-joins multiply
  * `sizeInBytes` estimates, the checkpoint preserves the product, and the
  * next round multiplies it again — the estimate's BIT LENGTH doubles or
  * worse per round (measured: 22 → 43 → 85 → … bits on a 1-join round).
  * A single fixpoint of 5–6 rounds leaves megabit-sized BigInt stats
  * (milliseconds of driver BigInteger math per plan); COMPOSING two
  * fixpoints — e.g. resuming incremental clustering from a labeling that
  * was itself produced by a fixpoint — squares that again and the driver
  * spends minutes inside `SizeInBytesOnlyStatsPlanVisitor` multiplying
  * astronomically large integers before a single task runs.
  *
  * [[localCheckpointFresh]] therefore re-wraps the checkpointed RDD in a
  * brand-new `LogicalRDD` with NO origin statistics (zero row conversion
  * — the `InternalRow` RDD is reused as-is). The fresh frame reports the
  * session default `sizeInBytes`, which inside a loop is exactly right:
  * label frames are join spines, never broadcast candidates.
  */
object FreshPlan {

  def localCheckpointFresh(df: DataFrame): DataFrame =
    rewrap(df.localCheckpoint())

  /** [[localCheckpointFresh]] with a RELIABLE checkpoint when a directory
    * is given: the blocks land on a real (re-readable) filesystem via
    * `Dataset.checkpoint`, so losing an executor mid-fixpoint recomputes
    * from the checkpoint files instead of killing the query — the 100 TB
    * preemptible-node posture for long iterative jobs. `localCheckpoint`
    * stores blocks ONLY on executors; with `None` (the default and the
    * right choice on a stable cluster or local mode) an executor loss
    * after the cut is fatal for the run, which batch-level retry then
    * pays in full. Same SPARK-39834 stat strip on both paths (reliable
    * checkpoints carry origin statistics exactly like local ones).
    * Measured overhead at sf0.01 (BASELINE.md round-17 note): the
    * per-round write+re-read on local disk.
    */
  def checkpointFresh(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case None => localCheckpointFresh(df)
      case Some(dir) => rewrap(reliable(df, dir))
    }

  /** [[checkpointFresh]] that SKIPS the re-materialization when `df` is
    * already a materialized checkpoint (a `LogicalRDD`, optionally under
    * one deterministic projection) — then the blocks/files exist and a
    * second checkpoint would copy them verbatim; only the stat-strip
    * re-wrap is applied. Round 21: the inline maintenance compositions
    * (q188/q189/q201/q209 feed `dedupClusters` output STRAIGHT into
    * resume/forget) were paying a full label-store copy inside
    * `validatedLabeling` for state materialized one call earlier.
    * Local mode only — a reliable caller wants the files under ITS root,
    * which a prior local cut cannot guarantee.
    */
  def freshIfMaterialized(df: DataFrame,
                          checkpointDir: Option[String]): DataFrame = {
    val alreadyMat = checkpointDir.isEmpty && (
      df.queryExecution.analyzed match {
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        // a non-deterministic projection (rand(), uuid()) re-evaluates
        // on every action, so it is not materialized state
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.child.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] &&
            p.projectList.forall(_.deterministic)
        case _ => false
      })
    if (alreadyMat) rewrap(df) else checkpointFresh(df, checkpointDir)
  }

  /** Stat-PRESERVING materializer for state that outlives any one loop
    * (id lists, validated labelings): `localCheckpoint` in local mode, a
    * reliable `checkpoint` under `Some(dir)`. No fresh re-wrap — these
    * are materialized once, so their origin statistics never compound,
    * and keeping them lets the planner still auto-broadcast a small
    * materialized side. Reliable files persist until the caller wipes
    * the scratch root (returned frames may read them lazily, so nothing
    * here can safely delete them).
    */
  def materialize(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    checkpointDir match {
      case None => df.localCheckpoint()
      case Some(dir) => reliable(df, dir)
    }

  /** One fixpoint's checkpoint bookkeeping — the GraphX
    * PeriodicCheckpointer discipline, without which a 20-round reliable
    * fixpoint leaves 20 full copies of its state on the checkpoint
    * filesystem (`spark.cleaner.referenceTracking.cleanCheckpoints`
    * defaults to false and would be GC-timed anyway):
    *
    *  - [[CutChain.cut]] is [[checkpointFresh]], plus: once the NEW
    *    round's files are materialized, the PREVIOUS round's are deleted
    *    (nothing references them — the new checkpoint was computed from
    *    them and is now self-contained). The FINAL cut's files back the
    *    returned frame and survive until the caller wipes the root.
    *  - [[CutChain.invariant]] is [[materialize]], plus the file is
    *    remembered so [[CutChain.close]] can delete it after the final
    *    cut materializes (loop invariants are dead once the loop ends).
    *
    * Local mode (`checkpointDir = None`): both are the plain local forms
    * and `close()` is a no-op — zero behavior change.
    */
  final class CutChain private[graftplan] (checkpointDir: Option[String]) {
    private var prevCut: Option[String] = None
    private val invariants = scala.collection.mutable.ArrayBuffer[String]()
    // Local-mode twins of the two file lists above (round 21): the
    // executor-local checkpoint BLOCKS of superseded cuts and dead
    // invariants. Without explicit unpersists they linger in the block
    // manager until the JVM happens to GC the RDD references — across a
    // 200-query bench pass that is hundreds of orphaned blocksets
    // squeezing the storage pool (guide §5). The deadness argument is
    // EXACTLY the one the reliable path already relies on to DELETE the
    // same state from disk: a new cut was computed from the previous one
    // and is self-contained; invariants are dead once the loop closes.
    private var prevCutBlocks: Option[org.apache.spark.rdd.RDD[_]] = None
    private val invariantBlocks =
      scala.collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]()
    private var hconf: Option[org.apache.hadoop.conf.Configuration] = None

    /** Materializes the next round. A superseded cut is UNREADABLE:
      * once this cut lands, the previous one's blocks are dropped (local)
      * or its files deleted (reliable), and a checkpoint has no lineage to
      * recompute from — only the latest cut may be retained.
      */
    def cut(df: DataFrame): DataFrame = checkpointDir match {
      case None =>
        val ck = df.localCheckpoint()
        prevCutBlocks.foreach(drop(_))
        prevCutBlocks = checkpointRddOf(ck)
        rewrap(ck)
      case Some(dir) =>
        val ck = reliable(df, dir)
        rememberConf(ck)
        val file = checkpointFileOf(ck)
        prevCut.foreach(delete)
        prevCut = file
        rewrap(ck)
    }

    /** `fresh = true` applies the [[localCheckpointFresh]] stat strip on
      * top (for invariants whose ORIGIN plan already carries multiplied
      * stats — e.g. a pair pipeline's output consumed by every round);
      * `false` keeps origin stats so small sides still auto-broadcast.
      */
    def invariant(df: DataFrame, fresh: Boolean = false): DataFrame =
      checkpointDir match {
        case None =>
          val ck = df.localCheckpoint()
          checkpointRddOf(ck).foreach(invariantBlocks += _)
          if (fresh) rewrap(ck) else ck
        case Some(dir) =>
          val ck = reliable(df, dir)
          rememberConf(ck)
          checkpointFileOf(ck).foreach(invariants += _)
          if (fresh) rewrap(ck) else ck
      }

    /** [[invariant]] plus whether a fixpoint over it fits in ONE task: the
      * rows are counted while they materialize (a CollectMetrics node on
      * the materializing pass itself — no extra job, local or reliable)
      * and sized at the planner's per-row width. `true` when that size is
      * at or under `spark.sql.autoBroadcastJoinThreshold` — the session's
      * existing bound for "small enough to ship whole to one task"; `-1`
      * disables it — and no column holds a null. A missing metric (the
      * optimizer pruned the node) reads as "does not fit".
      */
    def sizedInvariant(df: DataFrame, fresh: Boolean = false)
        : (DataFrame, Boolean) = {
      val name = s"graft_fixpoint_size_${sizeProbes.incrementAndGet()}"
      val observed = df.observe(name, count(lit(1)),
        df.columns.toSeq.map(c => count(col(s"`$c`"))): _*)
      val ck = invariant(observed, fresh)
      val fits = observed.queryExecution.observedMetrics.get(name).exists {
        m =>
          val rows = m.getLong(0)
          (1 until m.length).forall(m.getLong(_) == rows) &&
            fitsOneTask(df, rows * EstimationUtils.getSizePerRow(
              observed.queryExecution.analyzed.output))
      }
      (ck, fits)
    }

    /** Call after the FINAL cut is materialized (and only then): deletes
      * every invariant's files (reliable mode) / drops every invariant's
      * blocks (local mode). The last cut's files/blocks are intentionally
      * kept — they ARE the returned frame.
      */
    def close(): Unit = {
      invariants.foreach(delete)
      invariants.clear()
      invariantBlocks.foreach(drop(_))
      invariantBlocks.clear()
    }

    private def rememberConf(df: DataFrame): Unit =
      if (hconf.isEmpty)
        hconf = Some(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
          .sparkSession.sparkContext.hadoopConfiguration)

    private def delete(file: String): Unit =
      try {
        val p = new org.apache.hadoop.fs.Path(file)
        hconf.foreach(c => p.getFileSystem(c).delete(p, true))
      } catch { case _: java.io.IOException => () } // cleanup is best-effort
  }

  def chain(checkpointDir: Option[String]): CutChain = new CutChain(checkpointDir)

  private val sizeProbes = new java.util.concurrent.atomic.AtomicLong

  private def fitsOneTask(df: DataFrame, bytes: BigInt): Boolean = {
    val t = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    t >= 0 && bytes <= t
  }

  /** Runs `body` in ONE task over the internal rows of each input (one
    * iterator per input, in order; rows may be reused — read, don't
    * keep) and returns its rows as an unmaterialized frame of `schema`.
    * The fixpoints' small-input path: a loop whose state fits one task
    * pays one job instead of a scheduling floor per round.
    */
  def inOneTask(schema: StructType, inputs: DataFrame*)(
      body: Seq[Iterator[InternalRow]] => Iterator[InternalRow]): DataFrame = {
    val session = inputs.head.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .sparkSession
    val sc = session.sparkContext
    // a 0-partition input (an empty local relation) still needs its one
    // (empty) partition for the zip below
    val one = inputs.map { df =>
      val rdd = df.queryExecution.toRdd.coalesce(1)
      if (rdd.partitions.isEmpty) sc.parallelize(Seq.empty[InternalRow], 1)
      else rdd
    }
    val out = one match {
      case Seq(a) => a.mapPartitions(it => body(Seq(it)))
      case Seq(a, b) => a.zipPartitions(b)((x, y) => body(Seq(x, y)))
      case _ => throw new IllegalArgumentException(
        s"inOneTask takes one or two inputs, got ${one.size}")
    }
    session.internalCreateDataFrame(out, schema)
  }

  /** Drops the blocks behind a locally materialized frame (a plain
    * `localCheckpoint`, or [[materialize]] / [[checkpointFresh]] with no
    * directory) once nothing reads it any more. Only for state proven
    * dead, and only for a materialized frame (a frame over an
    * unmaterialized RDD could reach live blocks upstream): like a
    * superseded cut, the frame is unreadable afterwards. No-op for
    * reliable checkpoints (their files stay until the caller wipes the
    * root) and for frames that are not a bare checkpoint.
    */
  def release(df: DataFrame): Unit = {
    // a rewrapped frame's LogicalRDD holds the scan over the checkpointed
    // RDD: walk down to the first persisted RDD, whose lineage the
    // checkpoint has truncated — never past it
    def blocks(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE) Seq(r)
      else r.dependencies.flatMap(d => blocks(d.rdd))
    checkpointRddOf(df).toSeq.flatMap(blocks).foreach(drop(_))
  }

  /** `RDD.unpersist` minus its WARN: on a locally checkpointed RDD it logs
    * "cannot be recomputed after unpersisting" on every call, which is
    * the point here (the blocks are proven dead), not news.
    */
  private def drop(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** The reliably-checkpointed RDD's file path — `Dataset.checkpoint`
    * wraps the materialized RDD in a LogicalRDD, so the path is one
    * pattern match away. None (no cleanup possible) if the plan shape
    * ever changes; the chain then degrades to keep-everything, never to
    * deleting something live.
    */
  private def checkpointFileOf(ck: DataFrame): Option[String] =
    ck.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile
      case _ => None
    }

  /** The locally-checkpointed RDD backing `ck` — the handle an explicit
    * block unpersist needs. Same degradation contract as
    * [[checkpointFileOf]]: None (no cleanup) if the plan shape ever
    * changes, never a live block dropped.
    */
  private def checkpointRddOf(ck: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    ck.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Serializes (setCheckpointDir → checkpoint) pairs: the checkpoint
    * directory is CONTEXT-GLOBAL state, so two concurrent fixpoints with
    * different roots would otherwise interleave the set and the write
    * and silently checkpoint into each other's roots (a caller that
    * asked for a durable hdfs:// root could land on local scratch).
    * Reliable cuts of concurrent queries serialize on this lock; the
    * local path never touches it.
    */
  private val reliableLock = new Object

  private def reliable(df: DataFrame, dir: String): DataFrame = {
    val sc = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
      .sparkSession.sparkContext
    reliableLock.synchronized {
      // setCheckpointDir appends a per-context UUID subdirectory, so the
      // stored value never equals `dir` — (re)set unless the current one
      // lives under the requested root. The comparison is on FULLY
      // QUALIFIED paths with a separator-bounded prefix: a bare
      // startsWith matched "/mnt/ck" against "/mnt/ckpt-old/…", and
      // comparing toUri.getPath alone dropped the scheme, letting a
      // stale file:/ dir shadow a requested hdfs:// root — both ways to
      // silently lose the durability the caller asked for.
      val want = new org.apache.hadoop.fs.Path(dir)
      val fs = want.getFileSystem(sc.hadoopConfiguration)
      val root = fs.makeQualified(want).toString
      val under = sc.getCheckpointDir.exists { c =>
        val q = fs.makeQualified(new org.apache.hadoop.fs.Path(c)).toString
        q == root || q.startsWith(root + "/")
      }
      if (!under) sc.setCheckpointDir(dir)
      // No persist-across-checkpoint here (round-21 A/B, REJECTED): the
      // classic "cache before reliable checkpoint or it computes twice"
      // advice does not apply on Spark 4 — eager Dataset.checkpoint runs
      // `internalRdd.doCheckpoint()` directly (verified in the 4.1.2
      // bytecode: RDD.checkpoint mark + RDD.doCheckpoint, no separate
      // count action), which computes the plan ONCE and writes the files
      // in the same pass. Adding MEMORY_AND_DISK persist around it
      // measured q216 3.11 → 3.84 s (pure cache-write overhead).
      df.checkpoint()
    }
  }

  private def rewrap(ck0: DataFrame): DataFrame = {
    val ck = ck0.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ck.sparkSession.internalCreateDataFrame(
      ck.queryExecution.toRdd, ck.schema, isStreaming = false)
  }
}
