package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one JVM-wide session, UTC, small
  * shuffle-partition count.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with `l` attached, seeing exactly the events it causes. */
  private def listening(l: SparkListener)(body: => Unit): Unit = {
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try body
    finally {
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** Spark jobs `body` launches. */
  def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)
    n.get
  }

  /** Bytes Spark tasks read from storage while `body` runs. */
  def inputBytesOf(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong
    listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => n.addAndGet(m.inputMetrics.bytesRead))
    })(body)
    n.get
  }

  /** The parquet/JSON file scans over the table at `dir` that `body`'s
    * queries executed, looked up inside adaptive query stages.
    */
  def scansOf(dir: String)(body: => Unit): Seq[FileSourceScanExec] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(l)
    try body
    finally {
      ListenerDrain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case n => n.children.flatMap(scans)
    }
    val table = new java.io.File(dir).getAbsolutePath
    plans.toSeq.flatMap(scans).filter(_.relation.location.rootPaths
      .exists(_.toUri.getPath.stripSuffix("/") == table))
  }

  /** Runs `body` at `spark.sql.autoBroadcastJoinThreshold = value`,
    * restoring the previous setting afterwards.
    */
  def withBroadcastThreshold[T](value: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, prev)
  }

  /** Runs `body` on both fixpoint paths: at the session's threshold (a
    * small input takes the one-task path) and at -1 (the distributed
    * loop). `body` gets the threshold, for its messages.
    */
  def onBothFixpointPaths(body: String => Unit): Unit = {
    body(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    withBroadcastThreshold("-1")(body("-1"))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // INT64 micros, not stats-less INT96 — mirrors GraftSession; the
      // ZOrderSpec pruning assertions depend on written timestamp stats.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
