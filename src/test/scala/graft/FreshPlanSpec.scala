package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftplan.FreshPlan

/** Pins for the reliable-checkpoint plumbing beyond the loop-level
  * bit-identity legs (GraphSpec/TextSpec): the requested-root matching
  * must be separator-bounded and scheme-aware (the round-17 review
  * finding — a bare startsWith let "/mnt/ck" match "/mnt/ckpt-old/…",
  * silently dropping the caller's durability request), and superseded
  * cuts must be deleted while live ones survive.
  */
class FreshPlanSpec extends SparkSpec {
  import spark.implicits._

  private def rddDirs(dir: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("rdd-")).count()
    finally s.close()
  }

  test("a requested root that is a PREFIX of the previous one still gets " +
      "its own checkpoint tree (separator-bounded matching)") {
    val base = java.nio.file.Files.createTempDirectory("graft-fp").toString
    // "ckpt-old" then "ck": the pre-fix prefix probe matched the second
    // request against the first tree and skipped setCheckpointDir
    val dirOld = s"$base/ckpt-old"
    val dirNew = s"$base/ck"
    val df = spark.range(100).select(col("id"))
    val a = FreshPlan.checkpointFresh(df, Some(dirOld))
    assert(a.count() == 100)
    assert(rddDirs(dirOld) == 1, "first root must hold its checkpoint")
    val b = FreshPlan.checkpointFresh(df.select(col("id") * 2 as "id"),
      Some(dirNew))
    assert(b.count() == 100)
    assert(rddDirs(dirNew) == 1,
      "the prefix root must receive ITS OWN checkpoint, not ride the " +
        "previous root's tree")
  }

  test("CutChain deletes superseded cuts and closed invariants; the live " +
      "frame stays readable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fpc").toString
    val chain = FreshPlan.chain(Some(dir))
    val inv = chain.invariant(spark.range(10).toDF("id"))
    val c1 = chain.cut(inv.select((col("id") + 1).as("id")))
    assert(c1.count() == 10)
    assert(rddDirs(dir) == 2, "invariant + first cut on disk")
    val c2 = chain.cut(c1.select((col("id") + 1).as("id")))
    assert(rddDirs(dir) == 2,
      "the superseded first cut must be deleted once the second lands")
    chain.close()
    assert(rddDirs(dir) == 1, "close() deletes invariants, keeps the last cut")
    // the surviving cut must still be fully readable after all cleanup
    assert(c2.as[Long].collect().sorted.toSeq == (2L to 11L))
  }

  test("concurrent reliable fixpoints with DIFFERENT roots both stay " +
      "bit-correct and both write under their own root " +
      "(the set-dir race)") { onBothFixpointPaths { threshold =>
    // sc.setCheckpointDir is context-global: without the serialization in
    // FreshPlan.reliable, thread B's re-point could land between thread
    // A's dir check and A's checkpoint write, silently sending A's state
    // to B's (possibly non-durable) root. Two concurrent component walks
    // with different roots must each converge to the local-mode labels
    // and each leave files under their own directory.
    import graft.text.TextDedup
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def pairs(shift: Long) = Seq(
      (1L + shift, 2L + shift), (2L + shift, 3L + shift),
      (10L + shift, 11L + shift), (3L + shift, 4L + shift))
      .toDF("doc_a", "doc_b")
    def lab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectA = lab(TextDedup.dedupClusters(pairs(0)))
    val expectB = lab(TextDedup.dedupClusters(pairs(100)))
    val dirA = java.nio.file.Files.createTempDirectory("graft-fpA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-fpB").toString
    val fa = Future(lab(TextDedup.dedupClusters(pairs(0),
      checkpointDir = Some(dirA))))
    val fb = Future(lab(TextDedup.dedupClusters(pairs(100),
      checkpointDir = Some(dirB))))
    assert(Await.result(fa, 5.minutes) == expectA,
      s"concurrent reliable run A must match its local twin ($threshold)")
    assert(Await.result(fb, 5.minutes) == expectB,
      s"concurrent reliable run B must match its local twin ($threshold)")
    assert(rddDirs(dirA) >= 1, "root A must hold A's surviving cut")
    assert(rddDirs(dirB) >= 1, "root B must hold B's surviving cut")
  }}

  test("freshIfMaterialized copies a non-deterministic projection over a " +
      "checkpoint") {
    val base = spark.range(200).toDF("id").localCheckpoint()
    // rand() replays its per-partition seed over an unchanged RDD, so the
    // UUID column is what exposes a pass-through that re-evaluates
    val uuid = udf(() => java.util.UUID.randomUUID().toString)
      .asNondeterministic()
    val df = FreshPlan.freshIfMaterialized(
      base.select(col("id"), rand().as("r"), uuid().as("u")), None)
    def vals = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq
    assert(vals == vals,
      "a non-deterministic projection must be evaluated once, not per action")
    // the deterministic shortcut is kept: no copy, same rows
    val det = FreshPlan.freshIfMaterialized(
      base.select((col("id") * 2).as("id")), None)
    assert(det.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 200L).map(_ * 2))
  }

  test("sizedInvariant sizes rows as they materialize: at-or-under the " +
      "broadcast threshold, local and reliable, no extra job") {
    // 1000 BIGINT rows at the planner's 8 + 8 bytes per row = 16000 bytes
    val df = spark.range(1000).toDF("id")
    val dir = java.nio.file.Files.createTempDirectory("graft-fps").toString
    for (ck <- Seq(None, Some(dir))) {
      def fits(threshold: String): Boolean = withBroadcastThreshold(threshold) {
        val chain = FreshPlan.chain(ck)
        var out: (org.apache.spark.sql.DataFrame, Boolean) = null
        // the count rides the materializing job: one job, as invariant()
        val jobs = jobsOf { out = chain.sizedInvariant(df) }
        assert(jobs == 1, s"sizing must add no job ($ck: $jobs jobs)")
        assert(out._1.count() == 1000)
        chain.close()
        out._2
      }
      assert(fits("16000"), s"16000 bytes fit a 16000-byte threshold ($ck)")
      assert(!fits("15999"), s"16000 bytes do not fit 15999 ($ck)")
      assert(!fits("-1"), s"-1 disables the one-task path ($ck)")
    }
    // a null anywhere keeps the input off the one-task path
    val chain = FreshPlan.chain(None)
    val withNull = spark.range(10).select(
      when(col("id") === 3, lit(null)).otherwise(col("id")).as("id"))
    assert(!chain.sizedInvariant(withNull)._2, "a null must not fit")
    chain.close()
  }

  test("release drops a local checkpoint's blocks, plain or rewrapped") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val plain = spark.range(50).toDF("id").localCheckpoint()
    val fresh = FreshPlan.checkpointFresh(spark.range(50).toDF("id"), None)
    assert((sc.getPersistentRDDs.keySet -- before).size == 2)
    FreshPlan.release(plain)
    FreshPlan.release(fresh)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "both blocksets must be gone after release")
  }

  test("local mode (None) is unchanged by the chain machinery") {
    val chain = FreshPlan.chain(None)
    val out = chain.cut(chain.invariant(spark.range(5).toDF("id")))
    chain.close()
    assert(out.count() == 5)
  }
}
