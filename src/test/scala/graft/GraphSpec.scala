package graft

import org.apache.spark.sql.functions._

import graft.ops.Graph

/** Pins for [[graft.ops.Graph.pageRankFixed]]: equality with a plain-Scala
  * fixed-point reference on hand graphs (incl. dangling redistribution),
  * partition invariance (the property float PageRank cannot have),
  * duplicate-edge idempotence, and mass accounting.
  */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  /** Plain-Scala twin of the integer recurrence — same truncating
    * divisions, same term order.
    */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int,
                       scale: Long = 1000000000000L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.size.toLong
    val deg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val teleport = scale * 3 / 20 / n
    var rank = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val contrib = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(p => rank(p._1) / deg(p._1)).sum
      }
      val danglingMass = nodes.filterNot(deg.contains).map(rank).sum
      rank = nodes.map { v =>
        v -> (teleport + contrib.getOrElse(v, 0L) * 17 / 20 +
          danglingMass * 17 / 20 / n)
      }.toMap
    }
    rank
  }

  private def got(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRankFixed(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("line graph matches the plain-Scala fixed-point twin") {
    // 1 <-> 2 <-> 3: symmetric, no danglers; middle node must outrank ends.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val g = got(edges, 3)
    assert(g == refRanks(edges, 3))
    assert(g(2L) > g(1L) && g(1L) == g(3L))
  }

  test("dangling node redistributes its mass (plain-Scala twin agrees)") {
    // 1->2, 3->2: node 2 has NO out-edges — its whole rank re-spreads
    // uniformly each round instead of evaporating.
    val edges = Seq((1L, 2L), (3L, 2L))
    val g = got(edges, 3)
    assert(g == refRanks(edges, 3))
    assert(g(2L) > g(1L))
    // Re-spread keeps total mass near scale: without the dangling term
    // iteration 1 would already drop ~85% of the mass.
    assert(g.values.sum > 900000000000L,
      s"dangling mass lost: total ${g.values.sum}")
  }

  test("reliable checkpointDir is bit-identical to local cuts on the " +
      "sf0.01 graph (and actually writes checkpoint files)") { onBothFixpointPaths { threshold =>
    // The r16 verdict's one real 100 TB robustness gap: localCheckpoint
    // state dies with its executor, so long fixpoints on preemptible
    // nodes need a reliable-filesystem option. The knob must change WHERE
    // the state lives, never WHAT it is — integer fixed-point has no
    // partition- or storage-dependent bits.
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-rck").toString
    val half = Tables.load(spark, "/root/testdata/sf0.01", "orders")
      .join(Tables.load(spark, "/root/testdata/sf0.01", "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint() // shared input: both runs read identical edges
    def run(ck: Option[String]) = {
      val t0 = System.nanoTime()
      val r = Graph.pageRankFixed(edges, iters = 3, checkpointDir = ck)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (localR, tLocal) = run(None)
    val (relR, tRel) = run(Some(dir))
    assert(relR == localR,
      s"reliable checkpoints must not change a single rank bit (threshold $threshold)")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(files > 0, "reliable mode must actually write checkpoint files")
    // PeriodicCheckpointer discipline: superseded round cuts and closed
    // loop invariants are DELETED — only the final rank table's rdd dir
    // may remain, else a 20-round 100 TB fixpoint keeps 20 state copies
    def rddDirs() = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-")).count()
      finally s.close()
    }
    assert(rddDirs() == 1,
      s"only the final cut may survive the run, found ${rddDirs()} rdd dirs " +
        s"(threshold $threshold)")
    info(f"pageRankFixed sf0.01 ×3 iters: local $tLocal%.2f s, " +
      f"reliable $tRel%.2f s (${tRel / tLocal}%.2fx, threshold $threshold)")
    // resume leg: the warm start through the same knob stays bit-exact too
    val resumed = Graph.pageRankResume(edges,
      Seq.empty[(Long, Long)].toDF("node", "rank")
        .unionByName(localR.toSeq.toDF("node", "rank")),
      iters = 1, checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold4 = Graph.pageRankFixed(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == cold4,
      "reliable resume must equal the cold run of the combined depth")
  }}

  test("resume(k) after pageRankFixed(m) == cold pageRankFixed(m+k), bit-exact") {
    // integer fixed-point means the rank vector IS the whole state: a
    // persisted 2-iteration vector resumed for 1 more must reproduce the
    // cold 3-iteration run exactly — on a dangler graph too (the
    // dangling aggregate reads the resumed vector).
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2) :+ (98L, 99L) // 99 dangles
    val df = edges.toDF("src", "dst")
    val r2 = Graph.pageRankFixed(df, 2)
    val resumed = Graph.pageRankResume(df, r2, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == got(edges, 3), "resume must equal the cold run")
    // and a round-trip through parquet (the q172 shape) stays exact
    val dir = java.nio.file.Files.createTempDirectory("pranks").toString + "/r2"
    r2.write.parquet(dir)
    val viaDisk = Graph.pageRankResume(df, spark.read.parquet(dir), 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDisk == resumed)
    // a vector that does not cover the graph fails loudly
    val e = intercept[IllegalArgumentException] {
      Graph.pageRankResume(df, r2.filter(col("node") =!= 99L), 1).collect()
    }
    assert(e.getMessage.contains("missing"))
    // a doubly-written vector (duplicate node rows) is refused, not
    // silently double-counted
    val e2 = intercept[IllegalArgumentException] {
      Graph.pageRankResume(df, r2.unionByName(r2.limit(3)), 1).collect()
    }
    assert(e2.getMessage.contains("duplicated"))
    // extra persisted nodes (graph shrank) are dropped, not resurrected
    val extra = r2.unionByName(Seq((12345L, 77L)).toDF("node", "rank"))
    val shrunk = Graph.pageRankResume(df, extra, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shrunk == resumed)
    // a vector persisted under a DIFFERENT scale covers the graph and
    // has no duplicates, but its total mass betrays it — refused, not
    // silently resumed to wrong-magnitude ranks
    val wrongScale = r2.withColumn("rank",
      org.apache.spark.sql.functions.col("rank") / 1000L)
    val e3 = intercept[IllegalArgumentException] {
      Graph.pageRankResume(df, wrongScale, 1).collect()
    }
    assert(e3.getMessage.contains("mass"))
  }

  test("changed-graph warm start converges to the new graph's fixed point") {
    // the q172 exactness contract is same-graph only; on a GROWN graph
    // the resumed vector is a standard warm start. Pin the convergence
    // claim: iterating the warm vector on the new graph approaches the
    // new graph's own long-run ranks MONOTONICALLY in L1 (within the
    // integer-truncation noise floor), and lands inside it.
    val rnd = new scala.util.Random(47)
    val g1 = Seq.fill(150)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2)
    val grown = g1 ++ Seq.fill(50)(
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    val warm = Graph.pageRankFixed(g1.toDF("src", "dst"), 3)
    val gdf = grown.toDF("src", "dst")
    val target = got(grown, 20) // the new graph's (near-)fixed point
    def l1(m: Map[Long, Long]): Long =
      target.map { case (k, v) => math.abs(v - m.getOrElse(k, 0L)) }.sum
    // warm vector lacks the grown graph's NEW nodes — resume must refuse
    // (coverage contract), so extend it with zero-mass rows first, the
    // documented migration move for a grown node set.
    val newNodes = gdf.select(col("src").as("node"))
      .unionByName(gdf.select(col("dst").as("node"))).distinct()
      .join(warm, Seq("node"), "left_anti")
      .withColumn("rank", org.apache.spark.sql.functions.lit(0L))
    val warmFull = warm.unionByName(newNodes)
    val d2 = l1(Graph.pageRankResume(gdf, warmFull, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val d8 = l1(Graph.pageRankResume(gdf, warmFull, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // damping 17/20 contracts the gap ~0.85^k per round; 6 more rounds
    // must shrink it well past any truncation noise
    assert(d8 < d2 / 2 || d8 <= target.size * 5L,
      s"warm start must converge on the grown graph: d2=$d2 d8=$d8")
    // absolute closeness: within 0.1% of the total mass (scale = 1e12;
    // damping 0.85^8 ~ 0.27 of the post-2-round gap plus truncation)
    assert(d8 < 1000000000L,
      s"warm start must be NEAR the fixed point after 8 rounds: $d8")
  }

  test("partition invariance: same ranks under any input partitioning") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val base = got(edges, 4)
    val repart = Graph.pageRankFixed(
      edges.toDF("src", "dst").repartition(7, col("dst")), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(base == repart)
    assert(base == refRanks(edges, 4))
  }

  test("duplicate edges and duplicate rows do not change the result") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val dup = edges ++ edges ++ Seq((1L, 2L))
    assert(got(dup, 3) == got(edges, 3))
  }

  test("empty edge table yields an empty rank table") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRankFixed(empty, 2).count() == 0)
  }

  test("fixpoint leaves exactly one persisted blockset " +
      "(the returned cut)") { onBothFixpointPaths { threshold =>
    // Round-21 CutChain hygiene pin: superseded per-round cuts and dead
    // loop invariants must be UNPERSISTED when the loop closes, in local
    // mode exactly as their files are deleted in reliable mode — across a
    // 200-query bench pass the leaked blocks squeezed the storage pool.
    // The returned frame's own blocks must survive (they ARE the result).
    val sc = spark.sparkContext
    System.gc() // let the ContextCleaner drain earlier tests' orphans
    Thread.sleep(200)
    val before = sc.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 1L), (6L, 6L),
      (7L, 2L)).toDF("src", "dst")
    val ranks = Graph.pageRankFixed(edges, 3)
    val rows = ranks.count()
    assert(rows > 0)
    val leaked = sc.getPersistentRDDs.keySet -- before
    // one blockset for the final cut; the graph has danglers, so its
    // materialized dangler invariant is unpersisted by close() like the
    // rest — anything beyond the final cut is a leak
    assert(leaked.size <= 1,
      s"fixpoint leaked ${leaked.size} persisted RDDs (expected <= 1: " +
        "the returned cut): ids " + leaked.mkString(", ") +
        s" (threshold $threshold)")
    // the survivor must still be readable — close() must never have
    // unpersisted the returned frame's own blocks
    assert(ranks.count() == rows)
  }}

  test("pageRank: the one-task path equals the forced-distributed loop") {
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def same(run: () => org.apache.spark.sql.DataFrame, what: String,
             empty: Boolean = false): Unit = {
      var one, loop: org.apache.spark.sql.DataFrame = null
      val jobsOne = jobsOf { one = run() }
      val jobsLoop = withBroadcastThreshold("-1")(jobsOf { loop = run() })
      // the one-task path is taken: fewer jobs than the loop (which
      // plans an empty graph down to one job)
      assert(jobsOne < jobsLoop || empty && jobsOne <= jobsLoop,
        s"$what: $jobsOne vs $jobsLoop jobs")
      assert(one.schema == loop.schema, s"$what: schemas differ")
      assert(ranks(one) == ranks(loop), s"$what: ranks differ")
    }
    val rnd = new scala.util.Random(31)
    val danglers = (Seq.fill(200)((rnd.nextInt(30).toLong,
      rnd.nextInt(30).toLong)).filter(p => p._1 != p._2) :+ (98L, 99L))
      .toDF("src", "dst")
    val half = Seq.fill(120)((rnd.nextInt(20).toLong * 2,
      rnd.nextInt(15).toLong * 2 + 1))
    val symmetric = (half ++ half.map(_.swap)).toDF("src", "dst")
    // 1 round, and 7 rounds (past the loop's 5-round cut stride)
    for (iters <- Seq(1, 7)) {
      same(() => Graph.pageRankFixed(danglers, iters), s"danglers x$iters")
      same(() => Graph.pageRankFixed(symmetric, iters), s"symmetric x$iters")
    }
    same(() => Graph.pageRankFixed(Seq((1, 2), (2, 3)).toDF("src", "dst"), 3),
      "int ids")
    same(() => Graph.pageRankFixed(Seq.empty[(Long, Long)].toDF("src", "dst"),
      2), "empty edge table", empty = true)
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-1t").toString
    same(() => Graph.pageRankFixed(danglers, 3, checkpointDir = Some(dir)),
      "reliable checkpointDir")
    // resume: admitted vectors, including an extra node the graph lost
    // and a null rank (both read as the loop reads them)
    val r2 = Graph.pageRankFixed(danglers, 2).localCheckpoint()
    same(() => Graph.pageRankResume(danglers, r2, 2), "resume")
    val odd = r2.unionByName(Seq((12345L, 77L)).toDF("node", "rank"))
      .withColumn("rank", when(col("node") === 99L, lit(null))
        .otherwise(col("rank")))
    same(() => Graph.pageRankResume(danglers, odd, 1), "resume, odd vector")
    // the admission checks still run first on the one-task path
    val e = intercept[IllegalArgumentException] {
      Graph.pageRankResume(danglers, r2.filter(col("node") =!= 99L), 1)
    }
    assert(e.getMessage.contains("missing"))
  }

  test("pageRankFixed on a small graph runs in at most 6 jobs") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 1L), (6L, 6L),
      (7L, 2L)).toDF("src", "dst")
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { out = Graph.pageRankFixed(edges, 10) }
    // the degree-annotated edges' materialization plus the one-task
    // fixpoint; the distributed loop launches 93 here (Spark 4.1.2,
    // local[4])
    assert(jobs <= 6, s"pageRankFixed launched $jobs jobs")
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      refRanks(Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 1L), (6L, 6L),
        (7L, 2L)), 10))
  }

  test("mass accounting: total rank <= scale, loss bounded by truncation") {
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    val g = got(edges, 5)
    val total = g.values.sum
    val scale = 1000000000000L
    assert(total <= scale)
    // Each round each node loses < 1 unit per div (3 divs in the rank
    // expression) plus the per-edge contribution truncation spread across
    // receivers — a generous bound is n*(3+maxDeg) per round.
    val bound = g.size.toLong * (3 + 30) * 5
    assert(total >= scale - bound, s"lost ${scale - total} > bound $bound")
  }
}
