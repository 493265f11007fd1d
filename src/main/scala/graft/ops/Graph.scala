package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftplan.FreshPlan
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative graph analytics by joins — PageRank in FIXED-POINT integer
  * arithmetic (Page et al. 1999, the power method; Pregel-by-DataFrames).
  *
  * North-star extension (the reference has no graph surface): a
  * training-data pipeline ranks sources by link/citation authority — domain
  * ranks for crawl prioritization, account authority for bot triage — and
  * at 100 TB that is an ITERATIVE algorithm over an edge table, the one
  * shape naive DataFrame code gets wrong (exploding lineage, float drift,
  * re-shuffling the edges every round).
  *
  * Why INTEGER fixed-point instead of doubles: float PageRank sums
  * contributions in partition order, so the same graph on a different
  * partitioning (or engine) yields different low bits — unreproducible
  * ranks, flaky top-k boundaries, and no cross-engine oracle. Here ranks
  * are longs in units of `scale⁻¹` (default 10⁻¹²); every step is integer
  * multiply / truncating `div` / order-invariant long SUM, so the result
  * is BIT-IDENTICAL on any partitioning, any engine — DuckDB's unrolled-CTE
  * spelling of the same recurrence hash-matches exactly (q166). The
  * truncation loses at most one scale-unit (10⁻¹²) per division — mass
  * "evaporates" a few n·10⁻¹² per round rather than redistributing
  * nondeterministically, which is the right trade for a ranking (relative
  * order is what matters, and boundary ties break on the node id, not on
  * summation order).
  *
  * Scale posture, per iteration: ONE join of the rank table onto the
  * degree-annotated edges (both sides keyed by src — co-partitionable, and
  * the edge side is materialized once by `localCheckpoint`, never
  * recomputed), ONE shuffle-by-dst partial+final SUM (map-side combine
  * keeps the shuffle at |dst-partitions| rows per mapper), one broadcast of
  * the 1-row totals. Lineage is truncated every round (the
  * [[graft.text.TextDedup.dedupClusters]] discipline) so 30 iterations
  * plan like 1. Overflow bounds, documented not checked: total mass ≤
  * `scale`, so every intermediate is ≤ `scale · dampNum` — pick `scale`
  * such that `scale · dampNum < 2⁶³` (the 10¹² default leaves 5 orders of
  * magnitude of headroom; node COUNT is unconstrained because mass, not
  * per-node rank, is the bound).
  */
object Graph {

  /** Fixed-point PageRank. `edges` needs integral `src`/`dst` columns
    * (self-loops and duplicate edges are deduplicated); returns
    * (node: long, rank: long) where rank is in scale⁻¹ units and sums to
    * ≈ scale across all nodes.
    *
    * Recurrence (all integer ops, `div` truncating):
    * {{{
    *   r₀(v)   = scale div n
    *   base    = (scale·(dampDen−dampNum) div dampDen) div n     -- teleport
    *   rₖ(v)   = base
    *           + (dampNum · Σ_{u→v} (rₖ₋₁(u) div deg(u))) div dampDen
    *           + ((dampNum · Σ_{dangling u} rₖ₋₁(u)) div dampDen) div n
    * }}}
    * Dangling nodes (no out-edges) redistribute their mass uniformly —
    * the standard correction. The dangler SET is loop-invariant, so it
    * is derived once before the loop; graphs with no danglers (e.g.
    * symmetrized bipartite graphs, q166's shape) skip the per-iteration
    * dangling aggregate entirely, leaving exactly one join + one keyed
    * SUM per round.
    *
    * `checkpointDir`: `None` (default) cuts lineage with executor-local
    * checkpoints — fastest, but an executor loss mid-fixpoint kills the
    * run (batch retry re-pays every iteration). `Some(dir)` swaps every
    * materialization for a RELIABLE checkpoint under `dir` (HDFS/object
    * store on a cluster), so preempted executors recompute from files —
    * the long-fixpoint 100 TB posture. Output is bit-identical either
    * way (GraphSpec-pinned): the recurrence is integer fixed-point, and
    * where the state lives cannot change what it is.
    *
    * Size rule: the degree-annotated edge table is sized as it lands
    * (rows × the planner's row width, no extra job). At or under
    * `spark.sql.autoBroadcastJoinThreshold` (10 MB by default, ~330k
    * edges) and null-free, all `iters` rounds run in ONE task over its
    * rows — the same integer recurrence, bit-identical ranks — and the
    * result is checkpointed like the loop's last cut; a small graph
    * otherwise pays the job floor of every round (q166: 27 jobs). Above
    * the threshold or at `-1`, the distributed loop runs.
    */
  def pageRankFixed(edges: DataFrame, iters: Int,
                    scale: Long = 1000000000000L,
                    dampNum: Int = 17, dampDen: Int = 20,
                    checkpointDir: Option[String] = None): DataFrame =
    pageRankLoop(edges, None, iters, scale, dampNum, dampDen, checkpointDir)

  /** Warm-start continuation: run `iters` more power iterations from a
    * PERSISTED rank table (node, rank) instead of the uniform start —
    * the maintenance-state form of [[pageRankFixed]]. The rank vector is
    * the recurrence's ENTIRE state, and every step is integer
    * fixed-point, so `resume(ranks_k, m)` over the same edge table is
    * BIT-IDENTICAL to a cold `pageRankFixed(k + m)` (GraphSpec-pinned) —
    * no float drift can diverge the halves, which is what makes the rank
    * table safe to persist and resume across sessions. 100 TB posture:
    * a daily authority refresh pays only its incremental iterations
    * against yesterday's at-rest ranks, never the full cold start; on a
    * CHANGED edge table the resumed vector is a standard warm start
    * (converges to the same fixed point, intermediate rounds are not
    * cold-run-identical — the exactness contract is same-graph only).
    *
    * `ranks0` must cover exactly the graph's nodes; missing nodes would
    * silently contribute zero mass, so coverage is validated (one
    * anti-join count) and a mismatch fails loudly. The admission checks
    * run before the size rule of [[pageRankFixed]] picks the one-task or
    * the distributed path.
    */
  def pageRankResume(edges: DataFrame, ranks0: DataFrame, iters: Int,
                     scale: Long = 1000000000000L,
                     dampNum: Int = 17, dampDen: Int = 20,
                     checkpointDir: Option[String] = None): DataFrame =
    pageRankLoop(edges, Some(ranks0), iters, scale, dampNum, dampDen,
      checkpointDir)

  private def pageRankLoop(edges: DataFrame, ranks0: Option[DataFrame],
                           iters: Int, scale: Long,
                           dampNum: Int, dampDen: Int,
                           checkpointDir: Option[String]): DataFrame = {
    // one chain per fixpoint: invariants keep their origin stats and are
    // deleted when the loop closes; each cut supersedes (and deletes) the
    // previous round's reliable files — only the RETURNED frame's
    // checkpoint outlives the call (see FreshPlan.CutChain).
    val chain = FreshPlan.chain(checkpointDir)
    require(iters >= 1, s"pageRankFixed: iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"pageRankFixed: need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    val e = edges
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .distinct()
    // Degree rides the edge row so the per-iteration join is ONE join,
    // not two; materialized once, reused every round. (Round 20 A/B:
    // deriving deg as a window count over src — to make the edge side
    // arrive pre-partitioned for the iteration join — measured SLOWER
    // (JobProfile q166 8.0 → 9.5-10.4 s): the rank vector is node-sized
    // and BROADCASTS onto the edges, so the edge table was never
    // re-exchanged per iteration in the first place, and the window
    // only added a full edge sort. The groupBy + broadcast-join-back
    // stays.)
    //
    // ONE setup materialization instead of three (round 21): `withDeg`
    // subsumes `e` (the deg join is inner on a key every edge has, so
    // withDeg's rows ARE e's rows) and embeds `deg` — materializing the
    // intermediate frames bought nothing the withDeg blocks don't hold,
    // and each extra materialization is jobs at local scale / a full
    // checkpoint write (twice that, pre-round-21) on the reliable path.
    // The two e-consumers inside withDeg's one plan share the distinct's
    // exchange (ReusedExchange — same canonical subtree).
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val (withDeg, small) = chain.sizedInvariant(e.join(deg, "src"))
    // materialized only where read: the loop and the resume checks
    lazy val nodes = withDeg.select(col("src").as("node"))
      .unionByName(withDeg.select(col("dst").as("node")))
      .distinct()
      .transform(chain.invariant(_))
    // the final cut / the one-task result is materialized either way;
    // loop invariants are dead
    try {
      if (small) {
        // a resumed vector passes the same admission checks first
        val r0 = ranks0.map(admitted(nodes, _, scale, chain))
        FreshPlan.checkpointFresh(
          ranksInOneTask(withDeg, r0, iters, scale, dampNum, dampDen),
          checkpointDir)
      } else ranksByRounds(withDeg, nodes, ranks0, iters, scale, dampNum,
        dampDen, chain)
    } finally chain.close()
  }

  /** `teleportScaled` = (scale·(dampDen−dampNum)) div dampDen without
    * overflowing scale·(dampDen−dampNum): the quot/rem split is exact.
    */
  private def teleportScaled(scale: Long, dampNum: Int, dampDen: Int): Long =
    scale / dampDen * (dampDen - dampNum) +
      scale % dampDen * (dampDen - dampNum) / dampDen

  /** The loop's small-input path: the same integer recurrence over
    * `withDeg`'s rows in one task — same truncating divisions, teleport
    * and dangling-mass terms and `n = 0` guard, so the ranks are
    * bit-identical to [[ranksByRounds]]'. `r0` is an admitted resume
    * vector (nodes outside the graph are dropped, as the loop's semi-join
    * drops them; a null rank contributes nothing, as in the loop's sums).
    */
  private def ranksInOneTask(withDeg: DataFrame, r0: Option[DataFrame],
                             iters: Int, scale: Long,
                             dampNum: Int, dampDen: Int): DataFrame = {
    val f = withDeg.schema
    val (iSrc, iDst, iDeg) =
      (f.fieldIndex("src"), f.fieldIndex("dst"), f.fieldIndex("deg"))
    val teleport = teleportScaled(scale, dampNum, dampDen)
    // the loop's schema: node is an endpoint, rank an arithmetic result
    val schema = StructType(Seq(
      StructField("node", LongType, f("src").nullable || f("dst").nullable),
      StructField("rank", LongType, nullable = true)))
    FreshPlan.inOneTask(schema, withDeg +: r0.toSeq: _*) { inputs =>
      val src, dst, deg = Array.newBuilder[Long]
      inputs.head.foreach { r =>
        src += r.getLong(iSrc); dst += r.getLong(iDst); deg += r.getLong(iDeg)
      }
      val (s, d, dg) = (src.result(), dst.result(), deg.result())
      val all = s ++ d
      java.util.Arrays.sort(all)
      val ids = all.distinct
      val n = ids.length
      def at(v: Long) = java.util.Arrays.binarySearch(ids, v)
      val (si, di) = (s.map(at), d.map(at))
      val sends = new Array[Boolean](n)
      si.foreach(sends(_) = true)
      var rank = inputs.drop(1).headOption match {
        case None => Array.fill(n)(if (n == 0) 0L else scale / n)
        case Some(rows) =>
          val r = new Array[Long](n)
          rows.foreach { row =>
            if (!row.isNullAt(0) && !row.isNullAt(1)) {
              val k = at(row.getLong(0))
              if (k >= 0) r(k) = row.getLong(1)
            }
          }
          r
      }
      val teleportPerNode = if (n == 0) 0L else teleport / n
      for (_ <- 1 to iters) {
        val sum = new Array[Long](n)
        for (i <- si.indices) sum(di(i)) += rank(si(i)) / dg(i)
        var dm = 0L // the danglers' mass
        for (v <- 0 until n if !sends(v)) dm += rank(v)
        val spread = dm * dampNum / dampDen / math.max(n, 1L)
        rank = Array.tabulate(n)(v =>
          teleportPerNode + sum(v) * dampNum / dampDen + spread)
      }
      ids.indices.iterator.map(v => InternalRow(ids(v), rank(v)))
    }
  }

  /** `ranks0` checked against the graph's `nodes` — coverage, duplicates,
    * mass envelope — and materialized as a loop invariant of `chain`.
    */
  private def admitted(nodes: DataFrame, ranks0: DataFrame, scale: Long,
                       chain: FreshPlan.CutChain): DataFrame = {
    val r = ranks0.select(col("node").cast("long").as("node"),
      col("rank").cast("long").as("rank")).transform(chain.invariant(_))
    // All three admission checks — coverage, duplication, mass
    // envelope — from ONE action (round 20: they were three separate
    // jobs; a full-outer join of the node set against the per-node
    // rank aggregate carries every signal at once, and the resumed
    // vector is validated on every execution, so the action count is
    // per-run cost, not build cost).
    val chk = nodes
      .join(r.groupBy(col("node")).agg(count(lit(1)).as("_c"),
          sum(col("rank")).as("_m")),
        Seq("node"), "full_outer")
      .agg(
        coalesce(sum(when(col("_c").isNull, 1L).otherwise(0L)), lit(0L))
          .as("missing"),
        coalesce(sum(when(col("_c") > 1, 1L).otherwise(0L)), lit(0L))
          .as("dups"),
        coalesce(sum(col("_m")), lit(0L)).as("mass"))
      .head()
    val missing = chk.getLong(0)
    require(missing == 0L,
      s"pageRankResume: ranks0 is missing $missing graph node(s) — " +
        "a resumed vector must cover the graph it is resumed on")
    // a doubly-written vector (append instead of overwrite, retried
    // job) would pass the coverage check and silently DOUBLE-count
    // mass in the first contrib aggregate — refuse it
    val dup = chk.getLong(1)
    require(dup == 0L,
      s"pageRankResume: ranks0 has $dup duplicated node(s) — a rank " +
        "vector must be one row per node (was it appended twice?)")
    // scale compatibility: a vector persisted under a DIFFERENT scale
    // (or truncated mid-write with plausible per-node values) passes
    // both checks above and silently resumes to wrong-magnitude
    // ranks. Total mass is conserved by the recurrence up to
    // truncation evaporation (and a changed-graph warm start extends
    // with zero-mass rows), so the sum must sit near `scale` — a
    // 1-row order-of-magnitude envelope. Mass counts EVERY r row,
    // including persisted nodes no longer in the graph (they are
    // dropped below, exactly as before).
    val mass = chk.getLong(2)
    require(mass > scale / 2 && mass <= scale + scale / 100,
      s"pageRankResume: ranks0 total mass $mass is outside the " +
        s"integer-truncation envelope of scale=$scale — was the " +
        "vector persisted under a different scale, or half-written?")
    r
  }

  /** The distributed loop: per round one join of the rank table onto the
    * degree-annotated edges and one keyed SUM, lineage cut every
    * `cutEvery` rounds through `chain`.
    */
  private def ranksByRounds(withDeg: DataFrame, nodes: DataFrame,
                            ranks0: Option[DataFrame], iters: Int,
                            scale: Long, dampNum: Int, dampDen: Int,
                            chain: FreshPlan.CutChain): DataFrame = {
    def mat(df: DataFrame): DataFrame = chain.invariant(df)
    def cutFresh(df: DataFrame): DataFrame = chain.cut(df)
    // The node count is a LITERAL, not a broadcast 1-row frame (round
    // 21): every round cross-joined broadcast(nTotal) just to divide by
    // n — a per-round broadcast stage whose payload is one long. One
    // count off the materialized node blocks replaces them all, and the
    // teleport term div(teleportScaled, n) constant-folds outright.
    // Integer semantics identical: Long./ truncates exactly like div on
    // the non-negative operands here.
    val n = nodes.count()
    // Loop-invariant: the nodes with no out-edges, checked once so
    // dangler-free graphs pay nothing per iteration — and MATERIALIZED
    // only on the dangler path (round 21): the common dangler-free case
    // paid a checkpoint for a frame nothing ever read again.
    val danglers0 = nodes
      .join(withDeg.select(col("src").as("node")), Seq("node"), "left_anti")
    val hasDanglers = !danglers0.isEmpty
    val danglers = if (hasDanglers) mat(danglers0) else danglers0
    val teleport = teleportScaled(scale, dampNum, dampDen)
    // Lineage-cut stride: the per-round eager checkpoint exists ONLY to
    // stop the SPARK-39834 stat explosion and keep plans round-sized —
    // neither needs a cut EVERY round. A dangler-free graph references
    // `ranks` exactly once per round (the contrib join), so K
    // uncheckpointed rounds compose into one linear-depth plan whose
    // stats multiply a bounded K times before the next cut resets them;
    // the eager-job count (the dominant cost of small/medium fixpoints —
    // q166's 3-round run spends most of its time scheduling, not
    // computing) drops by ~K×. A graph WITH danglers reads `ranks`
    // TWICE per round (contrib + dangling-mass aggregate), so an uncut
    // round would EMBED the previous round's plan twice — exponential
    // plan growth — and keeps the every-round cut.
    // Preemption contract of the K-stride on the RELIABLE path: a cut
    // every Kth round means an executor/node loss recomputes at most K
    // rounds from the last checkpoint files instead of failing the run —
    // recovery cost K·(round time) against (K−1)/K fewer full rank-table
    // writes per fixpoint. K = 5 suits short refresh fixpoints (≤ 1 round
    // of slack per ~daily run); raise the stride only when the per-round
    // write dominates the round itself. Output is bit-identical for any
    // K (integer fixed-point; GraphSpec pins reliable ≡ local).
    val cutEvery = if (hasDanglers) 1 else 5
    // n = 0 (empty graph) leaves every frame empty; guard the eager
    // literal divisions the old per-row div never evaluated on zero rows.
    val initRank = if (n == 0) 0L else scale / n
    val teleportPerNode = if (n == 0) 0L else teleport / n
    var ranks = ranks0 match {
      case None =>
        // the uniform start is one cheap projection over checkpointed
        // nodes — cutting it buys nothing on the dangler-free path
        val init = nodes.select(col("node"), lit(initRank).as("rank"))
        if (hasDanglers) cutFresh(init) else init
      case Some(r0) =>
        // extra persisted nodes no longer in the graph are dropped: they
        // can neither receive nor (having no out-edges here) send mass.
        cutFresh(admitted(nodes, r0, scale, chain)
          .join(nodes, Seq("node"), "left_semi"))
    }
    for (i <- 1 to iters) {
      val contrib = ranks
        .join(withDeg, ranks("node") === withDeg("src"))
        .select(col("dst").as("node"),
          call_function("div", col("rank"), col("deg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      val withBase = nodes.join(contrib, Seq("node"), "left")
      val withDm =
        if (hasDanglers)
          withBase.crossJoin(broadcast(ranks
            .join(danglers, Seq("node"), "left_semi")
            .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))))
        else withBase.withColumn("dm", lit(0L))
      val next = withDm
        .select(col("node"),
          (lit(teleportPerNode)
            + call_function("div",
                coalesce(col("s"), lit(0L)) * dampNum, lit(dampDen.toLong))
            + call_function("div",
                call_function("div", col("dm") * dampNum, lit(dampDen.toLong)),
                // max(n,1): with n = 0 every frame is empty and dm = 0,
                // but constant folding would still evaluate div(_, 0)
                // at plan time and throw — the clamped divisor is never
                // observed by a row
                lit(math.max(n, 1L)))).as("rank"))
      ranks =
        if (i == iters || i % cutEvery == 0) cutFresh(next)
        else next
    }
    ranks
  }
}
