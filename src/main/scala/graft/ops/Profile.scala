package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling: per-column null/distinct/min/max statistics in one
  * declared aggregation — the discovery-side sibling of the enforcement
  * gate ([[graft.ops.Constraints]]): the gate checks rules you already
  * know; the profiler tells you which rules to write.
  *
  * Output is long format, one row per profiled column: `col_name`,
  * `n_rows`, `n_null`, `n_distinct`, `min_s`, `max_s` (plus the group
  * column for [[profileBy]]). Min/max are computed on the NATIVE type
  * (so `9 < 10` for numerics) and cast to string afterwards for the
  * uniform schema — cross-engine stable for integer and string columns
  * (profile DOUBLE columns through an explicit rounding projection
  * first; double→string formatting is not part of the parity contract).
  *
  * Scale posture: one scan either way. The exact form's multiple
  * `COUNT(DISTINCT)`s make Catalyst plan an Expand (one duplicated row
  * per distinct-aggregate — ×cols input amplification before the
  * map-side partial dedup); that is the standard Spark plan and fine
  * into the low-terabyte range, but at 100 TB profile with
  * `exact = false`: `approx_count_distinct` (HLL++) keeps the single
  * no-Expand pass and every other statistic stays exact. ProfileSpec
  * pins the approx form's distinct estimates within HLL rsd of the
  * exact form; q137's registered twin is the q136 exact profile.
  */
object Profile {

  /** Per-column stats over `cols` (default: every column). */
  def profile(df: DataFrame, cols: Seq[String] = Nil,
              exact: Boolean = true): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    profiled(df, None, cs, exact)
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_s"), col("max_s"))
  }

  /** [[profile]] per stratum: the same statistics with one row per
    * (group, column) — "is source X's doc_id range disjoint from source
    * Y's", "which segment carries the nulls". Grouped instead of global,
    * otherwise the identical single-aggregation + stack pivot.
    */
  def profileBy(df: DataFrame, groupCol: String, cols: Seq[String],
                exact: Boolean = true): DataFrame = {
    require(!cols.contains(groupCol),
      s"profileBy: group column $groupCol cannot be profiled")
    profiled(df, Some(groupCol), cols, exact)
  }

  /** The shared core: one (optionally grouped) aggregation of all four
    * stats per column, pivoted long by a `stack()` generator over the
    * one-row-per-group stats frame — never a second scan.
    */
  private def profiled(df: DataFrame, groupCol: Option[String],
                       cs: Seq[String], exact: Boolean): DataFrame = {
    require(cs.nonEmpty, "profile: no columns")
    // the stack() pivot embeds column names in an expr string: backticks
    // would escape the quoting and quotes would corrupt the label
    // literal — refuse loudly rather than build a broken projection
    (cs ++ groupCol).foreach(c =>
      require(!c.contains("`") && !c.contains("'"),
        s"profile: column name must not contain backticks/quotes: $c"))
    val nd: String => Column =
      if (exact) c => countDistinct(col(c))
      else c => approx_count_distinct(col(c))
    val aggs: Seq[Column] = cs.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"), nd(c).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    } :+ count(lit(1)).as("n_rows")
    val stats = groupCol match {
      case Some(g) => df.groupBy(col(g)).agg(aggs.head, aggs.tail: _*)
      case None => df.agg(aggs.head, aggs.tail: _*)
    }
    val stacked = cs.map(c => s"'$c', `nn_$c`, `nd_$c`, `mn_$c`, `mx_$c`")
      .mkString(", ")
    stats.select(groupCol.map(col).toSeq ++ Seq(col("n_rows"),
      expr(s"stack(${cs.size}, $stacked) AS " +
        "(col_name, n_non_null, n_distinct, min_s, max_s)")): _*)
      .select(groupCol.map(col).toSeq ++ Seq(col("col_name"), col("n_rows"),
        (col("n_rows") - col("n_non_null")).as("n_null"),
        col("n_distinct"), col("min_s"), col("max_s")): _*)
  }

  /** Distribution-drift buckets between a REFERENCE snapshot and a
    * CURRENT one — the counting half of the Population Stability Index
    * (the standard "did this week's corpus stop looking like last
    * week's" monitor). Bucket edges are the reference's exact
    * interpolated `(1..n−1)/n` percentiles (cross-engine parity pinned
    * by q130); each row's bucket is the count of edges strictly below
    * its value — `nBuckets−1` literal comparisons, map-side, so BOTH
    * scans are single passes with a strata-free aggregate. Output
    * `(bucket, n_ref, n_cur)` is all-integer, hash-exact; empty buckets
    * on either side still appear (full outer + zero-fill) because an
    * emptied bucket is exactly the drift signal. Edges land on the
    * driver as `nBuckets−1` doubles — bounded, the centroid/codebook
    * discipline. Feed [[psi]] for the scalar.
    */
  def driftBuckets(ref: DataFrame, cur: DataFrame, valueCol: String,
                   nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2, s"driftBuckets: nBuckets >= 2, got $nBuckets")
    val edges = referenceEdges(ref, valueCol, nBuckets)
    joinBuckets(bucketCounts(ref, valueCol, edges, "n_ref"),
      bucketCounts(cur, valueCol, edges, "n_cur"))
  }

  /** The reference snapshot's interpolated `(1..n−1)/n` percentiles —
    * the frozen half of the PSI monitor. Lands on the driver as
    * `nBuckets−1` doubles (bounded, the centroid/codebook discipline);
    * [[graft.streaming.DriftStream]] persists them so a long-lived
    * monitor never rescans its reference.
    */
  def referenceEdges(ref: DataFrame, valueCol: String,
                     nBuckets: Int): Seq[Double] = {
    requirePlainName(valueCol, "referenceEdges")
    val row = ref.agg(edgeAgg(valueCol, nBuckets).as("e")).collect()(0)
    requireEdges(row.getSeq[Double](0), valueCol)
  }

  /** `valueCol` is interpolated into an `expr()` percentile string (and,
    * for the persisted reference, a sidecar line): a backtick/quote would
    * become arbitrary SQL and a newline would shift sidecar parsing —
    * refuse loudly, the same contract as the profile stack pivot.
    */
  private[graft] def requirePlainName(c: String, where: String): Unit =
    require(!c.contains("`") && !c.contains("'") && !c.contains("\n") &&
        !c.contains("\r"),
      s"$where: column name must not contain backticks/quotes/newlines: $c")

  /** Guard for every KS form that CASTS the monitored column to LONG
    * (the stored reference and the multi-column explode need a uniform
    * value type): casting a fractional column would silently truncate —
    * 0.1 and 0.9 both become 0 and a complete distribution shift reads
    * as d = 0 (review finding). The one-shot [[ksDrift]] counts values
    * in their native type and takes any orderable column; this guard
    * keeps the casting forms from being silently WEAKER than it.
    */
  private[graft] def requireIntegralColumn(df: DataFrame, c: String,
                                           where: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(c).dataType
    require(dt == ByteType || dt == ShortType || dt == IntegerType ||
        dt == LongType,
      s"$where: column '$c' is ${dt.simpleString} — this form counts " +
        "LONG values exactly (the cents/id discipline); cast fractional " +
        "domains to integral units explicitly, or use ksDriftSketch / " +
        "the one-shot ksDrift (native-typed) for continuous values")
  }

  /** The ONE definition of the reference-percentile aggregate (shared by
    * the single- and multi-column forms so the edge recipe can never
    * diverge between them).
    */
  private def edgeAgg(valueCol: String, nBuckets: Int): Column =
    expr(s"percentile($valueCol, array(${(1 until nBuckets)
      .map(i => i.toDouble / nBuckets).mkString(",")}))")

  private def requireEdges(edges: Seq[Double],
                           valueCol: String): Seq[Double] = {
    require(edges != null,
      s"referenceEdges: the reference snapshot has no non-null " +
        s"'$valueCol' rows — a drift reference cannot be empty")
    edges
  }

  /** Bucket id of `valueCol` against literal edges: the count of edges
    * strictly below the value — `edges.size` codegen'd comparisons,
    * map-side. Null values land in bucket 0 (every comparison is null →
    * otherwise(0)), so histograms always cover every row.
    */
  private[graft] def bucketOf(valueCol: String, edges: Seq[Double]): Column =
    edges.map(e =>
      when(col(valueCol).cast("double") > e, 1).otherwise(0))
      .reduce(_ + _)

  /** Map-side bucket histogram against literal edges: one pass, one
    * strata-free aggregate.
    */
  def bucketCounts(df: DataFrame, valueCol: String, edges: Seq[Double],
                   as: String): DataFrame =
    df.select(bucketOf(valueCol, edges).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(as))

  /** Multi-column drift in ONE scan per side — the [[profile]] stack
    * discipline applied to the PSI counter: every monitored column's
    * reference edges are collected in a single percentile aggregate,
    * then each row emits its (col_name, bucket) pair for every column
    * via one explode (cols × rows pairs, map-side) into one grouped
    * count. A naive per-column loop pays `|cols|` scans of BOTH
    * snapshots; real monitoring watches many columns on every refresh,
    * which makes this the difference between one corpus pass and a
    * dozen. Output `(col_name, bucket, n_ref, n_cur)`, all-integer,
    * hash-exact; empty buckets survive (full outer + zero-fill).
    */
  def driftBucketsMulti(ref: DataFrame, cur: DataFrame,
                        valueCols: Seq[String],
                        nBuckets: Int = 10): DataFrame = {
    require(valueCols.nonEmpty, "driftBucketsMulti: no columns")
    require(nBuckets >= 2, s"driftBucketsMulti: nBuckets >= 2, got $nBuckets")
    valueCols.foreach(requirePlainName(_, "driftBucketsMulti"))
    val edgeRow = ref.agg(edgeAgg(valueCols.head, nBuckets).as("_e0"),
      valueCols.tail.zipWithIndex.map { case (c, i) =>
        edgeAgg(c, nBuckets).as(s"_e${i + 1}") }: _*)
      .collect()(0)
    val edgesByCol = valueCols.zipWithIndex.map { case (c, i) =>
      c -> requireEdges(edgeRow.getSeq[Double](i), c)
    }.toMap
    def hist(df: DataFrame, as: String): DataFrame =
      df.select(explode(array(valueCols.map(c =>
          struct(lit(c).as("col_name"),
            bucketOf(c, edgesByCol(c)).as("bucket"))): _*)).as("_cb"))
        .groupBy(col("_cb.col_name").as("col_name"),
          col("_cb.bucket").as("bucket"))
        .agg(count(lit(1)).as(as))
    hist(ref, "n_ref")
      .join(hist(cur, "n_cur"), Seq("col_name", "bucket"), "full_outer")
      .select(col("col_name"), col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
  }

  /** Full-outer bucket align + zero-fill (an emptied bucket IS the drift
    * signal, so it must appear).
    */
  private[graft] def joinBuckets(ref: DataFrame, cur: DataFrame): DataFrame =
    ref.join(cur, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))

  /** The PSI scalar over [[driftBuckets]] output:
    * `Σ (p−q)·ln(p/q)` with add-half smoothing so emptied buckets score
    * finitely instead of ∞ — engine-internal (ln-sum; the bucket COUNTS
    * are the oracle-checked artifact, the q74/q154 discipline). Rule of
    * thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
    */
  def psi(buckets: DataFrame): DataFrame = {
    val tot = buckets.agg(sum(col("n_ref")).as("_tr"),
      sum(col("n_cur")).as("_tc"), count(lit(1)).as("_nb"))
    val p = (col("n_ref") + 0.5) / (col("_tr") + col("_nb") * 0.5)
    val q = (col("n_cur") + 0.5) / (col("_tc") + col("_nb") * 0.5)
    buckets.crossJoin(broadcast(tot))
      .select(((p - q) * log(p / q)).as("_term"))
      .agg(sum(col("_term")).as("psi"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift — the bucket-free
    * complement of PSI ([[driftBuckets]] + [[psi]]): PSI quantizes into
    * a frozen reference geometry and can miss a shift that stays inside
    * bucket walls; KS is the sup-distance between the two EXACT
    * empirical CDFs, no edges to choose. One row:
    * `(d_num, d_stat, n_ref, n_cur)` where
    * `d_stat = d_num / (n_ref·n_cur)` and `d_num` is the integer
    * sup `|F_ref·n_cur − F_cur·n_ref|` — the cross-multiply happens in
    * DECIMAL(38,0) (exact), but the published `d_num` is a BIGINT:
    * `d_num ≤ n_ref·n_cur`, so it fits 63 bits whenever the snapshot
    * pair does, and a plain long serializes byte-identically across
    * engines where a DECIMAL128 cell does not (the r15 driver-hash
    * lesson). Snapshot pairs past 2^63 products refuse loudly — at that
    * scale use [[ksDriftSketch]], whose state is O(k) regardless. The
    * only float is one final IEEE divide, bit-reproducible across
    * engines.
    *
    * Scale shape: one groupBy per side onto the distinct-value frame,
    * then [[Windows.scalableCumSum]] for both CDFs in a single pass —
    * range-partitioned, never a one-partition global sort. NULLs carry
    * no distribution information and are dropped (profile them via
    * [[profile]]'s n_null instead).
    */
  def ksDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
              numPartitions: Int = 0): DataFrame = {
    def counted(df: DataFrame, own: String, other: String) =
      df.select(col(valueCol).as("v")).filter(col("v").isNotNull)
        .groupBy(col("v")).agg(count(lit(1)).as(own))
        .withColumn(other, lit(0L))
    val u = counted(ref, "ca", "cb").unionByName(counted(cur, "cb", "ca"))
      .groupBy(col("v")).agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .localCheckpoint()
    val tot = u.agg(sum(col("ca")), sum(col("cb"))).head()
    require(!tot.isNullAt(0) && tot.getLong(0) > 0 &&
      !tot.isNullAt(1) && tot.getLong(1) > 0,
      s"ksDrift: both snapshots must have non-null $valueCol rows")
    val (na, nb) = (tot.getLong(0), tot.getLong(1))
    ksSup(u, na, nb, numPartitions)
  }

  /** The shared KS tail: cumulate both sides' per-value counts through
    * [[Windows.scalableCumSum]] and take the exact cross-multiplied sup.
    * `u` must be the merged (v, ca, cb) per-value count frame; `na`/`nb`
    * the side totals. Also the probe tail of
    * [[graft.streaming.DriftStream.ksBatch]] (state + batch counts in,
    * identical statistic out).
    */
  private[graft] def ksSup(u: DataFrame, na: Long, nb: Long,
                           numPartitions: Int): DataFrame = {
    requireKsProductFits(na, nb)
    Windows.scalableCumSum(u, "v", Seq("ca", "cb"), numPartitions)
      .agg(max(abs(col("cum_ca").cast("decimal(38,0)") * nb -
        col("cum_cb").cast("decimal(38,0)") * na)).as("_d"))
      .select(col("_d").cast("long").as("d_num"),
        (col("_d").cast("double") / lit(na.toDouble * nb.toDouble))
          .as("d_stat"),
        lit(na).as("n_ref"), lit(nb).as("n_cur"))
  }

  /** Guard for the BIGINT `d_num` contract: `d_num ≤ na·nb`, so the
    * published long is exact iff the product fits 63 bits. Far beyond
    * any single-snapshot pair we expect (3×10^9 rows PER SIDE before it
    * trips); the refusal names the O(k)-state escape hatch.
    */
  private[graft] def requireKsProductFits(na: Long, nb: Long): Unit =
    require(nb == 0L || na <= Long.MaxValue / nb,
      s"exact KS: n_ref*n_cur = $na*$nb overflows the BIGINT d_num " +
        "contract — use ksDriftSketch (mergeable KLL state) at this scale")

  /** Multi-column [[ksDrift]] in ONE scan per side — the
    * [[driftBucketsMulti]] discipline applied to the exact KS: each row
    * explodes map-side into `(col_name, value)` structs for every
    * monitored column, so |cols| KS statistics cost the same two scans
    * as one (a per-column loop would pay |cols| scans of both
    * snapshots). The CDF pass is [[Windows.scalableCumSumBy]] grouped by
    * column name — every column's range-partitioned cumulation rides a
    * SINGLE shuffle, never a one-partition sort. Values are cast to
    * LONG (the monitored columns must be integral — the cents/id
    * discipline; floats would break the exact cross-multiply). Output:
    * one row per column, `(col_name, d_num, d_stat, n_ref, n_cur)` with
    * the same exact cross-multiplied `d_num` contract as [[ksDrift]].
    * Per-column NULLs are dropped per column (a row missing one metric
    * still contributes its others).
    */
  def ksDriftMulti(ref: DataFrame, cur: DataFrame, valueCols: Seq[String],
                   numPartitions: Int = 0): DataFrame = {
    require(valueCols.nonEmpty, "ksDriftMulti: no columns")
    valueCols.foreach { c =>
      requireIntegralColumn(ref, c, "ksDriftMulti")
      requireIntegralColumn(cur, c, "ksDriftMulti")
    }
    def counted(df: DataFrame, own: String, other: String) =
      df.select(explode(array(valueCols.map(c =>
          struct(lit(c).as("c"), col(c).cast("long").as("v"))): _*)).as("_cv"))
        .select(col("_cv.c").as("c"), col("_cv.v").as("v"))
        .filter(col("v").isNotNull)
        .groupBy(col("c"), col("v")).agg(count(lit(1)).as(own))
        .withColumn(other, lit(0L))
    val u = counted(ref, "ca", "cb").unionByName(counted(cur, "cb", "ca"))
      .groupBy(col("c"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .localCheckpoint()
    val tot = u.groupBy(col("c"))
      .agg(sum(col("ca")).as("n_ref"), sum(col("cb")).as("n_cur"))
    val totRows = tot.collect() // |valueCols| rows, driver-bounded
    require(totRows.length == valueCols.length &&
      totRows.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0),
      s"ksDriftMulti: every monitored column needs non-null rows in BOTH " +
        s"snapshots; totals = ${totRows.mkString(", ")}")
    totRows.foreach(r => requireKsProductFits(r.getLong(1), r.getLong(2)))
    ksSupBy(u, tot, "c", "col_name", numPartitions)
  }

  /** Keyed KS tail shared by [[ksDriftMulti]] (key = column name) and
    * [[ksDriftBy]] (key = stratum): grouped cumulation, broadcast of the
    * per-key totals, exact cross-multiplied sup per key.
    */
  private def ksSupBy(u: DataFrame, tot: DataFrame, keyCol: String,
                      keyOut: String, numPartitions: Int): DataFrame =
    Windows.scalableCumSumBy(u, Seq(keyCol), "v", Seq("ca", "cb"),
        numPartitions)
      .join(broadcast(tot), Seq(keyCol))
      .groupBy(col(keyCol), col("n_ref"), col("n_cur"))
      .agg(max(abs(col("cum_ca").cast("decimal(38,0)") * col("n_cur") -
        col("cum_cb").cast("decimal(38,0)") * col("n_ref"))).as("_d"))
      .select(col(keyCol).as(keyOut), col("_d").cast("long").as("d_num"),
        (col("_d").cast("double") /
          (col("n_ref").cast("double") * col("n_cur").cast("double")))
          .as("d_stat"),
        col("n_ref"), col("n_cur"))

  /** Per-stratum [[ksDrift]] — one KS row per value of `strataCol`
    * (language, source, shard): the production monitor that catches a
    * shift INSIDE one language that the pooled statistic dilutes away.
    * Same two scans and single grouped range shuffle as [[ksDriftMulti]]
    * (strata ride [[Windows.scalableCumSumBy]]'s group key); per-stratum
    * totals are strata-bounded on the driver (the centroid discipline).
    * NULL strata and NULL values are dropped. A stratum present in only
    * ONE snapshot has no defined KS and is REFUSED loudly (a vanished or
    * brand-new stratum is a schema-level drift signal — read it off
    * [[profileBy]] counts, don't let it silently disappear from a drift
    * series). Output: (strataCol, d_num, d_stat, n_ref, n_cur).
    */
  def ksDriftBy(ref: DataFrame, cur: DataFrame, valueCol: String,
                strataCol: String, numPartitions: Int = 0): DataFrame = {
    def counted(df: DataFrame, own: String, other: String) =
      df.select(col(strataCol).as("g"), col(valueCol).as("v"))
        .filter(col("v").isNotNull && col("g").isNotNull)
        .groupBy(col("g"), col("v")).agg(count(lit(1)).as(own))
        .withColumn(other, lit(0L))
    val u = counted(ref, "ca", "cb").unionByName(counted(cur, "cb", "ca"))
      .groupBy(col("g"), col("v"))
      .agg(sum(col("ca")).as("ca"), sum(col("cb")).as("cb"))
      .localCheckpoint()
    val tot = u.groupBy(col("g"))
      .agg(sum(col("ca")).as("n_ref"), sum(col("cb")).as("n_cur"))
      .localCheckpoint() // strata-bounded; feeds the guards AND the join
    // ONE strata-bounded collect serves all three guards (one-sided,
    // emptiness, BIGINT-product) — not three driver round-trips
    val totRows = tot.collect()
    val oneSided = totRows
      .filter(r => r.getLong(1) == 0L || r.getLong(2) == 0L)
      .map(_.get(0))
    require(oneSided.isEmpty,
      s"ksDriftBy: strata present in only one snapshot: " +
        s"${oneSided.mkString(", ")} — KS is undefined one-sided; " +
        "surface them via profileBy counts instead")
    require(totRows.nonEmpty,
      s"ksDriftBy: no non-null ($strataCol, $valueCol) rows in either " +
        "snapshot")
    totRows.foreach(r => requireKsProductFits(r.getLong(1), r.getLong(2)))
    ksSupBy(u, tot, "g", strataCol, numPartitions)
  }

  /** Sketch-approximated two-sample KS — the 100 TB twin of [[ksDrift]].
    * The exact form's range shuffle moves every distinct value; here
    * each side folds to ONE KLL sketch in a map-side-combined aggregate
    * (two full scans, zero data shuffled — the sketch IS the reduction),
    * and the sup runs over a bounded candidate grid: both sketches'
    * quantiles at `grid`+1 evenly-spaced ranks. Each side's CDF at a
    * candidate is read off its OWN quantile grid — the largest grid rank
    * whose quantile is ≤ the point, which lies within 1/grid below the
    * sketch's rank there (Spark's `kll_sketch_get_rank_double` reads
    * ranks only at constant points). All 1-row arithmetic after the
    * aggregates — `transform`/`filter`/`aggregate` HOFs, nothing touches
    * the driver.
    *
    * Error: `|d_est − d_exact| ≤ 2ε_k + 2/grid` whp (ε ≈ 1.65% at the
    * default k = 200; the KS sup between grid points moves at most the
    * rank mass a grid step spans, and the grid CDF reads add at most one
    * more step). KLL compaction is randomized, so the ESTIMATE varies run
    * to run within the bound — the exact twin q190 stays the
    * oracle-checked form (spec pins the tolerance at large k).
    * Output: `(d_est, n_ref, n_cur)`.
    */
  def ksDriftSketch(ref: DataFrame, cur: DataFrame, valueCol: String,
                    k: Int = 200, grid: Int = 256): DataFrame = {
    require(grid >= 2, s"ksDriftSketch: grid >= 2, got $grid")
    def side(df: DataFrame, sk: String, n: String) =
      df.select(col(valueCol).cast("double").as("v"))
        .filter(col("v").isNotNull)
        .agg(kll_sketch_agg_double(col("v"), k).as(sk), count(lit(1)).as(n))
    val ranks = array((0 to grid).map(i => lit(i.toDouble / grid)): _*)
    // an empty side would propagate a NULL d_est a threshold monitor
    // silently passes (review finding) — refuse like every sibling, but
    // with zero extra scans: the guard rides the 1-row result, ahead of
    // the quantile read, which fails on an empty sketch
    def quantiles(sk: String): Column =
      when(col("n_ref") === 0 || col("n_cur") === 0,
        raise_error(lit("ksDriftSketch: both snapshots must have " +
          "non-null rows")).cast("array<double>"))
        .otherwise(kll_sketch_get_quantile_double(col(sk), ranks))
    def cdf(qs: Column, x: Column): Column =
      greatest(size(filter(qs, q => q <= x)) - 1, lit(0)) / grid
    side(ref, "ska", "n_ref").crossJoin(side(cur, "skb", "n_cur"))
      .select(col("n_ref"), col("n_cur"),
        quantiles("ska").as("qa"), quantiles("skb").as("qb"))
      .select(
        aggregate(transform(array_union(col("qa"), col("qb")),
            x => abs(cdf(col("qa"), x) - cdf(col("qb"), x))), lit(0.0),
          (acc, d) => greatest(acc, d)).as("d_est"),
        col("n_ref"), col("n_cur"))
  }
}
