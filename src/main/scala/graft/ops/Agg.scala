package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation operators (SURVEY.md §2.4: A3–A7).
  *
  * Oracle-parity convention: monetary doubles in the testdata are exact
  * 2-decimal values, so we cast to DECIMAL before summing — both Spark and
  * DuckDB then aggregate exactly, independent of partitioning / ordering —
  * and cast the final result back to DOUBLE. This is also the right posture
  * at 100 TB: decimal partial aggregation is deterministic under AQE
  * re-partitioning, while double summation is not.
  */
object Agg {

  /** Exact 2-decimal monetary value. */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact 2-decimal rate in [0, 1] (discount/tax). */
  def rate(c: Column): Column = c.cast(DecimalType(4, 2))

  /** Exact integer CENTS of a money value. The decimal cast fixes the
    * rounding (HALF_UP at 2 decimals, same as the oracle's CAST), the
    * ×100 stays on Spark's compact-long decimal representation
    * (precision 15 < 18), and everything downstream is plain longs.
    */
  private[graft] def cents(c: Column): Column = (money(c) * 100).cast("long")

  /** `price·(1−discount)` as exact integer 10⁻⁴ dollar units — the ONE
    * definition of the TPC-H-shaped queries' revenue measure (consumed
    * by pricingSummary, the Q7/Q8/Q15 join shapes, and SparkEntry's
    * shared measure); long multiply per row, long partial+final SUMs
    * downstream, export = one units→double division.
    */
  private[graft] def discountedUnits: Column =
    cents(col("l_extendedprice")) *
      (lit(100L) - (rate(col("l_discount")) * 100).cast("long"))

  /** Exact money aggregation WITHOUT decimal aggregation buffers.
    *
    * SUM over DECIMAL(12,2) widens its result past 18 digits, which
    * pushes every aggregation-buffer update off Spark's compact-long
    * decimal representation onto per-row java.math.BigDecimal allocation
    * — measured 3-5× of the whole query on every money rollup once the
    * bench forced real aggregation (q01 0.26→0.87 s, q50 at 78× of
    * DuckDB). Here the measure is scaled to integer units of 10^-scale
    * once per row, and the aggregation itself is two primitive LONG sums
    * — the units' quotient and remainder by 10^scale — recombined
    * exactly ONCE per group: q·10^scale + r reassembles the exact unit
    * total (the truncating-division identity holds for negative units
    * too), so the result is bit-identical to the decimal form.
    *
    * Bounds, documented not checked: the quotient is integral `div` —
    * exact over the FULL long range, so row-level units carry no bound
    * of their own (this matters for [[graft.ops.Skew.saltedAgg]], whose
    * pre-aggregated units scale with the hot key's duplicate count);
    * partial sums stay exact to ~10^12 rows per group at scale 6 and
    * ~10^16 at scale 2 — 100 TB headroom (TPC-H SF 100k is ~6·10^11
    * lineitems TOTAL).
    */
  private[graft] def unitsQuot(u: Column, scale: Int): Column = {
    val k = math.pow(10, scale).toLong
    // SQL `div` (IntegralDivide): truncation toward zero, matching the
    // sign convention of `%` below, with no double-precision detour
    call_function("div", u, lit(k))
  }
  private[graft] def unitsRem(u: Column, scale: Int): Column =
    u % math.pow(10, scale).toLong
  private[graft] def unitsValue(sumQ: Column, sumR: Column, scale: Int): Column = {
    val k = math.pow(10, scale).toLong
    (sumQ.cast(DecimalType(38, 0)) * k + sumR.cast(DecimalType(38, 0))) / k
  }

  /** Exact sum of integer 10^-scale units as the decimal units/10^scale. */
  private[graft] def unitsSum(u: Column, scale: Int): Column =
    unitsValue(sum(unitsQuot(u, scale)), sum(unitsRem(u, scale)), scale)

  /** Exact decimal sum surfaced as double (deterministic across engines). */
  def dsum(c: Column): Column = unitsSum(cents(c), 2).cast("double")

  /** Daily engagement rollup (A3–A5; REF wistia_redshift_schemas.py:43-52 —
    * the declared-but-never-implemented gold job, docx FR4). Mapped onto the
    * `events` table: event_id≈event_key, ts≈received_at, user_id≈visitor_key,
    * value≈percent_viewed (FIXTURES.md §6 role mapping).
    *
    * loads = all events; plays = events with value > threshold;
    * play_rate = plays/loads; hours_watched = sum(value)/3600 treating value
    * as engagement-seconds; engagement = avg(value); visitors = exact
    * distinct users (A4; swap in approx_count_distinct at 100 TB — see
    * [[dailyEngagementApprox]]).
    */
  def dailyEngagement(events: DataFrame, playThreshold: Double = 5.0): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(
        count(lit(1)).as("load_count"),
        count(when(col("value") > playThreshold, 1)).as("play_count"),
        dsum(col("value")).as("value_sum"),
        countDistinct(col("user_id")).as("visitors"))
      .select(
        col("event_type"), col("dt"), col("load_count"), col("play_count"),
        (col("play_count").cast("double") / col("load_count")).as("play_rate"),
        (col("value_sum") / lit(3600.0)).as("hours_watched"),
        (col("value_sum") / col("load_count")).as("engagement"),
        col("visitors"))

  /** 100 TB variant: HLL++ sketch for the distinct-visitor count (A4). The
    * exact form shuffles every (key, user) pair; the sketch is one pass with
    * map-side partials. rsd 1.6% ≈ Redshift's default HLL error.
    */
  def dailyEngagementApprox(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(
        count(lit(1)).as("load_count"),
        approx_count_distinct(col("user_id")).as("visitors_approx"))

  /** Pricing summary (A6 partial+final hash agg; TPC-H Q1 shape on lineitem).
    * Every measure is exact internally (integer units — price·(1−d) in
    * 10^-4 units, ·(1+t) in 10^-6 units, see [[unitsSum]]), surfaced as
    * double; bit-identical to the all-decimal form at a fraction of the
    * aggregation cost.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame = {
    val pc = cents(col("l_extendedprice"))
    val tk = (rate(col("l_tax")) * 100).cast("long")
    val discU = discountedUnits            // 10^-4 dollar units
    val chargeU = discU * (lit(100L) + tk) // 10^-6 dollar units
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        unitsSum(discU, 4).cast("double").as("sum_disc_price"),
        unitsSum(chargeU, 6).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"), col("sum_qty"),
        col("sum_base_price"), col("sum_disc_price"), col("sum_charge"),
        (col("sum_qty") / col("count_order")).as("avg_qty"),
        col("count_order"))
  }

  /** Rollup totals (A7): per (returnflag, linestatus), per returnflag, grand. */
  def returnFlagRollup(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  /** Running max of event-time (A2) — the watermark-advance computation the
    * reference folds by hand across pages (REF wistia_pull_wistia_api.py:217-224).
    */
  def highWater(events: DataFrame): DataFrame =
    events.agg(max(col("ts")).as("high_water"), count(lit(1)).as("n_events"))

  /** Mergeable distinct-count sketches at the daily grain (A4 scale path,
    * second form): a Datasketches HLL per (event_type, day), persisted as a
    * BINARY column. Unlike [[dailyEngagementApprox]] (which re-derives its
    * estimate from raw events every run), these sketches are STATE — at
    * 100 TB the daily job appends one sketch row per key and any rollup
    * window is answered from sketches alone, never rescanning event
    * history. Union of HLL sketches is lossless at a fixed lgK, so a
    * merged estimate equals the estimate of a direct sketch over the
    * union (asserted in SketchSpec).
    */
  def dailySketches(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(hll_sketch_agg(col("user_id")).as("visitor_sketch"),
        count(lit(1)).as("load_count"))

  /** Roll persisted daily sketches up to one estimate per event_type —
    * the consume side of [[dailySketches]]: sketches merge associatively
    * map-side, so the shuffle carries one partial sketch per (key,
    * partition), independent of history length.
    */
  def sketchRollup(daily: DataFrame): DataFrame =
    daily
      .groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("visitor_sketch")))
          .as("visitors_est"),
        sum(col("load_count")).as("load_count"),
        count(lit(1)).as("n_days"))

  /** Per-day KMV (bottom-k) distinct-visitor state — the DETERMINISTIC
    * sibling of [[dailySketches]]: the k smallest distinct affine-mixed
    * poly hashes of the day's visitors, as a plain `array<bigint>` any
    * engine can re-derive (q219 is hash-exact where the HLL twin q51/q84
    * is rows-only). Same persistence posture: daily state rows, history
    * never rescanned.
    */
  def dailyKmvSketches(events: DataFrame, k: Int = 256): DataFrame =
    events
      // NULL keys carry no state: a null user has no hash, and a null
      // type/ts has no (type, day) cell — dropped on BOTH engines (the
      // oracle filters identically; an equality join on a NULL group
      // would otherwise diverge between Spark's groupBy and SQL's JOIN).
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("dt"),
        element_at(graft.functions.PolyHashMath
          .polyHashesCol(col("user_id").cast("string"), 1), 1).as("_h"))
      .groupBy(col("event_type"), col("dt"))
      .agg(graft.functions.GraftFunctions
        .kmv_sketch_agg(col("_h"), k).as("kmv_state"))
      // Self-describing state (the _SHINGLE_META discipline): a union at
      // a DIFFERENT k must refuse, not silently mis-estimate — a bottom-k
      // array shorter than its k is indistinguishable from an exhaustive
      // day, so the parameter has to ride WITH the state.
      .withColumn("kmv_k", lit(k))

  /** Roll persisted daily KMV states up to one estimate per event_type.
    * Unlike the HLL rollup this merge is an IDENTITY — bottomₖ of the
    * daily bottomₖ sets equals bottomₖ of the full stream — so the
    * estimate from state equals the direct computation bit-for-bit
    * (SketchSpec pins state-array byte identity; the q219 oracle
    * recomputes the direct form in SQL and hash-matches this rollup).
    */
  def kmvRollup(daily: DataFrame, k: Int = 256): DataFrame =
    daily
      .groupBy(col("event_type"))
      .agg(graft.functions.GraftFunctions
        .kmv_union_agg(
          // Fail-loud k guard riding the union's own pass (the
          // ksDriftSketch raise_error idiom, zero extra scans): a union
          // at k > sketch-k would silently UNDER-estimate (values a day
          // truncated above its kth minimum are unrecoverable), and a
          // shorter-k union is refused too for one uniform contract —
          // re-union at the state's own k instead. NULL-SAFE compare: a
          // NULL kmv_k (pre-guard state files) must refuse, not slip
          // through the three-valued =!= into the otherwise branch.
          when(!(col("kmv_k") <=> lit(k)),
            raise_error(concat(lit("kmvRollup: state built at k="),
              coalesce(col("kmv_k").cast("string"), lit("NULL")),
              lit(s" cannot union at k=$k")))
              .cast("array<bigint>"))
            .otherwise(col("kmv_state")), k).as("kmv"),
        // DISTINCT days, not state rows: the chopped streaming state
        // (kmvStateQuery) commits one partial row per (type, day, batch),
        // and a row count would over-report n_days there.
        countDistinct(col("dt")).as("n_days"))
      .select(col("event_type"), col("n_days"),
        graft.functions.KmvSketch.kmvEstimate(col("kmv"), k)
          .as("visitors_est"))

  /** Per-day KLL quantile sketches over the event value (A4 mergeable
    * state, third rung beside the HLL distinct counts and the frequent-
    * items heavy hitters): what a percentile dashboard persists daily at
    * 100 TB. Unlike the exact binned histogram (q98), KLL needs no
    * value-range knowledge and carries a PROVEN normalized rank error
    * (~1.65% at k = 200, independent of n) through every merge —
    * SketchSpec pins the bound and the union contract.
    */
  def dailyQuantileSketches(events: DataFrame, k: Int = 200): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(kll_sketch_agg_double(col("value"), k).as("value_sketch"),
        count(lit(1)).as("n_events"))

  /** Roll persisted daily KLL sketches up to per-type quantile estimates
    * — the consume side of [[dailyQuantileSketches]]: sketches merge
    * associatively map-side (one partial per key per partition,
    * independent of history length), and the quantile extraction runs
    * once per type row. An all-NULL group merges to an EMPTY sketch,
    * which Spark's quantile read refuses: its quantiles are NULL and its
    * `n_sketch` 0.
    */
  def quantileSketchRollup(daily: DataFrame,
                           ranks: Seq[Double] = Seq(0.1, 0.5, 0.9),
                           k: Int = 200): DataFrame = {
    val merged = daily
      .groupBy(col("event_type"))
      .agg(kll_merge_agg_double(col("value_sketch"), k).as("_sk"),
        sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_days"))
    val n = kll_sketch_get_n_double(col("_sk"))
    val qs = when(n > 0,
      kll_sketch_get_quantile_double(col("_sk"), array(ranks.map(lit): _*)))
    merged.select(
      (Seq(col("event_type")) ++
        ranks.zipWithIndex.map { case (r, i) =>
          element_at(qs, i + 1).as(s"p${(r * 100).round}")
        } ++
        Seq(n.as("n_sketch"),
          col("n_events"), col("n_days"))): _*)
  }

  /** Exact per-type quantiles (interpolated percentile) — the
    * oracle-checked twin [[quantileSketchRollup]]'s estimates are judged
    * against (SketchSpec), the same exact-vs-sketch pairing as
    * [[typeOverlapExact]]/[[typeOverlapSketch]].
    */
  def exactQuantiles(events: DataFrame,
                     ranks: Seq[Double] = Seq(0.1, 0.5, 0.9)): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        ranks.map(r =>
          expr(s"percentile(value, ${r})").as(s"p${(r * 100).round}")): _*)
      .select((Seq(col("event_type")) ++
        ranks.map(r => col(s"p${(r * 100).round}")) ++
        Seq(col("n_events"))): _*)

  /** Exact distinct-visitor overlap between every pair of event types —
    * the cohort question "how many users did BOTH A and B", and the
    * oracle twin of [[typeOverlapSketch]]. Same shape as
    * [[graft.text.Corpus.sourceOverlap]] on a bigger key: the distinct
    * (type, user) set is one corpus-sized shuffle, shared across its
    * three consumers by one lazy persist; the pair join is keyed by
    * user, so output is bounded by users × types², never events².
    */
  def typeOverlapExact(events: DataFrame): DataFrame = {
    val tu = events.select(col("event_type").as("et"), col("user_id"))
      .distinct().persist()
    val sizes = tu.groupBy(col("et")).agg(count(lit(1)).as("_n"))
    val pairs = tu.select(col("et").as("type_a"), col("user_id"))
      .join(tu.select(col("et").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.select(col("et").as("type_a"),
        col("_n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("et").as("type_b"),
        col("_n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"))
  }

  /** Cohort overlap from [[dailySketches]] STATE alone — no event
    * rescan: |A∩B| ≈ |A| + |B| − |A∪B| by inclusion–exclusion, union
    * being the one set operation HLL supports losslessly. The per-type
    * sketches (one union over that type's daily rows) are types-count
    * rows, so the pair cross join is trivially small at any history
    * length. Error is ~3 sketch-rsds on the intersection (three
    * estimates subtract), the classic HLL-intersection trade — bounded
    * in SketchSpec against [[typeOverlapExact]]; fine for "is the
    * overlap 5% or 50%", not for billing.
    */
  def typeOverlapSketch(daily: DataFrame): DataFrame = {
    // No persist: the merged frame is types-count rows and trivially
    // recomputable for the cross join's two sides — a persist here would
    // leak cached blocks for the session's lifetime (nothing can
    // unpersist after the lazy result is materialized; round-11 advice).
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_union_agg(col("visitor_sketch")).as("_sk"))
    val a = merged.select(col("event_type").as("type_a"), col("_sk").as("_sk_a"))
    val b = merged.select(col("event_type").as("type_b"), col("_sk").as("_sk_b"))
    a.crossJoin(b).filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        hll_sketch_estimate(col("_sk_a")).as("est_a"),
        hll_sketch_estimate(col("_sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("_sk_a"), col("_sk_b")))
          .as("est_union"))
      .withColumn("est_both",
        col("est_a") + col("est_b") - col("est_union"))
  }

  /** Theta-sketch daily state: the set-algebra sibling of
    * [[dailySketches]] (HLL). Same write posture — one map-side-partial
    * aggregation per day, one bounded binary per (type, day) row — but
    * the at-rest state supports INTERSECTION and DIFFERENCE, which HLL
    * state cannot answer without compounding three estimates.
    */
  def dailyThetaSketches(events: DataFrame,
                         lgK: Int = graft.functions.ThetaSketch.DefaultLgK)
    : DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(theta_sketch_agg(col("user_id"), lgK).as("visitor_theta"))

  /** Full pairwise set algebra over event types from [[dailyThetaSketches]]
    * STATE alone — |A|, |B|, |A∩B|, |A\B|, |B\A| per type pair, no event
    * rescan, each a DIRECT theta estimate (single-operation error, vs the
    * 3-estimate subtraction [[typeOverlapSketch]] pays for ∩ on HLL
    * state). The per-type merge is types-count rows; the pair cross join
    * is trivially small at any history length. Error bounds pinned in
    * SketchSpec against [[typeSetAlgebraExact]].
    */
  def typeSetAlgebra(daily: DataFrame,
                     lgK: Int = graft.functions.ThetaSketch.DefaultLgK)
    : DataFrame = {
    // No persist — same leak argument as typeOverlapSketch.
    val merged = daily.groupBy(col("event_type"))
      .agg(theta_union_agg(col("visitor_theta"), lgK).as("_sk"))
    val a = merged.select(col("event_type").as("type_a"), col("_sk").as("_sk_a"))
    val b = merged.select(col("event_type").as("type_b"), col("_sk").as("_sk_b"))
    val (skA, skB) = (col("_sk_a"), col("_sk_b"))
    a.crossJoin(b).filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        thetaEstimate(skA).as("est_a"),
        thetaEstimate(skB).as("est_b"),
        thetaEstimate(theta_intersection(skA, skB)).as("est_both"),
        thetaEstimate(theta_difference(skA, skB)).as("est_only_a"),
        thetaEstimate(theta_difference(skB, skA)).as("est_only_b"))
  }

  /** Spark's `theta_sketch_estimate` is the estimate rounded to BIGINT;
    * the theta outputs (q139, q146) publish it as DOUBLE, the type their
    * output schemas declare.
    */
  private def thetaEstimate(sketch: Column): Column =
    theta_sketch_estimate(sketch).cast("double")

  /** Exact twin of [[typeSetAlgebra]]: the [[typeOverlapExact]] counts
    * with both set differences derived (n_only_a = n_a − n_both — exact
    * because the counts are exact; the theta path estimates each
    * independently instead).
    */
  def typeSetAlgebraExact(events: DataFrame): DataFrame =
    typeOverlapExact(events)
      .withColumn("n_only_a", col("n_a") - col("n_both"))
      .withColumn("n_only_b", col("n_b") - col("n_both"))

  /** Exact cumulative reach: for each event type, the running count of
    * DISTINCT users ever seen, sampled at each day that added users. The
    * naive formulation (per-day distinct over the history prefix)
    * rescans the stream once per day; this one uses the first-appearance
    * identity — reach(d) = #users whose FIRST event ≤ d — so the whole
    * curve is one (type, user) aggregate (min day), one (type, day)
    * count, and a running sum over a types×days window. The stream is
    * touched once, the window ranks days, never events.
    */
  def cumulativeReach(events: DataFrame): DataFrame = {
    val firstDay = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(to_date(col("ts"))).as("d"))
    val newPerDay = firstDay
      .groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n_new"))
    newPerDay.withColumn("n_reach",
      sum(col("n_new")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Cumulative reach from [[dailyThetaSketches]] STATE alone — no event
    * rescan at any history length: the day-d reach is the union of the
    * sketches of days ≤ d. Expressed as a state-grain prefix self-join
    * ((type, d) × its own ≤-days) + one union aggregate per output row:
    * days² rows per type, bounded by the CALENDAR, independent of event
    * count — the same cost class as every other state rollup here.
    * Estimates pinned against [[cumulativeReach]] in SketchSpec.
    */
  def reachFromThetaState(daily: DataFrame,
                          lgK: Int = graft.functions.ThetaSketch.DefaultLgK)
    : DataFrame = {
    val a = daily.select(col("event_type"), col("d"))
    val b = daily.select(col("event_type"), col("d").as("_d2"),
      col("visitor_theta"))
    a.join(b, Seq("event_type")).filter(col("_d2") <= col("d"))
      .groupBy(col("event_type"), col("d"))
      // lgK must match the state's build precision (as typeSetAlgebra
      // plumbs it) — a default union over high-lgK state would silently
      // downsample every estimate to the default's variance
      .agg(theta_union_agg(col("visitor_theta"), lgK).as("_sk"))
      .select(col("event_type"), col("d"),
        thetaEstimate(col("_sk")).as("est_reach"))
  }

  /** Weekly retention cohorts: users grouped by first-activity week, the
    * classic (cohort_week, week_offset) activity matrix with retention
    * rate against cohort size. All exact: week_offset is a day-diff of
    * two week-truncated timestamps over 7 (always integral), and the
    * rate divides two exact longs (IEEE division — bit-stable across
    * engines).
    *
    * Scale: one per-user aggregate (first week), one distinct over
    * (user, week) — both user-keyed shuffles — then the matrix aggregate
    * groups (cohort, offset) rows bounded by users × active-weeks, and
    * the cohort-size join broadcasts (weeks-count rows). No window, no
    * event re-scan per cohort.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firstWeek = events.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort_week"))
    val activeWeeks = events
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    val sizes = firstWeek.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("cohort_size"))
    activeWeeks.join(firstWeek, Seq("user_id"))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7)
          .cast("long").as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("cohort_size"),
        col("n_active"),
        (col("n_active").cast("double") / col("cohort_size"))
          .as("retention"))
  }

  /** The frequency twin of [[dailySketches]]: a mergeable heavy-hitters
    * sketch ([[graft.functions.FreqSketchAgg]], Datasketches LongsSketch)
    * of `user_id` per (event_type, day) — persisted STATE, so "who are
    * the top users over any window" is answered from per-day rows alone,
    * never rescanning event history. `maxMapSize` fixes both memory
    * (~0.75·m counters per sketch) and error (≤ 3.5·n/m): every user
    * with true count above that line is retained across any merge order
    * (no false negatives — the property SketchSpec pins against
    * [[heavyHittersExact]]).
    */
  def dailyTopSketches(events: DataFrame, maxMapSize: Int = 64): DataFrame =
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"))
      .agg(graft.functions.FreqSketch
        .freq_sketch_agg(col("user_id"), maxMapSize).as("user_sketch"),
        count(lit(1)).as("n_events"))

  /** Consume side of [[dailyTopSketches]]: union each event_type's daily
    * sketches and report its top-`k` users by estimated count, with the
    * (lb, ub) bracket and the merged sketch's error line. Ties broken by
    * user_id so the output is deterministic given the state. The union
    * shuffle carries one partial sketch per (key, partition) — state
    * rows, never events.
    */
  def heavyHittersFromState(daily: DataFrame, k: Int = 10,
                            maxMapSize: Int = 64): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("est").desc, col("user_id").asc)
    daily
      .groupBy(col("event_type"))
      .agg(graft.functions.FreqSketch
        .freq_union_agg(col("user_sketch"), maxMapSize).as("_sk"))
      .select(col("event_type"),
        graft.functions.FreqSketch.freq_sketch_max_error(col("_sk"))
          .as("max_err"),
        explode(graft.functions.FreqSketch.freq_sketch_items(col("_sk")))
          .as("_it"))
      .select(col("event_type"), col("_it.item").as("user_id"),
        col("_it.est").as("est"), col("_it.lb").as("lb"),
        col("_it.ub").as("ub"), col("max_err"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Exact oracle twin of [[heavyHittersFromState]]: top-`k` users per
    * event_type by event count, ties broken by user_id. The groupBy
    * bounds window input to distinct (type, user) pairs; at 100 TB the
    * per-type sort over all users is the price of exactness — the sketch
    * path is the scale path, this form is its verification.
    */
  def heavyHittersExact(events: DataFrame, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n_events").desc, col("user_id").asc)
    events
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** The quantile twin of [[dailySketches]]: a fixed-width value histogram
    * per (event_type, day), persisted as an `array<struct<bucket,n>>`
    * column — mergeable STATE for percentile queries, so any rollup
    * window answers "p50/p99 of value" from per-day rows alone, never
    * rescanning event history. Merge (sum counts per bucket) is exactly
    * lossless: a merged histogram IS the histogram of the union, so a
    * quantile from rolled-up state equals one computed directly from raw
    * events at the same bucket width — which is what makes this sketch
    * oracle-checkable where GK/t-digest (merge-order-dependent) are not.
    * Error is bounded by `width`, chosen at write time; counts are exact.
    *
    * Scale: one partial+final hash aggregate to bucket counts (buckets
    * per key bounded by value-range/width, not by events), then a
    * per-key collect bounded the same way. The array is sorted by bucket
    * so the persisted state is byte-deterministic under AQE.
    */
  def dailyValueHist(events: DataFrame, width: Double = 1.0): DataFrame = {
    require(width > 0, s"width must be positive: $width")
    events
      .groupBy(col("event_type"), to_date(col("ts")).as("dt"),
        floor(col("value") / lit(width)).cast("long").as("_b"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col("event_type"), col("dt"))
      .agg(
        sort_array(collect_list(struct(col("_b").as("bucket"),
          col("_n").as("n")))).as("hist"),
        sum(col("_n")).as("n_events"))
  }

  /** State maintenance for [[dailyValueHist]]-shaped tables: re-aggregate
    * any number of PARTIAL histogram rows per (event_type, dt) — e.g. the
    * one-row-per-micro-batch appends of
    * [[graft.streaming.EventsStream.histStateQuery]] — into exactly one
    * row per key and day. Quantiles are unchanged at any compaction
    * granularity (merge is lossless; asserted in StreamingSpec), so this
    * is pure file hygiene: run it when batch cadence has made the state
    * table wide, exactly like parquet small-file compaction.
    */
  def compactHists(daily: DataFrame): DataFrame =
    daily
      .select(col("event_type"), col("dt"), explode(col("hist")).as("_h"))
      .groupBy(col("event_type"), col("dt"), col("_h.bucket").as("_b"))
      .agg(sum(col("_h.n")).as("_n"))
      .groupBy(col("event_type"), col("dt"))
      .agg(
        sort_array(collect_list(struct(col("_b").as("bucket"),
          col("_n").as("n")))).as("hist"),
        sum(col("_n")).as("n_events"))

  /** Consume side of [[dailyValueHist]]: merge persisted per-day
    * histograms per event_type and read off the q-quantile bucket — the
    * smallest bucket whose cumulative count reaches `ceil(q · total)`.
    * Returns (event_type, n_events, bucket, q_lo, q_hi): the true
    * q-quantile lies in [q_lo, q_hi), a `width`-wide interval.
    *
    * Scale: explode + re-sum is a bucket-count-bounded aggregate (counts
    * merge associatively map-side); the cumulative window partitions by
    * event_type and ranks only that key's buckets — never event rows.
    */
  def histQuantile(daily: DataFrame, q: Double, width: Double = 1.0): DataFrame = {
    require(q > 0 && q <= 1, s"q must be in (0, 1]: $q")
    val cum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("event_type"))
    daily
      .select(col("event_type"), explode(col("hist")).as("_h"))
      .groupBy(col("event_type"), col("_h.bucket").as("bucket"))
      .agg(sum(col("_h.n")).as("_n"))
      .withColumn("_cum", sum(col("_n")).over(cum))
      .withColumn("_total", sum(col("_n")).over(tot))
      .filter(col("_cum") >= ceil(lit(q) * col("_total").cast("double")))
      .groupBy(col("event_type"), col("_total"))
      .agg(min(col("bucket")).as("bucket"))
      .select(col("event_type"), col("_total").as("n_events"), col("bucket"),
        (col("bucket").cast("double") * lit(width)).as("q_lo"),
        ((col("bucket") + 1).cast("double") * lit(width)).as("q_hi"))
  }
}
