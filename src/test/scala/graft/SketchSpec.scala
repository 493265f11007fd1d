package graft

import org.apache.spark.sql.functions._

import graft.ops.Agg
import graft.sources.Tables

/** A4 mergeable-state form: per-day Datasketches HLL sketches that persist
  * as BINARY state and roll up per key without rescanning event history.
  * The contract that makes the pattern safe at 100 TB: HLL union is
  * LOSSLESS at a fixed lgK, so merged daily sketches estimate exactly what
  * one direct sketch over the union would.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def estimates(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.select(col("event_type"), col("visitors_est"))
      .as[(String, Long)].collect().toMap

  test("merged daily sketches estimate == direct sketch over all events") {
    val ev = Tables.load(spark, sf, "events")
    val merged = estimates(Agg.sketchRollup(Agg.dailySketches(ev)))
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
        .as("visitors_est"))
    assert(merged == estimates(direct),
      "HLL union must be lossless at the default lgK")
  }

  test("sketch estimate lands within error bounds of the exact distinct") {
    val ev = Tables.load(spark, sf, "events")
    val est = estimates(Agg.sketchRollup(Agg.dailySketches(ev)))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(est(k) - n) <= math.max(3.0, 0.05 * n),
        s"$k: est=${est(k)} exact=$n")
    }
  }

  test("sketches survive a parquet round-trip (persistable daily state)") {
    val ev = Tables.load(spark, sf, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch").toString
    Agg.dailySketches(ev).write.mode("overwrite").parquet(dir)
    val fromDisk = Agg.sketchRollup(spark.read.parquet(dir))
    val inMemory = Agg.sketchRollup(Agg.dailySketches(ev))
    assert(estimates(fromDisk) == estimates(inMemory))
    // exact side-channel columns carry through the rollup exactly
    val counts = fromDisk.select(col("event_type"), col("load_count"))
      .as[(String, Long)].collect().toMap
    val directCounts = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
    assert(counts == directCounts)
  }

  private def quantiles(df: org.apache.spark.sql.DataFrame)
      : Map[String, (Long, Long, Double, Double)] =
    df.select(col("event_type"), col("n_events"), col("bucket"),
      col("q_lo"), col("q_hi"))
      .as[(String, Long, Long, Double, Double)].collect()
      .map { case (k, n, b, lo, hi) => k -> ((n, b, lo, hi)) }.toMap

  test("histogram merge is lossless: per-day state == one direct histogram") {
    val ev = Tables.load(spark, sf, "events")
    val daily = Agg.histQuantile(Agg.dailyValueHist(ev, width = 2.0),
      q = 0.5, width = 2.0)
    // direct = the same sketch with ONE group (a single all-time "day")
    val direct = Agg.histQuantile(
      Agg.dailyValueHist(ev.withColumn("ts", lit("2024-01-01").cast("timestamp")),
        width = 2.0), q = 0.5, width = 2.0)
    assert(quantiles(daily) == quantiles(direct),
      "bucket-count merge must be exactly lossless")
  }

  test("hist quantile brackets the exact ceil-rank quantile within one width") {
    val ev = Tables.load(spark, sf, "events")
    val width = 2.0
    val out = quantiles(Agg.histQuantile(Agg.dailyValueHist(ev, width),
      q = 0.5, width = width))
    val exact = ev.select(col("event_type"), col("value"))
      .as[(String, Double)].collect().groupBy(_._1)
      .map { case (k, vs) =>
        val sorted = vs.map(_._2).sorted
        k -> sorted(math.ceil(0.5 * sorted.length).toInt - 1)
      }
    exact.foreach { case (k, v) =>
      val (_, _, lo, hi) = out(k)
      assert(lo <= v && v < hi, s"$k: exact p50 $v outside [$lo, $hi)")
    }
  }

  test("sketch cohort overlap lands within inclusion-exclusion error of exact") {
    val ev = Tables.load(spark, sf, "events")
    val est = Agg.typeOverlapSketch(Agg.dailySketches(ev))
      .select(col("type_a"), col("type_b"), col("est_both"))
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    val exact = Agg.typeOverlapExact(ev)
      .select(col("type_a"), col("type_b"), col("n_both"))
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(est.keySet == exact.keySet, "every type pair must appear in both")
    exact.foreach { case (k, n) =>
      // three estimates subtract: allow ~3 sketch-rsds (plus a small-count
      // floor) around the exact intersection
      assert(math.abs(est(k) - n) <= math.max(5.0, 0.15 * n),
        s"$k: est=${est(k)} exact=$n")
    }
  }

  test("daily histograms survive a parquet round-trip (persistable state)") {
    val ev = Tables.load(spark, sf, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft-hist").toString
    Agg.dailyValueHist(ev, width = 1.0).write.mode("overwrite").parquet(dir)
    val fromDisk = Agg.histQuantile(spark.read.parquet(dir), q = 0.9)
    val inMemory = Agg.histQuantile(Agg.dailyValueHist(ev, width = 1.0), q = 0.9)
    assert(quantiles(fromDisk) == quantiles(inMemory))
  }

  // --- frequent-items (heavy hitters) sketch state ---

  /** Skewed synthetic events: per event_type, 3 heavy users (1000 events
    * each) over a 301-user tail (3 each) — far more keys than the m=32
    * sketch holds, so counter purges (the approximate regime) are
    * exercised; each user's events split across two days so the rollup
    * merges real per-day partials.
    */
  private def skewedEvents: org.apache.spark.sql.DataFrame = {
    val rows = for {
      et <- Seq("view", "purchase")
      (u, n) <- (1L to 3L).map(_ -> 1000) ++ (100L to 400L).map(_ -> 3)
      i <- 1 to n
    } yield (et, u, if (i % 2 == 0) "2024-01-01" else "2024-01-02")
    rows.toDF("event_type", "user_id", "d")
      .withColumn("ts", col("d").cast("timestamp")).drop("d")
  }

  private def exactCounts(ev: org.apache.spark.sql.DataFrame): Map[(String, Long), Long] =
    ev.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect()
      .map { case (et, u, n) => (et, u) -> n }.toMap

  test("freq sketch retains everything above the error line, with true counts bracketed") {
    val ev = skewedEvents
    val exact = exactCounts(ev)
    val got = Agg.heavyHittersFromState(
      Agg.dailyTopSketches(ev, maxMapSize = 32), k = 1000, maxMapSize = 32)
      .select(col("event_type"), col("user_id"), col("est"), col("lb"),
        col("ub"), col("max_err"))
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val retained = got.map(r => (r._1, r._2)).toSet
    val maxErr = got.map(r => r._1 -> r._6).toMap
    got.foreach { case (et, u, _, lb, ub, _) =>
      val n = exact((et, u))
      assert(lb <= n && n <= ub, s"($et,$u): true=$n outside [$lb,$ub]")
    }
    // NO_FALSE_NEGATIVES: a key whose true count exceeds the merged
    // sketch's a-posteriori error bound cannot have been purged
    exact.foreach { case ((et, u), n) =>
      if (n > maxErr(et)) {
        assert(retained.contains((et, u)),
          s"($et,$u): true=$n > maxErr=${maxErr(et)} but missing")
      }
    }
  }

  test("freq sketch top-k separates heavy users from the tail") {
    val ev = skewedEvents
    val top = Agg.heavyHittersFromState(
      Agg.dailyTopSketches(ev, maxMapSize = 32), k = 3, maxMapSize = 32)
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // est(heavy) >= 1000 > ub(tail) <= 3 + maxErr (<= 3.5·n/m ≈ 430), so
    // the sketch top-3 must be exactly the true heavy users of each type
    Seq("view", "purchase").foreach { et =>
      assert(top(et) == Set(1L, 2L, 3L), s"$et: got ${top(et)}")
    }
  }

  test("freq sketch contract holds under any input partitioning") {
    // sketch CONTENT is order-dependent (unlike HLL union, the merge is
    // not lossless), so the pinned property is the CONTRACT, not byte
    // equality: bounds bracket the truth at every partition count
    val exact = exactCounts(skewedEvents)
    Seq(1, 7, 32).foreach { p =>
      val ev = skewedEvents.repartition(p, col("user_id"))
      val got = Agg.heavyHittersFromState(
        Agg.dailyTopSketches(ev, maxMapSize = 32), k = 1000, maxMapSize = 32)
        .select(col("event_type"), col("user_id"), col("lb"), col("ub"))
        .as[(String, Long, Long, Long)].collect()
      got.foreach { case (et, u, lb, ub) =>
        val n = exact((et, u))
        assert(lb <= n && n <= ub, s"p=$p ($et,$u): true=$n outside [$lb,$ub]")
      }
    }
  }

  test("freq sketch daily state survives a parquet round-trip") {
    val ev = skewedEvents
    val dir = java.nio.file.Files.createTempDirectory("graft-freq").toString
    Agg.dailyTopSketches(ev, maxMapSize = 32).write.mode("overwrite").parquet(dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      Agg.heavyHittersFromState(df, k = 10, maxMapSize = 32)
        .select(col("event_type"), col("user_id"), col("est"), col("rnk"))
        .as[(String, Long, Long, Int)].collect().toSet
    // same persisted state bytes ⇒ identical consume-side result
    assert(rows(spark.read.parquet(dir)) ==
      rows(Agg.dailyTopSketches(ev, maxMapSize = 32)))
  }

  test("kll quantiles: rank error within the proven bound, merged == fresh contract") {
    val ev = Tables.load(spark, "/root/testdata/sf0.01", "events")
    // exact ranks to judge against, per type
    val exact = ev.select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rows) =>
        t -> rows.map(_.getDouble(1)).sorted
      }
    // KLL's guarantee: the estimated quantile at rank p is a value whose
    // TRUE normalized rank is within ±eps of p (eps ~1.65% at k=200; use
    // 2*eps slack for the inclusive-criterion edge)
    val eps = 2 * 0.0165
    def checkRanks(df: org.apache.spark.sql.DataFrame): Unit = {
      df.collect().foreach { r =>
        val t = r.getAs[String]("event_type")
        val vals = exact(t)
        Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9)).foreach {
          case (cname, p) =>
            val est = r.getAs[Double](cname)
            val trueRank =
              vals.count(_ <= est).toDouble / vals.length
            assert(math.abs(trueRank - p) <= eps,
              s"$t $cname: est $est has true rank $trueRank, " +
                s"want $p ± $eps")
        }
        // the sketch saw every row (n is exact, only VALUES are sampled)
        assert(r.getAs[Long]("n_sketch") == vals.length.toLong)
      }
    }
    // rolled up from per-day persisted state...
    val daily = Agg.dailyQuantileSketches(ev)
    checkRanks(Agg.quantileSketchRollup(daily))
    // ...and from a parquet round-trip of that state (persistable bytes)
    val dir = java.nio.file.Files.createTempDirectory("graft-kll").toString
    daily.write.parquet(s"$dir/state")
    checkRanks(Agg.quantileSketchRollup(spark.read.parquet(s"$dir/state")))
  }

  test("theta set algebra: all five measures within sketch error of exact") {
    val ev = Tables.load(spark, sf, "events")
    val est = Agg.typeSetAlgebra(Agg.dailyThetaSketches(ev))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val exact = Agg.typeSetAlgebraExact(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(est.keySet == exact.keySet, "every type pair must appear in both")
    val checks = Seq("est_a" -> "n_a", "est_b" -> "n_b",
      "est_both" -> "n_both", "est_only_a" -> "n_only_a",
      "est_only_b" -> "n_only_b")
    exact.foreach { case (k, ex) =>
      checks.foreach { case (ec, xc) =>
        val e = est(k).getAs[Double](ec)
        val x = ex.getAs[Long](xc).toDouble
        // single-operation theta estimates: ~3 rsd at lgK 12 (±5%), with
        // a small-count floor — materially tighter than the HLL
        // inclusion-exclusion path's 15% allowance above
        assert(math.abs(e - x) <= math.max(5.0, 0.05 * x),
          s"$k $ec: est=$e exact=$x")
      }
    }
  }

  test("theta daily state survives parquet; union from state == direct") {
    val ev = Tables.load(spark, sf, "events")
    val dir = java.nio.file.Files.createTempDirectory("graft-theta").toString
    Agg.dailyThetaSketches(ev).write.parquet(s"$dir/state")
    val fromState = Agg.typeSetAlgebra(spark.read.parquet(s"$dir/state"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.toSeq.drop(2)).toMap
    val direct = Agg.typeSetAlgebra(Agg.dailyThetaSketches(ev))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.toSeq.drop(2)).toMap
    assert(fromState == direct,
      "theta union must be lossless across a parquet round-trip")
  }

  test("theta state is replay-stable: byte-identical under any partitioning") {
    val ev = Tables.load(spark, sf, "events")
    def img(df: org.apache.spark.sql.DataFrame): Map[(String, java.sql.Date), Seq[Byte]] =
      Agg.dailyThetaSketches(df).collect()
        .map(r => (r.getString(0), r.getDate(1)) ->
          r.getAs[Array[Byte]]("visitor_theta").toSeq).toMap
    assert(img(ev.repartition(1)) == img(ev.repartition(16,
      col("event_id"))),
      "ordered compact theta images must depend only on the key SET")
  }

  test("theta bounds bracket the exact counts; set algebra closed over bytes") {
    import graft.functions.ThetaSketch._
    val ev = Tables.load(spark, sf, "events")
    val merged = Agg.dailyThetaSketches(ev).groupBy(col("event_type"))
      .agg(theta_union_agg(col("visitor_theta")).as("_sk"))
    val a = merged.select(col("event_type").as("type_a"), col("_sk").as("_a"))
    val b = merged.select(col("event_type").as("type_b"), col("_sk").as("_b"))
    val pairs = a.crossJoin(b).filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        theta_lower_bound(theta_intersection(col("_a"), col("_b"))).as("lb_both"),
        theta_upper_bound(theta_intersection(col("_a"), col("_b"))).as("ub_both"),
        theta_lower_bound(theta_difference(col("_a"), col("_b"))).as("lb_only_a"),
        theta_upper_bound(theta_difference(col("_a"), col("_b"))).as("ub_only_a"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val exact = Agg.typeSetAlgebraExact(ev)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    exact.foreach { case (k, ex) =>
      val p = pairs(k)
      // 2-stddev bounds bracket the exact counts, intersection AND diff
      val both = ex.getAs[Long]("n_both").toDouble
      assert(p.getAs[Double]("lb_both") <= both &&
        both <= p.getAs[Double]("ub_both"), s"$k both=$both $p")
      val onlyA = ex.getAs[Long]("n_only_a").toDouble
      assert(p.getAs[Double]("lb_only_a") <= onlyA &&
        onlyA <= p.getAs[Double]("ub_only_a"), s"$k only_a=$onlyA $p")
    }
  }

  test("reach from theta state tracks the exact cumulative curve") {
    val ev = Tables.load(spark, sf, "events")
    val est = Agg.reachFromThetaState(Agg.dailyThetaSketches(ev))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        r.getDouble(2)).toMap
    val exact = Agg.cumulativeReach(ev)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        r.getLong(3)).toMap
    // every exact sample day appears in the state curve (same day set:
    // a day adding no users still unions to the same reach — but such
    // days don't exist in the exact output, so compare on ITS keys)
    exact.foreach { case (k, n) =>
      assert(est.contains(k), s"state curve missing $k")
      assert(math.abs(est(k) - n) <= math.max(5.0, 0.05 * n),
        s"$k: est=${est(k)} exact=$n")
    }
  }

  test("poly bloom: no false negatives, scala-reference bit identity") {
    import graft.functions.{GraftFunctions, PolyBloomMath}
    val keys = {
      val rnd = new scala.util.Random(8723)
      // the poly domain: non-negative, < 2^61
      Seq.fill(3000)((rnd.nextLong() & Long.MaxValue) % ((1L << 61) - 1))
    }
    val numBits = 1 << 16
    val k = 5
    val filter = keys.toDF("h")
      .agg(GraftFunctions.poly_bloom_agg(col("h"), numBits, k).as("f"))
      .head().getAs[Array[Byte]]("f")
    // Bit identity against a plain-Scala fold — the aggregate adds
    // nothing beyond the documented position math.
    val ref = new Array[Byte](numBits >>> 3)
    keys.foreach(h => PolyBloomMath.add(ref, h, numBits, k))
    assert(java.util.Arrays.equals(filter, ref),
      "aggregate bytes must equal the sequential reference fold")
    // No false negatives: every inserted key probes true.
    keys.foreach(h =>
      assert(PolyBloomMath.contains(filter, h, numBits, k)))
    // FP rate on non-members: (1 - e^(-kn/m))^k = (1 - e^(-5*3000/65536))^5
    // ≈ 3.6e-4 — allow ~4x so the pin catches a position-math regression
    // that inflates the rate, not just total breakage.
    val rnd2 = new scala.util.Random(992)
    val probes = Seq.fill(20000)((rnd2.nextLong() & Long.MaxValue) % ((1L << 61) - 1))
      .filterNot(keys.toSet)
    val fp = probes.count(PolyBloomMath.contains(filter, _, numBits, k))
    assert(fp <= probes.size * 0.0015,
      s"fp rate ${fp.toDouble / probes.size} out of contract (expect ~3.6e-4)")
  }

  test("poly bloom: merge is OR — byte-identical under any partitioning") {
    import graft.functions.GraftFunctions
    val docs = Tables.load(spark, sf, "documents")
    def bytesOf(df: org.apache.spark.sql.DataFrame): Array[Byte] = df
      .select(explode(graft.functions.WordNgramHashesMath
        .wordNgramHashesCol(col("text"), 3)).as("_h"))
      .agg(GraftFunctions.poly_bloom_agg(col("_h"), 1 << 20, 5).as("f"))
      .head().getAs[Array[Byte]]("f")
    val base = bytesOf(docs)
    assert(java.util.Arrays.equals(base, bytesOf(docs.repartition(13))))
    // duplicate-invariance: inserting the corpus twice changes nothing
    assert(java.util.Arrays.equals(base, bytesOf(docs.union(docs))))
  }

  test("kmv: rollup from daily state is byte-identical to the direct build") {
    import graft.functions.GraftFunctions
    val ev = Tables.load(spark, sf, "events")
    val k = 64
    // direct: one global bottom-k per type over the raw keys
    val keyed = ev.filter(col("user_id").isNotNull)
      .select(col("event_type"),
        element_at(graft.functions.PolyHashMath
          .polyHashesCol(col("user_id").cast("string"), 1), 1).as("_h"))
    def states(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Long]] =
      df.as[(String, Seq[Long])].collect().toMap
    val direct = states(keyed.groupBy(col("event_type"))
      .agg(GraftFunctions.kmv_sketch_agg(col("_h"), k).as("s")))
    val rolled = states(Agg.dailyKmvSketches(ev, k)
      .groupBy(col("event_type"))
      .agg(GraftFunctions.kmv_union_agg(col("kmv_state"), k).as("s")))
    assert(rolled == direct,
      "bottom-k of daily bottom-k states must equal the direct bottom-k")
    // invariance under partitioning: the state is an order statistic
    val repart = states(keyed.repartition(7).groupBy(col("event_type"))
      .agg(GraftFunctions.kmv_sketch_agg(col("_h"), k).as("s")))
    assert(repart == direct)
    // and the state survives a parquet round-trip losslessly
    val dir = java.nio.file.Files.createTempDirectory("graft-kmv").toString
    Agg.dailyKmvSketches(ev, k).write.mode("overwrite").parquet(dir)
    val fromDisk = states(spark.read.parquet(dir)
      .groupBy(col("event_type"))
      .agg(GraftFunctions.kmv_union_agg(col("kmv_state"), k).as("s")))
    assert(fromDisk == direct)
  }

  test("kmv rollup refuses a k mismatch loudly (self-describing state)") {
    val ev = Tables.load(spark, sf, "events")
    val daily = Agg.dailyKmvSketches(ev, k = 128)
    val err = intercept[Exception] {
      Agg.kmvRollup(daily, k = 256).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(err).exists(_.contains("cannot union at k=256")),
      s"expected the kmv_k guard, got: $err")
  }

  test("kmv union fails loud on a NULL element in a state array") {
    import graft.functions.GraftFunctions
    // hand-corrupted state: a NULL element must raise, never fold as key 0
    val corrupt = spark.range(1).select(
      array(lit(1L), lit(null).cast("long"), lit(3L)).as("kmv_state"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    val err = intercept[Exception] {
      corrupt.agg(GraftFunctions.kmv_union_agg(col("kmv_state"), 64)).collect()
    }
    assert(messages(err).exists(_.contains("NULL element in KMV state")),
      s"expected the NULL-element guard, got: $err")
  }

  test("sketch SQL registrations reject wrong arity with a usage message") {
    graft.functions.GraftFunctions.registerAll(spark)
    Seq(
      "SELECT poly_bloom_agg(1)" -> "poly_bloom_agg(key, numBits, k)",
      "SELECT poly_bloom_contains(x'00', 1)" ->
        "poly_bloom_contains(filter, key, numBits, k)",
      "SELECT kmv_sketch_agg(1)" -> "kmv_sketch_agg(key, k)",
      "SELECT kmv_union_agg(array(1L))" -> "kmv_union_agg(state, k)",
      "SELECT cosine_similarity(array(1.0f))" -> "cosine_similarity(vec1, vec2)"
    ).foreach { case (sql, usage) =>
      val err = intercept[Exception] { spark.sql(sql).collect() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(err).exists(_.contains(usage)),
        s"$sql: expected usage '$usage', got: $err")
    }
  }

  test("kmv estimate: exact below k, within the RSE envelope above") {
    val ev = Tables.load(spark, sf, "events")
    val exact = ev.filter(col("user_id").isNotNull)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .as[(String, Long)].collect().toMap
    // k above every group's cardinality -> the estimate IS the exact count
    val big = Agg.kmvRollup(Agg.dailyKmvSketches(ev, k = 4096), k = 4096)
      .select(col("event_type"), col("visitors_est"))
      .as[(String, Double)].collect().toMap
    exact.foreach { case (t, n) =>
      assert(big(t) == n.toDouble, s"$t: sub-k estimate must be exact")
    }
    // k below the cardinality -> RSE ~ 1/sqrt(k-2); allow 4 sigma
    val k = 64
    val est = Agg.kmvRollup(Agg.dailyKmvSketches(ev, k), k)
      .select(col("event_type"), col("visitors_est"))
      .as[(String, Double)].collect().toMap
    exact.foreach { case (t, n) =>
      val tol = 4.0 / math.sqrt(k - 2.0)
      assert(math.abs(est(t) - n) <= tol * n,
        s"$t: est=${est(t)} exact=$n outside ${tol * 100}%")
    }
  }

  test("poly bloom rejects negative keys and bad params loudly") {
    import graft.functions.PolyBloomMath
    intercept[IllegalArgumentException] {
      PolyBloomMath.add(new Array[Byte](8), -1L, 64, 2)
    }
    intercept[IllegalArgumentException] {
      PolyBloomMath.checkParams(100, 2) // not a power of two
    }
    intercept[IllegalArgumentException] {
      PolyBloomMath.checkParams(1 << 20, 0)
    }
  }

  test("theta family is SQL-registered") {
    graft.functions.GraftFunctions.registerAll(spark)
    val ev = Tables.load(spark, sf, "events")
    ev.createOrReplaceTempView("ev_theta_sql")
    // Spark's set algebra, the engine's bounds over Spark's images
    val row = spark.sql(
      """SELECT theta_sketch_estimate(s1) AS e1,
        |  theta_sketch_estimate(theta_intersection(s1, s2)) AS eb,
        |  theta_sketch_estimate(theta_difference(s1, s2)) AS ea,
        |  theta_lower_bound(s1) AS lb, theta_upper_bound(s1, 3) AS ub
        |FROM (SELECT
        |  theta_sketch_agg(CASE WHEN event_type = 'view' THEN user_id END) AS s1,
        |  theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END) AS s2
        |FROM ev_theta_sql)""".stripMargin).collect().head
    val exact = ev.filter(col("event_type") === "view")
      .select(countDistinct(col("user_id"))).as[Long].collect().head
    assert(math.abs(row.getLong(0) - exact) <= math.max(5.0, 0.05 * exact))
    assert(row.getLong(1) >= 0L && row.getLong(2) >= 0L)
    assert(row.getDouble(3) <= exact && exact <= row.getDouble(4), s"$row")
  }

  test("empty sketches: an all-NULL group reads NULL quantiles and zero estimates") {
    val day = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val ev = Seq[(String, java.sql.Timestamp, Option[Double], Option[Long])](
      ("view", day, Some(1.0), Some(1L)), ("view", day, Some(2.0), Some(2L)),
      ("click", day, None, None), ("click", day, None, None))
      .toDF("event_type", "ts", "value", "user_id")
    // Spark's KLL quantile read fails on an empty sketch; the rollup's
    // n > 0 guard turns that group into NULL quantiles instead
    val q = Agg.quantileSketchRollup(Agg.dailyQuantileSketches(ev))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    Seq("p10", "p50", "p90").foreach { c =>
      assert(q("click").isNullAt(q("click").fieldIndex(c)), s"click $c")
      assert(!q("view").isNullAt(q("view").fieldIndex(c)), s"view $c")
    }
    assert(q("click").getAs[Long]("n_sketch") == 0L)
    assert(q("click").getAs[Long]("n_events") == 2L)
    assert(q("view").getAs[Long]("n_sketch") == 2L)
    // an empty theta sketch estimates 0 through every set operation
    val daily = Agg.dailyThetaSketches(ev)
    val alg = Agg.typeSetAlgebra(daily).collect()
    assert(alg.length == 1)
    val r = alg.head
    assert((r.getString(0), r.getString(1)) == (("click", "view")))
    assert(Seq("est_a", "est_both", "est_only_a").map(r.getAs[Double]) ==
      Seq(0.0, 0.0, 0.0), s"$r")
    assert(Seq("est_b", "est_only_b").map(r.getAs[Double]) == Seq(2.0, 2.0),
      s"$r")
    val reach = Agg.reachFromThetaState(daily)
      .select(col("event_type"), col("est_reach"))
      .as[(String, Double)].collect().toMap
    assert(reach == Map("click" -> 0.0, "view" -> 2.0))
  }
}
