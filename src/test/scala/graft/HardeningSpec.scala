package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.maintenance.Compaction
import graft.ops.Flatten
import graft.sources.PagedSource
import graft.sources.PagedSource.{Checkpoint, Page, PagedApi}

/** T6 failure isolation (quarantine), compaction maintenance, session
  * factory, and the SURVEY §5.2 watermark-monotonicity property.
  */
class HardeningSpec extends SparkSpec {
  import spark.implicits._

  test("quarantine: corrupt pages isolate without failing or vanishing (T6)") {
    val ok = """{"data":[{"event_key":"e1","received_at":"2025-01-01T00:00:00Z",
      |"media_id":"m1"}]}""".stripMargin.replaceAll("\n", "")
    val corrupt = """{"totally": "unrecognized"}"""
    val garbage = """not json at all {{{"""
    val (good, quarantined) =
      Flatten.splitTagged(Flatten.tagPages(Seq(ok, corrupt, garbage).toDF("payload")))
    assert(good.count() == 1)
    assert(good.select("event_key").as[String].head() == "e1")
    val q = quarantined.select("raw_payload").as[String].collect().toSet
    assert(q == Set(corrupt, garbage), "corrupt pages must be preserved for replay")
  }

  test("an unrecognized page yields no event rows, only its quarantine row") {
    val (out, quarantined) =
      Flatten.splitTagged(Flatten.tagPages(Seq("""{"x": 1}""").toDF("payload")))
    assert(out.count() == 0)
    assert(quarantined.select("raw_payload").as[String].collect().toSeq == Seq("""{"x": 1}"""))
  }

  test("filesFor sizes compaction output from partition bytes") {
    assert(Compaction.filesFor(0L, 128L) == 1)          // empty -> still 1 file
    assert(Compaction.filesFor(100L, 128L) == 1)
    assert(Compaction.filesFor(128L, 128L) == 1)
    assert(Compaction.filesFor(129L, 128L) == 2)
    assert(Compaction.filesFor(1280L, 128L) == 10)
  }

  test("writePartitioned lays out partition directories; readback matches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wpart").toString
    val df = Seq((1L, "2025-04-01", "a"), (2L, "2025-04-01", "b"),
      (3L, "2025-04-02", "c")).toDF("id", "dt", "v")
    graft.sources.Tables.writePartitioned(df, dir, Seq("dt"))
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs == Set("dt=2025-04-01", "dt=2025-04-02"))
    val back = spark.read.parquet(dir).select("id", "dt", "v")
      .as[(Long, String, String)].collect().toSet
    assert(back == Set((1L, "2025-04-01", "a"), (2L, "2025-04-01", "b"),
      (3L, "2025-04-02", "c")))
  }

  test("emptyState bootstraps the watermark table: advance == from-scratch") {
    import graft.incr.Incremental
    val empty = Incremental.emptyState(spark)
    assert(empty.schema == Incremental.stateSchema && empty.count() == 0)
    val batch = Seq(("m1", java.sql.Timestamp.valueOf("2025-04-01 10:00:00")),
      ("m2", java.sql.Timestamp.valueOf("2025-04-02 09:00:00")))
      .toDF("source", "ts")
    val advanced = Incremental.advance(empty, batch, "source", "ts")
      .as[(String, java.sql.Timestamp)].collect().toMap
    assert(advanced == Map(
      "m1" -> java.sql.Timestamp.valueOf("2025-04-01 10:00:00"),
      "m2" -> java.sql.Timestamp.valueOf("2025-04-02 09:00:00")))
  }

  test("advance (union + max) equals the join/greatest/merge form on every state shape") {
    import graft.incr.Incremental
    import graft.ops.Upsert
    def joinForm(state: org.apache.spark.sql.DataFrame,
                 batch: org.apache.spark.sql.DataFrame) = {
      val observed = batch.groupBy(col("source").as("source_key"))
        .agg(max(col("ts")).as("high_water"))
      Upsert.merge(state,
        observed.join(state.withColumnRenamed("high_water", "_old"),
          Seq("source_key"), "left")
          .select(col("source_key"), greatest(col("high_water"),
            coalesce(col("_old"), lit("1970-01-01 00:00:00").cast("timestamp")))
            .as("high_water")),
        Seq("source_key"))
    }
    def ts(s: String) = Option(s).map(java.sql.Timestamp.valueOf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("source_key", "high_water").as[(String, Option[java.sql.Timestamp])]
        .collect().sortBy(_._1).toSeq
    val state = Seq(
      ("only_state", ts("2025-04-01 08:00:00")),
      ("older_batch", ts("2025-04-03 12:00:00")),
      ("newer_batch", ts("2025-04-01 09:00:00")),
      ("null_batch", ts("2025-04-02 00:00:00")))
      .toDF("source_key", "high_water")
    val batch = Seq(
      ("only_batch", ts("2025-04-02 10:00:00")),
      ("only_batch", ts("2025-04-02 11:00:00")),
      ("older_batch", ts("2025-04-02 12:00:00")),
      ("newer_batch", ts("2025-04-04 09:00:00")),
      ("newer_batch", None),
      ("null_batch", None),
      ("null_only_batch", None),
      ("null_only_batch", None))
      .toDF("source", "ts")
    for (s <- Seq(Incremental.emptyState(spark), state)) {
      val got = rows(Incremental.advance(s, batch, "source", "ts"))
      assert(got == rows(joinForm(s, batch)))
      assert(got.map(_._1).distinct.size == got.size)
    }
    val got = rows(Incremental.advance(state, batch, "source", "ts")).toMap
    assert(got("only_state") == ts("2025-04-01 08:00:00"))
    assert(got("older_batch") == ts("2025-04-03 12:00:00"), "never lowered")
    assert(got("newer_batch") == ts("2025-04-04 09:00:00"))
    assert(got("null_batch") == ts("2025-04-02 00:00:00"))
    assert(got("null_only_batch") ==
      Some(java.sql.Timestamp.from(java.time.Instant.EPOCH)))
  }

  test("compactTable collapses small files; content unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val table = s"$dir/t"
    // 10 appends of 10 rows -> many small files
    (0 until 10).foreach { i =>
      (i * 10 until (i + 1) * 10).map(x => (x.toLong, s"r$x")).toDF("k", "v")
        .repartition(4).write.mode("append").parquet(table)
    }
    val before = Compaction.fileCount(spark, table)
    val content = spark.read.parquet(table).as[(Long, String)].collect().toSet
    Compaction.compactTable(spark, table, numFiles = 2)
    assert(Compaction.fileCount(spark, table) <= 2)
    assert(Compaction.fileCount(spark, table) < before)
    assert(spark.read.parquet(table).as[(Long, String)].collect().toSet == content)
  }

  test("compactPartitions rewrites only the targeted partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compactp").toString
    val table = s"$dir/t"
    (0 until 6).foreach { i =>
      Seq((i.toLong, s"d${i % 2}")).toDF("k", "dt")
        .repartition(3).write.mode("append").partitionBy("dt").parquet(table)
    }
    val d1Before = Compaction.fileCount(spark, s"$table/dt=d1")
    Compaction.compactPartitions(spark, table, "dt", Seq("d0"), numFiles = 1)
    assert(Compaction.fileCount(spark, s"$table/dt=d0") == 1)
    assert(Compaction.fileCount(spark, s"$table/dt=d1") == d1Before,
      "untouched partition must not be rewritten")
    assert(spark.read.parquet(table).count() == 6)
  }

  test("property: replaying any prefix of pages never lowers the checkpoint high-water") {
    val tsGen = Gen.choose(0, 59).map(s => f"2025-01-01T00:00:$s%02dZ")
    val pagesGen = Gen.nonEmptyListOf(Gen.nonEmptyListOf(tsGen))
    for (i <- 0 until 25) {
      val pages = pagesGen(Gen.Parameters.default, Seed(i.toLong))
        .getOrElse(List(List("2025-01-01T00:00:00Z")))
      val api = new PagedApi {
        def fetch(page: Long): Page = {
          val ts = pages(page.toInt - 1)
          val payload = ts.map(t => s"""{"received_at":"$t"}""")
            .mkString("[", ",", "]")
          Page(payload, ts.length,
            total = Some(pages.map(_.length).sum.toLong),
            perPage = Some(ts.length.toLong max 1L))
        }
      }
      // pull with every possible page budget; high-water must be monotone
      var prev: Option[String] = None
      var cp = Checkpoint()
      for (budget <- 1 to pages.length) {
        val r = PagedSource.pull(api, cp, maxPages = 1,
          timeBudgetMillis = Long.MaxValue, defaultPerPage = 1000)
        cp = r.checkpoint
        val hw = cp.lastReceivedAt
        assert(prev.forall(p => hw.exists(_ >= p)),
          s"seed $i: watermark regressed from $prev to $hw")
        prev = hw
      }
    }
  }

  test("skip-index: all-null stats columns cannot prove non-overlap — files kept, rows right") {
    // one file whose user_id is entirely NULL: its min/max stats are null,
    // so the overlap test must KEEP it (dropping would silently lose any
    // non-null columns' rows on other predicates ... and null user_ids can
    // never match a range anyway, so the residual filter drops the rows)
    val dir = java.nio.file.Files.createTempDirectory("graft-skip-null").toString
    val m = s"$dir/manifest"
    val t = s"$dir/table"
    Seq((1L, Option(5L)), (2L, Option(15L))).toDF("event_id", "user_id")
      .coalesce(1).write.parquet(s"$t/f1")
    Seq((3L, Option.empty[Long]), (4L, Option.empty[Long]))
      .toDF("event_id", "user_id").coalesce(1).write.parquet(s"$t/f2")
    graft.maintenance.SkipIndex.write(spark, s"$t/*", m, Seq("user_id"))
    val out = graft.maintenance.SkipIndex.scanRanges(spark, s"$t/*", m,
      Map("user_id" -> ((10L, 20L))))
    assert(out.select($"event_id").as[Long].collect().toSet == Set(2L),
      "only the in-range non-null row may survive")
  }

  test("z-order and semantic dedup degenerate inputs: empty tables are no-ops") {
    val empty = spark.emptyDataset[(Long, Seq[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    // empty pair graph -> empty clusters, full corpus survives
    assert(graft.vector.Similarity.semanticClusters(
      graft.vector.Similarity.nearDupPairsExact(empty, 0.9)).count() == 0)
    val one = Seq((1L, Seq(1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    assert(graft.vector.Similarity.semanticDedup(one,
      graft.vector.Similarity.nearDupPairsExact(one, 0.9)).count() == 1)
    // z-order of an empty frame writes an empty, readable table
    val zDir = java.nio.file.Files.createTempDirectory("graft-z-empty").toString
    graft.maintenance.ZOrder.write(
      spark.emptyDataset[(Long, Long)].toDF("a", "b"), zDir, Seq("a", "b"), 2)
    assert(spark.read.parquet(zDir).count() == 0)
  }

  test("span/hotlist/diff degenerate inputs: empty corpora and states are no-ops") {
    import graft.text.{Corpus, TextDedup}
    val emptyDocs = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    // no docs -> no spans; scrub of nothing is nothing
    assert(TextDedup.repeatedSpans(emptyDocs).count() == 0)
    assert(TextDedup.scrubRepeatedSpans(emptyDocs).count() == 0)
    // hotlist built from an empty corpus: probes flag nothing, scrub is
    // identity (modulo whitespace normalization)
    val hotDir = java.nio.file.Files
      .createTempDirectory("graft-hot-empty").toString + "/state"
    Corpus.writeHotlist(emptyDocs, hotDir)
    val delta = Seq((1L, "a a a b")).toDF("doc_id", "text")
    assert(Corpus.boilerplateAgainstHotlist(spark, hotDir, delta)
      .select("n_boiler").as[Long].head() == 0L)
    assert(Corpus.spansAgainstHotlist(spark, hotDir, delta).count() == 0)
    assert(Corpus.scrubAgainstHotlist(spark, hotDir, delta)
      .select("clean_text").as[String].head() == "a a a b")
    // corpus diff against an identical snapshot is empty
    val d = Seq((1L, "same"), (2L, "rows")).toDF("doc_id", "text")
    assert(Corpus.corpusDiff(d, d).count() == 0)
  }

  test("GraftSession.build configures UTC/AQE and registers SQL functions") {
    // getOrCreate returns the already-running test session but must still
    // register the functions on it.
    val s = GraftSession.build(master = "local[4]", shufflePartitions = 4)
    val r = s.sql("SELECT cosine_similarity(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS c")
      .as[Double].head()
    assert(r == 1.0)
  }

  test("constraint report counts every planted violation exactly once") {
    import graft.ops.Constraints
    val df = Seq(
      (1L, Some(10L), 1.0),  // clean
      (1L, Some(11L), -2.0), // dup id + negative value
      (2L, None, 3.0),       // null user
      (3L, Some(12L), 4.0))
      .toDF("event_id", "user_id", "value")
    val report = Constraints.check(df,
      predicateRules = Seq(
        "user_not_null" -> col("user_id").isNull,
        "value_non_negative" -> (col("value") < 0)),
      uniqueRules = Seq("event_id_unique" -> Seq("event_id")))
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(report("user_not_null") == ((1L, 4L, false)))
    assert(report("value_non_negative") == ((1L, 4L, false)))
    assert(report("event_id_unique") == ((1L, 4L, false)))
    // one aggregate pass: adding rules must not add exchanges/scans
    val plan = Constraints.check(df,
      predicateRules = Seq("a" -> (col("value") < 0),
        "b" -> col("user_id").isNull))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(600))

    // FK: orphans include NULL keys; clean dims pass
    val dim = Seq(10L, 11L).toDF("k")
    val fact = Seq(Some(10L), Some(99L), None).toDF("fk")
    val fkRep = Constraints.referencedIn(fact, "fk", dim, "k", "fk_check")
      .as[(String, Long, Long, Boolean)].head()
    assert(fkRep == (("fk_check", 2L, 3L, false)))
  }

  test("round-11 operators: empty inputs are empty outputs, not crashes") {
    import graft.ops.{FuzzyJoin, Joins, Profile, Timeseries}
    val emptyEv = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Timeseries.resampleDaily(emptyEv).count() === 0L)
    assert(Timeseries.resampleDailyInterp(emptyEv).count() === 0L)
    assert(Timeseries.robustOutliers(emptyEv).count() === 0L)
    assert(Timeseries.dailyTrend(emptyEv).count() === 0L)
    assert(graft.ops.Agg.cumulativeReach(emptyEv).count() === 0L)
    val emptyNames = Seq.empty[String].toDF("w")
    assert(FuzzyJoin.fuzzySelfJoin(emptyNames, "w").count() === 0L)
    assert(FuzzyJoin.fuzzyAgainstIndex(
      FuzzyJoin.variantIndexRows(emptyNames, "w"),
      Seq("kitten").toDF("w"), "w").count() === 0L)
    // empty and 1-char strings survive variant generation (the deletion
    // lambda hits sequence(0, -1) on "" — all variants collapse to "")
    val tiny = FuzzyJoin.fuzzySelfJoin(Seq("", "a", "b", "ab").toDF("w"), "w")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(tiny === Set(("", "a"), ("", "b"), ("a", "b"), ("a", "ab"),
      ("ab", "b")))
    // profiler: one row per column even on an empty frame; hostile names refused
    val p = Profile.profile(emptyEv, Seq("event_id")).collect()
    assert(p.map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq ===
      Seq(("event_id", 0L, 0L)))
    intercept[IllegalArgumentException] {
      Profile.profile(emptyEv.withColumnRenamed("event_id", "a'b"), Seq("a'b"))
    }
    // Q21 and PIT on empty inputs
    val emptySupp = Seq.empty[(Long, String)].toDF("s_suppkey", "s_name")
    val emptyOrd = Seq.empty[(Long, String, java.sql.Timestamp)]
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
    val emptyLi = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
    assert(Joins.waitingSuppliers(emptyLi, emptyOrd, emptySupp).count() === 0L)
    val emptyHist = Seq.empty[(Long, Long, String, java.sql.Timestamp,
      java.sql.Timestamp)]
      .toDF("user_id", "version", "state", "valid_from", "valid_to")
    assert(Joins.pointInTimeJoin(
      emptyEv.select("event_id", "user_id", "ts"), emptyHist,
      Seq("user_id"), "ts", Seq("version", "state")).count() === 0L)
  }

  test("round-13 operators: empty inputs are empty outputs, not crashes") {
    import graft.ops.Joins
    import graft.vector.Retrieval
    val emptyCust = Seq.empty[(Long, Double, Int)]
      .toDF("c_custkey", "c_acctbal", "c_nationkey")
    val emptyOrd = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    // empty customer: the threshold aggregate yields (0, null) and the
    // cross-multiply filter must drop everything rather than NPE
    assert(Joins.inactiveHighBalance(emptyCust, emptyOrd,
      nations = Seq(1, 2)).count() === 0L)
    val emptyLi = Seq.empty[(Long, Double, Double, java.sql.Timestamp)]
      .toDF("l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    val emptySupp = Seq.empty[(Long, String)].toDF("s_suppkey", "s_name")
    assert(Joins.topRevenueSupplier(emptyLi, emptySupp,
      "1996-01-01", "1996-04-01").count() === 0L)
    // sparse retriever over an empty corpus / a probe with no tokens
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Retrieval.sparseTopN(emptyDocs).count() === 0L)
    assert(Retrieval.rrfFuse(
      Seq.empty[(Long, Long, Int)].toDF("probe_id", "doc_id", "rank"),
      Seq.empty[(Long, Long, Int)].toDF("probe_id", "doc_id", "rank"))
      .count() === 0L)
    // two-corpus perplexity: empty reference LM -> every bigram unseen,
    // scoring still works (all-fallback path); empty scored corpus -> empty
    val someDocs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val lmEmpty = graft.text.LangModel.bigramLm(emptyDocs)
    val scored = graft.text.LangModel.perplexity(someDocs, lmEmpty)
      .collect()(0)
    assert(scored.getAs[Long]("n_known") === 0L &&
      scored.getAs[Long]("n_bigrams") === 2L)
    assert(graft.text.LangModel.perplexity(emptyDocs, lmEmpty).count() === 0L)
  }

  test("observed gate: metrics ride the sink action, report == check report") {
    import graft.ops.Constraints
    val df = Seq(
      (1L, Some(10L), 1.0), (1L, Some(11L), -2.0),
      (2L, None, 3.0), (3L, Some(12L), 4.0))
      .toDF("event_id", "user_id", "value")
    val rules = Seq(
      "user_not_null" -> col("user_id").isNull,
      "value_non_negative" -> (col("value") < 0))
    val (instrumented, obs) = Constraints.observed(df, "gate-test", rules)
    // the gate's scan disappears into the sink's own action:
    val out = java.nio.file.Files.createTempDirectory("graft-obs").toString
    instrumented.write.mode("overwrite").parquet(out)
    val observed = Constraints
      .observedReport(spark, obs, rules.map(_._1))
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1)
    val direct = Constraints.check(df, predicateRules = rules)
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(observed.toSeq === direct.toSeq,
      "riding the write must report exactly what the standalone pass does")
    // the written data is untouched by the instrumentation
    assert(spark.read.parquet(out).count() === 4L)
    // and observe() adds a CollectMetrics node, never a second scan
    val plan = Constraints.observed(df, "gate-plan", rules)._1
      .queryExecution.executedPlan.toString
    assert(plan.contains("CollectMetrics"), plan.take(400))
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      plan.take(600))
  }
}
