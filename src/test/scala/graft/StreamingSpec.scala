package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.streaming.EventsStream

/** T2/T3/T5/T7/T8: the Structured-Streaming twin of the events path, driven
  * synchronously over the sf0.001 parquet (memory sink +
  * processAllAvailable) and cross-checked against the batch equivalents.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def runStream(df: org.apache.spark.sql.DataFrame, name: String,
                        mode: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("streaming dailyCounts matches batch tumbling window (T7)") {
    val stream = EventsStream.readEvents(spark, sf)
    // complete mode: append would withhold the newest windows (still inside
    // the watermark delay) at end-of-stream, so the batch compare needs the
    // full result.
    val got = runStream(EventsStream.dailyCounts(stream), "daily_out", "complete")
      .select("ws", "event_type", "load_count")
    val want = Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("load_count"))
      .select(col("window.start").as("ws"), col("event_type"), col("load_count"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming sessions match batch session_window (T8)") {
    val stream = EventsStream.readEvents(spark, sf)
    val got = runStream(EventsStream.sessions(stream), "sess_out", "complete")
    val want = Tables.load(spark, sf, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("streaming funnel join matches the batch interval join (T8/J6)") {
    val stream = EventsStream.readEvents(spark, sf)
    // inner stream-stream joins emit on match, so append mode withholds
    // nothing at end-of-stream — full-replay output IS the batch result
    val got = runStream(
      EventsStream.funnelPairsStream(stream), "funnel_out", "append")
    val want = graft.ops.Joins.funnelPairs(
      Tables.load(spark, sf, "events"), "view", "purchase", "1 hour")
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("capped streaming funnel matches the capped batch join (T8/J6 hardened)") {
    val batch = Tables.load(spark, sf, "events")
    val quarantine = graft.ops.Joins.funnelQuarantine(
      batch, "view", "purchase", maxPerSide = 15)
    val got = runStream(
      EventsStream.funnelPairsStreamCapped(
        EventsStream.readEvents(spark, sf), quarantine),
      "funnel_capped_out", "append")
    val want = graft.ops.Joins.funnelPairsCapped(
      batch, "view", "purchase", "1 hour", maxPerSide = 15)
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the quarantine really bit: some user was excluded
    assert(quarantine.count() > 0)
  }

  test("dedupWithinWatermark emits each event_id once (T5)") {
    val stream = EventsStream.readEvents(spark, sf)
    val got = runStream(EventsStream.dedupWithinWatermark(stream), "dedup_out", "append")
    val n = Tables.load(spark, sf, "events").count()
    assert(got.count() == n) // event_id is unique in the testdata
    assert(got.select("event_id").distinct().count() == n)
  }

  test("streaming checkpoint restarts without reprocessing (T2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val src = s"$dir/src"
    val cp = s"$dir/cp"
    val out = s"$dir/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    // first micro-batch: one file
    Tables.load(spark, sf, "events").limit(100)
      .write.mode("overwrite").parquet(s"$src/batch1")
    def run(): Unit = {
      val stream = spark.readStream.schema(Tables.load(spark, sf, "events").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      val q = stream.writeStream.format("parquet")
        .option("checkpointLocation", cp).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 100)
    // add data, restart from checkpoint: only the new file is processed
    Tables.load(spark, sf, "events").limit(150)
      .write.mode("overwrite").parquet(s"$src/batch2")
    run()
    val n2 = spark.read.parquet(out).count()
    assert(n2 == 250, s"expected 250 (100 + 150), got $n2 — checkpoint replayed or skipped data")
  }

  test("streaming passage scrub: batches cleaned against the hotlist, replay-safe") {
    import graft.streaming.CorpusStream
    val root = java.nio.file.Files.createTempDirectory("graft-sstream").toString
    val (src, out, cp, hot) =
      (s"$root/src", s"$root/out", s"$root/cp", s"$root/hot")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    // hotlist state: two index docs share the A..E passage
    graft.text.Corpus.writeHotlist(
      Seq((1L, "u1 A B C D E u2"), (2L, "v1 A B C D E")).toDF("doc_id", "text"),
      hot, minDocs = 2)
    def run(): Unit = {
      val q = CorpusStream.scrubStreamQuery(spark, src, out, cp, schema, hot)
      q.processAllAvailable(); q.stop()
    }
    // trigger 1: passage carrier gets scrubbed
    Seq((10L, "d1 A B C D E d2")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    run()
    val r1 = spark.read.parquet(out)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(r1 == Set((10L, 7L, 5L, "d1 d2")))
    // trigger 2 (restart from checkpoint): only the NEW batch processes —
    // a replayed doc 10 would append a second scrubbed copy
    Seq((11L, "x A B C D E y")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    run()
    val r2 = spark.read.parquet(out)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(r2 == Set((10L, 7L, 5L, "d1 d2"), (11L, 7L, 5L, "x y")),
      "restart must process exactly the unseen batch")
  }

  test("streaming corpus dedup: exact dups dropped across triggers and restarts") {
    import graft.streaming.CorpusStream
    val root = java.nio.file.Files.createTempDirectory("graft-cstream").toString
    val src = s"$root/src"
    val out = s"$root/out"
    val cp = s"$root/cp"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    // trigger 1: 3 docs, one intra-batch exact dup
    Seq((1L, "the quick fox"), (2L, "lazy dog"), (3L, "the quick fox"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val out1 = CorpusStream.runOnce(spark, src, out, cp, schema)
    assert(out1.count() == 2)
    // trigger 2 (restart from checkpoint): one cross-trigger dup + one new —
    // dedup state must survive the restart
    Seq((4L, "lazy dog"), (5L, "brand new text"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val out2 = CorpusStream.runOnce(spark, src, out, cp, schema)
    assert(out2.count() == 3,
      "cross-trigger duplicate must be dropped by the restored dedup state")
    assert(out2.select("text").as[String].collect().toSet ==
      Set("the quick fox", "lazy dog", "brand new text"))
    // batch parity: same survivor set as TextDedup.exactDedup over all input
    val all = spark.read.parquet(src)
    assert(out2.count() == graft.text.TextDedup.exactDedup(all).count())
  }

  test("streaming cluster maintenance: log-structured labels converge to the cold clustering") {
    import graft.streaming.CorpusStream
    import graft.sources.VersionedStore
    import graft.text.TextDedup
    val root = java.nio.file.Files.createTempDirectory("graft-clstream").toString
    val (src, idx, labels, cp) =
      (s"$root/src", s"$root/idx", s"$root/labels", s"$root/cp")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    def base(p: String) = (1 to 60).map(i => s"$p$i").mkString(" ")
    def mut(p: String, j: Int) =
      (1 to 60).map(i => if (i == j) s"MUT$j" else s"$p$i").mkString(" ")
    def runStream(): Unit = {
      val q = CorpusStream.clusterMaintainQuery(spark, src, idx, labels, cp,
        schema, threshold = 0.5)
      q.processAllAvailable(); q.stop()
    }
    // batch 1: near-dup pair {10,11}, future cluster seed 12, singleton 13
    Seq((10L, base("a")), (11L, mut("a", 30)), (12L, base("b")),
      (13L, "z1 z2 z3 z4 z5"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    runStream()
    assert(CorpusStream.readClusterLabels(spark, labels)
      .as[(Long, Long)].collect().toMap == Map(10L -> 10L, 11L -> 10L))
    // batch 2: 20 joins {10,11} ACROSS batches via the index probe; 21/22
    // are a brand-new batch-internal cluster
    Seq((20L, mut("a", 31)), (21L, base("c")), (22L, mut("c", 30)))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    runStream()
    // batch 3: 30 joins 12 (a doc that had never been paired); clusters
    // {10,11,20} and {21,22} are untouched
    Seq((30L, mut("b", 30))).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runStream()
    val want = Map(10L -> 10L, 11L -> 10L, 20L -> 10L,
      21L -> 21L, 22L -> 21L, 12L -> 12L, 30L -> 12L)
    assert(CorpusStream.readClusterLabels(spark, labels)
      .as[(Long, Long)].collect().toMap == want)
    // cold parity: identical to one dedupClusters pass over all pairs
    assert(TextDedup.dedupClusters(
      TextDedup.nearDupPairs(spark.read.parquet(src), threshold = 0.5))
      .as[(Long, Long)].collect().toMap == want)
    // the log is DELTAS: batch 3's version must not rewrite the untouched
    // clusters — only the newly-paired {12,30}
    assert(VersionedStore.versions(spark, labels) == Seq(1L, 2L, 3L))
    assert(spark.read.parquet(s"$labels/v=3").select("doc_id")
      .as[Long].collect().toSet == Set(12L, 30L))
    // at-least-once replay: re-delivering batch 3 is a structural no-op
    // (the index replay-guard drops it before the pair step)
    val idxRows = spark.read.parquet(idx).count()
    CorpusStream.clusterMaintainBatch(spark,
      Seq((30L, mut("b", 30))).toDF("doc_id", "text"), idx, labels, 0.5)
    assert(VersionedStore.versions(spark, labels) == Seq(1L, 2L, 3L))
    assert(spark.read.parquet(idx).count() == idxRows)
    // compaction: read-equivalent, log length restarts at one
    CorpusStream.compactClusterLabels(spark, labels)
    assert(VersionedStore.versions(spark, labels) == Seq(4L))
    assert(CorpusStream.readClusterLabels(spark, labels)
      .as[(Long, Long)].collect().toMap == want)
  }

  test("cluster takedown: ledger kills stale signatures, tombstones leave the labeling, compaction erases") {
    import graft.streaming.CorpusStream
    import graft.sources.VersionedStore
    val root = java.nio.file.Files.createTempDirectory("graft-takedown").toString
    val (src, idx, labels, forgotten) =
      (s"$root/src", s"$root/idx", s"$root/labels", s"$root/forgotten")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    def base(p: String) = (1 to 60).map(i => s"$p$i").mkString(" ")
    def mut(p: String, j: Int) =
      (1 to 60).map(i => if (i == j) s"MUT$j" else s"$p$i").mkString(" ")
    def runStream(): Unit = {
      val q = CorpusStream.clusterMaintainQuery(spark, src, idx, labels,
        s"$root/cp", schema, threshold = 0.5,
        forgottenDir = Some(forgotten))
      q.processAllAvailable(); q.stop()
    }
    def labelMap() = CorpusStream.readClusterLabels(spark, labels)
      .as[(Long, Long)].collect().toMap

    // two pair clusters
    Seq((10L, base("a")), (11L, mut("a", 30)),
      (20L, base("b")), (21L, mut("b", 30)))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    runStream()
    assert(labelMap() == Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))

    // takedown of the whole {10,11} cluster — the delta version is
    // pure tombstones (the one-member form, where the survivor drops
    // out for losing its last duplicate, is pinned in TextSpec)
    CorpusStream.forgetDocs(spark, idx, labels, forgotten,
      Seq(10L, 11L).toDF("doc_id"))
    assert(labelMap() == Map(20L -> 20L, 21L -> 20L))
    assert(spark.read.parquet(s"$labels/v=2")
      .filter(col("cluster_id").isNull)
      .select("doc_id").as[Long].collect().toSet == Set(10L, 11L))

    // resurrection guard: a new near-dup of the FORGOTTEN content must
    // not pair with the stale index rows (without the ledger, doc 30
    // would drag 10/11 straight back into the labeling)
    Seq((30L, mut("a", 31))).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runStream()
    assert(labelMap() == Map(20L -> 20L, 21L -> 20L),
      "stale signatures of forgotten docs must not generate pairs")

    // re-ingest before compaction: the ledger is a doc_id-level logical
    // delete, so the re-delivery is dropped wholesale (documented
    // staleness window)
    val idxRows = spark.read.parquet(idx).count()
    Seq((11L, base("z"))).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runStream()
    assert(labelMap() == Map(20L -> 20L, 21L -> 20L))
    assert(spark.read.parquet(idx).count() == idxRows,
      "a re-ingested forgotten doc must not reach the index pre-compaction")

    // physical erasure: the index rewrite drops the forgotten rows and
    // clears the ledger
    CorpusStream.compactSignatureIndex(spark, idx, forgotten)
    assert(spark.read.parquet(idx).filter(col("doc_id").isin(10L, 11L))
      .isEmpty, "compaction must erase forgotten signatures physically")
    assert(!graft.sources.Tables.pathExists(spark, forgotten))

    // post-compaction the id is re-admitted as new content: 11 pairs
    // with the LIVE near-dup 30 (its own old signatures are gone)
    Seq((11L, mut("a", 32))).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    runStream()
    assert(labelMap() ==
      Map(20L -> 20L, 21L -> 20L, 11L -> 11L, 30L -> 11L))

    // label compaction republishes the tombstone-filtered snapshot: no
    // null rows survive physically, reads unchanged
    CorpusStream.compactClusterLabels(spark, labels)
    assert(spark.read.parquet(labels).filter(col("cluster_id").isNull)
      .isEmpty)
    assert(labelMap() ==
      Map(20L -> 20L, 21L -> 20L, 11L -> 11L, 30L -> 11L))

    // takedown BEFORE first ingest: ledger records (pre-blocking the
    // id), nothing crashes, and compaction over the index-less state is
    // just the ledger clear
    val fresh = java.nio.file.Files.createTempDirectory("graft-tdfresh").toString
    CorpusStream.forgetDocs(spark, s"$fresh/idx", s"$fresh/labels",
      s"$fresh/forgotten", Seq(77L).toDF("doc_id"))
    assert(CorpusStream.forgottenIds(spark, s"$fresh/forgotten")
      .as[Long].collect().toSet == Set(77L))
    CorpusStream.compactSignatureIndex(spark, s"$fresh/idx",
      s"$fresh/forgotten")
    assert(!graft.sources.Tables.pathExists(spark, s"$fresh/forgotten"))
  }

  test("corpus-build ingest: chopped stream == batch corpusBuild; " +
    "contaminated survivors still cluster; fresh-checkpoint replay") {
    import graft.streaming.CorpusStream
    import graft.text.Corpus
    val root = java.nio.file.Files.createTempDirectory("graft-cbingest").toString
    val (src, bench, idx, labels, store) = (s"$root/src", s"$root/bench",
      s"$root/idx", s"$root/labels", s"$root/docs")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
      .add("lang", org.apache.spark.sql.types.StringType)
      .add("source", org.apache.spark.sql.types.StringType)
      .add("n_chars", org.apache.spark.sql.types.LongType)
    def mk(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    def doc(p: String) = "the a row " + (1 to 57).map(i => s"$p$i").mkString(" ")
    def mut(p: String, j: Int) = "the a row " +
      (1 to 57).map(i => if (i == j) s"MUT$j" else s"$p$i").mkString(" ")
    // contaminated cluster SURVIVOR (id 14 carries the benchmark 5-gram
    // c1..c5 mid-document; its near-dup 15 breaks the run, so 15 is
    // clean) — the fixture that catches decontaminating BEFORE dedup:
    // dropped early, 14 never indexes, 15 never pairs, and 15 wrongly
    // survives. (Insertion offset chosen so the pair survives the
    // MinHash band lottery of the poly-hash family: at offsets 7, 15 and
    // 35 the two docs share a band, at 27 they do not.)
    val d14 = "the a row " + (1 to 15).map(i => s"d$i").mkString(" ") +
      " c1 c2 c3 c4 c5 " + (16 to 52).map(i => s"d$i").mkString(" ")
    val d15 = "the a row " + (1 to 15).map(i => s"d$i").mkString(" ") +
      " c1 c2 MUTC c4 c5 " + (16 to 52).map(i => s"d$i").mkString(" ")
    mk((100L, "bq1 bq2 c1 c2 c3 c4 c5 bq3")).write.parquet(bench)
    def runIngest(cp: String): Unit = {
      val q = CorpusStream.corpusBuildIngestQuery(spark, src, bench, idx,
        labels, store, cp, schema)
      q.processAllAvailable(); q.stop()
    }
    // three chopped batches: cross-batch near-dup joins (20 -> {10,11},
    // 30 -> {12}), per-batch curate failures (13 short, 22 repetitive),
    // the contaminated pair split across batches (14 then 15)
    mk((10L, doc("a")), (11L, mut("a", 30)), (12L, doc("b")),
      (13L, "x y"), (14L, d14)).write.mode("append").parquet(src)
    runIngest(s"$root/cp")
    mk((20L, mut("a", 31)), (21L, doc("g")),
      (22L, "r1 r2 r1 r2 r1 r2 r1 r2"), (15L, d15))
      .write.mode("append").parquet(src)
    runIngest(s"$root/cp")
    mk((30L, mut("b", 30))).write.mode("append").parquet(src)
    runIngest(s"$root/cp")
    // store: curate gate applied per batch, contamination as a FLAG
    val stored = spark.read.parquet(store)
    assert(stored.select("doc_id").as[Long].collect().toSet ==
      Set(10L, 11L, 12L, 14L, 15L, 20L, 21L, 30L),
      "curate failures must not land; contaminated docs must")
    assert(stored.filter(col("contaminated")).select("doc_id")
      .as[Long].collect().toSet == Set(14L))
    // the contaminated survivor DID cluster (14 wins, 15 loses) …
    val labelMap = CorpusStream.readClusterLabels(spark, labels)
      .as[(Long, Long)].collect().toMap
    assert(labelMap == Map(10L -> 10L, 11L -> 10L, 20L -> 10L,
      12L -> 12L, 30L -> 12L, 14L -> 14L, 15L -> 14L))
    // … so the assembled clean set equals the batch corpusBuildClean:
    // neither 14 (contaminated) nor 15 (loser) survives
    val all = spark.read.parquet(src)
    val cleanIngest = CorpusStream.corpusBuildIngestClean(spark, store, labels)
    val cleanBatch = Corpus.corpusBuildClean(all, mk((100L,
      "bq1 bq2 c1 c2 c3 c4 c5 bq3")))
    assert(cleanIngest.select("doc_id").as[Long].collect().toSet ==
      Set(10L, 12L, 21L))
    assert(cleanIngest.collect().map(_.toSeq).toSet ==
      cleanBatch.select(cleanIngest.columns.map(col): _*)
        .collect().map(_.toSeq).toSet,
      "ingest clean rows must equal the batch corpusBuildClean rows")
    // full-artifact parity: assembly shares sampleAndPack with the
    // batch entry point; budget 130 over 180 clean tokens keeps a
    // PROPER subset ({10, 21} — rate floor 47331 drops doc 12), so the
    // mixture denominator is exercised, not bypassed
    val packedIngest = CorpusStream.corpusBuildFromIngest(spark, store,
      labels, Map("s" -> 1.0), 130L)
    val packedBatch = Corpus.corpusBuild(all, mk((100L,
      "bq1 bq2 c1 c2 c3 c4 c5 bq3")), Map("s" -> 1.0), 130L)
    assert(packedIngest.select("doc_id").as[Long].collect().toSet ==
      Set(10L, 21L))
    assert(packedIngest.collect().map(_.toSeq).toSet ==
      packedBatch.select(packedIngest.columns.map(col): _*)
        .collect().map(_.toSeq).toSet,
      "assembled pack must equal the batch corpusBuild pack")
    // fresh-checkpoint full replay: every source file re-delivers under
    // a new chop; the index replay-guard and the assembly-time dedup
    // absorb it — state and assembled corpus converge unchanged
    val idxRows = spark.read.parquet(idx).count()
    runIngest(s"$root/cp2")
    assert(spark.read.parquet(idx).count() == idxRows,
      "replayed docs must not re-enter the signature index")
    assert(CorpusStream.readClusterLabels(spark, labels)
      .as[(Long, Long)].collect().toMap == labelMap)
    assert(CorpusStream.corpusBuildIngestClean(spark, store, labels)
      .collect().map(_.toSeq).toSet ==
      cleanIngest.collect().map(_.toSeq).toSet,
      "fresh-checkpoint replay must converge the assembled clean set")
    // benchmark-update ratchet: re-deliver doc 10 under a NEW benchmark
    // that flags it — the per-doc_id flag aggregation must drop it even
    // though its original contaminated=false row persists in an old
    // batch partition (whole-row dedup would admit it via that stale
    // copy — the round-19 review finding)
    CorpusStream.corpusBuildIngestBatch(spark, mk((10L, doc("a"))),
      Corpus.benchmarkKeys(mk((101L, doc("a")))), idx, labels, store,
      99L, threshold = 0.5, contamN = 5)
    val afterUpdate = CorpusStream.corpusBuildIngestClean(spark, store, labels)
      .select("doc_id").as[Long].collect().toSet
    assert(afterUpdate == Set(12L, 21L),
      "a doc flagged by an updated benchmark must leave the corpus " +
        s"despite its stale unflagged row: $afterUpdate")
    // the batch twin's contamN boundary holds at both ingest entry points
    intercept[IllegalArgumentException] {
      CorpusStream.corpusBuildIngestQuery(spark, src, bench, idx, labels,
        store, s"$root/cpBad", schema, contamN = 2)
    }
    intercept[IllegalArgumentException] {
      CorpusStream.corpusBuildIngestBatch(spark, mk((50L, doc("x"))),
        Corpus.benchmarkKeys(mk((101L, doc("a")))), idx, labels, store,
        100L, threshold = 0.5, contamN = 2)
    }
    // takedown lifecycle: forget the cluster REPRESENTATIVE 10 — the
    // relabel promotes 11 to survivor, so the assembled corpus swaps
    // 10 out and its next copy IN (the erasure semantics a dedup'd
    // corpus needs: losing a doc must not lose its content class)
    val forgotten = s"$root/forgotten"
    CorpusStream.forgetDocs(spark, idx, labels, forgotten,
      Seq(10L).toDF("doc_id"))
    assert(CorpusStream.corpusBuildIngestClean(spark, store, labels,
        Some(forgotten))
      .select("doc_id").as[Long].collect().toSet == Set(11L, 12L, 21L),
      "forgetting the representative must promote the next copy")
    // the ledger blocks re-delivery of the forgotten id wholesale —
    // its text must not re-land in the docs store pre-compaction
    val storeRows10 = spark.read.parquet(store)
      .filter(col("doc_id") === 10L).count()
    CorpusStream.corpusBuildIngestBatch(spark, mk((10L, doc("a"))),
      Corpus.benchmarkKeys(mk((100L, "bq1 bq2 c1 c2 c3 c4 c5 bq3"))),
      idx, labels, store, 101L, threshold = 0.5, contamN = 5,
      forgottenDir = Some(forgotten))
    assert(spark.read.parquet(store).filter(col("doc_id") === 10L)
      .count() == storeRows10,
      "a re-delivered forgotten doc must not re-land its text")
    // physical erasure: the docs store is rewritten minus the ledger
    // BEFORE compactSignatureIndex clears it — afterwards the text is
    // gone from disk and no reader needs the ledger any more
    CorpusStream.compactCorpusBuildIngest(spark, store, idx, forgotten)
    assert(spark.read.parquet(store).filter(col("doc_id") === 10L).isEmpty,
      "compaction must physically erase the forgotten doc's text")
    assert(spark.read.parquet(idx).filter(col("doc_id") === 10L).isEmpty)
    assert(!graft.sources.Tables.pathExists(spark, forgotten))
    assert(CorpusStream.corpusBuildIngestClean(spark, store, labels)
      .select("doc_id").as[Long].collect().toSet == Set(11L, 12L, 21L),
      "post-compaction the assembled corpus stands without the ledger")
    // FULL takedown (r19 ADVICE): with every stored doc on the ledger, a
    // partitioned empty overwrite would leave a schema-less dir that
    // passes pathExists but cannot be read — compaction must instead
    // remove the store outright, clean must refuse loudly (exactly as
    // before first ingest), and the next batch must recreate the store.
    CorpusStream.forgetDocs(spark, idx, labels, forgotten,
      spark.read.parquet(store).select(col("doc_id")).distinct())
    CorpusStream.compactCorpusBuildIngest(spark, store, idx, forgotten)
    assert(!graft.sources.Tables.pathExists(spark, store),
      "full takedown must erase the docs store entirely")
    val eAll = intercept[IllegalArgumentException] {
      CorpusStream.corpusBuildIngestClean(spark, store, labels)
    }
    assert(eAll.getMessage.contains("no admitted-docs store"))
    CorpusStream.corpusBuildIngestBatch(spark, mk((30L, doc("z"))),
      Corpus.benchmarkKeys(mk((101L, doc("a")))), idx, labels, store,
      102L, threshold = 0.5, contamN = 5)
    assert(CorpusStream.corpusBuildIngestClean(spark, store, labels)
      .select("doc_id").as[Long].collect().contains(30L),
      "post-erasure ingest must recreate the store and assemble")
  }

  test("streaming ppl gate: chop-invariant batch scores, survivors match the batch form, replay converges") {
    import graft.streaming.CorpusStream
    import graft.text.LangModel
    val root = java.nio.file.Files.createTempDirectory("graft-pplgate").toString
    val (src, lm, out, cp) = (s"$root/src", s"$root/lm", s"$root/out", s"$root/cp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    LangModel.writeLm(docs.filter(col("source") === "src0"), lm)
    val pool = docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("lang"), col("text"))
    val schema = pool.schema
    def run(): Unit = {
      val q = CorpusStream.pplGateQuery(spark, s"$src/*", lm, out, cp,
        schema, maxPpl = 44.0)
      q.processAllAvailable(); q.stop()
    }
    // two arbitrary chops of the pool — the stored V makes the per-doc
    // decision identical at ANY chop, so the union of per-batch
    // survivors must equal the batch-form gate over the whole pool
    pool.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$src/w1")
    run()
    pool.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$src/w2")
    run()
    val got = spark.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("n_bigrams"))
      .as[(Long, String, Long)].collect().toSet
    val want = LangModel.pplGateStored(spark, lm, pool, maxPpl = 44.0)
      .as[(Long, String, Long)].collect().toSet
    assert(got == want,
      "streamed survivors must equal the batch gate over the whole pool")
    assert(got.size < pool.count(), "the gate must actually drop a tail")
    // re-running on the SAME checkpoint with no new data is a no-op
    run()
    assert(spark.read.parquet(out)
      .select(col("doc_id"), col("lang"), col("n_bigrams"))
      .as[(Long, String, Long)].collect().toSet == want)
    // full replay = fresh checkpoint AND fresh sink (the pair lives and
    // dies together — the monitor-sink contract): everything lands in
    // batch 0 and the result converges to the same survivor set
    val q2 = CorpusStream.pplGateQuery(spark, s"$src/*", lm,
      s"$root/out2", s"$root/cp2", schema, maxPpl = 44.0)
    q2.processAllAvailable(); q2.stop()
    val replayed = spark.read.parquet(s"$root/out2")
      .select(col("doc_id"), col("lang"), col("n_bigrams"))
      .as[(Long, String, Long)].collect()
    assert(replayed.length == replayed.distinct.length &&
      replayed.toSet == want,
      "replay must converge to the same survivor set without duplicates")
  }

  test("streaming blocklist gate: chop-invariant decisions, admitted = batch complement, replay converges") {
    import graft.streaming.CorpusStream
    import graft.text.TextAnalysis
    val root = java.nio.file.Files.createTempDirectory("graft-blgate").toString
    val (src, out, cp) = (s"$root/src", s"$root/out", s"$root/cp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val schema = docs.schema
    def run(): Unit = {
      val q = CorpusStream.blocklistGateQuery(spark, s"$src/*", out, cp,
        schema)
      q.processAllAvailable(); q.stop()
    }
    // two arbitrary chops — the decision is per-doc against the frozen
    // term list, so the union of per-batch admits must equal the batch
    // form's complement over the whole pool
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$src/w1")
    run()
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$src/w2")
    run()
    val got = spark.read.parquet(out).select(col("doc_id"))
      .as[Long].collect().toSet
    val flagged = TextAnalysis.blocklistGate(docs)
      .select(col("doc_id")).as[Long].collect().toSet
    val want = docs.select(col("doc_id")).as[Long].collect().toSet -- flagged
    assert(got == want,
      "streamed admits must equal the batch gate's complement")
    assert(flagged.nonEmpty, "the gate must actually quarantine a tail")
    // re-running on the SAME checkpoint with no new data is a no-op
    run()
    assert(spark.read.parquet(out).select(col("doc_id"))
      .as[Long].collect().toSet == want)
    // full replay = fresh checkpoint AND fresh sink: everything lands in
    // batch 0 and converges to the same admitted set, no duplicates
    val q2 = CorpusStream.blocklistGateQuery(spark, s"$src/*",
      s"$root/out2", s"$root/cp2", schema)
    q2.processAllAvailable(); q2.stop()
    val replayed = spark.read.parquet(s"$root/out2").select(col("doc_id"))
      .as[Long].collect()
    assert(replayed.length == replayed.distinct.length &&
      replayed.toSet == want,
      "replay must converge to the same admitted set without duplicates")
  }

  test("streaming hist state: quantile is batch-chop-invariant and replay-safe") {
    import graft.ops.Agg
    val root = java.nio.file.Files.createTempDirectory("graft-hstream").toString
    val ev = Tables.load(spark, sf, "events")
    // chop the table into 3 files → 3 micro-batches via maxFilesPerTrigger
    for (i <- 0 until 3)
      ev.filter(col("event_id") % 3 === i)
        .write.mode("append").parquet(s"$root/src")
    def run(): Unit = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      val q = graft.streaming.EventsStream.histStateQuery(spark, stream,
        s"$root/state", s"$root/cp", width = 2.0)
      q.processAllAvailable(); q.stop()
    }
    run()
    val state = spark.read.parquet(s"$root/state")
    assert(state.select("batch_id").distinct().count() >= 3,
      "expected one partial-histogram batch per source file")
    // lossless merge: quantile over chopped streaming state == one batch pass
    def q50(df: org.apache.spark.sql.DataFrame) =
      Agg.histQuantile(df, q = 0.5, width = 2.0)
        .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(q50(state) == q50(Agg.dailyValueHist(ev, width = 2.0)),
      "streaming state must answer identically to a batch pass")
    // replay safety: re-running over the same checkpoint appends nothing
    run()
    assert(spark.read.parquet(s"$root/state").count() == state.count(),
      "a replayed/no-op trigger must not double-count partial histograms")
    // compaction: one row per (key, day), quantiles bit-identical
    val compacted = Agg.compactHists(state)
    assert(compacted.count() ==
      state.select("event_type", "dt").distinct().count())
    assert(q50(compacted) == q50(state),
      "compaction must not move any quantile")
  }

  test("state commit protocol: partial publishes are repaired, the old layout is refused") {
    import graft.ops.Agg
    val ev = Tables.load(spark, sf, "events")
    // --- partial-publish repair: simulate a crash mid-NON-ATOMIC rename
    // (the object-store mode): a batch_id=0 directory with data but NO
    // _COMMITTED marker. The guard must rewrite it, not skip it forever.
    val root = java.nio.file.Files.createTempDirectory("graft-cstream").toString
    ev.filter(col("event_id") % 3 === 0)
      .write.parquet(s"$root/src")
    def run(cp: String): Unit = {
      val stream = spark.readStream.schema(ev.schema).parquet(s"$root/src")
      val q = graft.streaming.EventsStream.histStateQuery(spark, stream,
        s"$root/state", cp, width = 2.0)
      q.processAllAvailable(); q.stop()
    }
    // plant a PARTIAL batch_id=0: one impossible row, no marker
    graft.ops.Agg.dailyValueHist(
        ev.limit(1).withColumn("event_type", lit("_bogus")), width = 2.0)
      .write.parquet(s"$root/state/batch_id=0")
    run(s"$root/cp")
    val state = spark.read.parquet(s"$root/state")
      .filter(col("batch_id") === 0)
    assert(state.filter(col("event_type") === "_bogus").count() == 0,
      "the partial partition must be REWRITTEN from the batch, not kept")
    assert(state.count() > 1)
    // the repaired partition answers like a batch pass over the same rows
    def q50(df: org.apache.spark.sql.DataFrame) =
      Agg.histQuantile(df, q = 0.5, width = 2.0)
        .as[(String, Long, Long, Double, Double)].collect().toSet
    assert(q50(spark.read.parquet(s"$root/state")) ==
      q50(Agg.dailyValueHist(ev.filter(col("event_id") % 3 === 0),
        width = 2.0)))
    // a sealed batch is NOT rewritten on a fresh-checkpoint replay: the
    // marker makes the guard O(1)-skip it
    val sealedRows = spark.read.parquet(s"$root/state").count()
    run(s"$root/cp2")
    assert(spark.read.parquet(s"$root/state").count() == sealedRows,
      "a marker-sealed batch must be skipped on replay")
    // --- old per-row-append layout: loose root files → actionable refuse
    val oldRoot = java.nio.file.Files.createTempDirectory("graft-ostream").toString
    ev.filter(col("event_id") % 7 === 0).limit(5)
      .write.parquet(s"$oldRoot/state") // loose part files at the root
    ev.filter(col("event_id") % 3 === 0)
      .write.parquet(s"$oldRoot/src")
    val stream = spark.readStream.schema(ev.schema).parquet(s"$oldRoot/src")
    val q = graft.streaming.EventsStream.histStateQuery(spark, stream,
      s"$oldRoot/state", s"$oldRoot/cp", width = 2.0)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("pre-round-11") ||
      Option(e.getCause).exists(_.getMessage.contains("pre-round-11")),
      s"old layout must fail actionably, got: ${e.getMessage.take(400)}")
  }

  test("streaming freq state: heavy hitters hold their bounds and replay is a no-op") {
    import graft.ops.Agg
    val root = java.nio.file.Files.createTempDirectory("graft-fstream").toString
    // skewed synthetic events: 3 heavy users (300 events) over a 151-user
    // tail (2 each) — the m=32 union's error (≤ 3.5·n/m ≈ 131, summed
    // over batches) stays below the heavy counts, so the top-3 is provable
    val rows = for {
      (u, n) <- (1L to 3L).map(_ -> 300) ++ (100L to 250L).map(_ -> 2)
      i <- 1 to n
    } yield (i.toLong, u, "view")
    val ev = rows.toDF("event_id", "user_id", "event_type")
      .withColumn("ts", lit("2024-01-01").cast("timestamp"))
    for (i <- 0 until 3)
      ev.filter(col("event_id") % 3 === i)
        .write.mode("append").parquet(s"$root/src")
    def run(): Unit = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      val q = graft.streaming.EventsStream.freqStateQuery(spark, stream,
        s"$root/state", s"$root/cp", maxMapSize = 32)
      q.processAllAvailable(); q.stop()
    }
    run()
    val state = spark.read.parquet(s"$root/state")
    assert(state.select("batch_id").distinct().count() >= 3,
      "expected one partial-sketch batch per source file")
    def consume(df: org.apache.spark.sql.DataFrame) =
      Agg.heavyHittersFromState(df, k = 1000, maxMapSize = 32)
        .select(col("user_id"), col("est"), col("lb"), col("ub"), col("rnk"))
        .as[(Long, Long, Long, Long, Int)].collect()
    val nStateRows = state.count()
    val got = consume(state)
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (u, _, lb, ub, _) =>
      assert(lb <= exact(u) && exact(u) <= ub,
        s"user $u: true=${exact(u)} outside [$lb,$ub]")
    }
    assert(got.filter(_._5 <= 3).map(_._1).toSet == Set(1L, 2L, 3L),
      "the provably-heavy users must rank first from streaming state")
    // replay safety: same checkpoint appends nothing, bounds don't widen
    run()
    val replayed = spark.read.parquet(s"$root/state")
    assert(replayed.count() == nStateRows,
      "a replayed/no-op trigger must not double-count sketch partials")
    assert(consume(replayed).toSet == got.toSet)
  }

  test("streaming kll state: 2eps rank bound holds from chopped state, replay is a no-op") {
    import graft.ops.Agg
    val root = java.nio.file.Files.createTempDirectory("graft-kstream").toString
    val ev = Tables.load(spark, sf, "events")
    for (i <- 0 until 3)
      ev.filter(col("event_id") % 3 === i)
        .write.mode("append").parquet(s"$root/src")
    def run(): Unit = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      val q = graft.streaming.EventsStream.kllStateQuery(spark, stream,
        s"$root/state", s"$root/cp", k = 200)
      q.processAllAvailable(); q.stop()
    }
    run()
    val state = spark.read.parquet(s"$root/state")
    assert(state.select("batch_id").distinct().count() >= 3,
      "expected one partial-sketch batch per source file")
    // the certificate, not the bytes (KLL compaction is randomized): every
    // estimated quantile from the chopped streaming state must carry a
    // TRUE rank within 2eps of its target — the same bound SketchSpec
    // pins for the batch build, with NO per-batch widening (KLL's merge
    // guarantee is rank error <= eps at fixed k through ANY merge tree,
    // unlike the freq-sketch union whose bounds sum per batch)
    val exact = ev.select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (t, rows) =>
        t -> rows.map(_.getDouble(1)).sorted
      }
    val eps = 2 * 0.0165
    def checkRanks(df: org.apache.spark.sql.DataFrame): Unit =
      Agg.quantileSketchRollup(df).collect().foreach { r =>
        val vals = exact(r.getAs[String]("event_type"))
        Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9)).foreach {
          case (cname, p) =>
            val est = r.getAs[Double](cname)
            val trueRank = vals.count(_ <= est).toDouble / vals.length
            assert(math.abs(trueRank - p) <= eps,
              s"${r.getAs[String]("event_type")} $cname: est $est has " +
                s"true rank $trueRank, want $p +- $eps")
        }
        // n is exact through the chopped state: every event entered once
        assert(r.getAs[Long]("n_sketch") == vals.length.toLong)
      }
    checkRanks(state)
    // replay safety: same checkpoint appends nothing; the bound (and the
    // exact n certificate) holds unchanged from the replayed state
    run()
    val replayed = spark.read.parquet(s"$root/state")
    assert(replayed.count() == state.count(),
      "a replayed/no-op trigger must not double-count sketch partials")
    checkRanks(replayed)
  }

  test("streaming kmv state: value-identical replay, rollup == direct") {
    import graft.ops.Agg
    val root = java.nio.file.Files.createTempDirectory("graft-kmvstream").toString
    val ev = Tables.load(spark, sf, "events")
    for (i <- 0 until 3)
      ev.filter(col("event_id") % 3 === i)
        .write.mode("append").parquet(s"$root/src")
    def run(tag: String): Unit = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      val q = graft.streaming.EventsStream.kmvStateQuery(spark, stream,
        s"$root/state-$tag", s"$root/cp-$tag", k = 64)
      q.processAllAvailable(); q.stop()
    }
    run("a")
    def img(tag: String): Map[(String, java.sql.Date, Long), Seq[Long]] =
      spark.read.parquet(s"$root/state-$tag").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("dt"),
          r.getAs[Number]("batch_id").longValue()) ->
          r.getAs[Seq[Long]]("kmv_state")).toMap
    val first = img("a")
    assert(first.keys.map(_._3).toSet.size >= 3,
      "expected one state batch per source file")
    // deterministic order statistic: fresh-checkpoint replay rebuilds
    // value-identical state rows (the theta byte-identity class)
    run("b")
    assert(img("b") == first,
      "fresh-checkpoint replay must rebuild identical kmv state")
    // same-checkpoint replay is a guarded no-op
    run("a")
    assert(img("a") == first,
      "a replayed trigger must not append state partials")
    // consume side shared with batch: the lossless bottom-k identity
    // makes rollup-from-chopped-state EQUAL the direct build (per-batch
    // partial rows for one (type, day) union idempotently)
    def rolled(df: org.apache.spark.sql.DataFrame) =
      Agg.kmvRollup(df.select("event_type", "dt", "kmv_state", "kmv_k"),
        k = 64)
        // n_days included: the chopped state has one PARTIAL row per
        // (type, day, batch), so this also pins that n_days counts
        // DISTINCT days, not state rows (review finding)
        .select(col("event_type"), col("n_days"), col("visitors_est"))
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rolled(spark.read.parquet(s"$root/state-a")) ==
      rolled(Agg.dailyKmvSketches(ev, k = 64)),
      "kmv rollup from chopped streaming state must equal the batch build")
  }

  test("streaming theta state: byte-identical across a fresh-checkpoint replay") {
    import graft.ops.Agg
    val root = java.nio.file.Files.createTempDirectory("graft-tstream").toString
    val ev = Tables.load(spark, sf, "events")
    for (i <- 0 until 3)
      ev.filter(col("event_id") % 3 === i)
        .write.mode("append").parquet(s"$root/src")
    def run(tag: String): Unit = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      val q = graft.streaming.EventsStream.thetaStateQuery(spark, stream,
        s"$root/state-$tag", s"$root/cp-$tag")
      q.processAllAvailable(); q.stop()
    }
    run("a")
    def img(tag: String): Map[(String, java.sql.Date, Long), Seq[Byte]] =
      spark.read.parquet(s"$root/state-$tag").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[java.sql.Date]("d"),
          // batch_id is a PARTITION column since the atomic-commit
          // layout — integer-inferred, so read it number-agnostically
          r.getAs[Number]("batch_id").longValue()) ->
          r.getAs[Array[Byte]]("visitor_theta").toSeq).toMap
    val first = img("a")
    assert(first.keys.map(_._3).toSet.size >= 3,
      "expected one state batch per source file")
    // the family's strongest replay contract: theta images are
    // deterministic in the input key SET (no randomized compaction), so
    // a FULL replay under a fresh checkpoint rebuilds the byte-identical
    // state table — not merely an equal-bound one (contrast kll above)
    run("b")
    assert(img("b") == first,
      "fresh-checkpoint replay must rebuild byte-identical theta state")
    // same-checkpoint replay is a guarded no-op
    run("a")
    assert(img("a") == first,
      "a replayed trigger must not append sketch partials")
    // consume side shared with batch: union-from-chopped-state answers
    // the same set algebra as the direct batch build (exact regime at
    // this SF: theta below nominal entries retains every key)
    def algebra(df: org.apache.spark.sql.DataFrame) =
      Agg.typeSetAlgebra(df).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.toSeq.drop(2)).toMap
    assert(algebra(spark.read.parquet(s"$root/state-a")) ==
      algebra(Agg.dailyThetaSketches(ev)),
      "set algebra from chopped streaming state must equal the batch build")
    // and the cumulative-reach consumer reads the SAME chopped state:
    // per-batch partial rows for one (type, day) union idempotently, so
    // the curve equals the exact batch computation (exact regime)
    val reach = Agg.reachFromThetaState(
      spark.read.parquet(s"$root/state-a"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        r.getDouble(2)).toMap
    Agg.cumulativeReach(ev).collect().foreach { r =>
      val k = (r.getString(0), r.getDate(1).toString)
      assert(reach(k) == r.getLong(3).toDouble,
        s"$k: streaming-state reach ${reach(k)} != exact ${r.getLong(3)}")
    }
  }

  test("stream-static PIT enrichment matches the batch point-in-time join") {
    import graft.ops.{Joins, Upsert}
    val root = java.nio.file.Files.createTempDirectory("graft-pit").toString
    val ev = Tables.load(spark, sf, "events")
    for (i <- 0 until 3)
      ev.filter(col("event_id") % 3 === i)
        .write.mode("append").parquet(s"$root/src")
    val hist = Upsert.scd2FromChanges(
      ev.select(col("user_id"), col("event_type"), col("ts"),
        col("event_id")),
      Seq("user_id"), "event_type", "ts", tieCols = Seq("event_id"))
      .withColumnRenamed("event_type", "state")
    val probeCols = Seq("event_id", "user_id", "ts")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/src")
      .select(probeCols.map(col): _*)
    val q = graft.streaming.EventsStream.pitEnrichQuery(stream, hist,
      Seq("user_id"), "ts", Seq("version", "state"),
      s"$root/out", s"$root/cp")
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "user_id", "ts", "version", "state")
        .collect().map(_.toSeq).toSet
    val streamed = rows(spark.read.parquet(s"$root/out"))
    val batch = rows(Joins.pointInTimeJoin(
      ev.select(probeCols.map(col): _*), hist,
      Seq("user_id"), "ts", Seq("version", "state")))
    assert(streamed == batch,
      "chopped stream-static enrichment must equal the batch PIT join")
    assert(streamed.size == ev.count(),
      "every event matches exactly one history version")
  }

  test("corpus dedup compaction: state restarts empty, history via anti-join") {
    import graft.streaming.CorpusStream
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val src = s"$root/src"
    val out = s"$root/out"
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    Seq((1L, "alpha text"), (2L, "beta text"), (3L, "alpha text"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    assert(CorpusStream.runOnce(spark, src, out, s"$root/cp", schema).count() == 2)

    // Compact: snapshot becomes the authoritative corpus; the old stream
    // (and its checkpoint/state) is retired.
    CorpusStream.compact(spark, out, s"$root/compacted")
    assert(spark.read.parquet(s"$root/compacted").count() == 2)

    // Delta arrivals: one pre-compaction dup, one new text twice. The
    // post-compaction stream runs with a FRESH checkpoint, so it replays
    // ALL of src — replayed and duplicate docs must be dropped by the
    // snapshot anti-join alone, without ever entering the state store.
    Seq((4L, "beta text"), (5L, "gamma text"), (6L, "gamma text"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    val q = CorpusStream.dedupStreamQueryAfterCompaction(spark, src,
      s"$root/delta", s"$root/cp2", schema, s"$root/compacted")
    q.processAllAvailable(); q.stop()

    val delta = spark.read.parquet(s"$root/delta")
    assert(delta.count() == 1, "only the genuinely new text may append")
    assert(delta.select("text").as[String].collect().toSet == Set("gamma text"))
    // Corpus = snapshot ∪ delta: every distinct text exactly once.
    val full = spark.read.parquet(s"$root/compacted").unionByName(delta)
    assert(full.count() == 3)
    assert(full.select("text_hash").distinct().count() == 3)
    // The state bound itself: across all micro-batches the dedup state
    // held at most the ONE new hash — not the 3-hash corpus history.
    val maxStateRows = q.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).max
    assert(maxStateRows == 1,
      s"post-compaction state must start empty and hold only " +
        s"new-since-compaction hashes, saw $maxStateRows rows")
  }
}
