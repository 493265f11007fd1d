package graft

import graft.GraftSession.Settings

/** The one session configuration: the shared test session is a
  * `GraftSession.build` session carrying what Verify certifies and Bench
  * times, and the mains' env contract (SPARK_GRAFT_CPUS / _MASTER /
  * _EXTRA_CONF / _ONLY) resolves as pure functions, with no second session.
  */
class GraftSessionSpec extends SparkSpec {

  test("the test session carries the certified configuration and SQL functions") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MICROS")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    // no registerAll here: the session starts with the engine's functions
    val n = spark.sql(
      "SELECT size(kmv_sketch_agg(id, 16)) FROM range(10)")
      .head().getInt(0)
    assert(n == 10)
  }

  test("build on a running session re-applies the certified runtime entries") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    try {
      assert(GraftSession.build("local[4]", 4, "graft-test") eq spark)
      assert(spark.conf.get(key) == "true")
    } finally spark.conf.set(key, "true")
  }

  test("Verify's result files read timestamps back naive, at the UTC wall clock") {
    import spark.implicits._
    val df = Seq(("a", java.sql.Timestamp.from(java.time.Instant.parse("2025-01-02T03:04:05Z"))))
      .toDF("k", "ts")
    val dir = java.nio.file.Files.createTempDirectory("graft-verify-ts").toString
    df.write.mode("overwrite").parquet(s"$dir/zoned")
    Verify.naiveTimestamps(df).write.mode("overwrite").parquet(s"$dir/naive")
    assert(spark.read.parquet(s"$dir/zoned").schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val back = spark.read.parquet(s"$dir/naive")
    assert(back.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
    assert(back.select("k", "ts").as[(String, java.time.LocalDateTime)].collect().toSeq ==
      Seq(("a", java.time.LocalDateTime.parse("2025-01-02T03:04:05"))))
  }

  test("env contract: SPARK_GRAFT_CPUS, _MASTER, _EXTRA_CONF resolve to settings") {
    val cores = Runtime.getRuntime.availableProcessors()
    assert(GraftSession.settings(Map.empty) == Settings(s"local[$cores]", cores, Nil))
    assert(GraftSession.settings(Map("SPARK_GRAFT_CPUS" -> "32")) ==
      Settings("local[32]", 32, Nil))
    assert(GraftSession.settings(Map(
      "SPARK_GRAFT_CPUS" -> " 2 ",
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,2,2048]",
      "SPARK_GRAFT_EXTRA_CONF" -> " spark.sql.adaptive.enabled = false ;;spark.x=a=b;")) ==
      Settings("local-cluster[2,2,2048]", 2,
        Seq("spark.sql.adaptive.enabled" -> "false", "spark.x" -> "a=b")))
    for (bad <- Seq("four", "0", "-3")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.settings(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains(s"'$bad'"))
    }
  }

  test("SPARK_GRAFT_EXTRA_CONF skips empty entries and names a malformed one") {
    assert(GraftSession.parseExtraConf("") == Nil)
    assert(GraftSession.parseExtraConf("a=b;;c=d") == Seq("a" -> "b", "c" -> "d"))
    assert(GraftSession.parseExtraConf("k=") == Seq("k" -> ""))
    for ((spec, entry) <- Seq("a=b;oops;c=d" -> "oops", "a=b; =v" -> "=v")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseExtraConf(spec))
      assert(e.getMessage.contains(s"'$entry'"), e.getMessage)
    }
  }

  test("SPARK_GRAFT_ONLY selects by name prefix; a prefix matching no query fails") {
    assert(SparkEntry.selected(None).keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.selected(Some("q166_, q188_")).keySet ==
      Set("q166_pagerank", "q188_cluster_resume"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selected(Some("q166_,q9999_")))
    assert(e.getMessage.contains("prefix(es) q9999_ match no query"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.selected(Some(" , ")))
  }
}
