package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.sources.Tables
import graft.vector.Similarity

/** Custom Catalyst expression surface (§2.11/§4.3): codegen'd cosine must
  * be bit-identical to the HOF baseline; SQL registration; bucketed tables
  * must join without an Exchange (the 100 TB co-located join).
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("CosineSimilarity expression is bit-identical to the HOF form") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ia") < col("ib") - 480) // ~small sample of pairs
    val diff = pairs.select(
      Similarity.cosine(col("ea"), col("eb")).as("expr"),
      Similarity.cosineHof(col("ea"), col("eb")).as("hof"))
      .filter(col("expr") =!= col("hof"))
    assert(diff.count() == 0, "codegen expression must match HOF bit-for-bit")
  }

  test("cosine_similarity is callable from SQL after registration") {
    GraftFunctions.registerAll(spark)
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .createOrReplaceTempView("emb_fn_test")
    val r = spark.sql(
      """SELECT cosine_similarity(a.embedding, a.embedding) AS self_cos
        |FROM emb_fn_test a WHERE a.vec_id = 0""".stripMargin)
      .as[Double].head()
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("freq sketch family is callable from SQL after registration") {
    GraftFunctions.registerAll(spark)
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .createOrReplaceTempView("ev_freq_test")
    val r = spark.sql(
      """SELECT it.item, it.est, it.lb, it.ub,
        |  freq_sketch_max_error(sk) AS max_err
        |FROM (SELECT freq_union_agg(sk, 64) AS sk
        |      FROM (SELECT freq_sketch_agg(user_id, 64) AS sk
        |            FROM ev_freq_test GROUP BY event_type))
        |LATERAL VIEW explode(freq_sketch_items(sk)) AS it""".stripMargin)
      .collect()
    assert(r.nonEmpty)
    // sf0.001 has 15 users over 1000 events in a m=64 sketch: everything
    // fits exactly, so brackets collapse and counts sum to the row count
    assert(r.forall(row => row.getLong(1) == row.getLong(2) &&
      row.getLong(1) == row.getLong(3)))
    assert(r.map(_.getLong(1)).sum == 1000L)
  }

  test("kll sketch family is callable from SQL by Spark's names") {
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .createOrReplaceTempView("ev_kll_test")
    val r = spark.sql(
      """SELECT kll_sketch_get_quantile_double(sk, array(0.1, 0.5, 0.9)) AS qs,
        |  kll_sketch_get_n_double(sk) AS n
        |FROM (SELECT kll_merge_agg_double(sk, 200) AS sk
        |      FROM (SELECT kll_sketch_agg_double(value, 200) AS sk
        |            FROM ev_kll_test GROUP BY event_type))""".stripMargin)
      .collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n") == 1000L, "n is exact through the union")
    val qs = r.head.getSeq[Double](0)
    assert(qs.length == 3 && qs(0) <= qs(1) && qs(1) <= qs(2),
      s"quantiles must be monotone: $qs")
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
    val plan = q.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [cosine_similarity"), plan.take(500))
    q.collect() // force actual codegen compilation, not just planning
  }

  test("LshBucket expression is bit-identical to the HOF form (all tables)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    // cover the multi-table offsets too — same planes the q60 oracle uses
    for (off <- Seq(0, 8, 16, 24)) {
      val diff = emb.select(
        Similarity.lshBucket("embedding", bits = 8, dims = 64, planeOffset = off).as("fast"),
        Similarity.lshBucketHof("embedding", bits = 8, dims = 64, planeOffset = off).as("hof"))
        .filter(col("fast") =!= col("hof"))
      assert(diff.count() == 0, s"planeOffset=$off: codegen bucket != HOF bucket")
    }
  }

  test("LshBucket fails loudly on a dims mismatch (no silent bucket-0 collapse)") {
    val bad = Seq((1L, Seq(1f, 2f, 3f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      bad.select(Similarity.lshBucket("embedding", bits = 8, dims = 64).as("b"))
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .take(8).toSeq
    assert(chain(e).exists(m => m != null && m.contains("lsh_bucket")),
      s"expected the lsh_bucket dims guard, got: ${chain(e)}")
  }

  test("LshBucket rejects a non-float array child at analysis time") {
    val dbl = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      dbl.select(Similarity.lshBucket("embedding", bits = 8, dims = 2).as("b"))
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("array<float>"),
      s"expected the array<float> type guard, got: ${e.getMessage}")
  }

  test("LshBucket throws on a NULL embedding element (no zero-fill bucket)") {
    val withNull = Seq((1L, Seq[java.lang.Float](1f, null, 3f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      withNull.select(Similarity.lshBucket("embedding", bits = 8, dims = 3).as("b"))
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .take(8).toSeq
    assert(chain(e).exists(m => m != null && m.contains("NULL")),
      s"expected the null-element guard, got: ${chain(e)}")
  }

  test("cosine_similarity yields NULL on a NULL element (interpreted + codegen)") {
    // The HOF baseline and DuckDB's list_dot_product both propagate NULL;
    // getFloat on a null slot would silently read 0.0 instead.
    val withNull = Seq(
      (Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](1f, 2f, 3f)),
      (Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](1f, 2f, 3f)))
      .toDF("a", "b")
    val rows = withNull
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
      .collect()
    assert(rows.count(_.isNullAt(0)) == 1, "null-element row must yield NULL")
    assert(rows.count(r => !r.isNullAt(0) && math.abs(r.getDouble(0) - 1.0) < 1e-12) == 1)
    // Interpreted path (no codegen wrapper): direct eval through the math.
    import org.apache.spark.sql.catalyst.util.ArrayData
    val nullArr = ArrayData.toArrayData(Array[Any](1.0f, null, 3.0f))
    val okArr = ArrayData.toArrayData(Array[Any](1.0f, 2.0f, 3.0f))
    assert(graft.functions.CosineSimilarityMath.compute(nullArr, okArr,
      failOnError = false) == null)
  }

  test("cosine_similarity throws on a length mismatch (no silent truncation)") {
    val bad = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(Similarity.cosine(col("a"), col("b"))).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .take(8).toSeq
    assert(chain(e).exists(m => m != null && m.contains("cosine_similarity")),
      s"expected the length-mismatch guard, got: ${chain(e)}")
  }

  test("cosine_similarity rejects non-float arrays at analysis time") {
    val dbl = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    val e = intercept[Exception] {
      dbl.select(Similarity.cosine(col("a"), col("b"))).collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("array<float>"),
      s"expected the array<float> type guard, got: ${e.getMessage}")
  }

  test("lsh_bucket SQL misuse gets descriptive errors, not NPEs") {
    GraftFunctions.registerAll(spark)
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .createOrReplaceTempView("emb_err_test")
    val e = intercept[Exception] {
      spark.sql("SELECT lsh_bucket(embedding, NULL, 64) FROM emb_err_test")
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .take(8).toSeq
    assert(chain(e).exists(m => m != null && m.contains("non-null literal integer")),
      s"expected the litInt guard message, got: ${chain(e)}")
  }

  test("lsh_bucket is callable from SQL and stays in whole-stage codegen") {
    GraftFunctions.registerAll(spark)
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .createOrReplaceTempView("emb_lsh_test")
    val q = spark.sql(
      "SELECT lsh_bucket(embedding, 8, 64) AS b FROM emb_lsh_test")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [lsh_bucket"), plan.take(500))
    val range = q.agg(min(col("b")), max(col("b"))).as[(Long, Long)].head()
    assert(range._1 >= 0L && range._2 <= 255L)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // DROP TABLE on the in-memory catalog leaves physical dirs from prior
    // JVMs behind; clear them or saveAsTable fails LOCATION_ALREADY_EXISTS
    for (t <- Seq("b_orders", "b_lineitem")) {
      val p = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    }
    val sf = "/root/testdata/sf0.001"
    Tables.load(spark, sf, "orders")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    Tables.load(spark, sf, "lineitem")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
      col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    val exchangesBeforeAgg = plan.split("HashAggregate").head
    assert(!exchangesBeforeAgg.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle either side:\n${plan.take(3000)}")
  }

  test("GraftExtensions injects every SQL function of the one table") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val ext = new SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    // registerFunctions is private[sql] but bytecode-public (the
    // GraftFunctions bridge precedent); apply the injections to a clone of
    // the live registry — extensions cannot be attached to an existing
    // session, so this is the testable surface of the config-injection
    // path.
    val registry = spark.sessionState.functionRegistry.clone()
    val names = GraftFunctions.sqlFunctions.map(_._1)
    assert(names.nonEmpty && names.distinct == names)
    for (fn <- names) registry.dropFunction(FunctionIdentifier(fn))
    val m = classOf[SparkSessionExtensions].getDeclaredMethods
      .find(_.getName == "registerFunctions").get
    m.invoke(ext, registry)
    for (fn <- names)
      assert(registry.functionExists(FunctionIdentifier(fn)),
        s"$fn missing after extension injection")
  }

  test("no engine SQL function shadows a Spark built-in") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val shadowing = GraftFunctions.sqlFunctions.map(_._1)
      .filter(n => FunctionRegistry.builtin.functionExists(FunctionIdentifier(n)))
    assert(shadowing.isEmpty, s"engine names replace Spark built-ins: $shadowing")
    // Spark's own theta sketch, not a BIGINT-only replacement, answers in
    // a session that registered the engine's functions
    GraftFunctions.registerAll(spark)
    assert(spark.sql("SELECT theta_sketch_estimate(theta_sketch_agg(" +
      "CAST(id AS STRING))) FROM range(1000)").head().getLong(0) == 1000L)
  }

  test("KgramMinHash is bit-identical to the HOF form (ASCII, multi-byte, short, empty, null)") {
    import graft.functions.KgramMinHashMath
    val k = 8
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "naïve café — δοκιμή многобайтовый 試験テキスト",   // multi-byte chars
      "short",                                            // shorter than k
      "exactly8",                                         // exactly k chars
      "",                                                 // empty
      null.asInstanceOf[String])
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val hof = expr(
      s"""array_min(transform(sequence(1, greatest(length(text) - ${k - 1}, 1)),
         |  i -> xxhash64(substring(text, i, $k))))""".stripMargin)
    val out = texts.select(
      col("doc_id"),
      hof.as("hof_fp"),
      KgramMinHashMath.kgramMinHashCol(col("text"), k).as("expr_fp"),
      col("text").isNull.as("is_null_text"))
      .collect()
    out.foreach { r =>
      if (r.getBoolean(3)) {
        // deliberate difference: the HOF chain maps NULL text to the seed
        // (greatest(null,1)=1 → xxhash64(NULL)=42); the expression
        // propagates NULL — a NULL document has no fingerprint
        assert(r.isNullAt(2), "expression must propagate NULL text")
        assert(!r.isNullAt(1) && r.getLong(1) == 42L,
          "HOF null-to-seed behavior changed — revisit the documented difference")
      } else {
        assert(r.getLong(1) == r.getLong(2),
          s"fingerprint mismatch for doc ${r.getLong(0)}")
      }
    }
    // and across the real corpus
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val mism = docs.select(
      hof.as("a"),
      KgramMinHashMath.kgramMinHashCol(col("text"), k).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(mism == 0, s"$mism corpus fingerprints differ from the HOF form")
  }

  test("RewriteHofCosine turns the HOF cosine shape into the expression") {
    import graft.functions.RewriteHofCosine
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val hofCosine = Similarity.cosineHof(col("embedding"), col("embedding"))
    val hofDot = Similarity.dot(col("embedding"), col("embedding"))
    val before = emb.select(hofCosine.as("c"), hofDot.as("d"))
    spark.experimental.extraOptimizations = Seq(RewriteHofCosine)
    try {
      val after = emb.select(hofCosine.as("c"), hofDot.as("d"))
      val opt = after.queryExecution.optimizedPlan.toString
      assert(opt.contains("cosine_similarity"),
        "the full cosine shape must rewrite:\n" + opt.take(600))
      // the bare dot product is NOT the cosine shape — it must survive
      assert(opt.contains("aggregate(zip_with"),
        "a lone dot product must not be rewritten:\n" + opt.take(600))
      // results bit-identical to the un-rewritten plan
      spark.experimental.extraOptimizations = Nil
      val base = before.as[(Double, Double)].collect().toSeq
      spark.experimental.extraOptimizations = Seq(RewriteHofCosine)
      assert(after.as[(Double, Double)].collect().toSeq == base)
    } finally {
      spark.experimental.extraOptimizations = Nil
    }
  }

  test("CosineSimilarity zero-norm follows Divide semantics in both ANSI modes") {
    import graft.functions.RewriteHofCosine
    val df = Seq((Array(0f, 0f), Array(1f, 2f)),
      (Array.empty[Float], Array.empty[Float])).toDF("ea", "eb")
    val ansiWas = spark.conf.get("spark.sql.ansi.enabled")
    try {
      // ANSI on (the Spark 4 default): the HOF form's Divide throws
      // DIVIDE_BY_ZERO — the expression must throw the same error
      spark.conf.set("spark.sql.ansi.enabled", "true")
      def msgOf(t: Throwable): String = {
        val sw = new java.io.StringWriter()
        t.printStackTrace(new java.io.PrintWriter(sw)); sw.toString
      }
      val exprT = intercept[Exception] {
        df.select(Similarity.cosine(col("ea"), col("eb"))).collect()
      }
      assert(msgOf(exprT).contains("DIVIDE_BY_ZERO"), msgOf(exprT).take(300))
      val hofT = intercept[Exception] {
        df.select(Similarity.cosineHof(col("ea"), col("eb"))).collect()
      }
      assert(msgOf(hofT).contains("DIVIDE_BY_ZERO"), msgOf(hofT).take(300))
      // ANSI off: both yield NULL — and never NaN, which would sort above
      // every real similarity in a descending top-k
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val rows = df.select(Similarity.cosine(col("ea"), col("eb")).as("c"),
        Similarity.cosineHof(col("ea"), col("eb")).as("h")).collect()
      assert(rows.forall(r => r.isNullAt(0) && r.isNullAt(1)),
        "zero-norm cosine must be NULL under non-ANSI, matching the HOF form")
      // and the rewrite preserves that NULL (the round-7 rule used to turn
      // these rows into NaN) — via parquet so ConvertToLocalRelation can't
      // collapse the plan before the assertion reads it
      val zdir = java.nio.file.Files.createTempDirectory("graft-zn").toString
      df.write.mode("overwrite").parquet(zdir)
      spark.experimental.extraOptimizations = Seq(RewriteHofCosine)
      try {
        val zdf = spark.read.parquet(zdir)
        val rewritten =
          zdf.select(Similarity.cosineHof(col("ea"), col("eb")).as("h"))
        assert(rewritten.queryExecution.optimizedPlan.toString
          .contains("cosine_similarity"), "rewrite must still fire")
        assert(rewritten.collect().forall(_.isNullAt(0)),
          "rewritten zero-norm cosine must stay NULL")
      } finally spark.experimental.extraOptimizations = Nil
    } finally spark.conf.set("spark.sql.ansi.enabled", ansiWas)
  }

  test("kgram_min_hash is callable from SQL after registration") {
    GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT kgram_min_hash('the quick brown fox', 8) AS fp").collect().head
    val direct = graft.functions.KgramMinHashMath.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString("the quick brown fox"), 8)
    assert(r.getLong(0) == direct)
  }

  test("WordNgramHashes matches the split-based shingle pipeline's structure") {
    import graft.functions.WordNgramHashesMath
    val n = 3
    // edge shapes: leading/trailing/mixed whitespace (split keeps the
    // empty boundary tokens under limit -1), tabs/newlines, multi-byte,
    // short, empty, all-whitespace, null
    val texts = Seq(
      "a b c d e", "  leading ws here", "trailing ws here  ",
      "tab\tand\nnewline\rmixed tokens", "multi  space   runs between",
      "naïve café δοκιμή 試験 многобайтовый текст здесь",
      "a b", "", "   ", null.asInstanceOf[String],
      "rep rep rep rep rep")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val gram = concat_ws(" ",
      (0 until n).map(k => expr(s"element_at(_toks, CAST(_i + $k AS INT))")): _*)
    val sqlGrams = texts
      .withColumn("_toks", split(col("text"), "\\s+"))
      .withColumn("_grams", when(size(col("_toks")) >= n,
        expr(s"transform(sequence(1, size(_toks) - ${n - 1}), " +
          "i -> concat_ws(' ', slice(_toks, i, " + n + ")))"))
        .otherwise(expr("CAST(array() AS ARRAY<STRING>)")))
      .select(col("doc_id"), col("_grams"))
      .as[(Long, Seq[String])].collect().toMap
    val exprHashes = texts.select(col("doc_id"),
        WordNgramHashesMath.wordNgramHashesCol(col("text"), n).as("h"))
      .as[(Long, Option[Seq[Long]])].collect().toMap
    // NULL text -> NULL array (split of NULL is NULL too: no grams)
    assert(exprHashes(9L).isEmpty, "NULL text must yield NULL")
    val pairs = for {
      id <- sqlGrams.keys.toSeq if id != 9L
      (g, h) <- sqlGrams(id).zip(exprHashes(id).get)
    } yield (g, h)
    sqlGrams.filterNot(_._1 == 9L).foreach { case (id, gs) =>
      assert(gs.size == exprHashes(id).get.size,
        s"window count mismatch for doc $id")
    }
    // equal grams hash equal; distinct grams hash distinct (no collisions
    // in test data) — hash VALUES are engine-internal, only the induced
    // identity matters
    val byGram = pairs.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byGram.values.forall(_.size == 1), "same n-gram, different hash")
    val byHash = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
    assert(byHash.values.forall(_.size == 1), "hash collision in test data")
    // and across the real corpus: window counts line up everywhere
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val mism = docs.select(
        size(WordNgramHashesMath.wordNgramHashesCol(col("text"), n)).as("a"),
        greatest(size(split(col("text"), "\\s+")) - lit(n - 1), lit(0)).as("b"))
      .filter(!(col("a") <=> col("b"))).count()
    assert(mism == 0, s"$mism corpus docs disagree on window count")
  }

  test("word_ngram_hashes is callable from SQL and matches the column API") {
    GraftFunctions.registerAll(spark)
    val viaSql = spark.sql(
      "SELECT word_ngram_hashes('a b c d', 3) AS h").as[Seq[Long]].head
    val direct = spark.range(1).select(
      graft.functions.WordNgramHashesMath
        .wordNgramHashesCol(lit("a b c d"), 3).as("h")).as[Seq[Long]].head
    assert(viaSql == direct && viaSql.size == 2)
  }

  test("WordNgramHashes participates in whole-stage codegen (no fallback)") {
    import graft.functions.WordNgramHashesMath
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(WordNgramHashesMath.wordNgramHashesCol(col("text"), 3).as("h"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [word_ngram_hashes"), p.take(500))
    df.collect()
  }

  test("KgramMinHash participates in whole-stage codegen (no fallback)") {
    import graft.functions.KgramMinHashMath
    // project over a parquet scan — a local Seq would constant-fold via
    // ConvertToLocalRelation and never reach codegen
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(KgramMinHashMath.kgramMinHashCol(col("text"), 8).as("fp"))
    val p = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(p.contains("*(1) Project [kgram_min_hash"), p.take(500))
    df.collect() // force actual codegen compilation, not just planning
  }

  test("PolyHashMath matches the cross-language reference (pinned literals " +
      "+ BigInt property over the real corpus)") {
    import graft.functions.PolyHashMath
    import org.apache.spark.unsafe.types.UTF8String
    // Literals computed INDEPENDENTLY (Python big-int arithmetic, which
    // DuckDB's HUGEINT SQL twin was verified against) — any drift in
    // mulmod/addmod/codepoint decode or the splitmix64 affine constants
    // breaks cross-engine hash equality and therefore the q36/q64 oracles.
    assert(PolyHashMath.hashString(UTF8String.fromString("hello world"))
      == 2083453854010787712L)
    assert(PolyHashMath.kgramMin(
      UTF8String.fromString("the quick brown fox jumps"), 8)
      == 53304914913601733L)
    assert(PolyHashMath.hashString(UTF8String.fromString("héllo ✓ 你好"))
      == 469649007009152114L) // 2-, 3-byte UTF-8 decode
    // 4-byte (supplementary-plane) decode: emoji, musical symbol, and a
    // ZWJ family sequence — 18 code points, reference-pinned (Python ==
    // DuckDB HUGEINT == this value)
    assert(PolyHashMath.hashString(
      UTF8String.fromString("🚀 data 𝄞clef " +
        "👩‍👩‍👧"))
      == 573548212088664442L)
    assert(PolyHashMath.affineA(0) == 1227844342346046666L)
    assert(PolyHashMath.affineB(0) == 1682153688901572306L)
    assert(PolyHashMath.affineA(7) == 530179042305200142L)
    assert(PolyHashMath.affineB(7) == 2153150379439133193L)
    assert(PolyHashMath.hashes(UTF8String.fromString("hello world"), 1)
      .getLong(0) == 1944310238947936944L)
    assert(PolyHashMath.hashString(UTF8String.fromString("")) == 0L)
    // property over the real corpus: the fused loop equals a BigInt
    // Horner over String.codePoints (independent decode path)
    val M = BigInt(PolyHashMath.M)
    val B = BigInt(PolyHashMath.B)
    def ref(s: String): Long = {
      var h = BigInt(0)
      s.codePoints().forEach(cp => h = (h * B + cp) % M)
      h.toLong
    }
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"),
        graft.functions.PolyHashMath.polyHash61Col(col("text")).as("h"))
      .collect()
    assert(docs.nonEmpty)
    docs.foreach(r => assert(r.getLong(1) == ref(r.getString(0)),
      s"poly hash mismatch on: ${r.getString(0).take(60)}"))
  }

  test("KgramPolyMinHash: window semantics (short, exact-k, empty, null) " +
      "+ sliding-window reference over the corpus") {
    import graft.functions.PolyHashMath
    import org.apache.spark.unsafe.types.UTF8String
    def h(s: String): Long = PolyHashMath.hashString(UTF8String.fromString(s))
    // n <= k: ONE clamped window of the whole text (the KgramMinHash
    // convention)
    assert(PolyHashMath.kgramMin(UTF8String.fromString("short"), 8) == h("short"))
    assert(PolyHashMath.kgramMin(UTF8String.fromString("exactly8"), 8) == h("exactly8"))
    assert(PolyHashMath.kgramMin(UTF8String.fromString(""), 8) == 0L)
    // sliding-window reference via String windows (code-point safe texts)
    def kref(s: String, k: Int): Long =
      if (s.isEmpty) 0L
      else if (s.codePointCount(0, s.length) <= k) h(s)
      else {
        val cps = s.codePoints().toArray
        (0 to cps.length - k).map(i =>
          h(new String(cps, i, k))).min
      }
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "naïve café — δοκιμή многобайтовый 試験テキスト")
    texts.foreach(t => assert(
      PolyHashMath.kgramMin(UTF8String.fromString(t), 8) == kref(t, 8), t))
    // null passthrough + corpus agreement via the Column API
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val rows = docs.select(col("text"),
      PolyHashMath.kgramPolyMinHashCol(col("text"), 8).as("fp")).collect()
    rows.foreach(r => assert(r.getLong(1) == kref(r.getString(0), 8)))
    val nulls = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(PolyHashMath.kgramPolyMinHashCol(col("text"), 8).as("fp"),
        PolyHashMath.polyHash61Col(col("text")).as("h"))
      .head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1),
      "NULL text must have no fingerprint")
  }

  test("poly hash differential fuzz: random Unicode strings across every " +
      "UTF-8 width match the BigInt code-point reference (seeded)") {
    import graft.functions.PolyHashMath
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // code points drawn from every UTF-8 encoding width (1..4 bytes),
    // excluding the surrogate range (not valid scalar values)
    val cpGen = Gen.frequency(
      4 -> Gen.choose(0x20, 0x7e),          // 1-byte ASCII incl. space
      1 -> Gen.oneOf(0x09, 0x0a, 0x0d),     // the tokenizer's ws chars
      2 -> Gen.choose(0x80, 0x7ff),         // 2-byte
      2 -> Gen.choose(0x800, 0xd7ff),       // 3-byte below surrogates
      1 -> Gen.choose(0xe000, 0xffff),      // 3-byte above surrogates
      2 -> Gen.choose(0x10000, 0x10ffff))   // 4-byte supplementary
    val strGen = Gen.listOfN(40, cpGen)
      .map(cps => new String(cps.toArray, 0, cps.length))
    val M = BigInt(PolyHashMath.M)
    val B = BigInt(PolyHashMath.B)
    def ref(s: String): Long = {
      var h = BigInt(0)
      s.codePoints().forEach(cp => h = (h * B + cp) % M)
      h.toLong
    }
    def kref(s: String, k: Int): Long = {
      val cps = s.codePoints().toArray
      if (cps.isEmpty) 0L
      else if (cps.length <= k) ref(s)
      else (0 to cps.length - k).map(i => ref(new String(cps, i, k))).min
    }
    // the fused word-n-gram walk vs the compositional reference: Java
    // split("\\s+", -1) tokens, each poly-hashed, Horner-folded per
    // window — pins the tokenizer boundary semantics (leading/trailing
    // empty tokens, multi-byte chars adjacent to whitespace) that the
    // single-pass byte walk must reproduce
    def wref(s: String, n: Int): Seq[Long] = {
      val toks = s.split("\\s+", -1).toSeq
      if (toks.length < n) Seq.empty
      else toks.map(ref).sliding(n).map(_.foldLeft(BigInt(0))(
        (acc, h) => (acc * B + h) % M).toLong).toSeq
    }
    for (i <- 0 until 300) {
      val s = strGen(Gen.Parameters.default, Seed(i.toLong)).getOrElse("")
      val u = UTF8String.fromString(s)
      assert(PolyHashMath.hashString(u) == ref(s),
        s"hashString diverged on seed $i: ${s.take(40)}")
      assert(PolyHashMath.kgramMin(u, 8) == kref(s, 8),
        s"kgramMin diverged on seed $i: ${s.take(40)}")
      val got = graft.functions.WordNgramHashesMath.compute(u, 3)
      assert(got.toLongArray().toSeq == wref(s, 3),
        s"word-ngram walk diverged on seed $i: ${s.take(40)}")
    }
  }

  test("PolyHashes equals the affine transforms of PolyHash61 and stays " +
      "in whole-stage codegen") {
    import graft.functions.PolyHashMath
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val df = docs.select(
      PolyHashMath.polyHashesCol(col("text"), 8).as("hs"),
      PolyHashMath.polyHash61Col(col("text")).as("h"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [poly_hashes"), p.take(500))
    df.collect().foreach { r =>
      val hs = r.getSeq[Long](0)
      val h = r.getLong(1)
      (0 until 8).foreach { i =>
        val expect = ((BigInt(PolyHashMath.affineA(i)) * h +
          PolyHashMath.affineB(i)) % PolyHashMath.M).toLong
        assert(hs(i) == expect, s"affine $i mismatch")
      }
    }
  }
}
