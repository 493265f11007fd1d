package graft

import org.apache.spark.sql.functions._

import graft.text.{Corpus, TextAnalysis, TextDedup}

/** A8 dedup family + F8 text analysis. */
class TextSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))

  test("exactDedup groups identical texts and keeps the min doc_id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val out = TextDedup.exactDedup(d).orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("doc_id") == 1L && out(0).getAs[Long]("n_copies") == 2L)
  }

  test("shingles produces distinct word trigrams; short docs drop out") {
    val d = docs((1L, "a b c d"), (2L, "x y"))
    val out = TextDedup.shingles(d).as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a b c"), (1L, "b c d")))
  }

  test("near-dup pipeline finds mutated copies, not unrelated docs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val mutated = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val d = docs((1L, base), (2L, mutated), (3L, other))
    val pairs = TextDedup.nearDupPairs(d, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("identical texts always pair at jaccard 1.0; unrelated docs never pair") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val mutated = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val exactCopy = base
    val d = docs((1L, base), (2L, mutated), (3L, other), (4L, exactCopy))
    val pairs = TextDedup.nearDupPairs(d, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // identical texts have identical signatures → ALWAYS candidates, j=1.0
    assert(pairs((1L, 4L)) == 1.0)
    // the near-dup survives the exact-Jaccard verify; unrelated docs don't pair
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) >= 0.5)
    assert(pairs.keys.forall { case (a, b) => a < b && !Set(a, b).contains(3L) })
  }

  test("minhash signatures are deterministic BIGINTs with the m0..m7 shape") {
    val d = docs((1L, "a b c d e"), (2L, "f g h i j"))
    val sh = TextDedup.shingles(d)
    val s1 = TextDedup.minhashSignatures(sh).orderBy("doc_id").collect()
    val s2 = TextDedup.minhashSignatures(sh).orderBy("doc_id").collect()
    assert(s1.sameElements(s2), "poly-hash signatures must be deterministic")
    val schema = TextDedup.minhashSignatures(sh).schema
    assert(schema.fieldNames.toSeq == ("doc_id" +: (0 until 8).map(i => s"m$i")))
    assert(schema.fields.drop(1).forall(_.dataType ==
      org.apache.spark.sql.types.LongType))
  }

  test("jaccard value is the exact shingle-set ratio") {
    val d = docs((1L, "a b c d"), (2L, "a b c e"))
    val sh = TextDedup.shingles(d)
    val cand = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val j = TextDedup.jaccardVerify(cand, sh).select("jaccard").as[Double].head()
    assert(j == 1.0 / 3.0) // shingles: {abc,bcd} vs {abc,bce} -> 1 of 3
  }

  test("simhash of identical docs is identical; near-dups have small hamming") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val mutated = (1 to 50).map(i => if (i == 25) "CHANGED" else s"tok$i").mkString(" ")
    val d = docs((1L, base), (2L, base), (3L, mutated))
    val sh = TextDedup.simhash(d).as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) <= 8)
    val pairs = TextDedup.simhashNearDups(d, maxHamming = 8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("langId scores markers and breaks ties in declaration order") {
    val d = Seq((1L, "the a row row", "en"), (2L, "data query data", "es"),
      (3L, "nothing matches here", "xx"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(d).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("pred_lang") == "en")
    assert(out(1).getAs[String]("pred_lang") == "es")
    assert(out(2).getAs[String]("pred_lang") == "en") // all-zero tie -> first lang
  }

  test("qualityScore ratios are exact int-division doubles") {
    val d = docs((1L, "the a the cat."))
    val r = TextAnalysis.qualityScore(d).collect().head
    assert(r.getAs[Int]("n_tokens") == 4)
    assert(r.getAs[Double]("stopword_ratio") == 3.0 / 4.0)
    assert(r.getAs[Double]("punct_ratio") == 1.0 / 14.0)
  }

  test("learnedQualityScore: literal-weight score, per-source thresholds, one-pass gate") {
    import spark.implicits._
    // same text under three sources: the score is source-independent but
    // the keep gate moves with the per-source threshold
    val text = "the quick brown fox jumps over the lazy dog again"
    val d = Seq((1L, text, "src0"), (2L, text, "src1"), (3L, text, "src9"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.learnedQualityScore(d).orderBy("doc_id").collect()
    val scores = out.map(_.getAs[Double]("quality_score"))
    assert(scores.distinct.length == 1, "same text must score identically")
    val s = scores.head
    // recompute the score by hand from the model's definition
    val m = TextAnalysis.defaultQualityModel
    val toks = text.split("\\s+")
    val nc = text.length.toDouble
    val expected = m.bias +
      m.wNTokens * toks.length +
      m.wDistinctRatio * (toks.distinct.length.toDouble / toks.length) +
      m.wAvgTokenLen * (toks.map(_.length).sum.toDouble / toks.length) +
      m.wPunctRatio * (text.count(".!?,;:".contains(_)) / nc) +
      m.wStopwordRatio * (toks.count(Set("the", "a")).toDouble / toks.length) +
      m.wDigitRatio * (text.count(_.isDigit) / nc) +
      m.wCapsRatio * (text.count(c => c >= 'A' && c <= 'Z') / nc)
    assert(s == expected, s"score $s != hand-computed $expected")
    // thresholds: src0 0.25, src1 -0.25, default 0.0
    val keep = out.map(r => r.getAs[String]("source") -> r.getAs[Boolean]("keep")).toMap
    assert(keep("src0") == (s >= 0.25))
    assert(keep("src1") == (s >= -0.25))
    assert(keep("src9") == (s >= 0.0))
    // the gate keeps original rows, schema intact, in one pass
    val kept = TextAnalysis.learnedQualityFilter(d)
    assert(kept.columns.toSeq == Seq("doc_id", "text", "source"))
    assert(kept.count() == out.count(_.getAs[Boolean]("keep")))
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the gate must be scan-side only (no shuffle, no join):\n$plan")
  }

  test("tokenCounts: ws vs BPE-ish segmentation") {
    val d = docs((1L, "ab12 cd!"))
    val r = TextAnalysis.tokenCounts(d).collect().head
    assert(r.getAs[Int]("n_ws_tokens") == 2)
    assert(r.getAs[Int]("n_bpe_tokens") == 4) // ab | 12 | cd | !
  }

  test("fingerprints: equal prefixes share prefix_fp; kgram_fp is stable") {
    val d = docs((1L, "x" * 100 + "tail1"), (2L, "x" * 100 + "tail2"), (3L, "zzz"))
    val out = TextAnalysis.fingerprints(d).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("prefix_fp") == out(1).getAs[String]("prefix_fp"))
    assert(out(0).getAs[String]("prefix_fp") != out(2).getAs[String]("prefix_fp"))
    assert(!out(2).isNullAt(out(2).fieldIndex("kgram_fp")))
  }

  test("deterministicSplit: reproducible, salt-sensitive, proportions sane") {
    val d = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val s1 = Corpus.deterministicSplit(d).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val s2 = Corpus.deterministicSplit(d).collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 == s2, "same salt must reproduce the identical assignment")
    val s3 = Corpus.deterministicSplit(d, salt = "other")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 != s3, "a different salt must re-roll the assignment")
    val n = s1.size.toDouble
    val frac = s1.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac.keySet == Set("train", "val", "test"))
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"train frac ${frac("train")}")
  }

  test("leakageSafeSplit: clusters never straddle; singletons match q66's split") {
    val d = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val lss = Corpus.leakageSafeSplit(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(lss.size == d.count(), "every document must be assigned")
    // invariant 1: one split per split_key — a near-dup family can never
    // straddle train/test (the operator's whole point)
    val perKey = lss.values.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(perKey.values.forall(_.size == 1),
      "all members of a cluster must land on one side")
    // and clustering is real on this fixture: some cluster has >1 member
    assert(lss.values.groupBy(_._1).exists(_._2.size > 1),
      "fixture must contain at least one near-dup cluster")
    // invariant 2: every member keys by the component REPRESENTATIVE —
    // its split equals the rep's, and differs from the doc-id split
    // whenever the doc-id rule would have disagreed (leakage repaired,
    // not coincidentally avoided)
    val plain = Corpus.deterministicSplit(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val clustered = lss.filter { case (id, (key, _)) => key != id }
    assert(clustered.nonEmpty)
    clustered.foreach { case (_, (key, split)) =>
      assert(split == plain(key),
        "a cluster member must carry its representative's assignment")
    }
    // invariant 3: singletons (split_key == doc_id) assign EXACTLY as
    // deterministicSplit — the two splits agree wherever leakage is
    // impossible
    lss.filter { case (id, (key, _)) => key == id }.foreach {
      case (id, (_, split)) => assert(split == plain(id),
        s"singleton $id must split as deterministicSplit does")
    }
  }

  test("fused near-dup pipeline equals the staged composition (randomized)") {
    // seeded generator: word pool small enough to force real near-dups
    val rnd = new scala.util.Random(42)
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    // 30 random docs + a near-copy of each (one word appended) so
    // high-jaccard pairs are guaranteed to exist
    val rows = (1L to 30L).flatMap { id =>
      val words = Seq.fill(8 + rnd.nextInt(8))(pool(rnd.nextInt(pool.size)))
      Seq((id, words.mkString(" ")),
        (id + 100L, (words :+ pool(rnd.nextInt(pool.size))).mkString(" ")))
    }
    val d = docs(rows: _*)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val sh = TextDedup.shingles(d)
    val staged = TextDedup.jaccardVerify(
      TextDedup.lshCandidates(TextDedup.minhashSignatures(sh)), sh)
      .filter(col("jaccard") >= 0.5).collect().map(key).toSet
    val fused = TextDedup.nearDupPairs(d, 0.5).collect().map(key).toSet
    assert(fused == staged, "fused pipeline must equal the staged form")
    assert(fused.nonEmpty, "generator must actually produce near-dups")
  }

  test("nearDupAgainstIndex equals the cross-side slice of the full pipeline") {
    // seeded generator (same shape as the fused-equivalence test): 30 docs
    // in the "corpus" (id <= 100) and a near-copy of each in the "batch"
    val rnd = new scala.util.Random(7)
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val rows = (1L to 30L).flatMap { id =>
      val words = Seq.fill(8 + rnd.nextInt(8))(pool(rnd.nextInt(pool.size)))
      Seq((id, words.mkString(" ")),
        (id + 100L, (words :+ pool(rnd.nextInt(pool.size))).mkString(" ")))
    }
    val d = docs(rows: _*)
    val base = d.filter(col("doc_id") <= 100)
    val batch = d.filter(col("doc_id") > 100)
    val incr = TextDedup.nearDupAgainstIndex(
      TextDedup.signatureIndex(base), TextDedup.signatureIndex(batch), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the full-corpus pipeline, restricted to pairs straddling the split,
    // re-oriented as (corpus doc, batch doc)
    val full = TextDedup.nearDupPairs(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a <= 100) != (b <= 100) }
      .map { case (a, b, j) => if (a <= 100) (a, b, j) else (b, a, j) }.toSet
    assert(incr == full, "index probe must equal the full run's cross pairs")
    assert(incr.nonEmpty, "generator must actually produce cross-side dups")
  }

  test("nearDupAgainstIndex rejects an md5-era index (sh: array<string>)") {
    val d = docs((1L, "a b c d e f"), (2L, "a b c d e f"))
    val idx = TextDedup.signatureIndex(d)
    // the retired format: md5-hex bands, raw n-gram strings in sh
    val old = Seq((1L, 0, "0123456789abcdef", Seq("a b c", "b c d")))
      .toDF("doc_id", "band_id", "band", "sh")
    val err = intercept[IllegalArgumentException] {
      TextDedup.nearDupAgainstIndex(old, idx, 0.5)
    }
    assert(err.getMessage.contains("index.sh must be array<bigint>") &&
      err.getMessage.contains("array<string>") &&
      err.getMessage.contains("md5"), err.getMessage)
    // the current format probes without complaint (identical texts
    // always share their bands)
    assert(TextDedup.nearDupAgainstIndex(idx, idx, 0.5).count() == 2)
  }

  test("signatureIndex built in appends equals the single full build") {
    val d = docs((1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w v u"))
    val base = d.filter(col("doc_id") <= 2)
    val batch = d.filter(col("doc_id") > 2)
    def rows(ix: org.apache.spark.sql.DataFrame) = ix
      .select(col("doc_id"), col("band_id"), col("band"),
        sort_array(col("sh")).as("sh"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getSeq[Long](3))).toSet
    assert(rows(TextDedup.signatureIndex(d)) ==
      (rows(TextDedup.signatureIndex(base)) ++
        rows(TextDedup.signatureIndex(batch))),
      "per-doc signatures must be split-invariant (append-only index)")
  }

  test("boilerplateNgrams: exact document frequencies, tail cut applied") {
    val d = docs((1L, "a b c d"), (2L, "a b c x"), (3L, "q r s t"))
    val hot = Corpus.boilerplateNgrams(d, minDocs = 2)
      .as[(String, Long)].collect().toMap
    assert(hot == Map("a b c" -> 2L))
    // per-doc repeats of the same n-gram must NOT inflate df
    val rep = docs((1L, "a b c a b c"), (2L, "z z z"))
    assert(Corpus.boilerplateNgrams(rep, minDocs = 2)
      .as[(String, Long)].collect().isEmpty)
  }

  test("boilerplateHotHashes is df-parallel to the text hotlist (q85/q109 twins)") {
    val d = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val text = Corpus.boilerplateNgrams(d, minDocs = 2)
      .select("df").as[Long].collect().sorted.toSeq
    val hashes = Corpus.boilerplateHotHashes(d, minDocs = 2)
      .select("df").as[Long].collect().sorted.toSeq
    assert(hashes == text,
      "the hash path must find exactly the text path's hot set (df multiset)")
  }

  test("boilerplateFraction: exact shares; clean docs score zero") {
    val d = docs((1L, "a b c d"), (2L, "a b c x"), (3L, "q r s t"))
    val out = Corpus.boilerplateFraction(d, minDocs = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((2L, 0L, 0.0)))
  }

  test("boilerplate hashed fast paths match the text-keyed oracle form") {
    // The round-7 8-byte re-keying must be output-identical to the
    // text-shuffling form it replaced (the scaladoc's exactness claim).
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    def textKeyedHot(minDocs: Int) = TextDedup.shingles(d, 3)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
    def textKeyedFrac(minDocs: Int) = {
      val sh = TextDedup.shingles(d, 3)
      val hot = textKeyedHot(minDocs).select(col("shingle"))
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      val hits = sh.join(hot, Seq("shingle"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boiler"))
      sizes.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
          (coalesce(col("n_boiler"), lit(0L)).cast("double") /
            col("n_shingles")).as("boilerplate_frac"))
    }
    assert(Corpus.boilerplateNgrams(d, minDocs = 3).as[(String, Long)]
      .collect().toSet == textKeyedHot(3).as[(String, Long)].collect().toSet)
    assert(Corpus.boilerplateFraction(d, minDocs = 3)
      .as[(Long, Long, Long, Double)].collect().toSet ==
      textKeyedFrac(3).as[(Long, Long, Long, Double)].collect().toSet)
  }

  test("dedupClusters: transitive chains collapse to the component min") {
    def pairs(ps: (Long, Long)*) = ps.toDF("doc_a", "doc_b")
    // a 5-vertex path (diameter 4 — forces several propagation rounds),
    // one disjoint pair, and a clique edge ordering that arrives reversed
    val out = TextDedup.dedupClusters(pairs(
      (4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L), (8L, 9L), (9L, 7L)))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("dedupClusters matches a union-find reference on random sparse graphs") {
    val rnd = new scala.util.Random(11)
    val ps = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => v -> find(v)).toMap
    val got = TextDedup.dedupClusters(ps.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("dedupClusters with a reliable checkpointDir is bit-identical to " +
      "local cuts on the sf0.01 corpus (resume + forget legs too)") { onBothFixpointPaths { threshold =>
    // Same contract as the GraphSpec leg: Some(dir) moves the fixpoint
    // state to a re-readable filesystem (preemptible-node posture);
    // labels are integer minima, so storage cannot change them.
    import graft.sources.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-rck").toString
    val docs = Tables.load(spark, "/root/testdata/sf0.01", "documents")
    val pairs = TextDedup.nearDupPairs(docs, threshold = 0.5)
      .localCheckpoint() // shared input: both runs cluster identical pairs
    def lab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val t0 = System.nanoTime()
    val localL = lab(TextDedup.dedupClusters(pairs))
    val t1 = System.nanoTime()
    val relL = lab(TextDedup.dedupClusters(pairs, checkpointDir = Some(dir)))
    val t2 = System.nanoTime()
    assert(relL == localL,
      s"reliable checkpoints must not change a single label bit (threshold $threshold)")
    assert(java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count() > 0,
      "reliable mode must actually write checkpoint files")
    // PeriodicCheckpointer discipline: superseded per-round cuts and the
    // closed half/edges invariants are deleted — only the final labels
    // survive this cold run
    locally {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val n = try s.filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-")).count()
      finally s.close()
      assert(n == 1, s"only the final cut may survive the cold run, found $n " +
        s"(threshold $threshold)")
    }
    info(f"dedupClusters sf0.01: local ${(t1 - t0) / 1e9}%.2f s, " +
      f"reliable ${(t2 - t1) / 1e9}%.2f s " +
      f"(${(t2 - t1).toDouble / (t1 - t0)}%.2fx)")
    // resume and forget ride the same knob through the shared fixpoint
    val isOld = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) < 8
    val oldPairs = pairs.filter(isOld(col("doc_a")) && isOld(col("doc_b")))
    val newPairs = pairs.filter(!(isOld(col("doc_a")) && isOld(col("doc_b"))))
    val state = TextDedup.dedupClusters(oldPairs)
    assert(lab(TextDedup.dedupClustersResume(state, newPairs,
        checkpointDir = Some(dir)))
      == lab(TextDedup.dedupClustersResume(state, newPairs)),
      "reliable resume must equal local resume bit-for-bit")
    val doomed = docs.filter(pmod(col("doc_id"), lit(7)) === 3)
      .select(col("doc_id"))
    assert(lab(TextDedup.dedupClustersForget(
        TextDedup.dedupClusters(pairs), docs, doomed,
        d => TextDedup.nearDupPairs(d, 0.5), checkpointDir = Some(dir)))
      == lab(TextDedup.dedupClustersForget(
        TextDedup.dedupClusters(pairs), docs, doomed,
        d => TextDedup.nearDupPairs(d, 0.5))),
      "reliable forget must equal local forget bit-for-bit")
  }}

  test("dedupClusters: the one-task path equals the forced-distributed loop") {
    def lab(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.get(0) -> r.get(1)).toMap
    def same(ps: org.apache.spark.sql.DataFrame, what: String,
             ck: () => Option[String] = () => None): Unit = {
      var one, loop: org.apache.spark.sql.DataFrame = null
      val jobsOne = jobsOf { one = TextDedup.dedupClusters(ps, checkpointDir = ck()) }
      val jobsLoop = withBroadcastThreshold("-1")(jobsOf {
        loop = TextDedup.dedupClusters(ps, checkpointDir = ck()) })
      // the one-task path is taken: fewer jobs than the loop
      assert(jobsOne < jobsLoop, s"$what: $jobsOne vs $jobsLoop jobs")
      assert(one.schema == loop.schema, s"$what: schemas differ")
      assert(lab(one) == lab(loop), s"$what: labels differ")
    }
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val ps = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter { case (a, b) => a != b }
      same(ps.toDF("doc_a", "doc_b"), s"random graph $seed")
    }
    // a 150-vertex path in shuffled order: diameter 149, many loop rounds
    val chain = new scala.util.Random(5).shuffle((1L until 150L).toList)
      .map(i => (i + 1, i))
    same(chain.toDF("doc_a", "doc_b"), "long chain")
    same(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), "empty pair set")
    // INT ids keep their type; nullable (null-free) ids keep nullability
    same(Seq((3, 1), (2, 3), (7, 9)).toDF("doc_a", "doc_b"), "int ids")
    same(Seq((Option(3L), Option(1L)), (Option(5L), Option(1L)))
      .toDF("doc_a", "doc_b"), "nullable ids")
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-1t").toString
    val rnd = new scala.util.Random(9)
    same(Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b"),
      "reliable checkpointDir", () => Some(dir))
  }

  test("dedupClusters on a small pair set runs in at most 4 jobs") {
    val ps = Seq((4L, 5L), (3L, 4L), (2L, 3L), (1L, 2L), (8L, 9L), (9L, 7L))
      .toDF("doc_a", "doc_b")
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf { out = TextDedup.dedupClusters(ps) }
    // the pair set's materialization plus the one-task fixpoint; the
    // distributed loop launches 40 here (Spark 4.1.2, local[4])
    assert(jobs <= 4, s"dedupClusters launched $jobs jobs")
    assert(out.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L,
      3L -> 1L, 4L -> 1L, 5L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("q188/q189/q201/q209 drop their pair set: the result still " +
      "collects and only its own blocks stay persisted") {
    val sc = spark.sparkContext
    // every RDD the result's plan reads, through narrow lineage
    def lineage(r: org.apache.spark.rdd.RDD[_]): Set[Int] =
      r.dependencies.map(d => lineage(d.rdd)).foldLeft(Set(r.id))(_ ++ _)
    for (q <- Seq("q188_cluster_resume", "q189_semantic_cluster_resume",
                  "q201_cluster_forget", "q209_semantic_cluster_forget")) {
      System.gc() // let the ContextCleaner drain earlier tests' orphans
      Thread.sleep(200)
      val before = sc.getPersistentRDDs.keySet
      val out = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.01")
      val own = out.queryExecution.analyzed.collectLeaves().collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => lineage(l.rdd)
      }.foldLeft(Set.empty[Int])(_ ++ _)
      val leaked = sc.getPersistentRDDs.keySet -- before -- own
      assert(leaked.isEmpty, s"$q left blocks its result never reads: " +
        leaked.mkString(", "))
      assert(out.collect().nonEmpty, s"$q must still collect")
    }
  }

  test("dedupClustersResume ≡ cold recompute: merge, join, new cluster, passthrough") {
    def pairs(ps: (Long, Long)*) = ps.toDF("doc_a", "doc_b")
    // old clusters: {1,2}, {3,4}, {7,8} — delta merges {1,2}+{3,4} via
    // (2,3), attaches new vertex 10 to {3,4}, creates a brand-new cluster
    // {5,6}; {7,8} is untouched.
    val old = pairs((1L, 2L), (3L, 4L), (7L, 8L))
    val delta = pairs((2L, 3L), (4L, 10L), (5L, 6L))
    val got = TextDedup.dedupClustersResume(
      TextDedup.dedupClusters(old), delta).as[(Long, Long)].collect().toMap
    val cold = TextDedup.dedupClusters(old.unionByName(delta))
      .as[(Long, Long)].collect().toMap
    assert(got == cold)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("dedupClustersResume: empty delta returns the state; empty state ≡ cold") {
    def pairs(ps: (Long, Long)*) = ps.toDF("doc_a", "doc_b")
    val labels0 = TextDedup.dedupClusters(pairs((1L, 2L), (3L, 4L)))
    val unchanged = TextDedup.dedupClustersResume(
      labels0, pairs().limit(0)).as[(Long, Long)].collect().toMap
    assert(unchanged == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    val fresh = TextDedup.dedupClustersResume(
      labels0.limit(0), pairs((5L, 6L))).as[(Long, Long)].collect().toMap
    assert(fresh == Map(5L -> 5L, 6L -> 5L))
  }

  test("dedupClustersResume is incremental: untouched clusters never enter the fixpoint") {
    def pairs(ps: (Long, Long)*) = ps.toDF("doc_a", "doc_b")
    val labels0 = TextDedup.dedupClusters(pairs((1L, 2L), (3L, 4L), (7L, 8L)))
    val sub = TextDedup.resumeSubgraph(labels0, pairs((2L, 3L)))
      .as[(Long, Long)].collect().toSet
    // only the affected clusters' stars + the new pair — {7,8} absent
    assert(sub == Set((1L, 2L), (3L, 4L), (2L, 3L)))
  }

  test("dedupClustersForget ≡ cold over the reduced corpus: split, drop-out, passthrough, no-op") {
    // pairwise-deterministic generator: docs pair iff |v_a − v_b| <= 1 —
    // chains WITHOUT transitivity, so deleting a bridge genuinely splits
    def pairsOf(d: org.apache.spark.sql.DataFrame) = {
      val a = d.select(col("doc_id").as("doc_a"), col("v").as("_va"))
      val b = d.select(col("doc_id").as("doc_b"), col("v").as("_vb"))
      a.join(b, abs(col("_va") - col("_vb")) <= 1 &&
        col("doc_a") < col("doc_b")).select(col("doc_a"), col("doc_b"))
    }
    // chain {1,2,3,4} (v 0..3), pair {7,8}, never-clustered 9
    val corpus = Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L),
      (7L, 10L), (8L, 10L), (9L, 20L)).toDF("doc_id", "v")
    val labels0 = TextDedup.dedupClusters(pairsOf(corpus))
    // doomed 2 splits the chain (1 loses its last duplicate and DROPS
    // OUT; {3,4} remains); doomed 9 was never clustered — a no-op
    val doomed = Seq(2L, 9L).toDF("doc_id")
    val seen = scala.collection.mutable.Set[Long]()
    val got = TextDedup.dedupClustersForget(labels0, corpus, doomed,
      d => { seen ++= d.select(col("doc_id")).as[Long].collect(); pairsOf(d) })
      .as[(Long, Long)].collect().toMap
    val cold = TextDedup.dedupClusters(
      pairsOf(corpus.join(doomed, Seq("doc_id"), "left_anti")))
      .as[(Long, Long)].collect().toMap
    assert(got == cold && got == Map(3L -> 3L, 4L -> 3L, 7L -> 7L, 8L -> 7L))
    // the scale pin: untouched {7,8} and the no-op 9 never reach the
    // (content-priced) pair generator — only affected survivors do
    assert(seen.toSet == Set(1L, 3L, 4L))

    // deleting a REPRESENTATIVE (the star center): survivors re-link
    // from content and elect a new component minimum
    val rep = TextDedup.dedupClustersForget(labels0, corpus,
      Seq(1L).toDF("doc_id"), pairsOf).as[(Long, Long)].collect().toMap
    assert(rep == Map(2L -> 2L, 3L -> 2L, 4L -> 2L, 7L -> 7L, 8L -> 7L))

    // corrupt store rejected (same validation gate as resume)
    intercept[IllegalArgumentException] {
      TextDedup.dedupClustersForget(
        Seq((2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id"),
        corpus, Seq(2L).toDF("doc_id"), pairsOf)
    }
  }

  test("dedupClustersResume rejects a corrupt label store") {
    def pairs(ps: (Long, Long)*) = ps.toDF("doc_a", "doc_b")
    // cluster_id above doc_id — not a component-minimum labeling
    val badMin = Seq((1L, 2L), (2L, 2L)).toDF("doc_id", "cluster_id")
    intercept[IllegalArgumentException] {
      TextDedup.dedupClustersResume(badMin, pairs((1L, 5L)))
    }
    // representative row (doc_id = cluster_id) missing for cluster 1
    val noRep = Seq((2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    intercept[IllegalArgumentException] {
      TextDedup.dedupClustersResume(noRep, pairs((2L, 5L)))
    }
  }

  test("dedupedCorpus keeps exactly one survivor per near-dup cluster") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val mutated = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val d = docs((1L, base), (2L, mutated), (3L, other), (4L, base))
    // {1,2,4} are one transitive cluster (1~2 near-dup, 1~4 identical);
    // survivor is the min doc_id
    val kept = TextDedup.dedupedCorpus(d, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("tfIdf: exact counts; a token in every doc scores exactly zero") {
    val d = docs((1L, "a a b"), (2L, "a c"), (3L, "a c c"))
    val out = TextAnalysis.tfIdf(d).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out((1L, "a")) == (2L, 3L, 3L, 0.0)) // df == n_docs → ln(1) = 0
    assert(out((3L, "c"))._1 == 2L && out((3L, "c"))._2 == 2L)
    // StrictMath, not math.log: Catalyst's log is StrictMath-based and the
    // two differ here in the last ulp (the very reason tf_idf is kept out
    // of the cross-engine oracle)
    assert(out((1L, "b")) ==
      (1L, 1L, 3L, StrictMath.log(3.0))) // rarest token, single occurrence
    assert(out.size == 6)
  }

  test("stratifiedSample: deterministic, rate-proportional, drops unlisted strata") {
    val d = (1L to 2000L).map(i =>
      (i, "text", if (i % 2 == 0) "en" else if (i % 4 == 1) "es" else "xx"))
      .toDF("doc_id", "text", "lang")
    val rates = Map("en" -> 0.5, "es" -> 0.25)
    val s1 = Corpus.stratifiedSample(d, rates).collect()
    val s2 = Corpus.stratifiedSample(d, rates).collect()
    assert(s1.sortBy(_.getLong(0)) sameElements s2.sortBy(_.getLong(0)),
      "same salt must reproduce the same sample")
    val byLang = s1.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(!byLang.contains("xx"), "strata without a rate are dropped")
    // md5 buckets are uniform: 1000 en docs at 0.5 and 500 es at 0.25
    // land within a loose binomial band
    assert(byLang("en") > 400 && byLang("en") < 600, byLang.toString)
    assert(byLang("es") > 75 && byLang("es") < 175, byLang.toString)
    // re-salting re-rolls the selection
    val s3 = Corpus.stratifiedSample(d, rates, salt = "other").collect()
    assert(s3.map(_.getLong(0)).toSet != s1.map(_.getLong(0)).toSet)
  }

  test("encode: positions in order, vocab ids applied, OOV maps to 0") {
    val d = docs((1L, "b a b"), (2L, "a zz"))
    // vocab over the corpus: a(tf 2) and b(tf 2) tie → lexical order;
    // top-1 truncation makes b OOV
    val vocab = Corpus.buildVocab(d, topV = 1)
    val out = Corpus.encode(d, vocab).as[(Long, Int, Int)].collect().toSet
    // vocab = {a -> 1}; b and zz are OOV
    assert(out == Set((1L, 0, 0), (1L, 1, 1), (1L, 2, 0), (2L, 0, 1), (2L, 1, 0)))
  }

  test("capPerStratum: deterministic cap, rank contiguous from 1") {
    val d = (1L to 300L).map(i => (i, "text", if (i % 3 == 0) "en" else "es"))
      .toDF("doc_id", "text", "lang")
    val out = Corpus.capPerStratum(d, maxPerStratum = 25)
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(byLang == Map("en" -> 25L, "es" -> 25L))
    val ranks = out.filter($"lang" === "en")
      .select("rank_in_stratum").as[Int].collect().sorted
    assert(ranks.toSeq == (1 to 25))
    // same salt → same survivors; different salt → different survivors
    val again = Corpus.capPerStratum(d, 25).select("doc_id").as[Long].collect().toSet
    assert(again == out.select("doc_id").as[Long].collect().toSet)
    val other = Corpus.capPerStratum(d, 25, salt = "x")
      .select("doc_id").as[Long].collect().toSet
    assert(other != again)
  }

  test("curate applies lang, quality, repetition, and min-length rules") {
    val d = docs(
      (1L, "the data row holds a value and the row stays"), // en, decent quality
      (2L, "data query data query data query"),             // es-scored, repetitive
      (3L, "x y"))                                          // < 3 tokens
    val out = Corpus.curate(d, lang = "en", minQuality = 0.5,
      maxRepetition = 0.9).collect()
    assert(out.map(_.getLong(0)).toSet == Set(1L))
    val r = out.head
    assert(r.getAs[String]("pred_lang") == "en")
    assert(r.getAs[Double]("quality") >= 0.5)
    assert(r.getAs[Double]("repetition") <= 0.9)
  }

  test("buildVocab: frequency-then-lexical ids, truncation, determinism") {
    val d = docs((1L, "b a a c b a"), (2L, "c d"))
    val out = Corpus.buildVocab(d, topV = 3).orderBy("token_id").collect()
    // counts: a=3, b=2, c=2, d=1 -> tie (b,c) breaks lexically, d truncated
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq(("a", 3L, 1), ("b", 2L, 2), ("c", 2L, 3)))
    assert(Corpus.buildVocab(d, topV = 3).collect().toSeq ==
      Corpus.buildVocab(d, topV = 3).collect().toSeq)
  }

  test("bpePairCounts: exact adjacent-pair counts, minCount floor, degenerate docs") {
    val d = docs(
      (1L, "a b a b c"),  // pairs: (a,b) (b,a) (a,b) (b,c)
      (2L, "a b"),        // pair: (a,b)
      (3L, "solo"),       // 1 token -> no pairs
      (4L, ""))           // splits to [""] -> no pairs
    val all = Corpus.bpePairCounts(d, minCount = 1)
      .as[(String, String, Long)].collect().toSet
    assert(all == Set(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 1L)))
    // the argmax pair is the BPE merge; the floor prunes the tail
    val floored = Corpus.bpePairCounts(d, minCount = 2)
      .as[(String, String, Long)].collect().toSet
    assert(floored == Set(("a", "b", 3L)))
    // null text contributes nothing
    val withNull = d.unionByName(
      docs((5L, null: String)).withColumn("n_chars", lit(0)))
    assert(Corpus.bpePairCounts(withNull, minCount = 1)
      .as[(String, String, Long)].collect().toSet == all)
  }

  test("applyBpeMerge: greedy left-to-right semantics, chains, boundaries, null") {
    import org.apache.spark.sql.DataFrame
    def merge(df: DataFrame, a: String, b: String) =
      Corpus.applyBpeMerge(df, a, b, joiner = "+")
        .select("text").as[String].collect().toSeq
    val d = Seq(
      (1L, "x table hash y"),
      (2L, "table hash table hash"),
      (3L, "table table hash"), // greedy: second 'table' starts the pair
      (4L, "hash table"),       // reversed order: no merge
      (5L, " table hash ")      // boundary whitespace tokens survive
    ).toDF("doc_id", "text")
    assert(merge(d, "table", "hash") == Seq(
      "x table+hash y",
      "table+hash table+hash",
      "table table+hash",
      "hash table",
      " table+hash "))
    // a == b chains greedily: a consumed token cannot start the next pair
    val c = Seq((1L, "x x x"), (2L, "x x x x")).toDF("doc_id", "text")
    assert(merge(c, "x", "x") == Seq("x+x x", "x+x x+x"))
    // null text stays null
    val n = Seq((1L, null: String)).toDF("doc_id", "text")
    assert(Corpus.applyBpeMerge(n, "a", "b").select("text")
      .as[String].collect().toSeq == Seq(null))
    // re-splitting the merged text yields the merged token stream exactly
    // (doc5's boundary empties survive: "", table+hash, "")
    val rt = Corpus.applyBpeMerge(d, "table", "hash", joiner = "+")
      .select(size(graft.text.TextAnalysis.tokens(col("text"))))
      .as[Int].collect().toSeq
    assert(rt == Seq(3, 2, 2, 2, 3))
  }

  test("bpeTrain: argmax merges chain, floor stops training, table is exact") {
    val d = docs((1L, "a b a b c"), (2L, "a b"))
    // round 1: (a,b) x3 wins; round 2: no pair reaches minCount=2 -> stop
    val merges = Corpus.bpeTrain(d, nMerges = 3, minCount = 2, joiner = "+")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges == Seq((1, "a", "b", 3L)))
    // applying the learned merge reproduces the trained corpus
    val after = Corpus.applyBpeMerge(d, "a", "b", joiner = "+")
      .orderBy("doc_id").select("text").as[String].collect().toSeq
    assert(after == Seq("a+b a+b c", "a+b"))
    // multi-round: (p,q) x3 merges first; the merged corpus
    // "p+q p+q p+q r" then yields (p+q,p+q) x2, which clears the floor
    // and merges greedily in round 2
    val d2 = docs((1L, "p q p q p q r"))
    val m2 = Corpus.bpeTrain(d2, nMerges = 3, minCount = 2, joiner = "+")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m2 == Seq((1, "p", "q", 3L), (2, "p+q", "p+q", 2L)))
  }

  test("bpeEncode: one-pass merge-table encode ≡ chained applyBpeMerge, 1..8 merges") {
    // real corpus, real trained table: for every prefix length k the
    // single-pass encoder must reproduce the k-deep chained application
    // byte-for-byte — the equivalence that makes the encoder a valid
    // inference twin of the trainer's corpus state
    val d = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
        "documents")
      .filter(col("doc_id") < 120).select(col("doc_id"), col("text"))
    val merges = Corpus.bpeTrain(d, nMerges = 8, minCount = 2)
      .orderBy("step").as[(Int, String, String, Long)].collect()
      .map(m => (m._2, m._3)).toSeq
    assert(merges.size == 8, s"expected 8 trained merges, got ${merges.size}")
    for (k <- 1 to merges.size) {
      val prefix = merges.take(k)
      val chained = prefix.foldLeft(d) { case (df, (a, b)) =>
        Corpus.applyBpeMerge(df, a, b) }
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      val onePass = Corpus.bpeEncodeLiteral(d, prefix)
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(onePass == chained, s"one-pass != chained at k=$k")
    }
  }

  test("bpeEncode: rank-order edge cases the chained form pins down") {
    def enc(text: String, merges: Seq[(String, String)]): String =
      Corpus.bpeEncodeLiteral(docs((1L, text)), merges, joiner = "+")
        .select("text").as[String].head()
    // a merge creating a HIGHER-rank pair feeds it (chained: later pass)
    assert(enc("a b c", Seq(("b", "c"), ("a", "b+c"))) == "a+b+c")
    // a merge creating a LOWER-rank pair must NOT feed it — that pass
    // already ran in the chained form (the classic BPE implementation
    // divergence; lowest-rank-first-until-fixpoint would merge it)
    assert(enc("x b c", Seq(("x", "b+c"), ("b", "c"))) == "x b+c")
    // greedy left-to-right consumption within one rank (a == b chains)
    assert(enc("x x x", Seq(("x", "x"))) == "x+x x")
    assert(enc("x x x x x", Seq(("x", "x"))) == "x+x x+x x")
    // back-to-back occurrences all merge at one rank
    assert(enc("a b a b a b", Seq(("a", "b"))) == "a+b a+b a+b")
    // boundary whitespace tokens survive the round trip
    assert(enc(" a b ", Seq(("a", "b"))) == " a+b ")
    // merges stack within one document across many ranks
    assert(enc("p q p q p q r", Seq(("p", "q"), ("p+q", "p+q"))) ==
      "p+q+p+q p+q r")
    // null text stays null; no-merge table is the token-stream identity
    val n = Seq((1L, null: String)).toDF("doc_id", "text")
    assert(Corpus.bpeEncodeLiteral(n, Seq(("a", "b")), "+")
      .select("text").as[String].collect().toSeq == Seq(null))
    assert(enc("a   b  c", Seq(("q", "r"))) == "a b c")
  }

  test("bpePairCounts matches a sliding-window reference on random corpora") {
    val gen = new scala.util.Random(41)
    val alphabet = Vector("aa", "bb", "cc", "dd")
    val rows = (1L to 40L).map { i =>
      val n = gen.nextInt(8) // 0..7 tokens
      (i, Seq.fill(n)(alphabet(gen.nextInt(alphabet.size))).mkString(" "))
    }
    val expect = rows.flatMap { case (_, text) =>
      val t = text.split("\\s+", -1).toSeq
      if (t.length < 2) Seq.empty else t.sliding(2).map(p => (p(0), p(1))).toSeq
    }.groupBy(identity).map { case ((a, b), v) => (a, b, v.size.toLong) }.toSet
    val got = Corpus.bpePairCounts(docs(rows: _*), minCount = 1)
      .as[(String, String, Long)].collect().toSet
    assert(got == expect)
  }

  test("tokenMixtureSample: rates follow token mass, not doc counts") {
    // stratum A: 10 docs x 100 tokens; stratum B: 10 docs x 1 token.
    // weights 0.5/0.5, token budget 20 -> rate_A = 0.01, rate_B = 1.0:
    // every B doc survives, A thins to ~1% — a DOC-budget mixture with
    // the same weights would keep A and B at the same rate.
    val rows =
      (1L to 10L).map(i => (i, Seq.fill(100)("tok").mkString(" "), "A")) ++
      (11L to 20L).map(i => (i, "tok", "B"))
    val d = rows.toDF("doc_id", "text", "source")
    val out = Corpus.tokenMixtureSample(d,
      Map("A" -> 0.5, "B" -> 0.5), tokenBudget = 20)
      .select("doc_id").as[Long].collect().toSet
    assert((11L to 20L).forall(out.contains), "rate-1 stratum must keep all")
    // full cross-check against a plain-Scala reference of the md5
    // threshold chain (same IEEE ops, same hex compare)
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val mass = Map("A" -> 1000L, "B" -> 10L)
    def thr(src: String) = "%05x".format(
      math.floor(65536 * math.min(1.0, 0.5 * 20.0 / mass(src))).toLong)
    val expect = rows.collect { case (id, _, src)
      if "0" + md5hex(s"$id:graft").take(4) < thr(src) => id }.toSet
    assert(out == expect)
  }

  test("repetition: exact duplicate-shingle fraction; short docs excluded") {
    val d = docs(
      (1L, "aaa bbb aaa bbb aaa"), // 3 shingle occurrences, 2 distinct
      (2L, "p q r s"),             // 2 occurrences, 2 distinct -> 0.0
      (3L, "x y"))                 // < 3 tokens -> excluded
    val out = TextAnalysis.repetition(d).orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_shingles_total") == 3L &&
      out(0).getAs[Long]("n_distinct_shingles") == 2L &&
      out(0).getAs[Double]("repetition") == 1.0 - 2.0 / 3.0)
    assert(out(1).getAs[Double]("repetition") == 0.0)
  }

  test("contamination: exact overlap fraction, zero-overlap docs kept") {
    val eval = docs(
      (10L, "a b c d"),     // shingles {a b c, b c d}
      (20L, "x y z"),       // shingles {x y z} — no overlap with train
      (30L, "a"))           // too short: no shingles, absent from output
    val train = docs((1L, "a b c q"), (2L, "p q r"))
    val out = Corpus.contamination(eval, train).orderBy("doc_id").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 10L &&
      out(0).getAs[Long]("n_contaminated") == 1L &&
      out(0).getAs[Double]("contamination") == 0.5)
    assert(out(1).getLong(0) == 20L &&
      out(1).getAs[Long]("n_contaminated") == 0L &&
      out(1).getAs[Double]("contamination") == 0.0)
  }

  test("chunk: overlapping windows tile the token stream; final window short") {
    // 10 tokens, chunkSize 4, overlap 1 -> stride 3: starts 1,4,7,10.
    val d = docs((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "solo"))
    val out = Corpus.chunk(d, chunkSize = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id").collect()
    val one = out.filter(_.getLong(0) == 1L)
    assert(one.map(_.getAs[Int]("chunk_id")).toSeq == Seq(0, 1, 2, 3))
    assert(one.map(_.getAs[String]("chunk_text")).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10", "t10"))
    assert(one.map(_.getAs[Int]("n_chunk_tokens")).toSeq == Seq(4, 4, 4, 1))
    // consecutive chunks overlap by exactly `overlap` tokens
    assert(out.filter(_.getLong(0) == 2L).map(_.getAs[String]("chunk_text")).toSeq
      == Seq("solo"))
  }

  test("chunk: rejects overlap >= chunkSize") {
    intercept[IllegalArgumentException] {
      Corpus.chunk(docs((1L, "a b")), chunkSize = 4, overlap = 4)
    }
  }

  test("contaminationBloom: never under-counts the exact contamination") {
    // randomized eval/train with guaranteed overlap: each eval doc shares
    // a prefix with a train doc
    val rnd = new scala.util.Random(11)
    val pool = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val trainRows = (1L to 20L).map { id =>
      (id, Seq.fill(10)(pool(rnd.nextInt(pool.size))).mkString(" "))
    }
    val evalRows = trainRows.take(10).map { case (id, text) =>
      (id + 100L, text.split(" ").take(6).mkString(" ") + " extra tail words")
    } ++ Seq((200L, "q r s t u v"))
    val train = docs(trainRows: _*)
    val eval = docs(evalRows: _*)
    val exact = Corpus.contamination(eval, train).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_contaminated")))).toMap
    val bloom = Corpus.contaminationBloom(eval, train).collect()
      .map(r => r.getLong(0) -> ((r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_flagged")))).toMap
    assert(bloom.keySet == exact.keySet)
    exact.foreach { case (id, (nSh, nCont)) =>
      val (bSh, bFlag) = bloom(id)
      assert(bSh == nSh)
      assert(bFlag >= nCont,
        s"doc $id: bloom flagged $bFlag < exact $nCont — a false NEGATIVE")
    }
    assert(exact.values.exists(_._2 > 0), "fixture must have contamination")
    // at this filter size vs item count the FP rate is ~0: exact equality
    assert(bloom == exact.map { case (k, v) => k -> v },
      "a 2^23-bit filter over dozens of shingles must not false-positive")
  }

  test("contaminationBroadcast: row-identical to contamination") {
    val d = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val eval = d.filter(col("doc_id") % 10 === 0)
    val train = d.filter(col("doc_id") % 10 =!= 0)
    val a = Corpus.contamination(eval, train).orderBy("doc_id").collect().toSeq
    val b = Corpus.contaminationBroadcast(eval, train).orderBy("doc_id").collect().toSeq
    assert(a == b)
    // the scale contract: the train-side shingle stream must reach the
    // semi-join via broadcast, never a shuffle exchange
    val plan = Corpus.contaminationBroadcast(eval, train)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  test("temperatureSample: sqrt-rate keep fractions, largest stratum keeps all") {
    val rows = (1L to 400L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .withColumn("lang",
        when(col("doc_id") <= 256, "en")         // n=256
          .when(col("doc_id") <= 320, "de")      // n=64
          .otherwise("fr"))                      // n=80
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val out = Corpus.temperatureSample(rows).collect()
    val kept = out.groupBy(_.getAs[String]("lang")).view.mapValues(_.length).toMap
    // largest stratum (en): threshold 0x10000 > any 4-hex bucket -> all kept
    assert(kept("en") == 256)
    // smaller strata: kept fraction tracks sqrt(n_s/n_max) = 0.5 for de
    // (binomial around 32 of 64); determinism is the hard guarantee
    val again = Corpus.temperatureSample(rows).collect()
    assert(out.map(_.getLong(0)).toSet == again.map(_.getLong(0)).toSet)
    assert(kept("de") > 16 && kept("de") < 48)
    assert(kept("fr") > 20 && kept("fr") < 60)
  }

  test("survivors: drops exactly the non-representative cluster members") {
    // explicit pair set (LSH recall is a separate concern): 1~2~3 one
    // transitive cluster, 4 untouched
    val d = docs((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = TextDedup.survivors(d, pairs).select("doc_id")
      .as[Long].collect().toSet
    assert(out == Set(1L, 4L))
  }

  test("survivorsByScore: keeps the best-scored member; constant score == survivors") {
    // cluster 1~2~3 (transitive), 4 untouched. Scores make doc 3 the
    // best; min-id selection would keep doc 1.
    val d = Seq((1L, "a", 10L), (2L, "b", 30L), (3L, "c", 50L),
      (4L, "d", 1L)).toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val best = TextDedup.survivorsByScore(d, pairs, "n_chars")
      .select("doc_id").as[Long].collect().toSet
    assert(best == Set(3L, 4L), s"the longest copy must survive: $best")
    // tie on the top score breaks to the SMALLEST id
    val tied = Seq((1L, "a", 50L), (2L, "b", 50L), (3L, "c", 10L),
      (4L, "d", 1L)).toDF("doc_id", "text", "n_chars")
    val tiedOut = TextDedup.survivorsByScore(tied, pairs, "n_chars")
      .select("doc_id").as[Long].collect().toSet
    assert(tiedOut == Set(1L, 4L))
    // constant score degenerates to the min-id form exactly
    val const = d.withColumn("n_chars", lit(7L))
    val a = TextDedup.survivorsByScore(const, pairs, "n_chars")
      .select("doc_id").as[Long].collect().toSet
    val b = TextDedup.survivors(const, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("packSequences: per-shard offsets are contiguous from 0; pack = start DIV cap") {
    val d = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val out = Corpus.packSequences(d, maxTokens = 512, numShards = 4)
      .orderBy("shard", "doc_id").collect()
    out.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      var expect = 0L
      rows.foreach { r =>
        assert(r.getAs[Long]("start_offset") == expect, s"gap at doc ${r.getLong(0)}")
        assert(r.getAs[Long]("pack_id") == r.getAs[Long]("start_offset") / 512)
        expect += r.getAs[Long]("n_tokens")
      }
    }
    // every document lands in exactly one shard/pack
    assert(out.map(_.getLong(0)).distinct.length == out.length)
  }

  test("mixtureSample: explicit weights, rate cap at 1, unlisted strata dropped") {
    val d = (1L to 3000L).map(i =>
      (i, "text", if (i <= 10) "tiny" else if (i % 2 == 0) "big" else "xx"))
      .toDF("doc_id", "text", "source")
    // tiny: w·budget/n = 0.5·100/10 = 5 → capped at rate 1, all 10 kept;
    // big: 0.5·100/1495 ≈ 0.033; xx: no weight → dropped entirely
    val out = Corpus.mixtureSample(d,
      weights = Map("tiny" -> 0.5, "big" -> 0.5), budget = 100)
    val bySrc = out.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc.getOrElse("tiny", 0L) == 10L, s"rate cap at 1 keeps all: $bySrc")
    assert(!bySrc.contains("xx"), "strata without a weight are dropped")
    assert(bySrc("big") > 20 && bySrc("big") < 80, s"≈0.033·1495≈50: $bySrc")
    // deterministic under re-execution
    val again = Corpus.mixtureSample(d,
      weights = Map("tiny" -> 0.5, "big" -> 0.5), budget = 100)
    assert(again.select("doc_id").as[Long].collect().toSet ==
      out.select("doc_id").as[Long].collect().toSet)
  }

  test("sourceOverlap: exact vocab Jaccard; within-source duplicates don't inflate") {
    val d = Seq(
      (1L, "a b c", "A"), (2L, "a a b", "A"), // A vocab {a,b,c}, dup 'a'
      (3L, "b c d", "B"),                     // B vocab {b,c,d}
      (4L, "x y", "C"))                       // C disjoint
      .toDF("doc_id", "text", "source")
    val out = Corpus.sourceOverlap(d)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(out.toSeq == Seq(("B", "A", 3L, 3L, 2L, 0.5)) ||
      out.toSeq == Seq(("A", "B", 3L, 3L, 2L, 0.5)),
      s"only the A-B pair shares tokens: ${out.toSeq}")
  }

  test("globalShuffle: per-shard positions contiguous; salt re-rolls the order") {
    val d = (0L until 200L).map(i => (i, "text")).toDF("doc_id", "text")
    val out = Corpus.globalShuffle(d, numShards = 4)
      .as[(Long, Int, Long)].collect()
    assert(out.length == 200 && out.map(_._1).distinct.length == 200)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length),
        s"shard $shard positions must be contiguous from 0")
      rows.foreach { case (id, s, _) => assert(s == (id % 4).toInt) }
    }
    // deterministic under re-execution; re-salting re-rolls within-shard order
    val again = Corpus.globalShuffle(d, numShards = 4)
      .as[(Long, Int, Long)].collect()
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    val resalted = Corpus.globalShuffle(d, numShards = 4, salt = "other")
      .as[(Long, Int, Long)].collect()
    assert(resalted.sortBy(_._1).toSeq != out.sortBy(_._1).toSeq)
    // the hash order actually permutes: positions differ from id order
    val shard0 = out.filter(_._2 == 0).sortBy(_._3).map(_._1).toSeq
    assert(shard0 != shard0.sorted, "within-shard order must not be id order")
  }

  test("redact: emails, IPs, digit runs; order-stable; null propagates") {
    val d = Seq(
      (1L, "contact bob@example.com or 10.0.0.1 x42"),
      (2L, "a1b2@x.co wrote"), // digits inside an email must not pre-split it
      (3L, "1.2.3.4 then 12345"),
      (4L, "no pii here")).toDF("id", "s")
      .union(Seq((5L, null: String)).toDF("id", "s"))
    val out = d.select(col("id"), TextAnalysis.redact(col("s")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "contact <EMAIL> or <IP> x<NUM>")
    assert(out(2L) == "<EMAIL> wrote")
    assert(out(3L) == "<IP> then <NUM>")
    assert(out(4L) == "no pii here")
    assert(out(5L) == null)
  }

  test("corpusBuild wiring: mixture rates computed over decontaminated " +
    "survivors (planted doc flips a keep decision); contamN boundary") {
    def toks(prefix: String, n: Int) = (0 until n).map(i => s"$prefix$i")
      .mkString(" ")
    // 7 clean 30-token docs (ids 0-6), one contaminated 10-token doc
    // (id 7 shares the 5-gram cont1..cont5 with the benchmark), one
    // near-dup pair (ids 8/9, 20 tokens, Jaccard ~0.71 -> 9 loses).
    // Clean population = {0-6, 8} = 230 tokens. With budget 110 the
    // keep threshold is floor(65536*110/230) = 31343, so doc 5 (salted
    // md5 bucket 30706) is KEPT; computed over the PRE-decontamination
    // population (240 tokens -> 30037) or the PRE-dedup one (260 ->
    // 27726) it is DROPPED — the planted doc's tokens flip a real
    // decision, which is exactly the wiring class the composed q220
    // oracle pins and this fixture isolates.
    val d = docs(
      ((0L to 6L).map(i => (i, s"the a row ${toks(s"u${i}x", 27)}")) ++
        Seq(
          (7L, "the a row cont1 cont2 cont3 cont4 cont5 d7x d7y"),
          (8L, s"the a row ${toks("v", 17)}"),
          (9L, s"the a row ${toks("v", 16)} w99"))): _*)
    val benchmark = docs(
      (100L, "bmA bmB cont1 cont2 cont3 cont4 cont5 bmC"))
    val clean = Corpus.corpusBuildClean(d, benchmark)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 8L),
      s"clean survivor set: $clean")
    val out = Corpus.corpusBuild(d, benchmark, Map("s" -> 1.0), 110L)
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(3L, 5L),
      "sampled+packed set under correctly-wired rates")
    assert(out.forall(_.getAs[Long]("n_tokens") == 30L))
    // the discriminator: the same mixture over clean + the contaminated
    // doc (ids 0-8) computes a lower rate and drops doc 5 — proof the
    // fixture can SEE a mis-wired denominator population
    val misWired = Corpus.tokenMixtureSample(
        d.filter($"doc_id" =!= 9L), Map("s" -> 1.0), 110L)
      .select("doc_id").as[Long].collect().toSet
    // (the mis-wiring fails BOTH ways: doc 5 dropped by the inflated
    // denominator AND the contaminated doc 7 itself admitted)
    assert(misWired == Set(3L, 7L),
      s"pre-decontamination denominator must drop doc 5: $misWired")
    // contamN boundary: widths below the dedup shingle width 3 are
    // refused; exactly 3 is accepted (and on this fixture selects the
    // same set — the cont ngrams contaminate at width 3 too)
    val e = intercept[IllegalArgumentException] {
      Corpus.corpusBuild(d, benchmark, Map("s" -> 1.0), 110L, contamN = 2)
    }
    assert(e.getMessage.contains("contamN"))
    val at3 = Corpus.corpusBuild(d, benchmark, Map("s" -> 1.0), 110L,
        contamN = 3).collect()
    assert(at3.map(_.getAs[Long]("doc_id")).toSet == Set(3L, 5L))
  }
}
