package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface (SURVEY.md
  * §2.8 F8 + north star): language ID, quality scoring, token counting,
  * document fingerprinting. All pure `functions._` expressions — whole-stage
  * codegen'd, no UDFs — so a 100 TB documents scan stays in one codegen
  * stage per partition with zero shuffles until an aggregation asks for one.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, "\\s+")

  /** Marker-word language ID: score per language = count of distinct marker
    * tokens present; argmax with a fixed tie-break order. A real system
    * swaps in char-n-gram models; the ENGINE shape — per-language score
    * columns + deterministic argmax — is identical.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "row"),
    "es" -> Seq("data", "query"),
    "de" -> Seq("merge", "batch"),
    "fr" -> Seq("stream", "filter"),
    "zh" -> Seq("window", "join"))

  /** Per-language marker-count score expressions (one row-wise pass). */
  private[text] def langScores(text: Column): Seq[(String, Column)] = {
    val toks = array_distinct(tokens(text))
    langMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(toks, array(markers.map(lit): _*)))
    }
  }

  /** argmax with tie-break in declaration order: first language whose score
    * is >= all later ones wins. Shared by [[langId]] and [[Corpus.curate]]
    * so the two compute bit-identical predictions.
    */
  private[text] def predLangExpr(score: String => Column): Column = {
    val langs = langMarkers.map(_._1)
    langs.init.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), elseCol) =>
        val laterScores = langs.drop(i + 1).map(score)
        val isMax = laterScores.map(score(lang) >= _).reduce(_ && _)
        when(isMax, lang).otherwise(elseCol)
    }
  }

  def langId(docs: DataFrame): DataFrame = {
    val scored = langScores(col("text")).foldLeft(docs) {
      case (df, (lang, s)) => df.withColumn(s"${lang}_score", s)
    }
    val langs = langMarkers.map(_._1)
    val pred = predLangExpr(l => col(s"${l}_score"))
    scored.select(col("doc_id") +: col("lang").as("actual_lang") +:
      langs.map(l => col(s"${l}_score")) :+ pred.as("pred_lang"): _*)
  }

  /** The linear quality score as one expression: identical tree (hence
    * bit-identical doubles) whether computed via [[qualityScore]]'s named
    * intermediates or [[Corpus.curate]]'s fused single projection.
    */
  private[text] def qualityExpr(text: Column,
                                stopwords: Seq[String] = Seq("the", "a")): Column = {
    val t = tokens(text)
    val stopArr = array(stopwords.map(lit): _*)
    (size(array_distinct(t)).cast("double") / size(t)) * lit(2.0) +
      (size(filter(t, x => array_contains(stopArr, x))).cast("double") / size(t)) -
      (length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") / length(text))
  }

  /** Quality scoring: token/char statistics + a deterministic linear score.
    * Ratios are int/int double divisions (bit-identical across engines).
    */
  def qualityScore(docs: DataFrame,
                   stopwords: Seq[String] = Seq("the", "a")): DataFrame = {
    val t = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    docs
      .withColumn("n_tokens", size(t))
      .withColumn("n_distinct_tokens", size(array_distinct(t)))
      .withColumn("sum_token_len",
        aggregate(transform(t, x => length(x)), lit(0), (acc, x) => acc + x))
      .withColumn("n_punct",
        length(regexp_replace(col("text"), "[^.!?,;:]", "")))
      .withColumn("n_stop", size(filter(t, x => array_contains(stopArr, x))))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        (col("sum_token_len").cast("double") / col("n_tokens")).as("avg_token_len"),
        (col("n_punct").cast("double") / length(col("text"))).as("punct_ratio"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
        qualityExpr(col("text"), stopwords).as("quality"))
  }

  /** A trained linear quality model, shipped to executors as plan
    * literals: `score = bias + weights · features` over the deterministic
    * 7-feature vector [n_tokens, distinct_ratio, avg_token_len,
    * punct_ratio, stopword_ratio, digit_ratio, caps_ratio], with a keep
    * threshold per source (absent sources fall back to
    * `defaultThreshold`). The weights here are a stand-in for an offline
    * logistic-regression fit (the Gopher-rules successor: rules score
    * what's MEASURABLE, a fit scores what's PREDICTIVE); swapping in real
    * coefficients changes no plan shape.
    *
    * Every feature is counts and int/int double division and the score
    * is a fixed-order chain of double multiply-adds — bit-identical
    * across engines, so the oracle is exact (same discipline as
    * [[qualityExpr]]).
    */
  final case class QualityModel(
      bias: Double,
      wNTokens: Double, wDistinctRatio: Double, wAvgTokenLen: Double,
      wPunctRatio: Double, wStopwordRatio: Double, wDigitRatio: Double,
      wCapsRatio: Double,
      defaultThreshold: Double,
      perSourceThreshold: Map[String, Double])

  /** The default stub fit used by the registered query (see
    * [[QualityModel]]): rewards lexical diversity and stopword presence
    * (fluent prose), penalizes punctuation/digit/caps density (boilerplate,
    * tables, shouting), with per-source gates for the two sources a
    * hypothetical eval flagged.
    */
  val defaultQualityModel: QualityModel = QualityModel(
    bias = -1.0,
    wNTokens = 0.002, wDistinctRatio = 1.5, wAvgTokenLen = 0.1,
    wPunctRatio = -2.0, wStopwordRatio = 1.0, wDigitRatio = -1.5,
    wCapsRatio = -1.0,
    defaultThreshold = 0.0,
    perSourceThreshold = Map("src0" -> 0.25, "src1" -> -0.25))

  /** Learned quality scoring (score + keep flag per document).
    *
    * Scale shape: the model is LITERALS in one codegen'd projection — no
    * shuffle, no UDF, no join; the per-source threshold map is a literal
    * `map(...)` probed per row (cardinality = #sources, tiny). At 100 TB
    * the gate runs at scan speed and prunes BEFORE any downstream
    * shuffle — which is the entire point of scoring first.
    */
  private def learnedQualityScoreAll(docs: DataFrame,
                                     model: QualityModel,
                                     stopwords: Seq[String]): DataFrame = {
    val t = tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val nChars = length(col("text")).cast("double")
    val scored = docs
      .withColumn("_nt", size(t))
      .withColumn("_f_distinct",
        size(array_distinct(t)).cast("double") / col("_nt"))
      .withColumn("_f_avg_len",
        aggregate(transform(t, x => length(x)), lit(0), (acc, x) => acc + x)
          .cast("double") / col("_nt"))
      .withColumn("_f_punct",
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("double") /
          nChars)
      .withColumn("_f_stop",
        size(filter(t, x => array_contains(stopArr, x))).cast("double") /
          col("_nt"))
      .withColumn("_f_digit",
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
          nChars)
      .withColumn("_f_caps",
        length(regexp_replace(col("text"), "[^A-Z]", "")).cast("double") /
          nChars)
    val score = lit(model.bias) +
      lit(model.wNTokens) * col("_nt").cast("double") +
      lit(model.wDistinctRatio) * col("_f_distinct") +
      lit(model.wAvgTokenLen) * col("_f_avg_len") +
      lit(model.wPunctRatio) * col("_f_punct") +
      lit(model.wStopwordRatio) * col("_f_stop") +
      lit(model.wDigitRatio) * col("_f_digit") +
      lit(model.wCapsRatio) * col("_f_caps")
    val thresholdMap =
      if (model.perSourceThreshold.isEmpty) lit(null).cast("map<string,double>")
      else map(model.perSourceThreshold.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val threshold = coalesce(element_at(thresholdMap, col("source")),
      lit(model.defaultThreshold))
    scored
      .withColumn("quality_score", score)
      .withColumn("keep", score >= threshold)
  }

  /** Learned quality scoring (score + keep flag per document). */
  def learnedQualityScore(docs: DataFrame, model: QualityModel,
                          stopwords: Seq[String]): DataFrame =
    learnedQualityScoreAll(docs, model, stopwords)
      .select(col("doc_id"), col("source"), col("quality_score"), col("keep"))

  def learnedQualityScore(docs: DataFrame): DataFrame =
    learnedQualityScore(docs, defaultQualityModel, Seq("the", "a"))

  /** The gate itself: the ORIGINAL rows the model passes, in one pass —
    * score, threshold, and filter all live in the same scan-side stage
    * (no self-join, no second read of the corpus).
    */
  def learnedQualityFilter(docs: DataFrame,
                           model: QualityModel = defaultQualityModel)
      : DataFrame =
    learnedQualityScoreAll(docs, model, Seq("the", "a"))
      .filter(col("keep"))
      .select(docs.columns.map(col).toIndexedSeq: _*)

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs | digit runs | single other chars).
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      size(array_distinct(tokens(col("text")))).as("n_distinct_tokens"),
      length(col("text")).as("n_chars_measured"),
      size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
        .as("n_bpe_tokens"))

  /** Within-document repetition (the Gopher-rule duplicate-n-gram quality
    * signal): the fraction of a document's word n-gram OCCURRENCES that
    * are repeats of an earlier n-gram in the same document. Docs shorter
    * than n tokens are excluded (no n-grams to judge).
    *
    * ONE map-side projection, no shuffle: the occurrence total is
    * `tokens - (n-1)` (no explode), and the distinct count is
    * `array_distinct` over the per-row hash array from the codegen'd
    * [[graft.functions.WordNgramHashes]] walk — hash identity ≡ n-gram
    * identity, the same contract the hotlist family keys on
    * (oracle-exact there). The previous form exploded shingles into a
    * per-doc aggregate and joined it back: two corpus passes plus a
    * doc_id exchange for what a per-row expression answers — that join
    * was the entire 2.7× gap to the DuckDB baseline flagged in r8/r9.
    */
  def repetition(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("doc_id"),
        (size(tokens(col("text"))) - (n - 1)).cast("long")
          .as("n_shingles_total"),
        graft.functions.WordNgramHashesMath
          .wordNgramHashesCol(col("text"), n).as("_h"))
      .filter(col("n_shingles_total") > 0)
      .withColumn("n_distinct_shingles",
        size(array_distinct(col("_h"))).cast("long"))
      .select(col("doc_id"), col("n_shingles_total"),
        col("n_distinct_shingles"),
        (lit(1.0) - col("n_distinct_shingles").cast("double") /
          col("n_shingles_total")).as("repetition"))

  /** TF-IDF per (document, token): term frequency, document frequency,
    * corpus size, and the score `tf · ln(n_docs / df)`. Two partial+final
    * hash aggregates (token explode → (doc,token) counts → token df) plus
    * a broadcast of the 1-row corpus count — no window, no driver-side
    * count. The (doc, token) counts feed both the df aggregate and the
    * final join, so they are materialized once (`localCheckpoint`) and
    * the corpus is read once for the explode plus one column-pruned
    * count scan. At sf0.1 the sharing is cost-neutral (~0.75 s either
    * way, honest per-pass-cold measurement; an early persist "win" to
    * 0.46 s was a cross-pass cache-reuse artifact — see Bench's
    * clearCache note); the structure is chosen for the 100 TB shape,
    * where re-exploding the corpus dwarfs materializing the aggregated
    * counts. The df side joins on the token key (broadcast when small,
    * shuffled hash join at vocabulary scale).
    *
    * Oracle note: `ln` is NOT bit-identical between Java and libm (~0.1%
    * of inputs differ in the last ulp — measured, see BASELINE round 5),
    * so only the integer sufficient statistics (tf, df, n_docs) are
    * cross-engine checkable; `tf_idf` is engine-internal, like the
    * xxhash64 columns.
    */
  def tfIdf(docs: DataFrame): DataFrame = {
    // tf feeds both the df aggregate and the final join; exchange reuse
    // does not unify them (measured: the corpus was scanned and exploded
    // twice), so the counts are materialized once — see the scaladoc for
    // the measurement.
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("n_docs"),
        (col("tf") * log(col("n_docs").cast("double") / col("df")))
          .as("tf_idf"))
  }

  /** Document fingerprints. `prefix_fp` (md5 of the head) and `kgram_fp`
    * (winnowing-style min over char k-gram rolling-hash values — the
    * codegen'd [[graft.functions.KgramPolyMinHash]]) are BOTH
    * cross-engine and oracle-checked: the 61-bit Mersenne poly hash is
    * the identical value in DuckDB SQL (see [[graft.functions.PolyHashMath]]),
    * which flipped q36 from rows-only to hash-exact. One fused window
    * loop per document: a handful of mul/shift ops per char.
    */
  def fingerprints(docs: DataFrame, prefixLen: Int = 80, k: Int = 8): DataFrame =
    docs.select(
      col("doc_id"),
      md5(substring(col("text"), 1, prefixLen)).as("prefix_fp"),
      graft.functions.PolyHashMath.kgramPolyMinHashCol(col("text"), k)
        .as("kgram_fp"))

  /** Default PII redaction rules, applied in declaration order (emails
    * before IPs before bare digit runs — a rule's replacement must not
    * create matches for a LATER rule, and `<EMAIL>`/`<IP>`/`<NUM>`
    * contain no digits or `@`, so the chain is order-stable). Patterns
    * are deliberately restricted to the regex intersection of Java's
    * engine and RE2 (character classes, bounded repetition; no
    * lookaround, no backreferences) so the same rule table runs
    * unchanged on Spark, DuckDB, or any RE2-based scrubber.
    */
  val redactionRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "[0-9]+" -> "<NUM>")

  /** PII scrub of a text column (the pre-training privacy pass): each
    * rule is one codegen'd `regexp_replace`, chained — a single row-wise
    * projection, zero shuffles at any corpus size. NULL propagates.
    */
  def redact(c: Column, rules: Seq[(String, String)] = redactionRules): Column =
    rules.foldLeft(c) { case (acc, (pat, rep)) => regexp_replace(acc, pat, rep) }

  /** Blocklist for the registered q217/q218: substring (not word-boundary)
    * terms chosen to exercise the Aho-Corasick structure on the corpus —
    * nested suffixes ('scan'⊃'can'⊃'an', 'the'⊃'he', 'slow'⊃'low',
    * 'part'⊃'art'), a two-word phrase, a self-overlapping phrase ('a a' in
    * 'a a a' counts ONCE — the greedy non-overlap rule), and a repeated-word
    * phrase. A production run swaps in its safety/licence term list; the
    * plan is identical.
    */
  val blocklistTerms: Seq[String] = Seq(
    "scan", "can", "an", "the", "he", "table table", "slow", "low",
    "row scan", "part", "art", "a a")

  /** Per-(doc, term) blocklist hit counts — one Aho-Corasick pass per
    * document ([[graft.functions.MultiMatchCounts]]) instead of the K
    * `replace` scans of the SQL idiom, then `posexplode` + a literal-array
    * `element_at` to name the terms. Row-wise projection end to end: zero
    * shuffles, zero joins, whole-stage codegen at any corpus size. Rows
    * with zero hits are dropped (the sparse long form).
    */
  def blocklistHits(docs: DataFrame,
      terms: Seq[String] = blocklistTerms): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.GraftFunctions
          .multi_match_counts(col("text"), terms).as("cnts"))
      .select(col("doc_id"), posexplode(col("cnts")).as(Seq("idx", "c")))
      .where(col("c") > 0)
      .select(col("doc_id"),
        element_at(lit(terms.toArray), col("idx") + 1).as("term"),
        col("c").cast("long").as("cnt"))

  /** Blocklist density gate — the quarantine half of a safety filter: docs
    * whose total hit count exceeds `per100` hits per 100 chars. The GATE
    * compares integers (`total·100 > per100·n_chars`, exact in BIGINT on
    * both engines — no float-boundary class, the q190 lesson); the DOUBLE
    * density column is reporting only. `aggregate()` folds the counts
    * array in the same projection, so the whole gate is still one
    * shuffle-free scan.
    */
  def blocklistGate(docs: DataFrame, terms: Seq[String] = blocklistTerms,
      per100: Long = 11L): DataFrame =
    docs
      .select(col("doc_id"), col("n_chars"),
        aggregate(
          graft.functions.GraftFunctions
            .multi_match_counts(col("text"), terms),
          lit(0L), (acc, x) => acc + x).as("total_hits"))
      .where(col("total_hits") * lit(100L) > lit(per100) * col("n_chars"))
      .select(col("doc_id"), col("total_hits"),
        (col("total_hits") * lit(100.0) / col("n_chars")).as("hits_per_100"))
}
