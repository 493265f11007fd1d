package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd cosine similarity over two float-array columns (SURVEY.md §4.3:
  * "promote to a codegen'd Expression only if the HOF form benchmarks
  * poorly" — the zip_with+aggregate form evaluates two interpreted lambda
  * calls per element; this compiles to a single fused Java loop inside
  * whole-stage codegen).
  *
  * Numeric contract: identical doubles to the HOF form and the DuckDB
  * oracle — each accumulator (dot, |a|², |b|²) sums left-to-right in
  * DOUBLE, then dot / (sqrt(na) * sqrt(nb)). A NULL element makes the
  * result NULL (the HOF form's `x + null` propagates; DuckDB's
  * list_dot_product does the same) — getFloat on a null slot would read
  * 0.0 and yield a silently wrong similarity. Length mismatch throws:
  * truncating to min(n) would compare different vectors than the caller
  * thinks (same fail-loudly contract as [[LshBucket]]).
  *
  * Zero-norm (or empty) vectors follow DIVISION semantics, mirroring the
  * HOF form's `Divide` exactly: NULL when ANSI is off, the standard
  * DIVIDE_BY_ZERO error when ANSI is on (`failOnError` captured from
  * SQLConf at construction, the `Divide` convention). Returning NaN here
  * — the naive 0/0 — would be a trap: Spark orders NaN ABOVE every
  * double, so a single zero-norm embedding would silently win every
  * descending top-k similarity search.
  */
case class CosineSimilarity(left: Expression, right: Expression,
    failOnError: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  // True even for non-null inputs: a NULL *element* nulls the result.
  override def nullable: Boolean = true

  // Analysis-time type guard (same contract as LshBucket): getFloat reads
  // 4-byte slots, so any other element width silently yields garbage.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity: both inputs must be array<float>, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarityMath.compute(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cosRes")
      s"""
         |java.lang.Double $r =
         |  graft.functions.CosineSimilarityMath.compute($a, $b, $failOnError);
         |if ($r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $r.doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** The fused similarity loop, static so generated Java calls it directly
  * (same pattern as [[LshBucketMath]]). Returns null (boxed) when either
  * array has a NULL element — one box per row, dwarfed by the dims-length
  * loop it guards.
  */
object CosineSimilarityMath {

  // QueryExecutionErrors.divideByZeroError is private[sql] at the Scala
  // level but bytecode-public — one reflective lookup at classload (the
  // GraftFunctions/ExpressionUtils pattern) yields the exact ANSI error
  // (class, SQLSTATE, message) the HOF form's Divide raises.
  private val divideByZeroError: java.lang.reflect.Method = {
    val cls = Class.forName("org.apache.spark.sql.errors.QueryExecutionErrors$")
    cls.getMethod("divideByZeroError", classOf[org.apache.spark.QueryContext])
  }
  private val queryExecutionErrors: AnyRef =
    Class.forName("org.apache.spark.sql.errors.QueryExecutionErrors$")
      .getField("MODULE$").get(null)

  def compute(x: ArrayData, y: ArrayData, failOnError: Boolean)
      : java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) {
      throw new IllegalArgumentException(
        s"cosine_similarity: arrays have $n and ${y.numElements()} elements — " +
          "truncating to the shorter length would silently compare the wrong " +
          "vectors; fix the embedding dims (or the data).")
    }
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) {
      // division semantics, matching the HOF `Divide` the rewrite replaces:
      // ANSI throws DIVIDE_BY_ZERO, non-ANSI yields NULL — never NaN, which
      // would sort above every real similarity in a descending top-k
      if (failOnError) {
        throw divideByZeroError.invoke(queryExecutionErrors, null)
          .asInstanceOf[ArithmeticException]
      }
      return null
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  /** The exact ANSI DIVIDE_BY_ZERO error, shared with [[Sq8Math]]. */
  private[functions] def raiseDivideByZero(): ArithmeticException =
    divideByZeroError.invoke(queryExecutionErrors, null)
      .asInstanceOf[ArithmeticException]
}

/** Column-API and SQL-registry surface for the engine's custom expressions. */
object GraftFunctions {

  // Spark 4 moved the Column<->Expression bridge behind private[sql]
  // (org.apache.spark.sql.classic.ExpressionUtils); its static methods are
  // bytecode-public, so one reflective lookup at classload restores the
  // plugin surface Spark 3 exposed as `new Column(expr)` / `col.expr`.
  private val exprUtils =
    Class.forName("org.apache.spark.sql.classic.ExpressionUtils")
  private val toExpr =
    exprUtils.getMethod("expression", classOf[Column])
  private val toColumn =
    exprUtils.getMethod("column", classOf[Expression])

  private[graft] def expr(c: Column): Expression =
    toExpr.invoke(null, c).asInstanceOf[Expression]
  private[graft] def column(e: Expression): Column =
    toColumn.invoke(null, e).asInstanceOf[Column]

  def cosine_similarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expr(a), expr(b)))

  def jaro_winkler(a: Column, b: Column): Column =
    column(JaroWinkler(expr(a), expr(b)))

  /** Spark's internal bloom-filter aggregate (the machinery behind runtime
    * row-level filtering), surfaced as a Column: folds `c` (must be a
    * LongType hash, e.g. `xxhash64(...)`) into a `numBits`-wide filter,
    * returned as one BINARY value. Partials merge by bitwise OR —
    * associative, commutative, duplicate- and order-invariant — so the
    * result bytes are deterministic under any partitioning.
    */
  def bloom_filter_agg(c: Column, estimatedItems: Long, numBits: Long): Column =
    column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(expr(c),
        org.apache.spark.sql.catalyst.expressions.Literal(estimatedItems),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
      .toAggregateExpression())

  /** Membership probe against a [[bloom_filter_agg]] result. `filter` must
    * be foldable (a collected-bytes literal) or a scalar subquery; false
    * positives possible, false negatives never.
    */
  def might_contain(filter: Column, c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(expr(filter), expr(c)))

  /** Deterministic cross-engine Bloom fold of a non-negative BIGINT key
    * column (see [[PolyBloomAgg]]): position math is plain integer SQL,
    * so decisions through it are hash-exact oracle-checkable — unlike
    * [[bloom_filter_agg]], whose internal re-hash has no SQL analog.
    */
  def poly_bloom_agg(c: Column, numBits: Int, k: Int): Column =
    column(PolyBloomAgg(expr(c), numBits, k).toAggregateExpression())

  /** Membership probe against a [[poly_bloom_agg]] value; same false
    * positives on every engine, false negatives never.
    */
  def poly_bloom_contains(filter: Column, c: Column,
      numBits: Int, k: Int): Column =
    column(PolyBloomContains(expr(filter), expr(c), numBits, k))

  /** KMV bottom-k distinct sketch state over affine-mixed poly hashes
    * (see [[KmvSketchAgg]]) — the deterministic, SQL-re-derivable member
    * of the mergeable sketch family.
    */
  def kmv_sketch_agg(c: Column, k: Int): Column =
    column(KmvSketchAgg(expr(c), k).toAggregateExpression())

  /** Lossless union of persisted [[kmv_sketch_agg]] state arrays. */
  def kmv_union_agg(c: Column, k: Int): Column =
    column(KmvUnionAgg(expr(c), k).toAggregateExpression())

  /** Single-pass Aho-Corasick blocklist counter (see [[MultiMatchCounts]]):
    * element i of the returned `array<int>` is the non-overlapping greedy
    * count of `terms(i)` in `text`.
    */
  def multi_match_counts(text: Column, terms: Seq[String]): Column =
    column(MultiMatchCounts(expr(text), terms))

  /** Evaluate a foldable int argument of a SQL function call (e.g. the
    * `bits` literal in `lsh_bucket(emb, 8, 64, 0)`). `name` must carry the
    * function name ("lsh_bucket: bits") — litInt serves several functions,
    * and the error has to point at the one the user called.
    */
  private[functions] def litInt(e: Expression, name: String): Int = {
    require(e.foldable, s"$name must be a literal integer")
    e.eval() match {
      // NULL is foldable, so `lsh_bucket(emb, NULL, 64)` reaches here — it
      // must get the descriptive error, not a bare NullPointerException.
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$name must be a non-null literal integer, got " +
          s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
    }
  }

  private[functions] def lshBucketFromSql(exprs: Seq[Expression]): Expression = {
    require(exprs.size >= 3 && exprs.size <= 4,
      "lsh_bucket(embedding, bits, dims[, planeOffset])")
    LshBucket(exprs(0), litInt(exprs(1), "lsh_bucket: bits"),
      litInt(exprs(2), "lsh_bucket: dims"),
      if (exprs.size > 3) litInt(exprs(3), "lsh_bucket: planeOffset") else 0)
  }

  private[functions] def kgramMinHashFromSql(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2, "kgram_min_hash(text, k)")
    KgramMinHash(exprs(0), litInt(exprs(1), "kgram_min_hash: k"))
  }

  private[functions] def wordNgramHashesFromSql(
      exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2, "word_ngram_hashes(text, n)")
    WordNgramHashes(exprs(0), litInt(exprs(1), "word_ngram_hashes: n"))
  }

  /** Evaluate a foldable string argument of a SQL function call (the
    * [[litInt]] counterpart for token literals).
    */
  private[functions] def litString(e: Expression, name: String): String = {
    require(e.foldable, s"$name must be a literal string")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$name must be a non-null literal string, got " +
          s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
    }
  }

  private[functions] def bpeMergeTextFromSql(exprs: Seq[Expression]): Expression = {
    require(exprs.size >= 3 && exprs.size <= 4,
      "bpe_merge_text(text, a, b[, joiner])")
    BpeMergeText(exprs(0), litString(exprs(1), "bpe_merge_text: a"),
      litString(exprs(2), "bpe_merge_text: b"),
      if (exprs.size > 3) litString(exprs(3), "bpe_merge_text: joiner")
      else "▁")
  }

  private[functions] def multiMatchFromSql(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2, "multi_match_counts(text, array('t1', 't2', ...))")
    val termsExpr = exprs(1)
    val isStringArray = termsExpr.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    }
    require(termsExpr.foldable && isStringArray,
      "multi_match_counts: terms must be a literal array of strings")
    val arr = termsExpr.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a
      case other => throw new IllegalArgumentException(
        "multi_match_counts: terms must be a non-null literal array, got " +
          s"${if (other == null) "NULL" else other.getClass.getSimpleName}")
    }
    val terms = (0 until arr.numElements()).map { i =>
      require(!arr.isNullAt(i), "multi_match_counts: NULL term")
      arr.getUTF8String(i).toString
    }
    MultiMatchCounts(exprs(0), terms)
  }

  /** The engine's SQL functions by name — the one table both registration
    * paths read ([[registerAll]] and [[GraftExtensions]]). No name here is
    * a Spark built-in (FunctionsSpec pins it): a sketch Spark ships is
    * called by Spark's own name. The builders are stable instances, so
    * [[registerAll]] can tell a name this object bound from one bound by
    * anyone else.
    */
  private[graft] val sqlFunctions
      : Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> { exprs: Seq[Expression] =>
      require(exprs.size == 2, "cosine_similarity(vec1, vec2)")
      CosineSimilarity(exprs(0), exprs(1)) },
    "lsh_bucket" -> lshBucketFromSql _,
    "kgram_min_hash" -> kgramMinHashFromSql _,
    "multi_match_counts" -> multiMatchFromSql _,
    "poly_bloom_agg" -> { exprs: Seq[Expression] =>
      require(exprs.size == 3, "poly_bloom_agg(key, numBits, k)")
      PolyBloomAgg(exprs(0),
        litInt(exprs(1), "poly_bloom_agg: numBits"),
        litInt(exprs(2), "poly_bloom_agg: k")) },
    "poly_bloom_contains" -> { exprs: Seq[Expression] =>
      require(exprs.size == 4, "poly_bloom_contains(filter, key, numBits, k)")
      PolyBloomContains(exprs(0), exprs(1),
        litInt(exprs(2), "poly_bloom_contains: numBits"),
        litInt(exprs(3), "poly_bloom_contains: k")) },
    "kmv_sketch_agg" -> { exprs: Seq[Expression] =>
      require(exprs.size == 2, "kmv_sketch_agg(key, k)")
      KmvSketchAgg(exprs(0),
        litInt(exprs(1), "kmv_sketch_agg: k")) },
    "kmv_union_agg" -> { exprs: Seq[Expression] =>
      require(exprs.size == 2, "kmv_union_agg(state, k)")
      KmvUnionAgg(exprs(0),
        litInt(exprs(1), "kmv_union_agg: k")) },
    "word_ngram_hashes" -> wordNgramHashesFromSql _,
    "bpe_merge_text" -> bpeMergeTextFromSql _,
    "freq_sketch_agg" -> FreqSketch.freqSketchAggFromSql,
    "freq_union_agg" -> FreqSketch.freqUnionAggFromSql,
    "freq_sketch_items" -> FreqSketch.freqSketchItemsFromSql,
    "freq_sketch_max_error" -> FreqSketch.freqSketchMaxErrorFromSql,
    "theta_lower_bound" -> { exprs: Seq[Expression] => ThetaBound(exprs(0),
      if (exprs.size > 1) litInt(exprs(1), "theta_lower_bound: numStdDev")
      else 2, lower = true) },
    "theta_upper_bound" -> { exprs: Seq[Expression] => ThetaBound(exprs(0),
      if (exprs.size > 1) litInt(exprs(1), "theta_upper_bound: numStdDev")
      else 2, lower = false) },
    "jaro_winkler" -> { exprs: Seq[Expression] =>
      JaroWinkler(exprs(0), exprs(1)) },
    "sq8_encode" -> { exprs: Seq[Expression] => Sq8Encode(exprs.head) },
    "sq8_cosine" -> { exprs: Seq[Expression] => Sq8Cosine(exprs(0), exprs(1)) }
  )

  /** Register custom functions on an EXISTING session (tests, notebooks).
    * Names the session already binds to these builders are left alone, so a
    * repeated call changes nothing and logs no "replaced a previously
    * registered function" warning; a name bound to anything else (a
    * session's temporary function of the same name, say) is replaced.
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    for ((name, builder) <- sqlFunctions
         if !registry.lookupFunctionBuilder(FunctionIdentifier(name)).contains(builder))
      registry.createOrReplaceTempFunction(name, builder, "built-in")
  }
}
