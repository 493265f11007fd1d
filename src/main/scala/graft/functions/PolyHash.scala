package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash family over the Mersenne prime 2^61 − 1 — the
  * engine's PORTABLE 61-bit string hash: Horner's rule over Unicode code
  * points, `h ← (h·B + cp) mod M` left to right, `B = 1000003`,
  * `M = 2^61 − 1`. Chosen over xxhash64 for the cross-engine property the
  * oracle gate needs: the identical value is plain SQL in DuckDB
  * (`list_reduce` over `unicode(substr(s, j, 1))` in HUGEINT, mod M), so
  * every pipeline built on it stays hash-exact checkable, while the Java
  * side is a handful of multiply/shift ops per character — cheaper than a
  * per-seed md5 and in the same cost class as xxhash64. Collision rate is
  * the 61-bit birthday bound (~n²/2^62), negligible for shingle-set
  * identity at any corpus size that fits an LSH bucket.
  *
  * [[PolyHash61]] is the whole-string hash; [[KgramPolyMinHash]] the
  * winnowing-style min over char k-gram windows (document fingerprint,
  * REF `wistia_transform_silver.py`'s dedup key family extended to the
  * rolling-hash fingerprint a training-data pipeline needs);
  * [[PolyHashes]] fans one string hash out to `numHashes` independent
  * affine transforms `(Aᵢ·H + Bᵢ) mod M` (universal hashing on the base
  * hash — the MinHash signature family, one O(len) hash per shingle
  * instead of k of them). The affine constants come from splitmix64 and
  * are evaluated HERE for the oracle generator to embed as SQL literals
  * (the [[graft.OracleGen]] discipline: no second copy to drift).
  */
object PolyHashMath {

  /** 2^61 − 1 (Mersenne prime — reduction is shift/add, no division). */
  val M: Long = (1L << 61) - 1

  /** Horner base; any value in (0, M) co-prime-ish works, 1e6+3 is the
    * classic competitive-programming pick with no small-power structure
    * over ASCII alphabets.
    */
  val B: Long = 1000003L

  /** (a·b) mod M for a, b ∈ [0, M). The 122-bit product is hi·2^64 + lo;
    * 2^64 ≡ 8 and 2^61 ≡ 1 (mod M) collapse it to three summands that fit
    * a signed long.
    */
  def mulmod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b) // a,b < 2^61 → signed == unsigned
    val lo = a * b                   // wrapping low 64 bits
    var t = hi * 8 + (lo & M) + (lo >>> 61)
    while (t >= M) t -= M
    t
  }

  def addmod(a: Long, b: Long): Long = {
    val t = a + b
    if (t >= M) t - M else t
  }

  private def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Multiplier of affine hash i — in [1, M), never the degenerate 0. */
  def affineA(i: Int): Long =
    java.lang.Long.remainderUnsigned(splitmix64(2L * i + 1), M - 1) + 1

  /** Offset of affine hash i — in [0, M). */
  def affineB(i: Int): Long =
    java.lang.Long.remainderUnsigned(splitmix64(2L * i + 2), M)

  /** Decode the UTF-8 sequence starting at `pos` to its code point.
    * Matches DuckDB's `unicode()` on any valid UTF-8 input (both are the
    * standard decode; Spark strings are valid UTF-8 by construction).
    */
  private def codePointAt(base: AnyRef, off: Long, pos: Int, len: Int): Int = {
    val b0 = Platform.getByte(base, off + pos)
    len match {
      case 1 => b0 & 0x7f
      case 2 => ((b0 & 0x1f) << 6) |
        (Platform.getByte(base, off + pos + 1) & 0x3f)
      case 3 => ((b0 & 0x0f) << 12) |
        ((Platform.getByte(base, off + pos + 1) & 0x3f) << 6) |
        (Platform.getByte(base, off + pos + 2) & 0x3f)
      case _ => ((b0 & 0x07) << 18) |
        ((Platform.getByte(base, off + pos + 1) & 0x3f) << 12) |
        ((Platform.getByte(base, off + pos + 2) & 0x3f) << 6) |
        (Platform.getByte(base, off + pos + 3) & 0x3f)
    }
  }

  /** Code points of `s` as an int array (one UTF-8 walk, zero copies of
    * the underlying buffer).
    */
  private def codePoints(s: UTF8String): Array[Int] = {
    val n = s.numChars()
    val out = new Array[Int](n)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nBytes = s.numBytes()
    var pos = 0
    var c = 0
    while (pos < nBytes) {
      val len = UTF8String.numBytesForFirstByte(Platform.getByte(base, off + pos))
      out(c) = codePointAt(base, off, pos, len)
      pos += len
      c += 1
    }
    out
  }

  /** Whole-string hash; the empty string hashes to 0 (the Horner fold of
    * zero terms — the SQL twin guards the empty list the same way).
    */
  def hashString(s: UTF8String): Long =
    hashBytes(s.getBaseObject, s.getBaseOffset, s.numBytes())

  /** [[hashString]] over a raw UTF-8 byte RANGE — the in-place form for
    * fused walks that already know their token boundaries
    * ([[WordNgramHashesMath]]): no UTF8String wrapper, no copy.
    */
  def hashBytes(base: AnyRef, off: Long, nBytes: Int): Long = {
    var h = 0L
    var pos = 0
    while (pos < nBytes) {
      val len = UTF8String.numBytesForFirstByte(Platform.getByte(base, off + pos))
      h = addmod(mulmod(h, B), codePointAt(base, off, pos, len).toLong)
      pos += len
    }
    h
  }

  /** Min over every char k-gram window of the window's Horner hash (one
    * clamped window of the whole text when it is shorter than k — the
    * [[KgramMinHashMath]] convention). All values are in [0, M), so
    * signed long MIN is the unsigned order too (and DuckDB `list_min`
    * agrees).
    */
  def kgramMin(s: UTF8String, k: Int): Long = {
    val cps = codePoints(s)
    val n = cps.length
    if (n <= k) {
      var h = 0L
      var i = 0
      while (i < n) { h = addmod(mulmod(h, B), cps(i).toLong); i += 1 }
      return h
    }
    var min = Long.MaxValue
    var w = 0
    val nWindows = n - k + 1
    while (w < nWindows) {
      var h = 0L
      var i = 0
      while (i < k) { h = addmod(mulmod(h, B), cps(w + i).toLong); i += 1 }
      if (h < min) min = h
      w += 1
    }
    min
  }

  /** The `numHashes` affine transforms of [[hashString]] as one array —
    * ONE O(len) string walk per row, then numHashes mulmod/addmod pairs.
    */
  def hashes(s: UTF8String, numHashes: Int): ArrayData = {
    val h = hashString(s)
    val out = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      out(i) = addmod(mulmod(affineA(i), h), affineB(i))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-API surface (the [[LshBucketMath.lshBucketCol]] pattern). */
  def polyHash61Col(s: Column): Column =
    GraftFunctions.column(PolyHash61(GraftFunctions.expr(s)))

  def kgramPolyMinHashCol(s: Column, k: Int): Column =
    GraftFunctions.column(KgramPolyMinHash(GraftFunctions.expr(s), k))

  def polyHashesCol(s: Column, numHashes: Int): Column =
    GraftFunctions.column(PolyHashes(GraftFunctions.expr(s), numHashes))
}

private[graft] trait PolyHashInput { self: UnaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: input must be STRING, got ${other.simpleString}")
  }
}

/** `poly_hash61(s)` — see [[PolyHashMath]]. NULL in → NULL out. */
case class PolyHash61(child: Expression)
    extends UnaryExpression with PolyHashInput {

  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash61"

  override protected def nullSafeEval(s: Any): Any =
    PolyHashMath.hashString(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHashMath.hashString($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash61 =
    copy(child = newChild)
}

/** `kgram_poly_min_hash(s, k)` — the rolling-hash document fingerprint:
  * min over char k-gram windows of the window's poly hash. Same window
  * semantics as [[KgramMinHash]] (whole-text window when shorter than k;
  * NULL text → NULL fingerprint), different hash so the q36 oracle can
  * recompute it in DuckDB.
  */
case class KgramPolyMinHash(child: Expression, k: Int)
    extends UnaryExpression with PolyHashInput {

  require(k >= 1, s"k must be >= 1, got $k")

  override def dataType: DataType = LongType
  override def prettyName: String = "kgram_poly_min_hash"

  override protected def nullSafeEval(s: Any): Any =
    PolyHashMath.kgramMin(s.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHashMath.kgramMin($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): KgramPolyMinHash =
    copy(child = newChild)
}

/** `poly_hashes(s, numHashes)` — the affine MinHash signature family over
  * ONE base hash, as a single array projection (project it once per row,
  * then aggregate over `element_at`).
  */
case class PolyHashes(child: Expression, numHashes: Int)
    extends UnaryExpression with PolyHashInput {

  require(numHashes >= 1 && numHashes <= 64,
    s"poly_hashes: numHashes must be in 1..64, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "poly_hashes"

  override protected def nullSafeEval(s: Any): Any =
    PolyHashMath.hashes(s.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHashMath.hashes($c, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): PolyHashes =
    copy(child = newChild)
}
