package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Position-ordered 64-bit hashes of a document's word n-grams, as a
  * codegen'd Catalyst expression: element `i` (0-based) identifies the
  * n-gram starting at 1-based token position `i + 1` under the engine's
  * tokenizer (`split(text, "\\s+")`, limit −1 — leading/trailing
  * whitespace contributes an EMPTY boundary token, exactly like the SQL
  * split the rest of the text family uses). Fewer than n tokens → empty
  * array; NULL text → NULL.
  *
  * This replaces the shingle-STRING production pipeline — regex `split`,
  * a per-position `explode`, and a per-window `concat_ws` allocation
  * feeding a per-shingle hash — which the round-7 bench measured as the
  * dominant cost of every hash-probing consumer (spans q102/q103,
  * boilerplate fraction q86, the hotlist/incremental family q104/q105/
  * q109). One fused loop walks the UTF-8 bytes once: whitespace runs
  * (the 6 Java-regex `\s` ASCII chars — all single-byte, so continuation
  * bytes can never false-match) delimit tokens, each token's code points
  * hash in place ([[PolyHashMath.hashBytes]], the 61-bit Mersenne poly
  * family — round 17, replacing xxhash64), and each window folds its n
  * token hashes with the same Horner step (`acc = (acc·B + hⱼ) mod M`
  * left to right, from 0). The n-gram string never exists.
  *
  * The hash VALUES are CROSS-ENGINE since round 17: DuckDB re-derives
  * them as `polyHash61(t[i])` per token + the nested mod-M fold
  * ([[graft.OracleGen.wordNgramPolySql]]), which is what flipped the
  * hash-carrying q109 from rows-only to hash-exact. Consumers still
  * treat them as opaque n-gram IDENTITY (the persisted-hotlist state
  * format is versioned accordingly — the hash switch bumped it, see
  * [[graft.text.Corpus.writeHotlist]]). Equal token sequences hash
  * equal; distinct sequences collide with the 61-bit birthday bound
  * (fold-of-hashes, same order as the string form — SpanSpec/TextSpec
  * pin output bit-identity against text-keyed references on every test
  * corpus).
  */
case class WordNgramHashes(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_ngram_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngram_hashes: text must be STRING, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    WordNgramHashesMath.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.WordNgramHashesMath.compute($t, $n);")

  override protected def withNewChildInternal(
      newChild: Expression): WordNgramHashes = copy(child = newChild)
}

/** The fused tokenize-and-hash loop (static forwarder for generated Java —
  * the [[LshBucketMath]] pattern).
  */
object WordNgramHashesMath {

  /** Java-regex `\s`: the 6 ASCII whitespace chars (NOT Unicode spaces —
    * matching `split(text, "\\s+")` exactly).
    */
  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  def compute(text: UTF8String, n: Int): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nBytes = text.numBytes()
    // Pass 1: count tokens = whitespace runs + 1 (split with limit −1
    // keeps the leading/trailing empty boundary tokens).
    var runs = 0
    var i = 0
    while (i < nBytes) {
      if (isWs(Platform.getByte(base, off + i))) {
        runs += 1
        i += 1
        while (i < nBytes && isWs(Platform.getByte(base, off + i))) i += 1
      } else i += 1
    }
    val numToks = runs + 1
    if (numToks < n) return ArrayData.toArrayData(Array.emptyLongArray)
    // Pass 2: poly-hash each token's code points in place (empty boundary
    // tokens fold to 0, the poly convention on both engines).
    val tokHash = new Array[Long](numToks)
    var tok = 0
    var tokStart = 0
    i = 0
    while (i < nBytes) {
      if (isWs(Platform.getByte(base, off + i))) {
        tokHash(tok) = PolyHashMath.hashBytes(base, off + tokStart, i - tokStart)
        tok += 1
        i += 1
        while (i < nBytes && isWs(Platform.getByte(base, off + i))) i += 1
        tokStart = i
      } else i += 1
    }
    tokHash(tok) = PolyHashMath.hashBytes(base, off + tokStart, nBytes - tokStart)
    // Window fold: the same Horner step over the n token hashes, left to
    // right from 0 — in SQL, the nested (…·B + hⱼ) mod M chain.
    val out = new Array[Long](numToks - n + 1)
    var w = 0
    while (w < out.length) {
      var acc = 0L
      var j = 0
      while (j < n) {
        acc = PolyHashMath.addmod(PolyHashMath.mulmod(acc, PolyHashMath.B),
          tokHash(w + j))
        j += 1
      }
      out(w) = acc
      w += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Column-API surface (companion to [[LshBucketMath.lshBucketCol]]). */
  def wordNgramHashesCol(text: Column, n: Int): Column =
    GraftFunctions.column(WordNgramHashes(GraftFunctions.expr(text), n))
}
