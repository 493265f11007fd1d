package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Single-pass multi-pattern substring counter — the blocklist/keyword
  * tagging stage of a training-data pipeline (safety term lists, boilerplate
  * markers, licence-string detection), as a codegen'd Catalyst expression.
  *
  * `multi_match_counts(text, terms)` returns `array<int>` where element `i`
  * is the number of NON-OVERLAPPING, leftmost-greedy, case-sensitive BYTE
  * occurrences of `terms(i)` in `text` — each term counted independently
  * over the ORIGINAL text (a match of one term never consumes bytes from
  * another term's scan). Those are exactly the semantics of the classic SQL
  * counting idiom, which is what makes every query built on this expression
  * hash-exact oracle-checkable:
  *
  *   (strlen(text) - strlen(replace(text, term, ''))) / strlen(term)
  *
  * (`replace` scans the original left to right and restarts AFTER each
  * match, so it neither counts overlapping occurrences of a self-overlapping
  * term — 'a a' counts once in 'a a a' — nor matches text formed by a
  * removal's concatenation: both engines agree by construction.)
  *
  * The 100 TB posture is the whole point: the naive plan is K `replace`
  * scans per document (the oracle's CROSS JOIN — O(K·len) with K string
  * allocations per doc), while this expression walks the document bytes
  * ONCE through an Aho-Corasick automaton (Aho & Corasick, CACM 1975;
  * same family as Spark's own single-pattern StringInstr, generalized to a
  * dictionary). The automaton is built once on the driver from the literal
  * term list and rides to executors inside the serialized plan
  * (`ctx.addReferenceObj`, the [[BpeEncodeText]] codebook pattern), so the
  * per-row cost is O(len + matches) regardless of dictionary size, inside
  * whole-stage codegen with zero per-row allocation beyond the K-int result.
  *
  * NULL text → NULL; empty text → all-zero counts. Terms must be non-empty,
  * distinct, and literal (they are plan constants, like [[LshBucket]]'s
  * plane seeds — a per-row dictionary would defeat the shared automaton).
  */
case class MultiMatchCounts(child: Expression, terms: Seq[String])
    extends UnaryExpression {

  require(terms.nonEmpty, "multi_match_counts: term list must be non-empty")
  require(terms.forall(_.nonEmpty),
    "multi_match_counts: empty-string term would match everywhere")
  require(terms.distinct == terms,
    s"multi_match_counts: duplicate terms ${terms.diff(terms.distinct).distinct}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "multi_match_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"multi_match_counts: text must be STRING, got ${other.simpleString}")
  }

  // Interpreted path rebuilds per (de)serialized instance; codegen captures
  // the driver-built instance in the plan's reference array. Either way the
  // build is O(total term bytes) once, never per row.
  @transient private lazy val automaton = AcAutomaton.build(terms)

  override protected def nullSafeEval(input: Any): Any =
    automaton.countArray(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ac = ctx.addReferenceObj("acAutomaton", automaton,
      classOf[AcAutomaton].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $ac.countArray($t);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MultiMatchCounts = copy(child = newChild)
}

/** Byte-level Aho-Corasick automaton over a fixed term dictionary.
  *
  * Storage is the flat-array form, not a node-object graph, so one instance
  * serializes compactly into the plan and reads cache-friendly on executors:
  *
  *  - goto edges as parallel arrays sorted by (node, byte) — binary search
  *    within a node's edge slice (`edgeStart(n) until edgeStart(n+1)`);
  *  - when the trie is small enough (`nodes * 256` ints ≤ 4 Mi ≈ 16 MB),
  *    additionally a DENSE precomputed DFA `next(node << 8 | byte)` — the
  *    standard construction that folds failure links into the transition
  *    table, making the scan loop a single array read per input byte. Big
  *    dictionaries (≳ tens of thousands of term bytes) skip the dense table
  *    and walk failure links with the binary-searched edges instead —
  *    amortized O(1) per byte, bounded memory;
  *  - `termAt(n)` = term id ending exactly at node n (terms are distinct, so
  *    at most one), `outLink(n)` = nearest failure ancestor that is itself a
  *    terminal — the output chain, walked only when a suffix of the current
  *    position is a hit.
  *
  * Greedy non-overlap is enforced per term with a `nextAllowed` cursor: an
  * occurrence of term k ending at byte e (start s = e − len(k)) counts iff
  * s ≥ nextAllowed(k), which then advances to e — exactly the oracle
  * `replace` restart rule.
  */
final class AcAutomaton private (
    val numTerms: Int,
    termLen: Array[Int],
    edgeStart: Array[Int],
    edgeByte: Array[Byte],
    edgeTo: Array[Int],
    fail: Array[Int],
    termAt: Array[Int],
    outLink: Array[Int],
    dense: Array[Int]) extends Serializable {

  /** Dense-DFA availability (exposed for the spec's dual-path fuzz). */
  def isDense: Boolean = dense != null

  /** Counts into a fresh array — the expression's per-row entry point. */
  def countArray(text: UTF8String): ArrayData =
    ArrayData.toArrayData(countBytes(
      text.getBaseObject, text.getBaseOffset, text.numBytes()))

  /** Test/diagnostic convenience over a byte array. */
  def count(bytes: Array[Byte]): Array[Int] =
    countBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)

  private def countBytes(base: Object, off: Long, len: Int): Array[Int] = {
    val cnt = new Array[Int](numTerms)
    val nextAllowed = new Array[Int](numTerms)
    var node = 0
    var i = 0
    if (dense != null) {
      while (i < len) {
        node = dense((node << 8) | (Platform.getByte(base, off + i) & 0xff))
        if (outLink(node) != 0 || termAt(node) >= 0) {
          emit(node, i + 1, cnt, nextAllowed)
        }
        i += 1
      }
    } else {
      while (i < len) {
        val b = Platform.getByte(base, off + i)
        var to = edgeLookup(node, b)
        while (to < 0 && node != 0) {
          node = fail(node)
          to = edgeLookup(node, b)
        }
        node = if (to < 0) 0 else to
        if (outLink(node) != 0 || termAt(node) >= 0) {
          emit(node, i + 1, cnt, nextAllowed)
        }
        i += 1
      }
    }
    cnt
  }

  /** Walk the output chain at `node` for an input position ending at `e`. */
  private def emit(node: Int, e: Int, cnt: Array[Int],
      nextAllowed: Array[Int]): Unit = {
    var n = node
    while (n != 0) {
      val k = termAt(n)
      if (k >= 0) {
        val s = e - termLen(k)
        if (s >= nextAllowed(k)) {
          cnt(k) += 1
          nextAllowed(k) = e
        }
      }
      n = outLink(n)
    }
  }

  /** Binary search of `b` within node `n`'s sorted edge slice; −1 = none. */
  private def edgeLookup(n: Int, b: Byte): Int = {
    var lo = edgeStart(n)
    var hi = edgeStart(n + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = java.lang.Byte.compare(edgeByte(mid), b)
      if (c == 0) return edgeTo(mid)
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }
}

object AcAutomaton {

  /** Dense-DFA budget: nodes·256 ints ≤ 4 Mi (16 MB). Above it — large
    * dictionaries — the failure-link walk with binary-searched edges takes
    * over; correctness is identical (spec-fuzzed on both paths).
    */
  private val DenseLimit = 1 << 22

  def build(terms: Seq[String]): AcAutomaton = build(terms, allowDense = true)

  /** `allowDense = false` forces the failure-link path (spec dual-fuzz). */
  private[graft] def build(terms: Seq[String],
      allowDense: Boolean): AcAutomaton = {
    // Re-assert the expression's preconditions — build is also reachable
    // directly (tests, future callers), and an empty term would silently
    // make the ROOT terminal.
    require(terms.nonEmpty, "AcAutomaton: term list must be non-empty")
    require(terms.forall(_.nonEmpty), "AcAutomaton: empty term")
    val termBytes = terms.map(t =>
      UTF8String.fromString(t).getBytes).toArray
    val k = termBytes.length

    // Trie build with per-node growable edge lists (build-time only; the
    // frozen form below is what ships).
    val children = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.TreeMap.empty[Byte, Int])
    val termAtB = scala.collection.mutable.ArrayBuffer(-1)
    var t = 0
    while (t < k) {
      var node = 0
      for (b <- termBytes(t)) {
        node = children(node).getOrElse(b, {
          children += scala.collection.mutable.TreeMap.empty[Byte, Int]
          termAtB += -1
          val id = children.size - 1
          children(node).update(b, id)
          id
        })
      }
      require(termAtB(node) < 0,
        s"multi_match_counts: terms must be byte-distinct (term $t)")
      termAtB(node) = t
      t += 1
    }
    val nodes = children.size

    // Freeze edges into the sorted parallel-array form.
    val edgeStart = new Array[Int](nodes + 1)
    var total = 0
    var n = 0
    while (n < nodes) {
      edgeStart(n) = total
      total += children(n).size
      n += 1
    }
    edgeStart(nodes) = total
    val edgeByte = new Array[Byte](total)
    val edgeTo = new Array[Int](total)
    n = 0
    var e = 0
    while (n < nodes) {
      children(n).foreach { case (b, to) =>
        edgeByte(e) = b; edgeTo(e) = to; e += 1
      }
      n += 1
    }

    // BFS failure links + output links.
    val fail = new Array[Int](nodes)
    val outLink = new Array[Int](nodes)
    val termAt = termAtB.toArray
    val queue = new java.util.ArrayDeque[Integer]()
    children(0).foreach { case (_, c) => queue.add(c) }
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      children(u).foreach { case (b, v) =>
        // Follow u's failure chain to the deepest proper-suffix state with
        // a b-edge; that target is v's failure state.
        var f = fail(u)
        var to = children(f).getOrElse(b, -1)
        while (to < 0 && f != 0) {
          f = fail(f)
          to = children(f).getOrElse(b, -1)
        }
        fail(v) = if (to >= 0 && to != v) to else 0
        outLink(v) =
          if (termAt(fail(v)) >= 0) fail(v) else outLink(fail(v))
        queue.add(v)
      }
    }

    // Optional dense DFA: fold failure links into a flat transition table.
    val dense: Array[Int] =
      if (allowDense && nodes.toLong * 256 <= DenseLimit) {
        val d = new Array[Int](nodes * 256)
        // Root row first: missing edge = stay at root.
        var bi = 0
        while (bi < 256) {
          d(bi) = children(0).getOrElse(bi.toByte, 0)
          bi = bi + 1
        }
        // BFS order again so fail(u)'s row is final before u's.
        val q2 = new java.util.ArrayDeque[Integer]()
        children(0).foreach { case (_, c) => q2.add(c) }
        while (!q2.isEmpty) {
          val u = q2.poll().intValue()
          var b2 = 0
          while (b2 < 256) {
            val direct = children(u).getOrElse(b2.toByte, -1)
            d((u << 8) | b2) =
              if (direct >= 0) direct else d((fail(u) << 8) | b2)
            b2 += 1
          }
          children(u).foreach { case (_, c) => q2.add(c) }
        }
        d
      } else null

    new AcAutomaton(k, termBytes.map(_.length), edgeStart, edgeByte, edgeTo,
      fail, termAt, outLink, dense)
  }
}
