package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.Sketches
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Confidence bound of a serialized theta sketch's estimate at
  * `numStdDev` ∈ {1, 2, 3} standard errors — `lower = true` gives the
  * value the true cardinality exceeds with the matching confidence,
  * `false` the value it stays under. The sketches themselves come from
  * Spark's built-in theta family (`theta_sketch_agg`, `theta_union_agg`,
  * `theta_intersection`, `theta_difference`, whose compact images this
  * reads); Spark has no bound function, so state consumers get intervals,
  * not point estimates, from here (SketchSpec pins the exact count inside
  * [lb, ub] for every per-pair set operation). Runs on state rows, never
  * in a per-event hot path — interpreted evaluation ([[CodegenFallback]])
  * is the same deliberate trade as [[FreqSketchItems]].
  */
case class ThetaBound(child: Expression, numStdDev: Int, lower: Boolean)
  extends UnaryExpression with CodegenFallback {

  require(numStdDev >= 1 && numStdDev <= 3,
    s"numStdDev must be 1, 2 or 3, got $numStdDev")

  override def dataType: DataType = DoubleType
  override def prettyName: String =
    if (lower) "theta_lower_bound" else "theta_upper_bound"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: sketch must be BINARY, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val sk = Sketches.heapifyCompactSketch(
      Memory.wrap(input.asInstanceOf[Array[Byte]]))
    if (lower) sk.getLowerBound(numStdDev) else sk.getUpperBound(numStdDev)
  }

  override protected def withNewChildInternal(newChild: Expression): ThetaBound =
    copy(child = newChild)
}

/** Column surface for the theta bounds. */
object ThetaSketch {

  /** Default lgK 12 (Spark's own default): 4096 nominal entries ≈ 1.6%
    * rsd, ~32 KB max image — the same accuracy class as Spark's HLL
    * default at a size that still broadcasts freely as per-(key, day)
    * state.
    */
  val DefaultLgK = 12

  def theta_lower_bound(sketch: Column, numStdDev: Int = 2): Column =
    GraftFunctions.column(ThetaBound(GraftFunctions.expr(sketch),
      numStdDev, lower = true))

  def theta_upper_bound(sketch: Column, numStdDev: Int = 2): Column =
    GraftFunctions.column(ThetaBound(GraftFunctions.expr(sketch),
      numStdDev, lower = false))
}
