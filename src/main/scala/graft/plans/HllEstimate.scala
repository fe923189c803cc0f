package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Fold an HLL register vector (the `hll_registers` output) into the
  * cardinality estimate: E = α_m·m²/Σ2^(−M_j) with the small-range
  * linear-counting correction m·ln(m/V) when E ≤ 2.5m and V > 0
  * (Flajolet et al. 2007). Scalar companion to the aggregate so
  * estimates compose anywhere an expression can (including the
  * [[ApproxDistinctRewrite]]'s rewritten plans).
  * CodegenFallback: evaluated once per GROUP (never per input row), so
  * interpretation cost is irrelevant and fallback keeps the fold out
  * of generated-code size budgets. */
case class HllEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = DoubleType
  // an empty register array estimates to null even when the child is
  // non-nullable, so nullability cannot be inherited from the child
  override def nullable: Boolean = true

  protected override def nullSafeEval(input: Any): Any = {
    val regs = input.asInstanceOf[ArrayData]
    val m = regs.numElements()
    if (m == 0) return null
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = regs.getInt(i)
      sum += java.lang.Math.pow(2.0, -r)
      if (r == 0) zeros += 1
      i += 1
    }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m.toDouble * m / sum
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else raw
  }

  override protected def withNewChildInternal(newChild: Expression): HllEstimate =
    copy(child = newChild)

  override def prettyName: String = "hll_estimate"
}
