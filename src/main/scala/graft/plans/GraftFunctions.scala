package graft.plans

import scala.reflect.{ClassTag, classTag}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One native function: its SQL name, the expression class its
  * `ExpressionInfo` names, and the builder the analyzer calls with the
  * call's arguments. */
final case class NativeFunction(name: String, className: String,
    builder: Seq[Expression] => Expression) {
  def id: FunctionIdentifier = FunctionIdentifier(name)
  def info: ExpressionInfo = new ExpressionInfo(className, name)
}

/** graft's native functions, in one table that [[GraftExtensions]]
  * injects into every session it builds and [[register]] adds to a
  * session built without it. */
object GraftFunctions {

  private def evalDouble(e: Expression): Double = e.eval(null) match {
    case v: Number => v.doubleValue()
    case v: org.apache.spark.sql.types.Decimal => v.toDouble
    case other => throw new IllegalArgumentException(
      s"expected numeric literal, got $other")
  }

  private def evalInt(e: Expression): Int = evalDouble(e).toInt

  // weights/bias arrive as foldable array(...) literals; element-wise eval
  // (rather than evaluating the CreateArray whole) sidesteps type-coercion
  // of mixed-precision decimal literals, which only runs later in analysis
  private def evalDoubleArray(e: Expression): Seq[Double] = e match {
    case ca: org.apache.spark.sql.catalyst.expressions.CreateArray =>
      ca.children.map(evalDouble)
    case other if other.foldable => other.eval(null) match {
      case ad: org.apache.spark.sql.catalyst.util.ArrayData =>
        ad.toObjectArray(org.apache.spark.sql.types.DoubleType).toSeq.map {
          case d: java.lang.Double => d.doubleValue()
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue()
        }
      case other => throw new IllegalArgumentException(
        s"expected array literal, got $other")
    }
    case other => throw new IllegalArgumentException(
      s"mlp_dense weights/bias must be foldable array literals, got $other")
  }

  private def sortedLows(lowsExpr: Expression): Seq[Double] = {
    require(lowsExpr.foldable,
      "sorted_lower_count: lows must be a literal (foldable) array")
    val et = lowsExpr.dataType match {
      case org.apache.spark.sql.types.ArrayType(e, _) => e
      case other => throw new IllegalArgumentException(
        s"sorted_lower_count: second arg must be an array, got $other")
    }
    val lowsData = lowsExpr.eval()
    if (lowsData == null) throw new IllegalArgumentException(
      "sorted_lower_count: lows must be a non-null literal array")
    lowsData
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(et)
      .map {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: Number => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"sorted_lower_count: non-numeric lows element $other")
      }.toSeq
  }

  /** A table entry for `name`, whose calls take `arity` arguments and
    * build an `E`; a call with another count fails naming `usage`. */
  private def fn[E <: Expression: ClassTag](name: String, usage: String, arity: Int)(
      build: Seq[Expression] => Expression): NativeFunction =
    NativeFunction(name, classTag[E].runtimeClass.getName, { c =>
      require(c.size == arity, s"$name($usage)")
      build(c)
    })

  /** Every native function graft provides. */
  val table: Seq[NativeFunction] = Seq(
    fn[JaroWinklerExpr]("jaro_winkler", "a, b", 2)(c => JaroWinklerExpr(c(0), c(1))),
    fn[WithinRadius]("within_radius", "ax, ay, bx, by, r", 5)(c =>
      WithinRadius(c(0), c(1), c(2), c(3), c(4))),
    fn[HyperplaneBands]("hyperplane_bands",
        "embedding, n_tables, band_bits, dims, seed_base", 5)(c =>
      HyperplaneBands(c(0), evalInt(c(1)), evalInt(c(2)), evalInt(c(3)), evalInt(c(4)))),
    fn[DeltaRExpr]("delta_r", "eta1, phi1, eta2, phi2", 4)(c =>
      DeltaRExpr(c(0), c(1), c(2), c(3))),
    fn[SortedIntersectCount]("sorted_intersect_count", "a, b", 2)(c =>
      SortedIntersectCount(c(0), c(1))),
    fn[ArrayDotProduct]("array_dot", "a, b", 2)(c => ArrayDotProduct(c(0), c(1))),
    fn[WeightedHistogramAgg]("weighted_histogram", "value, weight, lo, hi, nbins", 5)(c =>
      WeightedHistogramAgg(c(0), c(1), evalDouble(c(2)), evalDouble(c(3)), evalInt(c(4)))
        .toAggregateExpression()),
    fn[MinHashSignature]("minhash_sig", "shingles, n_perm", 2)(c =>
      MinHashSignature(c(0), evalInt(c(1)))),
    fn[ShingleHashSet]("shingle_set", "text, k", 2)(c => ShingleHashSet(c(0), evalInt(c(1)))),
    fn[MlpDenseChunked]("mlp_dense", "input, weights, bias, tanh", 4)(c =>
      MlpDenseChunked(c(0), evalDoubleArray(c(1)), evalDoubleArray(c(2)),
        c(3).eval(null).asInstanceOf[Boolean])),
    fn[KmvMinima]("kmv_minima", "hash, k", 2)(c =>
      KmvMinima(c(0), evalInt(c(1))).toAggregateExpression()),
    fn[TopKPairs]("topk_max", "sort, payload, k", 3)(c =>
      TopKPairs(c(0), c(1), evalInt(c(2))).toAggregateExpression()),
    fn[CdcBounds]("cdc_bounds", "text, window, mask", 3)(c =>
      CdcBounds(c(0), evalInt(c(1)), evalInt(c(2)))),
    fn[HllRegisters]("hll_registers", "hash, p", 2)(c =>
      HllRegisters(c(0), evalInt(c(1))).toAggregateExpression()),
    fn[LogQuantileSketch]("qsketch_buckets", "value", 1)(c =>
      LogQuantileSketch(c(0)).toAggregateExpression()),
    fn[HllEstimate]("hll_estimate", "regs", 1)(c => HllEstimate(c(0))),
    fn[PhashHash]("phash_hash", "blob", 1)(c => PhashHash(c(0))),
    fn[PcmDecode]("pcm_decode", "blob", 1)(c => PcmDecode(c(0))),
    fn[ByteValues]("byte_values", "blob", 1)(c => ByteValues(c(0))),
    fn[SortedLowerCount]("sorted_lower_count", "x, sorted_lows_array", 2)(c =>
      SortedLowerCount(c(0), sortedLows(c(1)))))

  /** Registers each function of [[table]] that `s` does not already
    * have. A session built with [[GraftExtensions]] has them all, so on
    * it this changes nothing. */
  def register(s: SparkSession): Unit = synchronized {
    val reg = s.sessionState.functionRegistry
    table.filterNot(f => reg.functionExists(f.id))
      .foreach(f => reg.registerFunction(f.id, f.info, f.builder))
  }
}
