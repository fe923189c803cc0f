package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.LongType

/** Opt-in approximate-query-processing rewrite (the "APPROX mode" of
  * warehouse engines, as a plan rewrite): [[on]] rewrites every
  * single-column exact `COUNT(DISTINCT x)` in a DataFrame's plan to the
  * HLL estimate
  *
  *   count(distinct x)  ⇒  cast(round(hll_estimate(
  *                            hll_registers(pmod(hash(x), 2³¹), 12))) as long)
  *
  * Why this matters at 100 TB: exact distinct keeps UNBOUNDED per-group
  * state (Spark plans it as an Expand + a second exact aggregation over
  * every distinct value — the distinct values themselves cross the
  * wire), while the rewritten aggregate ships one 2^12-byte register
  * vector per group with map-side combine. The user opts in per query
  * because the semantics genuinely change (±~1.04/√2^12 ≈ 1.6%
  * relative error).
  *
  * Scope guards: only `Count(child)` with isDistinct, one
  * deterministic child, no FILTER clause rewritten away (the filter is
  * preserved on the new AggregateExpression); multi-column distinct
  * counts and count(*) are left exact. The rewritten aggregate has
  * isDistinct = false, so rewriting its output again changes nothing.
  */
object ApproxDistinctRewrite {

  /** HLL precision: 2^P registers per group. */
  private val P = 12

  /** `df` with its single-column distinct counts estimated from 2^P
    * HLL registers. */
  def on(df: DataFrame): DataFrame =
    GraftBridge.ofRows(df.sparkSession, GraftBridge.analyzed(df).transformUp {
      case agg: Aggregate =>
        val rewritten = agg.aggregateExpressions.map { ne =>
          ne.transform {
            case ae @ AggregateExpression(Count(Seq(child)), _, true, _, _)
                if child.deterministic =>
              // the repo-wide 31-bit non-negative hash domain the
              // register contract expects (bucket = h % m, w = h div m).
              // NULL inputs must stay NULL: Murmur3Hash(null) returns the
              // seed, which would register a phantom distinct element,
              // while exact COUNT(DISTINCT) ignores NULLs — so gate the
              // hash on the child's nullity (HllRegisters skips nulls).
              val hashed = If(IsNull(child), Literal(null, LongType),
                Pmod(Cast(new Murmur3Hash(Seq(child)), LongType),
                  Literal(2147483648L)))
              val regs = ae.copy(
                aggregateFunction = HllRegisters(hashed, P),
                isDistinct = false)
              Cast(Round(HllEstimate(regs), Literal(0)), LongType)
          }.asInstanceOf[NamedExpression]
        }
        agg.copy(aggregateExpressions = rewritten)
    })
}
