package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `graft_round(x, d)` → double: decimal rounding of a DOUBLE by plain
  * double arithmetic — `copysign(floor(|x·10^d| + 0.5), x) / 10^d`, i.e.
  * round-half-away-from-zero, the same shape DuckDB's `round(DOUBLE, s)`
  * computes (`std::round(x·10^s)/10^s`). Exists because Spark's `round`
  * routes every double through `BigDecimal.setScale` (an object allocation
  * plus slow-path decimal conversion per value): on the embedding pairwise
  * hot path ([[graft.ext.LlmOps.knnJoin]] and friends, one rounded cosine
  * per PAIR) a cost anatomy (NOTES.md) measured `round(…, 6)` costing more
  * than the 64-dim dot product itself (sf1, salted pass: enumerate 0.83 s,
  * +dot 1.83 s, +div 1.92 s, +round 3.50 s). This expression stays a
  * branch-free primitive inside whole-stage codegen.
  *
  * Value-level contract vs Spark's `round(x, d)` (HALF_UP via BigDecimal):
  * identical on every value whose scaled double `x·10^d` rounds to the same
  * side of the half boundary as its exact decimal expansion — disagreement
  * needs the true value within one ulp of an exact `k + 0.5` at scale `d`,
  * the same knife-edge class where Spark and the DuckDB oracle already
  * disagree with each other today. NaN and ±Infinity pass through (as in
  * both engines); a negative zero result is normalized to +0.0 (`+ 0.0`),
  * matching what Spark's BigDecimal path produces for tiny negatives.
  *
  * The scale is a required int literal: it is baked into the generated code
  * as a constant (`10^d` appears as a double literal), which is what makes
  * the codegen a two-op sequence instead of a pow call per row. Only |d| up
  * to ~15 is meaningful (beyond that 10^d is not exactly representable and
  * |x|·10^d exceeds 2^53 for interesting x); graft's call sites use 6.
  */
case class GraftRound(child: Expression, scale: Int) extends UnaryExpression {

  private val p: Double = math.pow(10d, scale)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_round requires a double input, got $t")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_round"

  override def nullSafeEval(x: Any): Any = {
    val y = x.asInstanceOf[Double] * p
    Math.copySign(Math.floor(Math.abs(y) + 0.5d), y) / p + 0.0d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val y = ctx.freshName("scaled")
      s"""
         |double $y = $x * ${p}D;
         |${ev.value} = Math.copySign(Math.floor(Math.abs($y) + 0.5D), $y) / ${p}D + 0.0D;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GraftRound =
    copy(child = newChild)
}
