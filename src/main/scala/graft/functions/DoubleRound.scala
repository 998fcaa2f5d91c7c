package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Spark's `ROUND(double, s)` without `java.math.BigDecimal` on the
  * common path.
  *
  * Spark rounds a double HALF_UP on its shortest decimal form: both its
  * interpreted and its generated code compute
  * `BigDecimal.valueOf(x).setScale(s, HALF_UP).doubleValue()`, a
  * `Double.toString` plus a decimal rescale per row. [[halfUp]] returns
  * the same bits for every input:
  *
  *  - NaN and ±Inf pass through, as in Spark;
  *  - for |s| ≤ 22 (10^|s| exact in a double), y = |x|·10^s (or
  *    |x| / 10^-s) is one rounded IEEE op. x's shortest decimal D lies
  *    within half an ulp of x, so the exact D·10^s is within
  *    2^-53·y + ulp(y)/2 < 2^-51·y of y. When y < 2^52 and y's fraction
  *    is further than 2^-50·y from .5, every value in that interval
  *    rounds HALF_UP to the same integer k, so k is the integer
  *    BigDecimal keeps;
  *  - the result k·10^-s is then k / 10^s (or k · 10^-s): both operands
  *    are exact, so the one IEEE op is the double nearest k·10^-s, which
  *    is what `BigDecimal.doubleValue` returns (JDK 17 computes that very
  *    division for compact values). k = 0 gives +0.0, as BigDecimal has no
  *    negative zero;
  *  - anything else (a fraction near .5 — exact ties such as 0.125 at
  *    s = 2, or 1.005, whose binary value sits below its decimal tie —
  *    y ≥ 2^52, |s| > 22) takes Spark's own BigDecimal expression.
  *
  * Grid-valued inputs (a price times 100, an integral quantity) have
  * fractions near 0, so they stay on the double path. */
object DoubleRound {
  private val Pow10: Array[Double] = Array.tabulate(23)(i => s"1e$i".toDouble)
  private val Two52 = math.scalb(1.0, 52)
  private val TieMargin = math.scalb(1.0, -50)

  def halfUp(x: Double, s: Int): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else {
      if (s >= -22 && s <= 22) {
        val a = math.abs(x)
        val y = if (s >= 0) a * Pow10(s) else a / Pow10(-s)
        if (y < Two52) {
          val fl = math.floor(y)
          val d = (y - fl) - 0.5
          if (math.abs(d) > y * TieMargin) {
            val k = if (d > 0) fl + 1 else fl
            if (k == 0) return 0.0
            val r = if (s >= 0) k / Pow10(s) else k * Pow10(-s)
            return if (x < 0) -r else r
          }
        }
      }
      java.math.BigDecimal.valueOf(x)
        .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    }
}

/** `ROUND(child, scale)` over a double through [[DoubleRound.halfUp]];
  * interpreted eval and generated code share the one static kernel.
  * Nullable like Spark's `Round`, so the rewrite leaves every plan's
  * schema as it was. */
case class RoundDouble(child: Expression, scale: Int) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_round"

  override def nullSafeEval(x: Any): Any =
    DoubleRound.halfUp(x.asInstanceOf[Double], scale)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"graft.functions.DoubleRound.halfUp($x, $scale)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Optimizer rule (registered via [[GraftExtensions]]): every built-in
  * `Round` over a double with a non-null foldable scale becomes
  * [[RoundDouble]], bit for bit the same values. A NULL scale stays with
  * Spark, which returns NULL; `BRound` and float `Round` are untouched. */
object NativeDoubleRound extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case r @ Round(child, scale, _) if child.dataType == DoubleType && scale.foldable =>
      scale.eval() match {
        case s: Int => RoundDouble(child, s)
        case _      => r
      }
  }
}
