package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native codegen vector kernels (SURVEY.md §7.5 perf path; §2.9).
  *
  * The declared similarity queries are correct on Spark built-ins alone
  * (`aggregate`/`zip_with` — see VectorOps), but those are higher-order
  * functions the optimizer evaluates INTERPRETED, one lambda call per
  * element: an all-pairs cosine over 2k × 64-dim vectors costs ~400M
  * interpreted ops. These expressions generate a tight Java loop inside
  * whole-stage codegen instead — same IEEE float64 math, same
  * left-to-right summation order, so results are bit-identical to both
  * the built-in formulation and the DuckDB oracle.
  *
  * Registered as SQL functions `graft_dot` / `graft_l2norm` via
  * [[GraftExtensions]] (SparkSessionExtensions — the public plugin API),
  * which [[graft.util.Session]] installs in every session; the declared
  * queries call them directly.
  *
  * Element types: accepts array<float> and array<double>; floats are
  * widened per-element (exact) before multiply-accumulate in double,
  * matching `CAST(x AS DOUBLE)` semantics. Array elements must be
  * non-null (embedding fixtures guarantee this; null elements read as 0).
  *
  * Length-mismatched inputs yield NULL — the identical observable the
  * built-in `zip_with` fold produces (it pads the shorter side with
  * nulls, and the null product nulls the aggregate) — so the kernel
  * matches the built-in formulation on malformed input too, not only
  * on well-formed vectors.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // nullable even over non-null inputs: length mismatch → NULL
  override def nullable: Boolean = true

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _                                    => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double>, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = x.numElements()
    if (y.numElements() != n) return null
    val (lf, rf) = (elemType(left) == FloatType, elemType(right) == FloatType)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      def get(arr: String, e: Expression) =
        if (elemType(e) == FloatType) s"(double) $arr.getFloat($i)"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${get(a, left)} * ${get(b, right)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sqrt(Σ x_i²) with the same widening/order semantics as [[DotProduct]]. */
case class L2Norm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_l2norm expects array<float|double>, got ${t.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      val xv = if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
      s += xv * xv
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      val get = if (isFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $v = $get;
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Session-extension plugin, required by the engine: the declared
  * queries call its functions directly, its optimizer rule
  * ([[NativeDoubleRound]]) rewrites their double ROUNDs, and its
  * query-stage preparation rule ([[GatherSmallSort]]) gathers a small
  * ORDER BY result into one partition when AQE re-plans; it injects no
  * planner strategy. [[graft.util.Session]] installs it
  * (`spark.sql.extensions`) in every session — every main and the
  * tests. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_l2norm"),
      new ExpressionInfo(classOf[L2Norm].getName, "graft_l2norm"),
      (children: Seq[Expression]) => L2Norm(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_fp"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_fp"),
      (children: Seq[Expression]) => RollingHash(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_intersect_card"),
      new ExpressionInfo(classOf[ArrayIntersectCard].getName, "graft_intersect_card"),
      (children: Seq[Expression]) => ArrayIntersectCard(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[WordShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => WordShingleHashes(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_chargram_hashes"),
      new ExpressionInfo(classOf[CharGramHashes].getName, "graft_chargram_hashes"),
      (children: Seq[Expression]) => CharGramHashes(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_window_hashes"),
      new ExpressionInfo(classOf[WindowGramHashes].getName, "graft_window_hashes"),
      (children: Seq[Expression]) => WindowGramHashes(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_char3grams"),
      new ExpressionInfo(classOf[CharTrigrams].getName, "graft_char3grams"),
      (children: Seq[Expression]) => CharTrigrams(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_pairs"),
      new ExpressionInfo(classOf[PackedPairs].getName, "graft_pairs"),
      (children: Seq[Expression]) => PackedPairs(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_xml_long"),
      new ExpressionInfo(classOf[XmlFirstLong].getName, "graft_xml_long"),
      (children: Seq[Expression]) => XmlFirstLong(children(0), children(1))))
    // Spark's OWN runtime-filter bloom pair (BloomFilterAggregate /
    // BloomFilterMightContain, the machinery behind InjectRuntimeFilter)
    // is registered only in the internal function registry — surface it
    // so queries can build an EXPLICIT bloom semi-join reduction (build
    // a bloom over the small side's keys in a scalar subquery, prune the
    // probe scan with might_contain, then exact-join the survivors).
    // Both expressions are codegen'd; the aggregate is a TypedImperative
    // sketch merge — exactly what a 100 TB pre-shuffle reduction wants.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) => children.size match {
        case 1 => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(children(0))
        case 2 => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(children(0), children(1))
        case _ => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(children(0), children(1), children(2))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(children(0), children(1))))
    // Spark rounds a double through java.math.BigDecimal on every row;
    // this rule swaps in the bit-equal native kernel
    ext.injectOptimizerRule(_ => NativeDoubleRound)
    // a small ORDER BY result skips the range exchange's sampling job
    ext.injectQueryStagePrepRule(_ => GatherSmallSort)
  }
}
