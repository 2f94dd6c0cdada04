package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused dot product over two `array<float>` columns — the ANN primitive
  * underneath cosine: with per-row norms precomputed ONCE, pairwise
  * cosine inside an n^2 candidate loop needs only this single
  * multiply-add pass (1 mult/element) instead of CosineSim's fused
  * three-accumulator loop (3 mults/element, norms recomputed per PAIR).
  * Same design rationale as CosineSim.scala: native codegen'd Catalyst
  * expression, no interpreted HOFs, no UDF ser/de.
  *
  * Semantics: sum(a(i) * b(i)) accumulated in double over the common
  * prefix length, in array order (deterministic). Null if either side is
  * null. dot(a, a) == |a|^2, so `sqrt(dot_product(a, a))` is the norm.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires two array<float> args, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-API entry: registers the natives on first use for the
    * given session. */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    GraftExtensions.register(spark)
    call_function("dot_product", a, b)
  }
}
