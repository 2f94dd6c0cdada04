package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused cosine similarity over two `array<float>` columns as a native
  * Catalyst expression with whole-stage codegen.
  *
  * Why an Expression and not a UDF or `aggregate(zip_with(...))`
  * (SURVEY §2.5 "cosine_sim", §7.3): higher-order functions are
  * interpreted per row (per-element lambda dispatch plus an intermediate
  * product array) and a Scala UDF adds ser/de and blocks codegen. This is
  * one tight primitive loop inside the generated code — no allocation, no
  * virtual calls — which is what the similarity/kNN hot path should run
  * at 100 TB.
  *
  * Semantics: dot(a,b) / (|a| * |b|), accumulated in double over the
  * common prefix length, in array order (deterministic). Null if either
  * side is null, and null (not NaN) when either vector has zero norm —
  * cosine is undefined there and 0/0 would poison downstream top-k sorts.
  */
case class CosineSim(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // can return null for non-null inputs (zero-norm vectors)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires two array<float> args, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot /
         |    (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-API entry: registers the natives on first use for the
    * given session. */
  def apply(spark: SparkSession, a: Column, b: Column): Column = {
    GraftExtensions.register(spark)
    call_function("cosine_sim", a, b)
  }
}
