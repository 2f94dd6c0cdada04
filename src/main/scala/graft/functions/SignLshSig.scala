package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Packed sign-LSH signature: bit j of the result long is set iff
  * `dot(vec, planes(j)) >= 0`. One native expression replaces the
  * 48-plane x 64-dim inlined `element_at * lit` Column chain that rpSig
  * originally expanded to — ~3000 expression nodes whose generated
  * `processNext()` exceeded the JVM's 64 KB method limit, kicking the
  * whole signature stage out of codegen into interpreted eval. The loop
  * here is a few hundred bytes of bytecode and stays inside whole-stage
  * codegen.
  *
  * Arithmetic contract (the part the DuckDB oracle twin depends on): the
  * per-plane accumulation is `acc += (double) vec(i) * planes(j)(i)` in
  * ascending i — identical to the left-assoc `reduce(_ + _)` chain it
  * replaces and to DuckDB's seedless `list_reduce` left fold, so the
  * float sums are bitwise equal and the sign bits agree exactly.
  *
  * Inputs: `vec` is `array<float>`, `planes` a foldable
  * `array<array<double>>` (driver-literal hyperplanes; <= 64 of them).
  * Dot runs over the common prefix of vec and each plane. Null vec (or
  * null planes) => null. Null *elements* read as 0.0 (fixture arrays are
  * dense; documented rather than branched so the inner loop stays two
  * fused multiply-adds).
  */
case class SignLshSig(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sign_lsh_sig requires (array<float>, array<array<double>>), " +
          s"got ${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(v: Any, p: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val planes = p.asInstanceOf[ArrayData]
    var bits = 0L
    var j = 0
    while (j < planes.numElements()) {
      val w = planes.getArray(j)
      val n = math.min(vec.numElements(), w.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += vec.getFloat(i).toDouble * w.getDouble(i)
        i += 1
      }
      if (acc >= 0) bits |= (1L << j)
      j += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, planes) => {
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val w = ctx.freshName("w"); val bits = ctx.freshName("bits")
      s"""
         |long $bits = 0L;
         |for (int $j = 0; $j < $planes.numElements(); $j++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $w = $planes.getArray($j);
         |  int $n = java.lang.Math.min($vec.numElements(), $w.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $vec.getFloat($i) * $w.getDouble($i);
         |  }
         |  if ($acc >= 0) $bits |= (1L << $j);
         |}
         |${ev.value} = $bits;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): SignLshSig =
    copy(left = newLeft, right = newRight)
}

object SignLshSig {
  /** Column-API entry: registers the natives on first use for the
    * given session. */
  def apply(spark: SparkSession, vec: Column, planes: Column): Column = {
    GraftExtensions.register(spark)
    call_function("sign_lsh_sig", vec, planes)
  }
}
