package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}

/** IVF coarse-cell assignment: the indices of the `k` centroids nearest
  * to `vec` (by dot(vec, c)/|c|, ties broken by lower cell index),
  * best-first.
  *
  * Replaces the inlined alternative — |cells| x 64 `element_at * lit`
  * multiply-add Column chains sorted through an array-of-structs — which
  * stayed under the 64 KB codegen limit (unlike the 48-plane LSH sig)
  * but still generated ~1.6 MiB task binaries, the largest in the whole
  * bench, re-broadcast on every stage that carries the projection. One
  * loop over a centroids literal is a few hundred bytes of task binary.
  *
  * Arithmetic: per-cell score accumulates `(double) vec(i) * c(i)` in
  * ascending i (the same left-assoc order as the reduce chain it
  * replaces), divided by the centroid norm (sqrt of the left-assoc sum
  * of squares) — assignment is deterministic and identical to the old
  * plan's. Selection is (score desc, cell asc), matching
  * `array_sort((-score, cell))`.
  *
  * CodegenFallback is deliberate: |cells| x 64 fused multiply-adds per
  * row dominates the fallback's per-row virtual call, and the corpus
  * side evaluates this once per document-vector, not per pair.
  *
  * `centroids` (array<array<double>>) and `k` must be foldable.
  */
case class IvfTopCells(first: Expression, second: Expression,
  third: Expression) extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_top_cells"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(DoubleType, _), _),
        IntegerType) if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (f, s, t) => TypeCheckResult.TypeCheckFailure(
        "ivf_top_cells requires (array<float>, foldable array<array<double>>" +
          s" centroids, foldable int k), got (${f.simpleString}, " +
          s"${s.simpleString}, ${t.simpleString})")
    }

  @transient private lazy val centroids: Array[Array[Double]] = {
    val arr = second.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(c =>
      arr.getArray(c).toDoubleArray())
  }
  @transient private lazy val norms: Array[Double] =
    centroids.map(ws => math.sqrt(ws.foldLeft(0.0)((a, x) => a + x * x)))
  @transient private lazy val k: Int = third.eval().asInstanceOf[Int]

  override def nullSafeEval(v: Any, cAny: Any, kAny: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val scores = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val w = centroids(c)
      val n = math.min(vec.numElements(), w.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += vec.getFloat(i).toDouble * w(i)
        i += 1
      }
      scores(c) = acc / norms(c)
      c += 1
    }
    // top-k by (score desc, cell asc): selection over |cells| entries
    val kk = math.min(k, centroids.length)
    val out = new Array[Int](kk)
    val taken = new Array[Boolean](centroids.length)
    var r = 0
    while (r < kk) {
      var best = -1
      var c2 = 0
      while (c2 < centroids.length) {
        if (!taken(c2) && (best < 0 || scores(c2) > scores(best))) best = c2
        c2 += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
    newSecond: Expression, newThird: Expression): IvfTopCells =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object IvfTopCells {
  /** Column-API entry: registers the natives on first use for the
    * given session. */
  def apply(spark: SparkSession, vec: Column, centroids: Column,
    k: Int): Column = {
    GraftExtensions.register(spark)
    call_function("ivf_top_cells", vec, centroids, lit(k))
  }
}
