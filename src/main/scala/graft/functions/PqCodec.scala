package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Product-quantization codec for the IVF-PQ ANN path (q_ann_ivfpq).
  *
  * Classic residual PQ (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — the IVFADC index FAISS implements):
  * a vector is stored as its coarse cell id plus, per subspace s of the
  * RESIDUAL (vec − coarse[cell]), the index of the nearest sub-codeword
  * — m small ints instead of `dim` floats. At 100 TB the corpus rides
  * the candidate join as m bytes + a cell id per vector (the stored
  * index), and only the top-R shortlist per probe ever rejoins the raw
  * float vectors for exact rerank.
  *
  * Shared argument conventions (all foldable literals except the two
  * per-row columns):
  *   coarse : array<array<double>>           — IVF cell centroids
  *   books  : array<array<array<double>>>    — m x ks x subDim codebooks
  * `dim` must equal m * subDim; assignment ties break to the lower code
  * index, so encoding is deterministic for any input.
  *
  * CodegenFallback for the same reason as IvfTopCells: the m x ks x
  * subDim multiply-add loop dominates the per-row virtual call, and each
  * expression evaluates once per row, never per pair.
  */
trait PqCodecBase { self: QuaternaryExpression =>
  def coarseExpr: Expression
  def booksExpr: Expression

  @transient protected lazy val coarse: Array[Array[Double]] = {
    val arr = coarseExpr.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(c => arr.getArray(c).toDoubleArray())
  }
  @transient protected lazy val books: Array[Array[Array[Double]]] = {
    val arr = booksExpr.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements()) { s =>
      val sub = arr.getArray(s)
      Array.tabulate(sub.numElements())(k => sub.getArray(k).toDoubleArray())
    }
  }
  @transient protected lazy val subDim: Int = books(0)(0).length

  /** Cheap per-row geometry guards (round-8 ADVICE): a dimension or
    * codebook mismatch must surface as a descriptive error naming the
    * expected m x subDim geometry, not an executor
    * ArrayIndexOutOfBoundsException (or a silent truncation when the
    * vector is over-long). O(1) per row. */
  protected def checkedCell(cell: Int, fn: String): Array[Double] = {
    if (cell < 0 || cell >= coarse.length) throw new IllegalArgumentException(
      s"$fn: cell id $cell out of range [0, ${coarse.length}) — wrong " +
        "coarse centroid table for this coded corpus?")
    val cent = coarse(cell)
    if (cent.length != books.length * subDim)
      throw new IllegalArgumentException(
        s"$fn: coarse centroid dim ${cent.length} != m*subDim = " +
          s"${books.length}*$subDim — centroids and codebooks disagree")
    cent
  }
}

/** pq_encode(vec, cell, coarse, books) → array<int> of m codes: per
  * subspace, the L2-nearest sub-codeword of the residual vec − coarse[cell]. */
case class PqEncode(first: Expression, second: Expression,
  third: Expression, fourth: Expression)
  extends QuaternaryExpression with PqCodecBase with CodegenFallback {

  override def coarseExpr: Expression = third
  override def booksExpr: Expression = fourth
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(FloatType, _), IntegerType,
        ArrayType(ArrayType(DoubleType, _), _),
        ArrayType(ArrayType(ArrayType(DoubleType, _), _), _))
        if third.foldable && fourth.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, dd) => TypeCheckResult.TypeCheckFailure(
        "pq_encode requires (array<float>, int cell, foldable " +
          "array<array<double>> coarse, foldable array<array<array<double>>>" +
          s" books), got (${a.simpleString}, ${b.simpleString}, " +
          s"${c.simpleString}, ${dd.simpleString})")
    }

  override def nullSafeEval(v: Any, cellAny: Any, c3: Any, c4: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cent = checkedCell(cellAny.asInstanceOf[Int], "pq_encode")
    val m = books.length
    if (vec.numElements() != m * subDim) throw new IllegalArgumentException(
      s"pq_encode: vector length ${vec.numElements()} != m*subDim = " +
        s"$m*$subDim = ${m * subDim}")
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cb = books(s)
      val base = s * subDim
      var bestK = 0
      var bestD = Double.MaxValue
      var k = 0
      while (k < cb.length) {
        val w = cb(k)
        var d2 = 0.0
        var j = 0
        while (j < subDim) {
          val r = vec.getFloat(base + j).toDouble - cent(base + j) - w(j)
          d2 += r * r
          j += 1
        }
        if (d2 < bestD) { bestD = d2; bestK = k } // strict <: ties → lower k
        k += 1
      }
      out(s) = bestK
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
    newSecond: Expression, newThird: Expression,
    newFourth: Expression): PqEncode =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

/** pq_decode(codes, cell, coarse, books) → array<float>: the
  * reconstruction coarse[cell] + books[s][code_s], i.e. the best
  * approximation of the original vector the stored index can express.
  * ADC scoring = CosineSim(probe, pq_decode(...)) — the reconstruction
  * IS the asymmetric distance computation here, since with dim of this
  * order a per-probe lookup table saves nothing over the fused
  * reconstruct-and-dot loop; the scale win is the 8-byte index rows
  * riding the join instead of the float vectors. */
case class PqDecode(first: Expression, second: Expression,
  third: Expression, fourth: Expression)
  extends QuaternaryExpression with PqCodecBase with CodegenFallback {

  override def coarseExpr: Expression = third
  override def booksExpr: Expression = fourth
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "pq_decode"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(IntegerType, _), IntegerType,
        ArrayType(ArrayType(DoubleType, _), _),
        ArrayType(ArrayType(ArrayType(DoubleType, _), _), _))
        if third.foldable && fourth.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, dd) => TypeCheckResult.TypeCheckFailure(
        "pq_decode requires (array<int>, int cell, foldable " +
          "array<array<double>> coarse, foldable array<array<array<double>>>" +
          s" books), got (${a.simpleString}, ${b.simpleString}, " +
          s"${c.simpleString}, ${dd.simpleString})")
    }

  override def nullSafeEval(codesAny: Any, cellAny: Any, c3: Any,
    c4: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val cent = checkedCell(cellAny.asInstanceOf[Int], "pq_decode")
    val m = books.length
    if (codes.numElements() != m) throw new IllegalArgumentException(
      s"pq_decode: ${codes.numElements()} codes for m=$m subspaces — " +
        "codes were produced by a different codebook geometry")
    val out = new Array[Float](m * subDim)
    var s = 0
    while (s < m) {
      val code = codes.getInt(s)
      if (code < 0 || code >= books(s).length)
        throw new IllegalArgumentException(
          s"pq_decode: code $code out of range [0, ${books(s).length}) " +
            s"in subspace $s")
      val w = books(s)(code)
      val base = s * subDim
      var j = 0
      while (j < subDim) {
        out(base + j) = (cent(base + j) + w(j)).toFloat
        j += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
    newSecond: Expression, newThird: Expression,
    newFourth: Expression): PqDecode =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object PqCodec {
  /** Column-API entries: register the natives on first use for the
    * given session. */
  def encode(spark: SparkSession, vec: Column, cell: Column,
    coarse: Column, books: Column): Column = {
    GraftExtensions.register(spark)
    call_function("pq_encode", vec, cell, coarse, books)
  }

  def decode(spark: SparkSession, codes: Column, cell: Column,
    coarse: Column, books: Column): Column = {
    GraftExtensions.register(spark)
    call_function("pq_decode", codes, cell, coarse, books)
  }
}
