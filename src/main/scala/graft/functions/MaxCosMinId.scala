package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, CreateNamedStruct, EqualTo, Expression, GreaterThan, If, IsNotNull, IsNull, LessThan, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Hash-aggregable argmax over a (score, id) pair: returns the row's
  * `struct(cos, id)` with the LARGEST `cos`, ties broken by SMALLEST
  * `id` — both full 64-bit longs. Rows where either input is null are
  * skipped (like built-in `max`); an all-null group evaluates to a null
  * struct.
  *
  * Why this exists (round 12): the exact-NN argmax previously packed
  * (6dp-cosine-int, bitwise-inverted id) into ONE long so a plain
  * `max(packed)` could stay a codegen'd two-phase HashAggregate — but
  * that left only 33 bits for the id, and the round-12 sf1 correctness
  * leg caught the wrap: an id >= 2^33 (8.6e9 — real 64-bit corpus ids
  * exceed this) drove `M-1 - id` negative, borrowing 1 from the cosine
  * field (0.999999 vs 1.0) and emitting a mod-2^33 garbage neighbor id.
  * A DeclarativeAggregate with TWO flat long buffer slots keeps every
  * property the pack bought — HashAggregate (mutable primitive buffer),
  * whole-stage codegen (pure expression update/merge), map-side partial
  * aggregation — with no width limit. max-of-struct / max_by-over-struct
  * would instead fall back to SortAggregate, sorting all n^2 candidate
  * rows before aggregating.
  *
  * Update/merge are lexicographic: (nc, ni) beats (oc, oi) iff the
  * buffer is empty, nc > oc, or nc == oc && ni < oi.
  */
case class MaxCosMinId(left: Expression, right: Expression)
  extends DeclarativeAggregate with BinaryLike[Expression] {

  override def prettyName: String = "max_cos_min_id"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("cos", LongType), StructField("id", LongType)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "max_cos_min_id requires (bigint, bigint) arguments, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  private lazy val bCos = AttributeReference("bCos", LongType)()
  private lazy val bId = AttributeReference("bId", LongType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bCos, bId)
  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(null, LongType), Literal.create(null, LongType))

  // (nc, ni) beats (oc, oi). An empty buffer (oc null) always loses to a
  // present row; null comparisons collapse to false inside If, keeping
  // the old buffer.
  private def beats(nc: Expression, ni: Expression,
                    oc: Expression, oi: Expression): Expression =
    Or(IsNull(oc),
      Or(GreaterThan(nc, oc), And(EqualTo(nc, oc), LessThan(ni, oi))))

  override lazy val updateExpressions: Seq[Expression] = {
    val take = And(And(IsNotNull(left), IsNotNull(right)),
      beats(left, right, bCos, bId))
    Seq(If(take, left, bCos), If(take, right, bId))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = And(IsNotNull(bCos.right),
      beats(bCos.right, bId.right, bCos.left, bId.left))
    Seq(If(take, bCos.right, bCos.left), If(take, bId.right, bId.left))
  }

  override lazy val evaluateExpression: Expression =
    If(IsNull(bCos), Literal.create(null, dataType),
      CreateNamedStruct(Seq(
        Literal("cos"), bCos, Literal("id"), bId)))

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): MaxCosMinId =
    copy(left = newLeft, right = newRight)
}

object MaxCosMinId {
  /** Column-API entry: registers the natives on first use for the
    * given session. */
  def apply(spark: SparkSession, cos: Column, id: Column): Column = {
    GraftExtensions.register(spark)
    call_function("max_cos_min_id", cos, id)
  }
}
