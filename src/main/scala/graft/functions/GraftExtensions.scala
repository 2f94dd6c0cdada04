package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Conv, Expression, ExpressionInfo, Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{conv, md5, substring}
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Session-extension entry point: the idiomatic way to ship this
  * library's native functions to a cluster —
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * — so every session (including ones the user's platform creates, where
  * application code never gets to call a register() helper) resolves them
  * from SQL and the Column API. Injected:
  *
  *  - `cosine_sim(array<float>, array<float>)` — the codegen'd similarity
  *    kernel (CosineSim.scala);
  *  - `graft_h60(string)` — the engine's portable 60-bit hash (first 15
  *    hex chars of md5 read as a long), the determinism foundation of the
  *    dedup/sampling family. Composed from built-in Catalyst expressions
  *    (Md5/Substring/Conv/Cast), so it whole-stage-codegens with zero new
  *    expression classes, and its SQL twin is
  *    `CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)` in DuckDB;
  *  - `sign_lsh_sig(vec, planes)` — packed 48-bit random-hyperplane
  *    signature (SignLshSig.scala);
  *  - `ivf_top_cells(vec, centroids, k)` — IVF coarse-cell assignment
  *    (IvfTopCells.scala);
  *  - `shingle_hash60(text, n, distinct)` — fused shingle hasher
  *    (ShingleHash60.scala);
  *  - `bloom_agg(long[, n])` / `bloom_contains(bloom, long)` — Catalyst's
  *    own runtime-filter bloom sketch pair, surfaced for the explicit
  *    semi-join prefilter pattern (q_join_bloom).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.inject(ext)
}

object GraftExtensions {

  private def h60Builder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 1) throw new IllegalArgumentException(
      s"graft_h60 requires exactly 1 argument, got ${exprs.length}")
    Cast(
      Conv(
        Substring(Md5(Cast(exprs.head, BinaryType)),
          Literal(1), Literal(15)),
        Literal(16), Literal(10)),
      LongType)
  }

  val h60Ident = FunctionIdentifier("graft_h60")

  /** graft_h60 in the Column API, over `c` read as a string: the one
    * Column form of the portable hash every Dataset-side caller uses. */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** DuckDB twin of [[h60]] over the SQL expression `x`, for oracles. */
  def h60Sql(x: String): String =
    s"CAST(('0x' || substring(md5(CAST($x AS VARCHAR)), 1, 15)) AS BIGINT)"

  def inject(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          s"cosine_sim requires exactly 2 arguments, got ${exprs.length}")
        CosineSim(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          s"dot_product requires exactly 2 arguments, got ${exprs.length}")
        DotProduct(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      h60Ident,
      new ExpressionInfo(classOf[Conv].getName, "graft_h60"),
      h60Builder _))
    ext.injectFunction((
      FunctionIdentifier("sign_lsh_sig"),
      new ExpressionInfo(classOf[SignLshSig].getName, "sign_lsh_sig"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          s"sign_lsh_sig requires exactly 2 arguments, got ${exprs.length}")
        SignLshSig(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("ivf_top_cells"),
      new ExpressionInfo(classOf[IvfTopCells].getName, "ivf_top_cells"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 3) throw new IllegalArgumentException(
          s"ivf_top_cells requires exactly 3 arguments, got ${exprs.length}")
        IvfTopCells(exprs.head, exprs(1), exprs(2))
      }))
    // Catalyst's runtime-filter bloom pair (used internally by
    // spark.sql.optimizer.runtime.bloomFilter; not exposed as SQL
    // functions upstream). Registering them gives the library an
    // EXPLICIT semi-join prefilter: build one compact bloom over the
    // small side's join key, broadcast the single sketch row, and drop
    // non-matching probe rows at the scan — before the shuffle the join
    // would otherwise pay for them (q_join_bloom).
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case _ => throw new IllegalArgumentException(
          s"bloom_agg requires 1 or 2 arguments, got ${exprs.length}")
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[BloomFilterMightContain].getName, "bloom_contains"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          s"bloom_contains requires exactly 2 arguments, got ${exprs.length}")
        BloomFilterMightContain(exprs.head, exprs(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingle_hash60"),
      new ExpressionInfo(classOf[ShingleHash60].getName, "shingle_hash60"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 3) throw new IllegalArgumentException(
          s"shingle_hash60 requires exactly 3 arguments, got ${exprs.length}")
        ShingleHash60(exprs.head, exprs(1), exprs(2))
      }))
    // Width-safe declarative argmax for the exact-NN family (round 12):
    // max by first long, ties by min second long, full 64-bit ids —
    // HashAggregate-eligible where max-of-struct would SortAggregate.
    ext.injectFunction((
      FunctionIdentifier("max_cos_min_id"),
      new ExpressionInfo(classOf[MaxCosMinId].getName, "max_cos_min_id"),
      (exprs: Seq[Expression]) => {
        if (exprs.length != 2) throw new IllegalArgumentException(
          s"max_cos_min_id requires exactly 2 arguments, got ${exprs.length}")
        MaxCosMinId(exprs.head, exprs(1))
      }))
  }
}
