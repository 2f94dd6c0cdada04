package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
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
  * from SQL and the Column API. One table ([[natives]]) feeds both the
  * injection and the per-session [[register]] the Column-API entries
  * call. Injected:
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
  *  - `dot_product(a, b)` (DotProduct.scala) and `max_cos_min_id(cos,
  *    id)`, the exact-NN argmax aggregate (MaxCosMinId.scala);
  *  - `pq_encode(vec, cell, coarse, books)` / `pq_decode(codes, cell,
  *    coarse, books)` — the IVF-PQ codec (PqCodec.scala);
  *  - `bloom_agg(long[, n])` / `bloom_contains(bloom, long)` — Catalyst's
  *    own runtime-filter bloom sketch pair, surfaced for the explicit
  *    semi-join prefilter pattern (q_join_bloom).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.inject(ext)
}

object GraftExtensions {

  private def h60Builder(exprs: Seq[Expression]): Expression =
    Cast(
      Conv(
        Substring(Md5(Cast(exprs.head, BinaryType)),
          Literal(1), Literal(15)),
        Literal(16), Literal(10)),
      LongType)

  val h60Ident = FunctionIdentifier("graft_h60")

  /** graft_h60 in the Column API, over `c` read as a string: the one
    * Column form of the portable hash every Dataset-side caller uses. */
  def h60(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** DuckDB twin of [[h60]] over the SQL expression `x`, for oracles. */
  def h60Sql(x: String): String =
    s"CAST(('0x' || substring(md5(CAST($x AS VARCHAR)), 1, 15)) AS BIGINT)"

  /** One native function: its SQL name, implementing class and
    * builder. */
  private final case class Native(name: String, clazz: Class[_],
      build: Seq[Expression] => Expression) {
    val ident = FunctionIdentifier(name)
    def info = new ExpressionInfo(clazz.getName, name)
  }

  /** A fixed-arity native: a wrong argument count is an analysis-time
    * error, not an IndexOutOfBounds at planning. */
  private def fixed(name: String, clazz: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Native =
    Native(name, clazz, exprs => {
      if (exprs.length != arity) throw new IllegalArgumentException(
        s"$name requires exactly $arity argument" +
          s"${if (arity == 1) "" else "s"}, got ${exprs.length}")
      build(exprs)
    })

  /** Every native function, read by [[inject]] and [[register]]. */
  private val natives: Seq[Native] = Seq(
    fixed("cosine_sim", classOf[CosineSim], 2)(e => CosineSim(e(0), e(1))),
    fixed("dot_product", classOf[DotProduct], 2)(
      e => DotProduct(e(0), e(1))),
    fixed(h60Ident.funcName, classOf[Conv], 1)(h60Builder),
    fixed("sign_lsh_sig", classOf[SignLshSig], 2)(
      e => SignLshSig(e(0), e(1))),
    fixed("ivf_top_cells", classOf[IvfTopCells], 3)(
      e => IvfTopCells(e(0), e(1), e(2))),
    // Catalyst's runtime-filter bloom pair (used internally by
    // spark.sql.optimizer.runtime.bloomFilter; not exposed as SQL
    // functions upstream). Registering them gives the library an
    // EXPLICIT semi-join prefilter: build one compact bloom over the
    // small side's join key, broadcast the single sketch row, and drop
    // non-matching probe rows at the scan — before the shuffle the join
    // would otherwise pay for them (q_join_bloom).
    Native("bloom_agg", classOf[BloomFilterAggregate], {
      case Seq(c) => new BloomFilterAggregate(c)
      case Seq(c, n) => new BloomFilterAggregate(c, n)
      case exprs => throw new IllegalArgumentException(
        s"bloom_agg requires 1 or 2 arguments, got ${exprs.length}")
    }),
    fixed("bloom_contains", classOf[BloomFilterMightContain], 2)(
      e => BloomFilterMightContain(e(0), e(1))),
    fixed("shingle_hash60", classOf[ShingleHash60], 3)(
      e => ShingleHash60(e(0), e(1), e(2))),
    // Width-safe declarative argmax for the exact-NN family (round 12):
    // max by first long, ties by min second long, full 64-bit ids —
    // HashAggregate-eligible where max-of-struct would SortAggregate.
    // The builder returns the bare AggregateFunction; the analyzer
    // wraps it in AggregateExpression (as for bloom_agg).
    fixed("max_cos_min_id", classOf[MaxCosMinId], 2)(
      e => MaxCosMinId(e(0), e(1))),
    fixed("pq_encode", classOf[PqEncode], 4)(
      e => PqEncode(e(0), e(1), e(2), e(3))),
    fixed("pq_decode", classOf[PqDecode], 4)(
      e => PqDecode(e(0), e(1), e(2), e(3))))

  def inject(ext: SparkSessionExtensions): Unit =
    natives.foreach(n => ext.injectFunction((n.ident, n.info, n.build)))

  /** Idempotent per-session registration of every native, for a session
    * built without the extension; the Column-API entries call it. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    natives.filterNot(n => registry.functionExists(n.ident))
      .foreach(n => registry.registerFunction(n.ident, n.info, n.build))
  }
}
