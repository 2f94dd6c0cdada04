package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle hasher: lowercase -> space-tokenize -> token n-grams ->
  * (optionally) first-occurrence string dedup -> 60-bit md5-prefix hash,
  * one tight JVM loop per DOCUMENT.
  *
  * Replaces the composed Catalyst chain
  * `transform(sequence...) + slice + concat_ws + array_distinct +
  * md5-hex + substring + conv(16,10)` that the whole text-dedup family
  * (jaccard / minhash / simhash / fingerprint / cluster) evaluated per
  * doc: that chain materializes a string array per doc, then per shingle
  * allocates a 32-char hex string and radix-parses it — ~4 s of the
  * sf0.1 bench per query just to produce 52 longs per doc. This loop
  * hashes digest bytes straight to the long.
  *
  * Engine-parity contract (the DuckDB oracles depend on it):
  *  - tokenize == `split(lower(text), ' ')` with trailing empties kept
  *    (Java `split(" ", -1)` over `UTF8String.toLowerCase`);
  *  - shingle i == `concat_ws(' ', tok[i..i+n-1])`, i in 0..len-n
  *    (docs shorter than n tokens yield the empty array — DuckDB's
  *    `range(len-n+1)` is empty there);
  *  - dedup happens on the shingle STRINGS before hashing (first
  *    occurrence kept), exactly `array_distinct` / `list_distinct` — a
  *    (negligible) 60-bit hash collision therefore shows the same
  *    duplicate hash values on both engines;
  *  - hash == first 15 hex chars of md5 read base-16: the top 60 bits
  *    of the big-endian digest, i.e. `getLong(bytes 0..7) >>> 4`.
  *
  * CodegenFallback is deliberate: this evaluates once per document (the
  * 260k-shingle sf0.1 corpus is 5 000 rows), and the per-call work is
  * ~50 MD5 digests — the fallback's per-row virtual call is noise, and
  * a doGenCode would just re-state this loop in Java-in-a-string.
  *
  * `n` and `distinct` must be foldable (literals).
  */
case class ShingleHash60(first: Expression, second: Expression,
  third: Expression) extends TernaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash60"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, BooleanType)
        if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "shingle_hash60 requires (string, foldable int n, foldable bool " +
          s"distinct), got (${first.dataType.simpleString}, " +
          s"${second.dataType.simpleString}, ${third.dataType.simpleString})")
    }

  @transient private lazy val n: Int =
    second.eval().asInstanceOf[Int]
  @transient private lazy val dedup: Boolean =
    third.eval().asInstanceOf[Boolean]
  // MessageDigest is not thread-safe; expression instances can be shared
  // across local-mode tasks, so keep one digest per thread.
  @transient private lazy val md =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(text: Any, nAny: Any, dAny: Any): Any = {
    val toks = text.asInstanceOf[UTF8String].toLowerCase.toString
      .split(" ", -1)
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val count = toks.length - n + 1
    val sb = new java.lang.StringBuilder(64)
    val shingles: java.util.Collection[String] =
      if (dedup) new java.util.LinkedHashSet[String](count * 2)
      else new java.util.ArrayList[String](count)
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      shingles.add(sb.toString)
      i += 1
    }
    val digest = md.get()
    val out = new Array[Long](shingles.size())
    var k = 0
    val it = shingles.iterator()
    while (it.hasNext) {
      val b = digest.digest(
        it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // top 60 bits of the big-endian digest == parseLong(hex[0:15], 16)
      out(k) = (((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) |
        ((b(2) & 0xffL) << 40) | ((b(3) & 0xffL) << 32) |
        ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
        ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)) >>> 4
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
    newSecond: Expression, newThird: Expression): ShingleHash60 =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ShingleHash60 {
  /** Column-API entry: registers the natives on first use for the
    * given session. */
  def apply(spark: SparkSession, text: Column, n: Int,
    distinct: Boolean): Column = {
    GraftExtensions.register(spark)
    call_function("shingle_hash60", text, lit(n), lit(distinct))
  }
}
