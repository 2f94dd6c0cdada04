package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Row count plus the sum (mod 2^64) of one 64-bit hash per row: equal
  * for any order of the same rows, different when a single cell changes. */
final case class ResultDigest(rows: Long, sum: Long) {
  def +(o: ResultDigest): ResultDigest = ResultDigest(rows + o.rows, sum + o.sum)
  def hex: String = f"$sum%016x"
}

object ResultDigest {
  val empty: ResultDigest = ResultDigest(0L, 0L)
}

/** Order-insensitive digests of query results and of published payloads. */
object Digest {
  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 8 bytes of the MD5 of `bytes`, big-endian. */
  def hash64(bytes: Array[Byte]): Long = {
    val d = md5.get().digest(bytes)
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  def hash64(s: String): Long = hash64(s.getBytes(UTF_8))

  /** Doubles are compared at 12 significant digits so that a last-bit
    * difference from a different summation order is not a changed cell. */
  private val mc = new MathContext(12)

  private def canonDouble(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN || d.isInfinite) sb.append(d)
    else if (d == 0.0) sb.append('0')
    else sb.append(new JBigDecimal(d).round(mc).stripTrailingZeros().toString)

  /** Canonical text of one Catalyst value: the same cell always gives the
    * same text, whatever the physical row class that carries it. */
  def canon(v: Any, t: DataType, sb: java.lang.StringBuilder): Unit =
    if (v == null) sb.append("∅")
    else t match {
      case DoubleType => canonDouble(v.asInstanceOf[Double], sb)
      case FloatType => canonDouble(v.asInstanceOf[Float].toDouble, sb)
      case _: DecimalType =>
        sb.append(v.asInstanceOf[Decimal].toJavaBigDecimal
          .stripTrailingZeros().toPlainString)
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) sb.append(',')
          canon(if (a.isNullAt(i)) null else a.get(i, et), et, sb)
          i += 1
        }
        sb.append(']')
      case st: StructType => canonRow(v.asInstanceOf[InternalRow], st, sb)
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val entries = (0 until m.numElements()).map { i =>
          val e = new java.lang.StringBuilder
          canon(m.keyArray().get(i, kt), kt, e)
          e.append('=')
          canon(if (m.valueArray().isNullAt(i)) null
            else m.valueArray().get(i, vt), vt, e)
          e.toString
        }.sorted
        sb.append('<').append(entries.mkString(",")).append('>')
      case _ => sb.append(v.toString)
    }

  def canonRow(r: InternalRow, st: StructType, sb: java.lang.StringBuilder): Unit = {
    sb.append('{')
    var i = 0
    while (i < st.length) {
      if (i > 0) sb.append('|')
      val dt = st.fields(i).dataType
      canon(if (r.isNullAt(i)) null else r.get(i, dt), dt, sb)
      i += 1
    }
    sb.append('}')
  }

  def rowHash(r: InternalRow, st: StructType): Long = {
    val sb = new java.lang.StringBuilder
    canonRow(r, st, sb)
    hash64(sb.toString)
  }

  /** Digest of one partition; a top-level function so that the closure
    * shipped to executors carries only the schema. */
  def partition(st: StructType): Iterator[InternalRow] => ResultDigest =
    (it: Iterator[InternalRow]) => {
      var n = 0L
      var s = 0L
      while (it.hasNext) { s += rowHash(it.next(), st); n += 1 }
      ResultDigest(n, s)
    }

  /** Runs the frame's own physical plan (final sorts included) as one job
    * and digests every row. */
  def ofFrame(df: DataFrame): ResultDigest = {
    var acc = ResultDigest.empty
    df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd,
      partition(df.schema), (_: Int, d: ResultDigest) => acc = acc + d)
    acc
  }
}
