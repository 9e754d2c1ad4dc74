package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row count and order-insensitive digest of a DataFrame's full output.
  *
  * The digest is the wrapping 64-bit sum of one hash per row, so it does
  * not depend on row order or partitioning. Doubles are rounded to 30
  * mantissa bits (about nine decimal digits) before hashing: a sum whose
  * partials merge in a different order may differ in its last bits, and
  * that must not read as a wrong answer.
  *
  * For rows made only of LONG columns the hash is reproduced in
  * `perfbench/gen.py` (`row_digest`), which lets the generators compute
  * expected digests of CDC snapshots without Spark.
  */
object Digest {
  private val NullHash = 0x9e3779b97f4a7c15L
  private val FnvOffset = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  def ofLong(x: Long): Long = fmix(x ^ 0x27d4eb2f165667c5L)

  def ofDouble(d: Double): Long =
    if (d.isNaN) ofLong(0x7ff8000000000000L)
    else if (d == 0.0) ofLong(0L)
    else ofLong((java.lang.Double.doubleToLongBits(d) + (1L << 21)) & ~((1L << 22) - 1))

  def ofBytes(b: Array[Byte]): Long =
    fmix((MurmurHash3.bytesHash(b, 0x3c074a61).toLong << 32) ^
      (MurmurHash3.bytesHash(b, 0x0b4d0a13).toLong & 0xffffffffL))

  def ofValue(v: Any, t: DataType): Long =
    if (v == null) NullHash
    else t match {
      case BooleanType => ofLong(if (v.asInstanceOf[Boolean]) 1L else 0L)
      case ByteType => ofLong(v.asInstanceOf[Byte].toLong)
      case ShortType => ofLong(v.asInstanceOf[Short].toLong)
      case IntegerType | DateType => ofLong(v.asInstanceOf[Int].toLong)
      case LongType | TimestampType | TimestampNTZType => ofLong(v.asInstanceOf[Long])
      case FloatType => ofDouble(v.asInstanceOf[Float].toDouble)
      case DoubleType => ofDouble(v.asInstanceOf[Double])
      case _: DecimalType =>
        val d = v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
        val n = if (d.signum == 0) java.math.BigDecimal.ZERO else d.stripTrailingZeros
        ofBytes(n.unscaledValue.toByteArray) ^ ofLong(n.scale.toLong)
      case _: StringType => ofBytes(v.asInstanceOf[UTF8String].getBytes)
      case BinaryType => ofBytes(v.asInstanceOf[Array[Byte]])
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        var h = FnvOffset
        var i = 0
        while (i < a.numElements()) {
          h = (h ^ ofValue(if (a.isNullAt(i)) null else a.get(i, et), et)) * FnvPrime
          i += 1
        }
        fmix(h ^ a.numElements())
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var s = 0L
        var i = 0
        while (i < m.numElements()) {
          s += fmix(ofValue(ks.get(i, kt), kt) * 31 +
            ofValue(if (vs.isNullAt(i)) null else vs.get(i, vt), vt))
          i += 1
        }
        fmix(s ^ m.numElements())
      case st: StructType => ofRow(v.asInstanceOf[InternalRow], st.fields.map(_.dataType))
      case _ => ofBytes(v.toString.getBytes("UTF-8"))
    }

  def ofRow(r: InternalRow, types: Array[DataType]): Long = {
    var h = FnvOffset
    var i = 0
    while (i < types.length) {
      h = (h ^ ofValue(if (r.isNullAt(i)) null else r.get(i, types(i)), types(i))) * FnvPrime
      i += 1
    }
    fmix(h)
  }

  /** Runs `df` to full output — every column of every row, under its own
    * SQL execution id, so listeners see it like any other action — and
    * returns (rows, digest).
    */
  def fullOutput(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val types = qe.analyzed.schema.fields.map(_.dataType)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench.fullOutput")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { r => n += 1; s += ofRow(r, types) }
        Iterator.single((n, s))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def hex(d: Long): String = f"$d%016x"
}
