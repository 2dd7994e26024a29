package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint, computed on the executors over
  * the rows of a query's own physical plan (nothing is re-optimized, so
  * no sort or projection the plan holds can be dropped).
  *
  * Canonical form, shared with `perfbench/fingerprint.py`:
  *  - top-level columns in name order, joined by U+001F;
  *  - null as `\N`; floats and doubles as the exact binary value rounded
  *    half-even to 9 places (`-0` folded to `0`); decimals plain; dates
  *    ISO; timestamps as epoch microseconds; binary as hex; arrays
  *    `[a,b]`, structs `(a,b)`, maps `{k:v,...}` with entries sorted.
  * Each row's canonical string is MD5-hashed; the fingerprint is the row
  * count and the sum (mod 2^64) of the first 8 digest bytes, so row
  * order never matters and duplicate rows do.
  */
object Fingerprint {

  def canonDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) { if (d > 0) "inf" else "-inf" }
    else {
      val s = new java.math.BigDecimal(d)
        .setScale(9, java.math.RoundingMode.HALF_EVEN).toPlainString
      if (s == "-0.000000000") "0.000000000" else s
    }

  private def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  def canonValue(g: SpecializedGetters, i: Int, t: DataType): String =
    if (g.isNullAt(i)) "\\N"
    else t match {
      case BooleanType => g.getBoolean(i).toString
      case ByteType => g.getByte(i).toString
      case ShortType => g.getShort(i).toString
      case IntegerType => g.getInt(i).toString
      case LongType => g.getLong(i).toString
      case FloatType => canonDouble(g.getFloat(i).toDouble)
      case DoubleType => canonDouble(g.getDouble(i))
      case d: DecimalType =>
        g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
      case _: StringType => g.getUTF8String(i).toString
      case BinaryType => hex(g.getBinary(i))
      case DateType => java.time.LocalDate.ofEpochDay(g.getInt(i).toLong).toString
      case TimestampType | TimestampNTZType => g.getLong(i).toString
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        (0 until a.numElements()).map(j => canonValue(a, j, et)).mkString("[", ",", "]")
      case st: StructType =>
        val r = g.getStruct(i, st.size)
        st.fields.indices.map(j => canonValue(r, j, st(j).dataType)).mkString("(", ",", ")")
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val ks = m.keyArray(); val vs = m.valueArray()
        (0 until m.numElements())
          .map(j => canonValue(ks, j, kt) + ":" + canonValue(vs, j, vt))
          .sorted.mkString("{", ",", "}")
      case other => g.get(i, other).toString
    }

  /** Top-level column indices in name order. */
  def columnOrder(schema: StructType): Array[Int] =
    schema.fields.indices.sortBy(schema(_).name).toArray

  /** Canonical string of one row, columns in `order` ([[columnOrder]]). */
  def canonRow(row: InternalRow, schema: StructType, order: Array[Int]): String =
    order.map(i => canonValue(row, i, schema(i).dataType)).mkString("\u001f")

  def rowHash(md: MessageDigest, canon: String): Long = {
    val d = md.digest(canon.getBytes(UTF_8))
    var h = 0L
    var k = 0
    while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    h
  }

  def render(rows: Long, sum: Long): String =
    s"$rows:${"%016x".format(sum)}"

  /** Execute `rdd` (a plan's `execute()` output) and fingerprint it. */
  def of(rdd: RDD[InternalRow], schema: StructType): String = {
    val order = columnOrder(schema)
    val parts = rdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      var n = 0L
      var s = 0L
      it.foreach { r => n += 1; s += rowHash(md, canonRow(r, schema, order)) }
      Iterator.single((n, s))
    }.collect()
    render(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
