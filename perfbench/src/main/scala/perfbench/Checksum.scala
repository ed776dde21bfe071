package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent checksum of a result: the row count and the sum,
  * modulo 2^64, of one 64-bit MD5 prefix per row.
  *
  * Each row is encoded canonically with its columns in name order, so the
  * checksum matches `oracle.py`'s encoding of the same rows fetched from
  * DuckDB. Doubles, floats and decimals are rounded to 10 significant
  * digits of their exact value (half-even), integers of any width encode
  * alike, and timestamps encode as epoch microseconds.
  *
  * Folding the checksum over the result's internal rows is also the timed
  * action: it reads every column of every row, so Catalyst cannot prune
  * output projections the way it can under `count()`.
  */
final case class Checksum(rows: Long, sum: Long) {
  def +(o: Checksum): Checksum = Checksum(rows + o.rows, sum + o.sum)
  override def toString: String = s"$rows:${java.lang.Long.toUnsignedString(sum, 16)}"
}

object Checksum {
  val Empty: Checksum = Checksum(0L, 0L)
  private val Digits = new MathContext(10, RoundingMode.HALF_EVEN)

  /** Field order (indices into the row) by column name. */
  def nameOrder(schema: StructType): Array[Int] =
    schema.fields.zipWithIndex.sortBy(_._1.name).map(_._2)

  /** Materialises `df` by folding the checksum over every internal row. */
  def of(df: DataFrame): Checksum = {
    val schema = df.schema
    val order = nameOrder(schema)
    df.queryExecution.toRdd.mapPartitions { it =>
      val enc = new RowEncoder(schema, order)
      var rows = 0L
      var sum = 0L
      it.foreach { r => rows += 1; sum += enc.hash(r) }
      Iterator.single(Checksum(rows, sum))
    }.fold(Empty)(_ + _)
  }

  /** Canonical text of a floating value, shared with `oracle.py`. */
  def canonFloat(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0e0"
    else canonDecimal(new JBigDecimal(d))

  def canonDecimal(b: JBigDecimal): String =
    if (b.signum == 0) "0e0"
    else {
      val r = b.round(Digits).stripTrailingZeros
      s"${r.unscaledValue}e${-r.scale}"
    }

  /** Per-partition row encoder: canonical bytes, then an MD5 prefix. */
  final class RowEncoder(schema: StructType, order: Array[Int]) {
    private val md = MessageDigest.getInstance("MD5")
    private val buf = new java.io.ByteArrayOutputStream(256)

    def hash(r: InternalRow): Long = {
      buf.reset()
      order.foreach(i => value(r, i, schema.fields(i).dataType))
      val d = md.digest(buf.toByteArray)
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h
    }

    private def text(s: String): Unit = { val b = s.getBytes(UTF_8); buf.write(b, 0, b.length) }

    /** One value of a row or an array: both are `SpecializedGetters`. */
    private def value(g: SpecializedGetters, i: Int, t: DataType): Unit =
      if (g.isNullAt(i)) text("N;")
      else t match {
        case BooleanType => text(if (g.getBoolean(i)) "b1;" else "b0;")
        case ByteType => text(s"i${g.getByte(i)};")
        case ShortType => text(s"i${g.getShort(i)};")
        case IntegerType => text(s"i${g.getInt(i)};")
        case LongType => text(s"i${g.getLong(i)};")
        case FloatType => text(s"f${canonFloat(g.getFloat(i).toDouble)};")
        case DoubleType => text(s"f${canonFloat(g.getDouble(i))};")
        case d: DecimalType =>
          text(s"f${canonDecimal(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal)};")
        case StringType | _: StringType => utf8(g.getUTF8String(i).getBytes)
        case BinaryType => text("x" + g.getBinary(i).map(b => f"$b%02x").mkString + ";")
        case TimestampType | TimestampNTZType => text(s"t${g.getLong(i)};")
        case DateType => text(s"d${g.getInt(i)};")
        case a: ArrayType => array(g.getArray(i), a.elementType)
        case s: StructType => struct(g.getStruct(i, s.length), s)
        case m: MapType => map(g.getMap(i), m)
        case other => text(s"?${g.get(i, other)};")
      }

    private def utf8(b: Array[Byte]): Unit = {
      text(s"s${b.length}:"); buf.write(b, 0, b.length); text(";")
    }

    private def array(a: ArrayData, et: DataType): Unit = {
      text("[")
      var j = 0
      while (j < a.numElements()) { value(a, j, et); j += 1 }
      text("]")
    }

    /** Struct fields in declaration order (as DuckDB returns them). */
    private def struct(s: InternalRow, st: StructType): Unit = {
      text("{")
      st.fields.indices.foreach(k => value(s, k, st.fields(k).dataType))
      text("}")
    }

    private def map(m: MapData, mt: MapType): Unit = {
      text("m"); array(m.keyArray(), mt.keyType); array(m.valueArray(), mt.valueType)
    }
  }
}
