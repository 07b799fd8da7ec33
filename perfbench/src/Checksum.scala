package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Order-sensitive content checksum of a query result.
  *
  * Every field of every row is read through its data type, so the
  * whole plan and every output column must be computed. Rows fold as
  * `h = h * P + rowHash` (mod 2^64): changing any value or swapping any
  * two different rows changes the sum. Floating-point values keep 24
  * mantissa bits, so the checksum survives the summation-order noise of
  * parallel aggregation but not a changed result.
  */
object Checksum {
  val P: Long = 0x9E3779B97F4A7C15L
  private val NullHash = 0x5BD1E9955BD1E995L

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def bytesHash(b: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L ^ b.length
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001B3L; i += 1 }
    mix(h)
  }

  /** Rounds away the last 28 mantissa bits; one NaN, one zero. */
  def canonDouble(d: Double): Long =
    if (d.isNaN) 0x7FF8000000000000L
    else if (d == 0.0) 0L
    else {
      val bits = java.lang.Double.doubleToLongBits(d)
      (bits + (1L << 27)) & ~((1L << 28) - 1)
    }

  def fieldHash(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) NullHash
    else mix(dt match {
      case BooleanType => if (g.getBoolean(i)) 1L else 2L
      case ByteType => g.getByte(i).toLong
      case ShortType => g.getShort(i).toLong
      case IntegerType | DateType | _: YearMonthIntervalType => g.getInt(i).toLong
      case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
        g.getLong(i)
      case FloatType => canonDouble(g.getFloat(i).toDouble)
      case DoubleType => canonDouble(g.getDouble(i))
      case d: DecimalType =>
        bytesHash(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .stripTrailingZeros().toPlainString.getBytes("UTF-8"))
      case _: StringType => bytesHash(g.getUTF8String(i).getBytes)
      case BinaryType => bytesHash(g.getBinary(i))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        var h = a.numElements().toLong
        var j = 0
        while (j < a.numElements()) { h = h * P + fieldHash(a, j, et); j += 1 }
        h
      case MapType(kt, vt, _) =>
        // entry order is an implementation detail: sum the entries
        val m = g.getMap(i)
        val (ks, vs) = (m.keyArray(), m.valueArray())
        var h = m.numElements().toLong
        var j = 0
        while (j < m.numElements()) {
          h += mix(fieldHash(ks, j, kt) * P + fieldHash(vs, j, vt))
          j += 1
        }
        h
      case st: StructType => rowHash(g.getStruct(i, st.size), st)
      case CalendarIntervalType =>
        val c = g.getInterval(i)
        (c.months.toLong * 31 + c.days) * P + c.microseconds
      case other => bytesHash(String.valueOf(g.get(i, other)).getBytes("UTF-8"))
    })

  def rowHash(r: InternalRow, schema: StructType): Long = {
    var h = schema.size.toLong
    var i = 0
    while (i < schema.size) {
      h = h * P + fieldHash(r, i, schema(i).dataType)
      i += 1
    }
    mix(h)
  }

  /** P^n mod 2^64. */
  def pow(n: Long): Long = {
    var (b, e, r) = (P, n, 1L)
    while (e > 0) { if ((e & 1) == 1) r *= b; b *= b; e >>= 1 }
    r
  }

  /** Fold of consecutive row runs: (rows, hash) of each run in order. */
  def combine(parts: Seq[(Long, Long)]): (Long, Long) =
    parts.foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) =>
      (n + pn, h * pow(pn) + ph)
    }

  /** Checksum of an in-memory row sequence (tests and small results). */
  def ofRows(rows: Iterator[InternalRow], schema: StructType): (Long, Long) = {
    var (n, h) = (0L, 0L)
    rows.foreach { r => h = h * P + rowHash(r, schema); n += 1 }
    (n, h)
  }

  /** Execute the full physical plan of `df` as one SQL execution and
    * return (rows, checksum) in the plan's output order. Partitions of
    * an ordered result are consecutive ranges, so folding the
    * per-partition sums in partition order equals folding the collected
    * rows.
    */
  def materialize(df: DataFrame, label: String): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some(label)) {
      qe.toRdd.mapPartitionsWithIndex { (pid, it) =>
        val (n, h) = ofRows(it, schema)
        Iterator((pid, n, h))
      }.collect()
    }
    combine(parts.sortBy(_._1).map(p => (p._2, p._3)).toSeq)
  }
}
