package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: the row count plus
  * the wrapping sum of a 64-bit hash of every row, where each row hash
  * covers every column, taken in column-name order (the order the DuckDB
  * twins are compared in). Rows are rendered to a canonical string first:
  * floating-point values keep 10 significant digits (so a different
  * partial-aggregation order cannot move the digest), -0.0 and 0.0 are
  * one value, map entries are sorted, and array order is kept. */
object Fingerprint {

  final case class Digest(rows: Long, sum: Long) {
    def render: String = f"$rows:$sum%016x"
    def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  }

  /** Digest of a whole result, computed on the executors. */
  def of(rdd: org.apache.spark.rdd.RDD[InternalRow], schema: StructType): Digest = {
    val cols = schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) => (i, f.dataType) }
    rdd.mapPartitions(ofPartition(_, cols)).collect().foldLeft(Digest(0, 0))(_ + _)
  }

  private def ofPartition(it: Iterator[InternalRow], cols: Array[(Int, DataType)]): Iterator[Digest] = {
    var rows = 0L
    var sum = 0L
    val sb = new java.lang.StringBuilder
    while (it.hasNext) {
      val r = it.next()
      sb.setLength(0)
      var i = 0
      while (i < cols.length) { canon(r, cols(i)._1, cols(i)._2, sb); sb.append('|'); i += 1 }
      sum += hash64(sb.toString)
      rows += 1
    }
    Iterator.single(Digest(rows, sum))
  }

  private def hash64(s: String): Long = {
    import scala.util.hashing.MurmurHash3.stringHash
    (stringHash(s, 0x2f1b3c5d).toLong << 32) | (stringHash(s, 0x6a09e667).toLong & 0xffffffffL)
  }

  private def canonDouble(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("NaN")
    else if (d == 0.0) sb.append('0')
    else if (d.isInfinite) sb.append(if (d > 0) "Inf" else "-Inf")
    else sb.append(new java.math.BigDecimal(d)
      .round(new java.math.MathContext(10)).stripTrailingZeros.toString)

  private def canon(g: SpecializedGetters, i: Int, dt: DataType,
                    sb: java.lang.StringBuilder): Unit =
    if (g.isNullAt(i)) sb.append('∅')
    else dt match {
      case BooleanType => sb.append(g.getBoolean(i))
      case ByteType => sb.append(g.getByte(i).toLong)
      case ShortType => sb.append(g.getShort(i).toLong)
      case IntegerType | DateType => sb.append(g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType => sb.append(g.getLong(i))
      case FloatType => canonDouble(g.getFloat(i).toDouble, sb)
      case DoubleType => canonDouble(g.getDouble(i), sb)
      case d: DecimalType =>
        sb.append(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .stripTrailingZeros.toPlainString)
      case _: StringType => sb.append(g.getUTF8String(i).toString)
      case BinaryType => g.getBinary(i).foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        sb.append('[')
        var j = 0
        while (j < a.numElements()) { canon(a, j, et, sb); sb.append(','); j += 1 }
        sb.append(']')
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val entries = (0 until m.numElements()).map { j =>
          val e = new java.lang.StringBuilder
          canon(m.keyArray(), j, kt, e); e.append("->"); canon(m.valueArray(), j, vt, e)
          e.toString
        }.sorted
        sb.append(entries.mkString("{", ",", "}"))
      case st: StructType =>
        val r = g.getStruct(i, st.length)
        sb.append('(')
        var j = 0
        while (j < st.length) { canon(r, j, st(j).dataType, sb); sb.append(','); j += 1 }
        sb.append(')')
      case other => sb.append(String.valueOf(g.get(i, other)))
    }
}
