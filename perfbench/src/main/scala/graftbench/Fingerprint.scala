package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** An order-independent digest of a query result: the row count and the
  * wrapping sum of a 64-bit hash of each row. Doubles and floats are
  * rounded to 9 significant digits first, so a sum whose order depends on
  * task timing still yields one fingerprint.
  */
final case class Fingerprint(rows: Long, hashSum: Long) {
  override def toString: String = f"$rows%d:$hashSum%016x"
}

object Fingerprint {

  /** Runs the whole physical plan of `df` once (through
    * `queryExecution.toRdd`, so no column or sort is pruned away) and
    * folds its rows.
    */
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd
      .mapPartitions { it =>
        var n = 0L
        var h = 0L
        it.foreach { row => n += 1; h += rowHash(row, schema) }
        Iterator.single((n, h))
      }
      .fold((0L, 0L)) { case ((n1, h1), (n2, h2)) => (n1 + n2, h1 + h2) }
    Fingerprint(n, h)
  }

  private def mix(h: Long, v: Long): Long = {
    var x = (h ^ v) * 0x9E3779B97F4A7C15L
    x ^= x >>> 29
    x * 0xBF58476D1CE4E5B9L
  }

  private def hashBytes(b: Array[Byte]): Long = {
    var h = 0x84222325L ^ b.length
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001B3L; i += 1 }
    h
  }

  def roundDouble(v: Double): Long =
    if (v == 0.0 || v.isNaN || v.isInfinite) java.lang.Double.doubleToLongBits(if (v == 0.0) 0.0 else v)
    else java.lang.Double.doubleToLongBits(new java.math.BigDecimal(v)
      .round(new java.math.MathContext(9)).doubleValue())

  def rowHash(row: InternalRow, schema: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < schema.length) {
      h = mix(h, valueHash(if (row.isNullAt(i)) null else row.get(i, schema(i).dataType), schema(i).dataType))
      i += 1
    }
    h
  }

  private def valueHash(v: Any, t: DataType): Long =
    if (v == null) 0x6e756c6cL
    else t match {
      case DoubleType => roundDouble(v.asInstanceOf[Double])
      case FloatType  => roundDouble(v.asInstanceOf[Float].toDouble)
      case BinaryType => hashBytes(v.asInstanceOf[Array[Byte]])
      case s: StructType => rowHash(v.asInstanceOf[InternalRow], s)
      case a: ArrayType =>
        val arr = v.asInstanceOf[ArrayData]
        var h = 31L + arr.numElements()
        var i = 0
        while (i < arr.numElements()) {
          h = mix(h, valueHash(if (arr.isNullAt(i)) null else arr.get(i, a.elementType), a.elementType))
          i += 1
        }
        h
      case m: MapType =>
        // maps are unordered: sum the entry hashes
        val md = v.asInstanceOf[MapData]
        val ks = md.keyArray(); val vs = md.valueArray()
        var h = 0L
        var i = 0
        while (i < md.numElements()) {
          val vv = if (vs.isNullAt(i)) null else vs.get(i, m.valueType)
          h += mix(valueHash(ks.get(i, m.keyType), m.keyType), valueHash(vv, m.valueType))
          i += 1
        }
        h
      case _ => hashBytes(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
}
