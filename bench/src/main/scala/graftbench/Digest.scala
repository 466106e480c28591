package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent content hash of a query result: the row count and the
  * sum of 64-bit row hashes. Doubles are hashed at 9 significant digits, so
  * a different summation order across tasks does not change the hash.
  */
object Digest {
  def of(df: DataFrame): String = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      rows.foreach { r => n += 1; h += mix(row(r, schema)) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    f"$n:$h%016x"
  }

  private def mix(z: Long): Long = Ticks.mix(z)

  private def row(r: InternalRow, st: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < st.length) {
      h = mix(h * 31 + (if (r.isNullAt(i)) 0x5bd1e995L else value(r.get(i, st(i).dataType), st(i).dataType)))
      i += 1
    }
    h
  }

  private def round9(d: Double): Long =
    if (d == 0.0 || d.isNaN || d.isInfinite) java.lang.Double.doubleToLongBits(d + 0.0)
    else {
      val e = math.floor(math.log10(math.abs(d))).toInt
      mix(math.round(d * math.pow(10, 8 - e))) + e
    }

  private def value(v: Any, t: DataType): Long = (v, t) match {
    case (null, _) => 0x5bd1e995L
    case (d: Double, _) => round9(d)
    case (f: Float, _) => round9(f.toDouble)
    case (x: Decimal, _) => x.toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case (b: Array[Byte], _) => MurmurHash3.bytesHash(b).toLong
    case (s: org.apache.spark.unsafe.types.UTF8String, _) => MurmurHash3.bytesHash(s.getBytes).toLong
    case (r: InternalRow, st: StructType) => row(r, st)
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).foldLeft(23L)((h, i) =>
        mix(h * 31 + (if (a.isNullAt(i)) 0x5bd1e995L else value(a.get(i, et), et))))
    case (m: MapData, MapType(kt, vt, _)) =>
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map { i =>
        mix(value(ks.get(i, kt), kt) * 31 + (if (vs.isNullAt(i)) 0x5bd1e995L else value(vs.get(i, vt), vt)))
      }.sum
    case (b: Boolean, _) => if (b) 1231L else 1237L
    case (n: Number, _) => n.longValue
    case (x, _) => x.hashCode.toLong
  }
}
