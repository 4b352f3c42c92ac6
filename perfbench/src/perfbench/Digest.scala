package perfbench

import graft.pipeline.Fixtures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Runs a query to completion and digests its rows in the same Spark
  * execution: every row of the physical plan is produced (as a `noop` write
  * would consume it) and folded into an order-insensitive content digest.
  *
  * Floating-point values are rounded to six significant digits and array
  * and map elements are folded order-insensitively, so the digest does not
  * depend on summation or collection order, only on content.
  */
object Digest {

  final case class Result(rows: Long, digest: Long)

  def run(df: DataFrame, name: String): Result = {
    val schema = df.schema
    val qe = df.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var sum = 0L
        while (it.hasNext) {
          sum += rowHash(it.next(), schema)
          n += 1
        }
        Iterator.single((n, sum))
      }.collect()
    }
    Result(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def rowHash(r: InternalRow, st: StructType): Long = {
    var h = 17L
    var i = 0
    while (i < st.length) {
      val dt = st(i).dataType
      h = h * 31 + (if (r.isNullAt(i)) 7L else valueHash(r.get(i, dt), dt))
      i += 1
    }
    Fixtures.mix(h)
  }

  private def valueHash(v: Any, dt: DataType): Long = dt match {
    case DoubleType => doubleHash(v.asInstanceOf[Double])
    case FloatType => doubleHash(v.asInstanceOf[Float].toDouble)
    case st: StructType => rowHash(v.asInstanceOf[InternalRow], st)
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var s = 0L
      var i = 0
      while (i < a.numElements()) {
        s += Fixtures.mix(if (a.isNullAt(i)) 7L else valueHash(a.get(i, et), et))
        i += 1
      }
      Fixtures.mix(s + a.numElements())
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      var s = 0L
      var i = 0
      while (i < m.numElements()) {
        s += Fixtures.mix(valueHash(ks.get(i, kt), kt) * 31 +
          (if (vs.isNullAt(i)) 7L else valueHash(vs.get(i, vt), vt)))
        i += 1
      }
      Fixtures.mix(s + m.numElements())
    case BinaryType => java.util.Arrays.hashCode(v.asInstanceOf[Array[Byte]]).toLong
    case _ => scala.util.hashing.MurmurHash3.stringHash(v.toString).toLong
  }

  private val sixDigits = new java.math.MathContext(6)

  private def doubleHash(d: Double): Long =
    if (d.isNaN) 1L
    else if (d.isInfinite) (if (d > 0) 2L else 3L)
    else if (d == 0.0) 0L
    else java.lang.Double.doubleToLongBits(
      new java.math.BigDecimal(d).round(sixDigits).doubleValue)
}
