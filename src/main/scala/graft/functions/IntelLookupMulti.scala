package graft.functions

import graft.intel.{BcHandle, IntelDb}
import graft.model.{IndicatorType => T}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Multi-database lookup in ONE pass (L8): each candidate is probed against
  * every database inside a single generator, so the input is scanned and
  * extracted exactly once — a per-database union would duplicate the whole
  * scan+extract subtree (Spark does not dedupe common subplans across union
  * branches). Returns array<struct<db_idx, entry_idx, prefix_len,
  * match_type>>; db_idx indexes ScanJob's metadata table, and an empty
  * array means no match. A single-database lookup is `column(..., Seq(db))`.
  *
  * Dispatch follows the reference (database.rs:760-764, 889-901): ipv4/ipv6
  * candidates walk the LPM trie; everything else takes the string path
  * (literal exact + paraglob; database.rs:911-981).
  */
case class IntelLookupMulti(left: Expression, right: Expression,
    dbs: BcHandle[Array[IntelDb]])
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)

  override def dataType: DataType = IntelLookupMulti.schema
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String =
    s"intel_lookup_multi_${dbs.get.map(_.databaseId).mkString("_")}"

  override def nullSafeEval(value: Any, itype: Any): Any =
    IntelLookupMulti.lookup(dbs.get, value.asInstanceOf[UTF8String],
      itype.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the reference object is the small broadcast HANDLE (BcHandle) — the
    // compiled dbs deserialize once per executor, not once per task.
    // NOTE: classOf[Array[IntelDb]].getName is the JVM binary name
    // ("[Lgraft.intel.IntelDb;") which is NOT valid Java source — it would
    // break whole-stage codegen for the entire stage and silently fall back
    // to interpreted execution (~70x slower scans)
    val ref = ctx.addReferenceObj("inteldbs", dbs, "graft.intel.BcHandle")
    nullSafeCodeGen(ctx, ev, (v, t) =>
      s"${ev.value} = graft.functions.IntelLookupMulti.lookup(" +
        s"(graft.intel.IntelDb[]) $ref.get(), $v, $t);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): IntelLookupMulti =
    copy(left = newLeft, right = newRight)
}

object IntelLookupMulti {
  val elementSchema: StructType = StructType(Seq(
    StructField("db_idx", IntegerType, nullable = false),
    StructField("entry_idx", IntegerType, nullable = false),
    StructField("prefix_len", IntegerType, nullable = false),
    StructField("match_type", StringType, nullable = false)
  ))
  val schema: DataType = ArrayType(elementSchema, containsNull = false)

  private val IP = ExtractIoCs.IP
  private val PATTERN = ExtractIoCs.PATTERN
  private val EMPTY = new GenericArrayData(Array.empty[Any])
  private val IPV4 = UTF8String.fromString(T.Ipv4)
  private val IPV6 = UTF8String.fromString(T.Ipv6)

  private def hitRow(d: Int, entryIdx: Int, prefixLen: Int,
      matchType: UTF8String): InternalRow =
    ExtractIoCs.hitRow4(d, entryIdx, prefixLen, matchType)

  def lookup(dbs: Array[IntelDb], value: UTF8String,
      itype: UTF8String): ArrayData = {
    val isV6 = itype.equals(IPV6)
    val isIp = isV6 || itype.equals(IPV4)
    val v = value.toString
    var out: scala.collection.mutable.ArrayBuffer[Any] = null
    var d = 0
    while (d < dbs.length) {
      val db = dbs(d)
      if (isIp) {
        val hit = db.lookupIp(v, isV6)
        if (hit != null) {
          if (out == null) out = new scala.collection.mutable.ArrayBuffer[Any](4)
          out += hitRow(d, hit._1, hit._2, IP)
        }
      } else {
        val ids = db.lookupString(v)
        var i = 0
        while (i < ids.length) {
          if (out == null) out = new scala.collection.mutable.ArrayBuffer[Any](4)
          out += hitRow(d, ids(i), -1, PATTERN)
          i += 1
        }
      }
      d += 1
    }
    if (out == null) EMPTY else new GenericArrayData(out.toArray)
  }

  def column(value: Column, indicatorType: Column, dbs: Seq[IntelDb]): Column =
    ExpressionUtils.column(IntelLookupMulti(
      ExpressionUtils.expression(value),
      ExpressionUtils.expression(indicatorType), BcHandle.auto(dbs.toArray)))
}
