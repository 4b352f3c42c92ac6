package graft.functions

import graft.intel.{BcHandle, IntelDb}
import graft.model.{IndicatorType => T}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, ImplicitCastInputTypes}
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

  private val IP = UTF8String.fromString("ip")
  private val PATTERN = UTF8String.fromString("pattern")
  private val IPV4 = UTF8String.fromString(T.Ipv4)
  private val IPV6 = UTF8String.fromString(T.Ipv6)

  /** The one place a candidate becomes hits, shared by every scan
    * expression: probe `value` against every database in index order and
    * write one (db_idx, entry_idx, prefix_len) triple per hit into
    * `scr.hits` from index 0 (at most one longest-prefix ip hit per database;
    * string hits in `lookupString` order). Returns the end of the written
    * triples, so a candidate has `end / 3` hits. A string hit has
    * prefix_len -1; the match type follows from it (see [[matchType]]).
    * No allocation beyond `lookupIp`'s result tuple and buffer growth.
    */
  def probe(dbs: Array[IntelDb], value: String, isIp: Boolean,
      isV6: Boolean, scr: ExtractIoCs.RowScratch): Int = {
    var end = 0
    var d = 0
    while (d < dbs.length) {
      if (isIp) {
        val hit = dbs(d).lookupIp(value, isV6)
        if (hit != null) end = put(scr, end, d, hit._1, hit._2)
      } else {
        val ids = dbs(d).lookupString(value)
        var k = 0
        while (k < ids.length) {
          end = put(scr, end, d, ids(k), -1)
          k += 1
        }
      }
      d += 1
    }
    end
  }

  /** [[probe]] for a scanner candidate, dispatched by its indicator type. */
  def probe(dbs: Array[IntelDb], m: graft.model.Ioc,
      scr: ExtractIoCs.RowScratch): Int = {
    val isV6 = m.indicator_type == T.Ipv6
    probe(dbs, m.value, isV6 || m.indicator_type == T.Ipv4, isV6, scr)
  }

  /** Write one hit triple at `end` (growing `scr.hits`); the new end. */
  private def put(scr: ExtractIoCs.RowScratch, end: Int, d: Int,
      entryIdx: Int, prefixLen: Int): Int = {
    if (end + 3 > scr.hits.length)
      scr.hits = java.util.Arrays.copyOf(scr.hits, scr.hits.length * 2)
    val hits = scr.hits
    hits(end) = d
    hits(end + 1) = entryIdx
    hits(end + 2) = prefixLen
    end + 3
  }

  /** match_type of a hit triple: ip hits carry their prefix length. */
  private[functions] def matchType(prefixLen: Int): UTF8String =
    if (prefixLen < 0) PATTERN else IP

  /** The `hits` array of the [[probe]] triples in `scr.hits` before `end`. */
  private[functions] def hitArray(scr: ExtractIoCs.RowScratch,
      end: Int): ArrayData = {
    if (end == 0) return ExtractIoCs.EMPTY
    val hits = scr.hits
    val rows = new Array[Any](end / 3)
    var h = 0
    while (h < end) {
      // direct 4-field row: InternalRow.apply's varargs path detours
      // through Seq.toArray per hit (profiled)
      val r = new GenericInternalRow(4)
      r.update(0, hits(h))
      r.update(1, hits(h + 1))
      r.update(2, hits(h + 2))
      r.update(3, matchType(hits(h + 2)))
      rows(h / 3) = r
      h += 3
    }
    new GenericArrayData(rows)
  }

  def lookup(dbs: Array[IntelDb], value: UTF8String,
      itype: UTF8String): ArrayData = {
    val isV6 = itype.equals(IPV6)
    val scr = ExtractIoCs.tlScratch.get()
    hitArray(scr, probe(dbs, value.toString, isV6 || itype.equals(IPV4),
      isV6, scr))
  }

  def column(value: Column, indicatorType: Column, dbs: Seq[IntelDb]): Column =
    ExpressionUtils.column(IntelLookupMulti(
      ExpressionUtils.expression(value),
      ExpressionUtils.expression(indicatorType), BcHandle.auto(dbs.toArray)))
}
