package graft.functions

import graft.extract.{IocScanner, ScanConfig}
import graft.intel.{BcHandle, CleanPreScreen, IntelDb}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The MATCH-ONLY flattening of ScanTurn: one array element per
  * (candidate x database hit), hitless candidates and clean turns omitted —
  * `array<struct<indicator_type, value, matched_text, span_start, span_end,
  * db_idx, entry_idx, prefix_len, match_type>>`.
  *
  * ScanJob.matched previously exploded ScanTurn's per-candidate rows,
  * filtered `sink = 'cand' AND size(hits) > 0`, projected the struct
  * fields, then exploded `hits` AGAIN — a Generate -> Filter -> Project ->
  * Generate chain whose intermediate rows are all materialized per
  * candidate. The flat form emits exactly the surviving rows from inside
  * the expression, so the plan is ONE Generate feeding the metadata join.
  * ScanJob.run keeps full ScanTurn (it needs the clean rows and the
  * per-candidate stats observer).
  */
case class ScanTurnFlat(child: Expression, dbs: BcHandle[Array[IntelDb]],
    config: ScanConfig)
    extends UnaryExpression with ImplicitCastInputTypes {

  @transient private lazy val scanner = new IocScanner(config)

  // analysis-time input check, like every sibling scan expression: a
  // non-string child must fail analysis, not ClassCastException per task
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ScanTurnFlat.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String =
    s"scan_turn_flat_${dbs.get.map(_.databaseId).mkString("_")}"

  override def nullSafeEval(input: Any): Any =
    ScanTurnFlat.scan(scanner, dbs.get, null, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scannerRef =
      ctx.addReferenceObj("scanner", scanner, classOf[IocScanner].getName)
    // broadcast HANDLES, not the structures: the compiled dbs deserialize
    // once per executor, not once per task (see BcHandle)
    val dbsRef = ctx.addReferenceObj("inteldbs", dbs, "graft.intel.BcHandle")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ScanTurnFlat.scan($scannerRef, " +
        s"(graft.intel.IntelDb[]) $dbsRef.get(), null, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ScanTurnFlat =
    copy(child = newChild)
}

object ScanTurnFlat {
  val elementSchema: StructType = StructType(Seq(
    StructField("indicator_type", StringType, nullable = false),
    StructField("value", StringType, nullable = false),
    StructField("matched_text", StringType, nullable = false),
    StructField("span_start", IntegerType, nullable = false),
    StructField("span_end", IntegerType, nullable = false),
    StructField("db_idx", IntegerType, nullable = false),
    StructField("entry_idx", IntegerType, nullable = false),
    StructField("prefix_len", IntegerType, nullable = false),
    StructField("match_type", StringType, nullable = false)
  ))
  val schema: DataType = ArrayType(elementSchema, containsNull = false)

  private def typeInterned = ExtractIoCs.typeInterned

  private def matchRow(tpe: UTF8String, value: UTF8String,
      matchedText: UTF8String, spanStart: Int, spanEnd: Int, d: Int,
      entryIdx: Int, prefixLen: Int)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val r = new GenericInternalRow(9)
    r.update(0, tpe)
    r.update(1, value)
    r.update(2, matchedText)
    r.update(3, spanStart)
    r.update(4, spanEnd)
    r.update(5, d)
    r.update(6, entryIdx)
    r.update(7, prefixLen)
    r.update(8, IntelLookupMulti.matchType(prefixLen))
    r
  }

  /** Static entry point shared by interpreted eval and generated code.
    * Both pass a null `screen`; the parameter stays for the benchmark's
    * scan-loop probe, which calls this signature. */
  def scan(scanner: IocScanner, dbs: Array[IntelDb], screen: CleanPreScreen,
      text: UTF8String): ArrayData = {
    val len = text.numBytes()
    val scr = ExtractIoCs.tlScratch.get()
    val buf = ExtractIoCs.copyToScratch(scr, text)
    if (screen != null && !screen.mightMatch(buf, len)) return ExtractIoCs.EMPTY
    val iocs = scanner.scanInto(buf, len, scr.iocs, scr.scan)
    val n = iocs.length
    if (n == 0) return ExtractIoCs.EMPTY
    // the turn's flat rows accumulate in the grow-only RowScratch row
    // buffer and are copied to exact size at the end
    var rows = scr.rows
    var nRows = 0
    var i = 0
    while (i < n) {
      val m = iocs(i)
      val end = IntelLookupMulti.probe(dbs, m, scr)
      // the candidate's strings are interned only once it has a hit
      if (end > 0) {
        val tpe = typeInterned.get(m.indicator_type)
        ExtractIoCs.internCandidate(scr, buf, m)
        val hits = scr.hits
        var h = 0
        while (h < end) {
          if (nRows == rows.length) {
            val bigger = new Array[Any](nRows * 2)
            System.arraycopy(rows, 0, bigger, 0, nRows)
            rows = bigger
            scr.rows = rows
          }
          rows(nRows) = matchRow(tpe, scr.valueU8, scr.matchedU8,
            m.span_start, m.span_end, hits(h), hits(h + 1), hits(h + 2))
          nRows += 1
          h += 3
        }
      }
      i += 1
    }
    if (nRows == 0) ExtractIoCs.EMPTY
    else {
      val exact = new Array[Any](nRows)
      System.arraycopy(rows, 0, exact, 0, nRows)
      new GenericArrayData(exact)
    }
  }

  def column(text: Column, dbs: Seq[IntelDb],
      config: ScanConfig = ScanConfig()): Column =
    ExpressionUtils.column(
      ScanTurnFlat(ExpressionUtils.expression(text),
        BcHandle.auto(dbs.toArray), config))
}
