package graft

import graft.extract.ScanConfig
import graft.functions.{ExtractIoCs, GrokParse, RedactIoCs, RefangText}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.StringType

/** `spark.sql.extensions`-injectable registration of the engine's SQL
  * functions — the zero-code spark-submit path:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * spark.sql("SELECT extract_iocs(text) FROM turns")
  * }}}
  *
  * Registers the broadcast-free scalar expressions (`extract_iocs`,
  * `redact_iocs`, `refang_text`, `grok_parse`) as permanent built-ins on
  * every session built with the extension. The broadcast-backed expressions
  * (`scan_turn`, `intel_lookup_multi`) need a compiled `IntelDb` handle and
  * so stay Column-API / `GraftFunctions.register`-only by design.
  *
  * Complements [[graft.functions.GraftFunctions.register]], which installs
  * the same functions as session temp functions from code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.descriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage,
      "", "", "", "string_funcs", "", "", "built-in")

  /** Arity check at ANALYSIS time: `SELECT extract_iocs()` must be a clean
    * analysis-phase error naming the function and expected arity, not a
    * NoSuchElementException from `exprs.head` — and extra arguments must be
    * rejected, not silently ignored.
    */
  private def one(name: String)(
      build: Expression => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != 1)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> "1",
            "actualNum" -> exprs.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(exprs.head)
    }

  private def wrongArgs(name: String, expected: String, actual: Int) =
    new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> expected,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  /** `grok_parse(text, pattern)` — the pattern must be a foldable string
    * (it compiles ONCE at analysis; a per-row pattern would mean a regex
    * compile per row). A bad grok pattern surfaces as an analysis error
    * via GrokParse's constructor-time compile.
    */
  private val grokBuilder: Seq[Expression] => Expression = exprs => {
    if (exprs.length != 2) throw wrongArgs("grok_parse", "2", exprs.length)
    val patExpr = exprs(1)
    if (!patExpr.foldable)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map(
          "funcName" -> "`grok_parse`",
          "paramName" -> "`pattern`",
          "paramType" -> "\"STRING\""))
    // a foldable non-string (grok_parse(x, 42)) is a TYPE error, not a
    // foldability error — report it as one (review find)
    if (patExpr.dataType != StringType)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        messageParameters = Map(
          "sqlExpr" -> "\"grok_parse\"",
          "paramIndex" -> "second",
          "requiredType" -> "\"STRING\"",
          "inputSql" -> s"\"${patExpr.sql}\"",
          "inputType" -> s"\"${patExpr.dataType.sql}\""))
    val pat = patExpr.eval()
    if (pat == null)
      throw new IllegalArgumentException("grok_parse pattern must not be NULL")
    GrokParse(exprs.head, pat.toString)
  }

  /** (identifier, info, builder) triples shared by the extension. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("extract_iocs"),
      info("extract_iocs",
        "_FUNC_(text) - single-pass IoC extraction; returns array<struct<indicator_type,value,matched_text,span_start,span_end>>."),
      one("extract_iocs")(ExtractIoCs(_, ScanConfig()))),
    (FunctionIdentifier("redact_iocs"),
      info("redact_iocs",
        "_FUNC_(text) - replace extracted IoCs/PII with typed placeholders."),
      one("redact_iocs")(RedactIoCs(_, ScanConfig()))),
    (FunctionIdentifier("refang_text"),
      info("refang_text",
        "_FUNC_(text) - normalize defanged indicator forms (hxxp, [.], (at), ...)."),
      one("refang_text")(RefangText(_))),
    (FunctionIdentifier("grok_parse"),
      info("grok_parse",
        "_FUNC_(text, pattern) - one-match grok parse; returns array<string> of the pattern's fields in order, NULL when the line does not match."),
      grokBuilder)
  )
}
