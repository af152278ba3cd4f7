package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: polynomial rolling hash over a string's
  * byte stream, `acc = (acc * base + byte) % mod`, in one fused codegen'd
  * loop.
  *
  * Two modes:
  *  - `padTo > 0`: fold exactly `padTo` positions — bytes beyond the
  *    string's length read as 0x20 (space), longer strings truncate. This
  *    is bit-equal to the `rpad(s, padTo, ' ')` + per-position
  *    substr/ascii/pmod chain it replaces (SimHash's token hash), which
  *    was codegen'd but 2×16 expression nodes per token.
  *  - `padTo < 0`: fold the whole string (the content fingerprint /
  *    multimodal checksum fold).
  *
  * ASCII contract: the fold reads BYTES; `ascii()`/`charAt` semantics
  * coincide on the ASCII corpus (documented in SURVEY §5), and the DuckDB
  * oracles spell the identical arithmetic, so hash parity holds
  * end-to-end. Null propagates (UnaryExpression null handling).
  */
case class PolyCharHash(child: Expression, base: Long, mod: Long, padTo: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = child.nullable

  override def prettyName: String = "poly_char_hash"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string argument, got ${other.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    PolyCharHash.fold(input.asInstanceOf[UTF8String], base, mod, padTo)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyCharHash.fold($c, ${base}L, ${mod}L, $padTo)")

  override protected def withNewChildInternal(
      newChild: Expression): PolyCharHash = copy(child = newChild)
}

/** The fold, plus the token hash SimHash (`Dedup`) and the feature hash
  * (`TextAnalysis`) share. It lives here because this object refers to
  * no other engine object: when two object initializers reach each
  * other, threads that touch them first at the same time deadlock.
  */
object PolyCharHash {

  private[graft] val TokLen = 16
  private[graft] val PA     = 1000000007L

  /** Portable 30-bit polynomial character hash of a token (right-padded /
    * truncated to [[TokLen]] chars) — the same left fold DuckDB writes as
    * nested arithmetic, so the whole signature is oracle-checkable
    * (xxhash64 is not): one fused codegen'd loop per token instead of
    * the 2×16 substr/ascii/pmod expression nodes the first version
    * generated.
    */
  private[graft] def polyHash(tok: Column, base: Long, p: Long): Column =
    ColumnBridge.column(
      PolyCharHash(ColumnBridge.expression(tok), base, p, TokLen))

  /** [[polyHash]] as SQL text, for the DuckDB oracles. */
  private[graft] def polyHashSql(tok: String, base: Long, p: Long): String = {
    val padded = s"rpad($tok, $TokLen, ' ')"
    (1 to TokLen).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
      s"(($acc * $base + ascii(substr($padded, $i, 1))) % $p)"
    }
  }

  /** Static fold shared by codegen and any Scala-side caller; the JIT
    * inlines this tight loop (one call per row beats 32+ generated
    * expression nodes both in code size and in compile time).
    */
  def fold(s: UTF8String, base: Long, mod: Long, padTo: Int): Long = {
    val nb    = s.numBytes()
    val limit = if (padTo < 0) nb else padTo
    var acc = 0L
    var i   = 0
    while (i < limit) {
      val c = if (i < nb) (s.getByte(i) & 0xff).toLong else 32L
      acc = (acc * base + c) % mod
      i += 1
    }
    acc
  }
}
