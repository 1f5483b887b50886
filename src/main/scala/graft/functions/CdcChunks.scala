package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking: split a document after every position whose
  * trailing `k`-codepoint window hash — the fold `(31·h + codepoint)
  * mod 2^48`, seeded 0 — is ≡ 0 (mod `divisor`). Emits the chunk strings
  * in order, INCLUDING a possibly-empty final chunk when a boundary lands
  * on the last position (so downstream posexplode indexes match the
  * Column form exactly); documents shorter than the window are one
  * chunk.
  *
  * This is [[graft.dedup.Dedup.chunkDedup]]'s scan kernel. The
  * semantically-identical Column form (filter + aggregate higher-order
  * functions) evaluates INTERPRETED — Spark's lambda functions don't
  * codegen — at ~4 ms/doc on the corpus; this expression does the same
  * O(n·k) work as one compiled loop inside whole-stage codegen (k = 8 →
  * a few ns per position). Bit-exact equality with the Column form is
  * asserted in FunctionsSpec; the DuckDB oracle replays the same fold in
  * plain BIGINT arithmetic (2^48 keeps every intermediate in signed-64
  * range).
  *
  * Codepoint-based end to end (`String.codePoints`), matching Spark's
  * `substr`/`length`/`ascii` character semantics — consistent beyond
  * ASCII too.
  */
case class CdcChunks(child: Expression, k: Int, divisor: Int) extends UnaryExpression {
  require(k >= 1, s"window must be >= 1 codepoint, got $k")
  require(divisor >= 2, s"divisor must be >= 2, got $divisor")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    CdcChunks.compute(input.asInstanceOf[UTF8String], k, divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CdcChunks.compute($c, $k, $divisor)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)

  override def prettyName: String = "cdc_chunks"
}

object CdcChunks {
  private val Mask = (1L << 48) - 1L

  def compute(s: UTF8String, k: Int, divisor: Int): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val n = cps.length
    val chunks = new java.util.ArrayList[UTF8String]()
    var prev = 0
    var i = k
    while (i <= n) {
      // window [i-k, i) — the exact fold the Column/oracle forms compute:
      // every intermediate is non-negative and < 2^53, so the & mask IS
      // the mod
      var h = 0L
      var j = i - k
      while (j < i) { h = (31L * h + cps(j)) & Mask; j += 1 }
      if (h % divisor == 0) {
        chunks.add(UTF8String.fromString(new String(cps, prev, i - prev)))
        prev = i
      }
      i += 1
    }
    // final span — possibly empty when a boundary landed at n (kept so
    // posexplode indexes match the Column form); the whole doc when n < k
    chunks.add(UTF8String.fromString(new String(cps, prev, n - prev)))
    new GenericArrayData(chunks.toArray)
  }
}
