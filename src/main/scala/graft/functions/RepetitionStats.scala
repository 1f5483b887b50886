package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass repetition statistics: struct(dup2_ratio, dup3_ratio,
  * top_tok_frac, n_tokens) per document — the Gopher-rules repetition
  * signals computed in ONE scan with zero shuffles.
  *
  * A Column form (FunctionsSpec's equality witness) needs an
  * explode → two-level aggregation → doc-key join to get the top-token
  * share without an O(tokens²) HOF; per row that is three array
  * materializations plus two corpus shuffles. This kernel tokenizes once
  * (the [[ShingleHashes]] byte scanner), sorts the token-hash array for
  * the max run (top token) and the combined-gram arrays for distinct
  * counts — O(t log t) per document, inside whole-stage codegen,
  * embarrassingly parallel at any corpus size.
  *
  * Distinctness is over 64-bit token/gram hashes rather than strings:
  * identical to string distinctness except under an XXH64 collision
  * inside one document (probability ~t²/2⁶⁵ — negligible; asserted equal
  * to the string-based Column form over the corpus in FunctionsSpec).
  * Ratios are rounded HALF_UP at 4dp exactly like `round(col, 4)`.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionStats.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"repetition_stats requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStats.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)

  override def prettyName: String = "repetition_stats"
}

object RepetitionStats {

  val schema: StructType = StructType(Seq(
    StructField("dup2_ratio", DoubleType, nullable = false),
    StructField("dup3_ratio", DoubleType, nullable = false),
    StructField("top_tok_frac", DoubleType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false)))

  private final val Seed = 42L

  /** Kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String): InternalRow = {
    val toks = ShingleHashes.tokenHashArray(text)
    val n = toks.length
    val dup2 = dupRatio(toks, 2)
    val dup3 = dupRatio(toks, 3)
    val top =
      if (n == 0) 0.0 // callers filter n_tokens > 0 (the agg form has no row at all)
      else {
        val sorted = toks.clone()
        java.util.Arrays.sort(sorted)
        var maxRun = 1
        var run = 1
        var i = 1
        while (i < n) {
          if (sorted(i) == sorted(i - 1)) { run += 1; if (run > maxRun) maxRun = run }
          else run = 1
          i += 1
        }
        round4(maxRun.toDouble / n.toDouble)
      }
    new GenericInternalRow(Array[Any](dup2, dup3, top, n))
  }

  /** 1 − distinct/total over k-gram hashes (running XXH64 over k token
    * hashes — the [[ShingleHashes]] combination); documents shorter than
    * k fall back to their token hashes, duplicates preserved, exactly
    * like [[TextFunctions.wordNgrams]].
    */
  private def dupRatio(toks: Array[Long], k: Int): Double = {
    val n = toks.length
    val grams: Array[Long] =
      if (n >= k) {
        val out = new Array[Long](n - k + 1)
        var g = 0
        while (g <= n - k) {
          var h = Seed
          var j = 0
          while (j < k) { h = XXH64.hashLong(toks(g + j), h); j += 1 }
          out(g) = h
          g += 1
        }
        out
      } else toks.clone()
    val cnt = grams.length
    if (cnt == 0) return 1.0 // matches round(1 - 0/greatest(0,1), 4)
    java.util.Arrays.sort(grams)
    var distinct = 1
    var i = 1
    while (i < cnt) {
      if (grams(i) != grams(i - 1)) distinct += 1
      i += 1
    }
    round4(1.0 - distinct.toDouble / cnt.toDouble)
  }

  /** Exactly Spark's `round(col, 4)`: BigDecimal HALF_UP on the double. */
  private def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
}
