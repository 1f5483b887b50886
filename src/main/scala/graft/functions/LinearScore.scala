package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass hashed-linear text classifier scoring:
  * struct(n_tokens, score_milli) in ONE scan over the document bytes —
  * the model-based quality-filter stage (fastText / CCNet / DCLM-style:
  * a linear model over hashed token features decides keep/drop). Each
  * token hashes to one of `buckets` feature slots (hashing trick) whose
  * integer milli-unit weight is summed; a document's mean token weight
  * against a threshold is the keep decision, applied downstream as pure
  * integer arithmetic ([[TextFunctions.classifierScore]]).
  *
  * The weight table is FROZEN and functional: slot j carries
  * `((j * 2654435761 + 104729) mod 2001) - 1000` milli-units — a
  * deterministic stand-in for offline-trained weights (training is an
  * offline concern; the engine's job is the at-scale scoring scan), and
  * a pure function both of this kernel, the Column witness, and the
  * DuckDB oracle replay, so the score is bit-identical cross-engine with
  * no model artifact to ship. Tokenization and per-token XXH64 are
  * byte-exact with [[ShingleHashes.tokenHashArray]] (lowercase → `\W+`
  * word runs → `xxhash64(token)`).
  */
case class LinearScore(child: Expression, buckets: Int) extends UnaryExpression {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")

  override def dataType: DataType = LinearScore.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"linear_score requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    LinearScore.compute(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LinearScore.compute($c, $buckets)")

  override protected def withNewChildInternal(newChild: Expression): LinearScore =
    copy(child = newChild)

  override def prettyName: String = "linear_score"
}

object LinearScore {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("score_milli", LongType, nullable = false)))

  /** Milli-unit weight of the feature slot a token hash lands in.
    * `bucket ∈ [0, buckets)` keeps every intermediate well inside a
    * signed 64-bit long for any sane bucket count (< 2^41), so the same
    * expression replays in Spark SQL and DuckDB BIGINT arithmetic.
    */
  def weight(tokenHash: Long, buckets: Int): Long = {
    val bucket = ((tokenHash % buckets) + buckets) % buckets
    (bucket * 2654435761L + 104729L) % 2001L - 1000L
  }

  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** Kernel shared by interpreted eval and generated code: one pass over
    * the lowercased bytes, XXH64 per word run (exactly
    * [[ShingleHashes.tokenHashArray]]'s tokenizer), weight accumulated
    * in place — no intermediate arrays at all.
    */
  def compute(text: UTF8String, buckets: Int): InternalRow = {
    val lower = text.toLowerCase
    val base = lower.getBaseObject
    val offset = lower.getBaseOffset
    val n = lower.numBytes()
    def byteAt(i: Int): Byte =
      org.apache.spark.unsafe.Platform.getByte(base, offset + i)

    var nTokens = 0
    var score = 0L
    var i = 0
    while (i < n) {
      while (i < n && !isWordByte(byteAt(i))) i += 1
      val start = i
      while (i < n && isWordByte(byteAt(i))) i += 1
      if (i > start) {
        nTokens += 1
        score += weight(XXH64.hashUnsafeBytes(base, offset + start, i - start, 42L), buckets)
      }
    }
    new GenericInternalRow(Array[Any](nTokens, score))
  }
}
