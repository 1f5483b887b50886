package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass cross-modal consistency scoring:
  * struct(n_tokens, score) in ONE scan over the document bytes plus an
  * O(64·dim) integer fold over the image-fingerprint bits — the
  * [[LinearScore]] device extended to two towers (r14). The Column-HOF
  * form materializes the token-hash array and walks it once per text
  * dimension (dim aggregate() passes); this kernel tokenizes once
  * ([[ShingleHashes.tokenHashArray]]'s tokenizer, byte-exact) and
  * accumulates all `dim` text components in the same pass, allocation
  * limited to two dim-length long arrays per row.
  *
  * Weight rules are the frozen functional pair the oracle replays in
  * BIGINT: text slot x carries `(x·2654435761 + 104729) mod 2001 − 1000`
  * (LinearScore's rule over slot = bucket·dim + d) and image slot x the
  * decorrelated `(x·2654435761 + 224737) mod 2001 − 1000`
  * ([[graft.multimodal.Multimodal.crossModalImageWeight]]); the score
  * is the Σ_d t[d]·i[d] dot product. Bit-identical with the Column
  * form FunctionsSpec keeps as its witness (equality pinned on edges and
  * the corpus).
  */
case class CrossModalScore(text: Expression, hi: Expression, lo: Expression,
                           buckets: Int, dim: Int) extends TernaryExpression {
  require(buckets >= 1, s"buckets must be >= 1, got $buckets")
  require(dim >= 1 && dim <= 64, s"dim must be in [1, 64], got $dim")

  override def first: Expression = text
  override def second: Expression = hi
  override def third: Expression = lo

  override def dataType: DataType = CrossModalScore.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (!text.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(
        s"cross_modal_score requires a string text argument, got ${text.dataType.catalogString}")
    else if (hi.dataType != LongType || lo.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"cross_modal_score requires bigint fingerprint halves, got " +
          s"${hi.dataType.catalogString}/${lo.dataType.catalogString}")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(t: Any, h: Any, l: Any): Any =
    CrossModalScore.compute(t.asInstanceOf[UTF8String],
      h.asInstanceOf[Long], l.asInstanceOf[Long], buckets, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, h, l) =>
      s"graft.functions.CrossModalScore.compute($t, $h, $l, $buckets, $dim)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CrossModalScore =
    copy(text = newFirst, hi = newSecond, lo = newThird)

  override def prettyName: String = "cross_modal_score"
}

object CrossModalScore {

  val schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("score", LongType, nullable = false)))

  private def textWeight(slot: Long): Long =
    (slot * 2654435761L + 104729L) % 2001L - 1000L

  /** Image-tower weight rule — [[graft.multimodal.Multimodal
    * .crossModalImageWeight]] delegates here so the kernel stays
    * dependency-free of the codec package.
    */
  def imageWeight(slot: Long): Long =
    (slot * 2654435761L + 224737L) % 2001L - 1000L

  /** Kernel shared by interpreted eval and generated code. Tokenization
    * rides [[ShingleHashes.foreachTokenHash]] — the library's single
    * tokenizer+seed definition — so this kernel, the Column witness
    * and the DuckDB oracle can never silently fork (review r14).
    */
  def compute(text: UTF8String, hi: Long, lo: Long, buckets: Int, dim: Int): InternalRow = {
    val tv = new Array[Long](dim)
    var nTokens = 0
    ShingleHashes.foreachTokenHash(text) { h =>
      nTokens += 1
      val bkt = ((h % buckets) + buckets) % buckets
      val slot0 = bkt * dim
      var dd = 0
      while (dd < dim) { tv(dd) += textWeight(slot0 + dd); dd += 1 }
    }
    val iv = new Array[Long](dim)
    var b = 0
    while (b < 64) {
      val bit = if (b < 32) (lo >>> b) & 1L else (hi >>> (b - 32)) & 1L
      if (bit != 0L) {
        var dd = 0
        while (dd < dim) { iv(dd) += imageWeight(b.toLong * dim + dd); dd += 1 }
      }
      b += 1
    }
    var score = 0L
    var dd = 0
    while (dd < dim) { score += tv(dd) * iv(dd); dd += 1 }
    new GenericInternalRow(Array[Any](nTokens, score))
  }
}
