package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass language-ID: per-language marker-token hit counts plus the
  * argmax prediction in one scan over the document bytes, over
  * [[TextFunctions.langMarkers]]: every token occurrence matching
  * a language's marker lexicon counts, the winner is the FIRST language
  * in alphabetical order (de, en, es, fr, zh) achieving the strict
  * maximum, and "und" when nothing matches. Instead of five filter-HOF
  * chains that each re-tokenize the document (FunctionsSpec's witness),
  * each word run packs into one long and probes five tiny static
  * tables.
  */
case class LangScores(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LangScores.schema

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lang_scores requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    LangScores.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangScores.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): LangScores =
    copy(child = newChild)

  override def prettyName: String = "lang_scores"
}

object LangScores {

  val schema: StructType = StructType(Seq(
    StructField("s_de", IntegerType, nullable = false),
    StructField("s_en", IntegerType, nullable = false),
    StructField("s_es", IntegerType, nullable = false),
    StructField("s_fr", IntegerType, nullable = false),
    StructField("s_zh", IntegerType, nullable = false),
    StructField("lang_pred", StringType, nullable = false)))

  // langs in the alphabetical tie-break order the Column form uses
  private val langs: Array[String] = Array("de", "en", "es", "fr", "zh")
  private val langNames: Array[UTF8String] = langs.map(UTF8String.fromString)
  private val und = UTF8String.fromString("und")

  /** Marker tokens packed as longs (≤ 8 lowercase ASCII bytes,
    * little-position packing) — one table per language, probed linearly
    * (6 entries each).
    */
  private val markerKeys: Array[Array[Long]] =
    langs.map(l => TextFunctions.langMarkers(l).map(packed).sorted.toArray)

  private def packed(tok: String): Long = {
    require(tok.length <= 8 && tok.forall(c => c < 128), s"marker must be short ASCII: $tok")
    tok.getBytes.zipWithIndex.foldLeft(0L) { case (acc, (b, i)) => acc | ((b & 0xFFL) << (8 * i)) }
  }

  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** Kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String): InternalRow = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    def byteAt(i: Int): Byte = org.apache.spark.unsafe.Platform.getByte(base, off + i)

    val scores = new Array[Int](5)
    var wordStart = -1
    var i = 0
    while (i <= n) {
      val word = i < n && isWordByte(byteAt(i))
      if (word && wordStart < 0) wordStart = i
      else if (!word && wordStart >= 0) {
        val len = i - wordStart
        if (len <= 8) {
          // pack the case-folded run; word runs are pure ASCII
          var key = 0L
          var j = 0
          while (j < len) {
            var b = byteAt(wordStart + j) & 0xFF
            if (b >= 'A' && b <= 'Z') b |= 0x20
            key |= b.toLong << (8 * j)
            j += 1
          }
          var l = 0
          while (l < 5) {
            val keys = markerKeys(l)
            var k = 0
            while (k < keys.length) {
              if (keys(k) == key) { scores(l) += 1; k = keys.length }
              else k += 1
            }
            l += 1
          }
        }
        wordStart = -1
      }
      i += 1
    }

    // first alphabetical language with the strict maximum; "und" if none hit
    var best = -1
    var bestLang = und
    var l = 0
    while (l < 5) {
      if (scores(l) > best) { best = scores(l); bestLang = langNames(l) }
      l += 1
    }
    val pred = if (best > 0) bestLang else und
    new GenericInternalRow(Array[Any](
      scores(0), scores(1), scores(2), scores(3), scores(4), pred))
  }
}
