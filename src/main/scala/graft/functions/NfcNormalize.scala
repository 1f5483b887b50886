package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd expression — the
  * corpus-prep step EVERY multilingual text pipeline runs before
  * tokenization/dedup (the same logical string arrives as either a
  * precomposed code point or a base + combining-mark sequence; without
  * canonical composition, "café" hashes two ways and dedup/exact-match
  * silently misses). Spark ships no builtin for this, so the kernel
  * wraps `java.text.Normalizer` (Unicode TR-15 NFC, a public spec both
  * the JDK and DuckDB's `nfc_normalize` implement — which is what makes
  * the result cross-engine certifiable).
  *
  * Scale shape: per-row scan-local projection; the `isNormalized` fast
  * path makes the dominant case (already-NFC ASCII web text) a single
  * quick-check pass with NO reallocation, so the kernel adds ~nothing
  * to a scan over clean corpora and pays only on rows that actually
  * carry decomposed sequences.
  *
  * No Column form exists (Spark has no normalization
  * primitive to compose from); the equality witness in FunctionsSpec
  * calls the JVM normalizer directly on the corpus instead.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** Kernel shared by interpreted eval and generated code. */
  def compute(u: UTF8String): UTF8String = {
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }
}

/** NFKC compatibility normalization + simple case folding (r14) — the
  * aggressive text-canonicalization step crawl dedup runs when
  * composition-only NFC is not enough: real crawls carry the SAME
  * logical string as fullwidth forms (Ｗ→W), ligatures (ﬁ→fi),
  * superscripts (²→2), and case variants, and raw-byte (or even
  * NFC-keyed) dedup keeps every spelling. The kernel is the
  * NFKC_Casefold shape from Unicode TR-44 §5.7.4 approximated with
  * public JDK machinery: NFKC (java.text.Normalizer, TR-15), then
  * per-code-point SIMPLE case fold via the JDK case tables
  * (`Character.toLowerCase(Character.toUpperCase(cp))` — the
  * round-trip folds cased letters without the locale pitfalls of
  * String.toLowerCase; one-to-many FULL foldings like ß→ss are out of
  * scope, as in every simple-fold implementation), then NFKC again
  * because folding can denormalize. Deterministic, engine-independent
  * of any locale.
  *
  * Scale shape: scan-local projection. The fast path skips all three
  * passes for the dominant case — ASCII text with no uppercase letters
  * is NFKC_CF-inert, detected in one byte scan with zero allocation.
  *
  * DuckDB's normalization surface is NFC-only, so certification uses
  * the exact-columns device: FunctionsSpec pins the kernel on planted
  * compatibility/case constants, and the dd_exact_nfkc oracle replays
  * the grouping with `lower()` over the ASCII corpus plus the KNOWN
  * folded form of the planted suffix (ASCII simple fold ≡ lower()).
  */
case class NfkcCasefold(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfkc_casefold requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    NfkcCasefold.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfkcCasefold.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): NfkcCasefold =
    copy(child = newChild)

  override def prettyName: String = "nfkc_casefold"
}

object NfkcCasefold {
  import java.text.Normalizer

  /** Kernel shared by interpreted eval and generated code. */
  def compute(u: UTF8String): UTF8String = {
    // fast path: ASCII with no uppercase letters is a fixed point of
    // NFKC + simple fold — one byte scan, zero allocation
    val n = u.numBytes
    var i = 0
    var inert = true
    while (inert && i < n) {
      val b = u.getByte(i) & 0xff
      if (b >= 0x80 || (b >= 'A' && b <= 'Z')) inert = false
      i += 1
    }
    if (inert) return u
    val nfkc = Normalizer.normalize(u.toString, Normalizer.Form.NFKC)
    val sb = new java.lang.StringBuilder(nfkc.length)
    var j = 0
    while (j < nfkc.length) {
      val cp = nfkc.codePointAt(j)
      sb.appendCodePoint(Character.toLowerCase(Character.toUpperCase(cp)))
      j += Character.charCount(cp)
    }
    val folded = sb.toString
    val out =
      if (Normalizer.isNormalized(folded, Normalizer.Form.NFKC)) folded
      else Normalizer.normalize(folded, Normalizer.Form.NFKC)
    UTF8String.fromString(out)
  }
}
