package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass-per-stage WET extraction — the native form of a
  * ten-regexp chain (FunctionsSpec's witness; each regexp_replace
  * re-scans the whole page through the regex engine; this kernel makes
  * four plain character passes). Byte-for-byte the same policy in the
  * same order:
  *
  *  1. drop `(?is)<script[^>]*>.*?</script>` blocks whole — "<script"
  *     case-insensitive (the regex also opens on longer names like
  *     `<scriptx ...>`, replicated), opening tag ends at the FIRST '>',
  *     block ends at the FIRST case-insensitive "</script>"; an
  *     unterminated block does NOT match (kept literally), exactly like
  *     the lazy regex;
  *  2. same for style;
  *  3. strip remaining `<[^>]+>` tags ("<>" does not match) and decode
  *     the six entities in the chain's order (lt, gt, quot, #39, nbsp,
  *     amp) — one ordered left-to-right pass is equivalent to the six
  *     sequential global replaces because no entity contains '&' past
  *     its first byte (different entities can never overlap) and only
  *     the LAST pass (&amp;) emits '&';
  *  4. collapse `\s+` (Java regex: the six ASCII whitespace chars) to
  *     one space and trim spaces.
  *
  * Equality with the Column chain over the corpus and adversarial edges
  * is asserted in FunctionsSpec; the DuckDB oracle keeps replaying the
  * regex chain, so the kernel stays certified end-to-end.
  */
case class HtmlText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"html_text requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    HtmlText.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlText.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlText =
    copy(child = newChild)

  override def prettyName: String = "html_text"
}

object HtmlText {

  private def eqIc(s: String, at: Int, pat: String): Boolean = {
    if (at + pat.length > s.length) return false
    var k = 0
    while (k < pat.length) {
      val c = s.charAt(at + k)
      val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      if (lc != pat.charAt(k)) return false
      k += 1
    }
    true
  }

  /** One block-strip pass: `(?is)<name[^>]*>.*?</name>` → " ". */
  private def stripBlocks(s: String, name: String): String = {
    val close = "</" + name + ">"
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && eqIc(s, i + 1, name)) {
        // opening tag ends at the FIRST '>' (regex [^>]*>)
        var g = i + 1 + name.length
        while (g < n && s.charAt(g) != '>') g += 1
        var matched = false
        if (g < n) {
          // lazy body: first case-insensitive close after the open tag
          var e = g + 1
          while (e + close.length <= n && !eqIc(s, e, close)) e += 1
          if (e + close.length <= n) {
            b.append(' ')
            i = e + close.length
            matched = true
          }
        }
        if (!matched) { b.append(c); i += 1 } // unterminated: keep, move on
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Tag strip + ordered entity decode in one pass. */
  private def tagsAndEntities(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        // <[^>]+> — at least one char before the closing '>'
        var g = i + 1
        while (g < n && s.charAt(g) != '>') g += 1
        if (g < n && g > i + 1) { b.append(' '); i = g + 1 }
        else { b.append(c); i += 1 }
      } else if (c == '&') {
        // chain order: lt, gt, quot, #39, nbsp, amp — exact-literal
        if (eqOrd(s, i, "&lt;")) { b.append('<'); i += 4 }
        else if (eqOrd(s, i, "&gt;")) { b.append('>'); i += 4 }
        else if (eqOrd(s, i, "&quot;")) { b.append('"'); i += 6 }
        else if (eqOrd(s, i, "&#39;")) { b.append('\''); i += 5 }
        else if (eqOrd(s, i, "&nbsp;")) { b.append(' '); i += 6 }
        else if (eqOrd(s, i, "&amp;")) { b.append('&'); i += 5 }
        else { b.append(c); i += 1 }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  private def eqOrd(s: String, at: Int, pat: String): Boolean = {
    if (at + pat.length > s.length) return false
    var k = 0
    while (k < pat.length) {
      if (s.charAt(at + k) != pat.charAt(k)) return false
      k += 1
    }
    true
  }

  /** Java-regex \s (the six ASCII whitespace chars), NOT unicode. */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def collapseTrim(s: String): String = {
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) pendingSpace = true
      else {
        if (pendingSpace && b.length > 0) b.append(' ')
        pendingSpace = false
        b.append(c)
      }
      i += 1
    }
    b.toString // trailing run dropped; leading run never appended
  }

  /** Kernel shared by interpreted eval and generated code. */
  def compute(u: UTF8String): UTF8String = {
    val s0 = u.toString
    val s1 = stripBlocks(s0, "script")
    val s2 = stripBlocks(s1, "style")
    val s3 = tagsAndEntities(s2)
    UTF8String.fromString(collapseTrim(s3))
  }
}
