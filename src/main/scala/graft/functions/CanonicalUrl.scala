package graft.functions

import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass URL canonicalization — the native form of a ten-regex
  * chain (FunctionsSpec's witness; each regexp_replace
  * re-scans the string through the regex engine; this kernel makes a
  * handful of character passes with no backtracking machinery).
  * Byte-for-byte the same policy, in the same order:
  * fragment drop → scheme/host fold + default-port strip → utm_* removal
  * with separator repair → trailing-slash strip. Equality with the
  * Column chain over the corpus and adversarial edges is asserted in
  * FunctionsSpec — including the degenerate non-URL case, where the
  * chain's empty regexp_extracts canonicalize to "://".
  */
case class CanonicalUrl(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"canonical_url requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    CanonicalUrl.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CanonicalUrl.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CanonicalUrl =
    copy(child = newChild)

  override def prettyName: String = "canonical_url"
}

object CanonicalUrl {

  private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'

  /** Kernel shared by interpreted eval and generated code. */
  def compute(u: UTF8String): UTF8String = {
    val s0 = u.toString
    // 1. drop the fragment
    val hashIdx = s0.indexOf('#')
    val s = if (hashIdx >= 0) s0.substring(0, hashIdx) else s0
    val n = s.length

    // 2. scheme ^[A-Za-z][A-Za-z0-9+.-]*:// — when the shape doesn't
    // match, every regexp_extract in the Column chain returns "" and the
    // concat degenerates to "://"; replicate that exactly
    var i = 0
    var ok = false
    if (n > 0 && isAlpha(s.charAt(0))) {
      i = 1
      while (i < n && isSchemeChar(s.charAt(i))) i += 1
      ok = i + 2 < n && s.charAt(i) == ':' && s.charAt(i + 1) == '/' && s.charAt(i + 2) == '/'
    }
    if (!ok) return UTF8String.fromString("://")
    val scheme = s.substring(0, i).toLowerCase(Locale.ROOT)

    // authority [^/?#]+ (empty → hostport "" like the failed extract)
    val as = i + 3
    var j = as
    while (j < n && { val c = s.charAt(j); c != '/' && c != '?' && c != '#' }) j += 1
    var hostport = if (j > as) s.substring(as, j).toLowerCase(Locale.ROOT) else ""
    if (scheme == "https" && hostport.endsWith(":443"))
      hostport = hostport.substring(0, hostport.length - 4)
    else if (scheme == "http" && hostport.endsWith(":80"))
      hostport = hostport.substring(0, hostport.length - 3)

    val rest0 = s.substring(j)

    // 3a. ([?&])utm_[A-Za-z_]+=[^&]*  →  $1   (left-to-right, resume
    // after each match — the name class has no digits, so utm_source2=
    // does NOT match, exactly like the regex)
    val r1 = new java.lang.StringBuilder(rest0.length)
    var k = 0
    while (k < rest0.length) {
      val c = rest0.charAt(k)
      var consumed = false
      if ((c == '?' || c == '&') && rest0.startsWith("utm_", k + 1)) {
        var p = k + 5
        while (p < rest0.length && { val d = rest0.charAt(p); isAlpha(d) || d == '_' }) p += 1
        if (p > k + 5 && p < rest0.length && rest0.charAt(p) == '=') {
          var q = p + 1
          while (q < rest0.length && rest0.charAt(q) != '&') q += 1
          r1.append(c)
          k = q
          consumed = true
        }
      }
      if (!consumed) { r1.append(c); k += 1 }
    }

    // 3b. && runs → &
    val r2 = new java.lang.StringBuilder(r1.length)
    k = 0
    while (k < r1.length) {
      val c = r1.charAt(k)
      r2.append(c)
      if (c == '&') { while (k + 1 < r1.length && r1.charAt(k + 1) == '&') k += 1 }
      k += 1
    }
    // 3c. ?& → ?
    val r3 = new java.lang.StringBuilder(r2.length)
    k = 0
    while (k < r2.length) {
      val c = r2.charAt(k)
      r3.append(c)
      if (c == '?' && k + 1 < r2.length && r2.charAt(k + 1) == '&') k += 1
      k += 1
    }
    // 3d. trailing [?&]+ strip
    var end = r3.length
    while (end > 0 && { val c = r3.charAt(end - 1); c == '?' || c == '&' }) end -= 1
    r3.setLength(end)

    // 4. /? → ? and trailing / strip
    val r4 = new java.lang.StringBuilder(r3.length)
    k = 0
    while (k < r3.length) {
      val c = r3.charAt(k)
      if (!(c == '/' && k + 1 < r3.length && r3.charAt(k + 1) == '?')) r4.append(c)
      k += 1
    }
    if (r4.length > 0 && r4.charAt(r4.length - 1) == '/') r4.setLength(r4.length - 1)

    UTF8String.fromString(scheme + "://" + hostport + r4.toString)
  }
}
