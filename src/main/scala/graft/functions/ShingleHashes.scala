package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass word-shingle hashing: lowercase → tokenize (maximal runs of
  * `[0-9A-Za-z_]` bytes — byte-exact with Java regex `\W+` splitting,
  * since every multi-byte UTF-8 sequence is non-word either way) → XXH64
  * per token → k-gram combine (running XXH64 over the k token hashes,
  * exactly Spark's multi-argument `xxhash64`) → first-occurrence-ordered
  * distinct. Documents with fewer than k tokens emit their distinct token
  * hashes instead, so they still participate in dedup.
  *
  * This is the MinHash pipeline's scan kernel: the equivalent Column form
  * (FunctionsSpec's witness) chains split + filter + two
  * transforms + arrays_zip + k slices; this expression does one pass over
  * the document bytes with zero intermediate arrays of strings, and
  * `doGenCode` keeps it inside whole-stage codegen. Bit-exact equality
  * with the Column form is asserted in FunctionsSpec over the corpus.
  *
  * Capability beyond the reference (its dedup surface is absent); the
  * shingling construction is the standard MinHash preprocessing step.
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "shingle_hashes"
}

/** All token hashes in document order, duplicates preserved — the SimHash
  * scan kernel (bit-exact with `transform(tokens(text), xxhash64)`); same
  * single-pass tokenizer as [[ShingleHashes]]. SQL: `token_hashes(text)`.
  */
case class TokenHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_hashes requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(ShingleHashes.tokenHashArray(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.ShingleHashes.tokenHashArray($c))")

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)

  override def prettyName: String = "token_hashes"
}

/** PER-POSITION k-gram hashes, duplicates preserved, document order —
  * one entry per gram start (empty for docs shorter than k tokens):
  * the span-removal scan kernel ([[graft.dedup.Dedup.spanRemove]] needs
  * every occurrence's position, where [[ShingleHashes]] dedups for set
  * semantics). Same single-pass tokenizer and running-XXH64 combine.
  * SQL: `gram_hashes(text, k)`.
  */
case class GramHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"gram size must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"gram_hashes requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(ShingleHashes.gramHashArray(input.asInstanceOf[UTF8String], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.ShingleHashes.gramHashArray($c, $k))")

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)

  override def prettyName: String = "gram_hashes"
}

object ShingleHashes {

  /** The library's single token-hash seed (Spark's `xxhash64` default).
    * Public so sibling kernels ([[CrossModalScore]]) derive from the
    * one constant instead of restating it (review r14).
    */
  final val Seed = 42L

  private def isWordByte(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_'

  /** THE tokenizer seam: one pass over the lowercased bytes, `f` called
    * with each maximal word-byte run's XXH64 in document order,
    * duplicates preserved (exactly Spark's `xxhash64` over each
    * `\W+`-split token). [[tokenHashArray]] and the cross-modal kernel
    * both build on this single definition, so the tokenizer can never
    * silently fork (review r14: CrossModalScore had copy-pasted the
    * loop and restated the seed).
    */
  def foreachTokenHash(text: UTF8String)(f: Long => Unit): Unit = {
    val lower = text.toLowerCase
    val base = lower.getBaseObject
    val offset = lower.getBaseOffset
    val n = lower.numBytes()
    // classify via Platform.getByte on the backing memory — the same
    // access hashUnsafeBytes uses — so the scan allocates nothing per row
    def byteAt(i: Int): Byte =
      org.apache.spark.unsafe.Platform.getByte(base, offset + i)
    var i = 0
    while (i < n) {
      while (i < n && !isWordByte(byteAt(i))) i += 1
      val start = i
      while (i < n && isWordByte(byteAt(i))) i += 1
      if (i > start) f(XXH64.hashUnsafeBytes(base, offset + start, i - start, Seed))
    }
  }

  /** One-pass tokenizer materialized to an array (see [[foreachTokenHash]]). */
  def tokenHashArray(text: UTF8String): Array[Long] = {
    var tokenHashes = new Array[Long](math.max(8, math.min(text.numBytes() / 4 + 1, 1 << 16)))
    var nTokens = 0
    foreachTokenHash(text) { h =>
      if (nTokens == tokenHashes.length) {
        val grown = new Array[Long](tokenHashes.length * 2)
        System.arraycopy(tokenHashes, 0, grown, 0, nTokens)
        tokenHashes = grown
      }
      tokenHashes(nTokens) = h
      nTokens += 1
    }
    if (nTokens == tokenHashes.length) tokenHashes
    else java.util.Arrays.copyOf(tokenHashes, nTokens)
  }

  /** Per-position gram hashes for [[GramHashes]]: gram g covers token
    * hashes [g, g+k), combined with the same running XXH64 as
    * [[compute]] — but every position kept, in order, no fallback.
    */
  def gramHashArray(text: UTF8String, k: Int): Array[Long] = {
    val tokenHashes = tokenHashArray(text)
    val nTokens = tokenHashes.length
    if (nTokens < k) return Array.emptyLongArray
    val out = new Array[Long](nTokens - k + 1)
    var g = 0
    while (g <= nTokens - k) {
      var h = Seed
      var j = 0
      while (j < k) {
        h = XXH64.hashLong(tokenHashes(g + j), h)
        j += 1
      }
      out(g) = h
      g += 1
    }
    out
  }

  /** Kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val tokenHashes = tokenHashArray(text)
    val nTokens = tokenHashes.length

    // gram hashes: running XXH64 over k consecutive token hashes — exactly
    // Spark's multi-arg xxhash64(h0, ..., h_{k-1})
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (nTokens >= k) {
      var g = 0
      while (g <= nTokens - k) {
        var h = Seed
        var j = 0
        while (j < k) {
          h = XXH64.hashLong(tokenHashes(g + j), h)
          j += 1
        }
        out.add(h)
        g += 1
      }
    } else {
      var t = 0
      while (t < nTokens) {
        out.add(tokenHashes(t))
        t += 1
      }
    }
    val result = new Array[Long](out.size)
    val it = out.iterator()
    var r = 0
    while (it.hasNext) {
      result(r) = it.next()
      r += 1
    }
    new GenericArrayData(result)
  }
}
