package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature as a PER-ROW expression: the signature is a pure
  * function of one document's shingle set, so an explode + groupBy
  * aggregation — a full hash exchange of every shingle-bearing row, paid
  * once per consumer — is unnecessary. This kernel streams the gram hashes (same
  * single-pass tokenizer + running XXH64 as [[ShingleHashes]]) and folds
  * the `numHashes` running minima in place: one pass over the document
  * bytes, zero exchanges, zero aggregation buffers, and `doGenCode`
  * keeps it inside whole-stage codegen.
  *
  * Signature values are BIT-IDENTICAL to the k-min aggregation over
  * `explode(shingle_hashes(text,k))` (FunctionsSpec's witness): the
  * permutation coefficients are the shared
  * [[graft.dedup.Dedup.minhashCoeffs]], a minimum is indifferent to the
  * duplicate gram occurrences `shingle_hashes` dedups, and the <k-token
  * fallback (token hashes) matches. The aggregate form emits NO row for
  * a doc with no tokens; to reproduce that exactly without a filter that
  * Catalyst would re-evaluate below the projection, the result is an
  * ARRAY of 0 or 1 signatures — callers `explode` it, and empty-token
  * docs vanish through the Generate exactly as they vanished through the
  * old explode. SQL: `minhash_sig(text, k, numHashes)` →
  * array<array<bigint>>.
  */
case class MinHashSig(child: Expression, k: Int, numHashes: Int)
  extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.compute($c, $k, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

/** [[MinHashSig]] plus the EXACT distinct-shingle count — the pair
  * [[graft.dedup.Dedup.containmentSketchPairs]] aggregates in one pass
  * (signature + |set| feed Broder's containment estimate). Same 0/1-row
  * array contract. SQL: `minhash_sig_size(text, k, numHashes)` →
  * array<struct<sig: array<bigint>, nset: bigint>>.
  */
case class MinHashSigSize(child: Expression, k: Int, numHashes: Int)
  extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("nset", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_sig_size requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    MinHashSig.computeWithSize(input.asInstanceOf[UTF8String], k, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashSig.computeWithSize($c, $k, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigSize =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig_size"
}

/** 64-bit SimHash as a PER-ROW expression — for each bit, the sum of ±1
  * votes over one document's token hashes (all occurrences, document
  * order irrelevant: the per-bit counts are a sum), bit set when the sum
  * is positive. Same 0/1-row array contract as [[MinHashSig]], so
  * no-token docs vanish through the caller's explode. Bit-identical to
  * the 64 conditional-sum aggregation over explode(token_hashes)
  * (FunctionsSpec's witness). SQL: `simhash_sig(text)` → array<bigint>.
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    MinHashSig.computeSimHash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.computeSimHash($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)

  override def prettyName: String = "simhash_sig"
}

object MinHashSig {

  // one coefficient table per signature width, shared across rows/tasks
  // (deterministic — Dedup.minhashCoeffs seeds from 42); flattened to
  // [a0, b0, a1, b1, ...] so the hot loop indexes one primitive array
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()
  private def coeffs(n: Int): Array[Long] =
    coeffCache.computeIfAbsent(n, k => {
      val cs = graft.dedup.Dedup.minhashCoeffs(k)
      val flat = new Array[Long](2 * k)
      var i = 0
      cs.foreach { case (a, b) => flat(2 * i) = a; flat(2 * i + 1) = b; i += 1 }
      flat
    })

  /** Fold one gram/token hash into the running minima. */
  private def fold(sig: Array[Long], cs: Array[Long], x: Long): Unit = {
    var i = 0
    val n = sig.length
    while (i < n) {
      val h = cs(2 * i) * x + cs(2 * i + 1) // wrapping 64-bit multiply-add
      if (h < sig(i)) sig(i) = h
      i += 1
    }
  }

  /** The shared per-doc pass over a non-empty token-hash array: either
    * streamed k-gram hashes (running XXH64, duplicates folded — min is
    * duplicate-blind) or the <k-token token-hash fallback. When `grams`
    * is non-null (one slot per folded hash) every gram/token hash is
    * also stored in it, in order (for the distinct count in
    * [[computeWithSize]]).
    */
  private def sigOf(toks: Array[Long], k: Int, numHashes: Int,
                    grams: Array[Long]): Array[Long] = {
    val nTokens = toks.length
    val cs = coeffs(numHashes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    if (nTokens >= k) {
      var g = 0
      while (g <= nTokens - k) {
        var h = ShingleHashes.Seed
        var j = 0
        while (j < k) {
          h = XXH64.hashLong(toks(g + j), h)
          j += 1
        }
        fold(sig, cs, h)
        if (grams != null) grams(g) = h
        g += 1
      }
    } else {
      var t = 0
      while (t < nTokens) {
        fold(sig, cs, toks(t))
        if (grams != null) grams(t) = toks(t)
        t += 1
      }
    }
    sig
  }

  /** Kernel shared by interpreted eval and generated code. */
  def compute(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val toks = ShingleHashes.tokenHashArray(text)
    if (toks.isEmpty) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(Array[Any](new GenericArrayData(sigOf(toks, k, numHashes, null))))
  }

  /** [[compute]] plus the exact distinct gram count (sort + unique scan
    * over a primitive array sized from the token count — no boxing, no
    * set; matches `count(*)` over exploded `shingle_hashes`, whose
    * output is per-doc distinct). */
  def computeWithSize(text: UTF8String, k: Int, numHashes: Int): ArrayData = {
    val toks = ShingleHashes.tokenHashArray(text)
    if (toks.isEmpty) return new GenericArrayData(Array.empty[Any])
    val gs = new Array[Long](if (toks.length >= k) toks.length - k + 1 else toks.length)
    val sig = sigOf(toks, k, numHashes, gs)
    java.util.Arrays.sort(gs)
    var nset = 0L
    var i = 0
    while (i < gs.length) {
      if (i == 0 || gs(i) != gs(i - 1)) nset += 1L
      i += 1
    }
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new GenericArrayData(sig), nset))
    new GenericArrayData(Array[Any](row))
  }

  /** Per-row SimHash fold over this doc's token hashes. */
  def computeSimHash(text: UTF8String): ArrayData = {
    val toks = ShingleHashes.tokenHashArray(text)
    if (toks.isEmpty) return new GenericArrayData(Array.empty[Long])
    val counts = new Array[Long](64)
    var t = 0
    while (t < toks.length) {
      val h = toks(t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counts(i) > 0) sig |= (1L << i)
      i += 1
    }
    new GenericArrayData(Array(sig))
  }
}
