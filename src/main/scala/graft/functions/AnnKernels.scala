package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, QuaternaryExpression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst kernels for the ANN quantizer hot loops (IVF
  * assignment, PQ/IVFADC encode, LUT build, ADC scoring) — the scans that
  * dominate a corpus-scale ANN job. Previously these ran as Scala UDFs:
  * correct and while-loop-tight inside, but every row paid the
  * catalyst⇄JVM converter (`ArrayData` → boxed `Seq[Double]` → `.toArray`
  * → result re-conversion through the encoder) — two full boxed copies of
  * every vector per row on the dominant scans. Each kernel here is an
  * `Expression` with `doGenCode` emitting one call into the same primitive
  * loops, operating directly on `ArrayData`/`UnsafeArrayData` — no boxed
  * copies, no converter, results written as catalyst values directly.
  *
  * The trained model (centroids / codebooks) rides a Spark `Broadcast`
  * held BY the expression as a [[KernelPayload]], which compares by
  * content digest: the plan carries only the handle (O(1) plan
  * text — the property the r8 review demanded), each executor fetches the
  * model once, and `model.value` after the first access is a field read.
  * Because a `Seq[Expression] => Expression` registry builder cannot
  * supply a broadcast handle, these are constructed directly and wrapped
  * via [[org.apache.spark.sql.graft.ColumnBridge]] rather than
  * `injectFunction` (contrast [[CosineSimilarity]], which is model-free
  * and registry-registered).
  *
  * BIT-EXACTNESS CONTRACT: the frozen-model DuckDB oracles
  * (graft.queries.AnnOracleSql) replay these computations as sequential
  * IEEE-754 folds. Every loop here preserves the exact operation order of
  * the UDF forms it replaces (normalize → per-subspace L2 scan with
  * strict-< argmin, `(-score, index)` tie order via
  * `java.lang.Double.compare` on the NEGATED key — matching Scala's
  * `sortBy { case (s, i) => (-s, i) }` down to its ±0.0 behavior). The
  * UDF forms survive as [[AnnUdfWitness]] and AnnKernelSpec proves kernel
  * == UDF bit-for-bit on the real embeddings table.
  */
object AnnKernels {

  private[functions] def requireVec(name: String, t: DataType): TypeCheckResult = t match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires an array<double> argument, got ${other.catalogString}")
  }

  /** Σ x², sequential — the fold order of `arr.map(x => x * x).sum`. */
  def sumSq(a: Array[Double]): Double = {
    var ss = 0.0
    var i = 0
    while (i < a.length) { ss += a(i) * a(i); i += 1 }
    ss
  }

  /** Unit-normalize (zero vector passes through) — exact replica of the
    * UDFs' `if (n == 0.0) arr else arr.map(_ / n)`.
    */
  def unit(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(sumSq(a))
    if (n == 0.0) a
    else {
      val o = new Array[Double](a.length)
      var i = 0
      while (i < a.length) { o(i) = a(i) / n; i += 1 }
      o
    }
  }

  /** Indices of the `n` smallest `(neg(i), i)` keys, ascending — the
    * selection `indices.sortBy(i => (neg(i), i)).take(n)` without the
    * sort. Keys are distinct (the index disambiguates), so bounded
    * insertion is order-identical to sort-then-take. Comparison is
    * `java.lang.Double.compare` — Scala 2.13's `Ordering[Double]` — so
    * ±0.0/NaN order matches the `sortBy` the oracles replay.
    */
  def topIdx(neg: Array[Double], n: Int): Array[Int] = {
    val k = math.min(n, neg.length)
    val out = new Array[Int](k)
    var filled = 0
    var i = 0
    while (i < neg.length) {
      var pos = filled
      // shift while the existing entry orders AFTER i; existing indices
      // are always < i, so an exact key tie never shifts (stable order)
      while (pos > 0 && java.lang.Double.compare(neg(out(pos - 1)), neg(i)) > 0) pos -= 1
      if (pos < k) {
        var m = math.min(filled, k - 1)
        while (m > pos) { out(m) = out(m - 1); m -= 1 }
        out(pos) = i
        if (filled < k) filled += 1
      }
      i += 1
    }
    if (filled == k) out else java.util.Arrays.copyOf(out, filled)
  }

  /** Argmax-dot list id, strict `>` (ties keep the lower id) — exact
    * replica of Ann.nearestList.
    */
  def nearestListDot(cents: Array[Array[Double]], u: Array[Double]): Int = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)
      val lim = math.min(u.length, ctr.length)
      var dot = 0.0
      var j = 0
      while (j < lim) { dot += u(j) * ctr(j); j += 1 }
      if (dot > bestS) { bestS = dot; best = c }
      c += 1
    }
    best
  }

  /** Flattened m × kCent table of sub-dot-products of `u` against the
    * codebooks — shared by the PQ and IVFADC LUT kernels.
    */
  def lutOf(bks: Array[Array[Array[Double]]], bds: Array[Int], u: Array[Double]): Array[Double] = {
    val kCent = bks(0).length
    val lut = new Array[Double](bks.length * kCent)
    var s = 0
    while (s < bks.length) {
      val book = bks(s)
      val lo = bds(s)
      var c = 0
      while (c < book.length) {
        val ctr = book(c)
        var dot = 0.0
        var j = 0
        while (j < ctr.length) { dot += u(lo + j) * ctr(j); j += 1 }
        lut(s * kCent + c) = dot
        c += 1
      }
      s += 1
    }
    lut
  }

  private[functions] val assignSchema: StructType = StructType(Seq(
    StructField("_1", IntegerType, nullable = false),
    StructField("_2", DoubleType, nullable = false)))

  private[functions] val pqEncodeSchema: StructType = StructType(Seq(
    StructField("_1", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("_2", DoubleType, nullable = false)))

  private[functions] val ivfPqEncodeSchema: StructType = StructType(Seq(
    StructField("_1", IntegerType, nullable = false),
    StructField("_2", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("_3", DoubleType, nullable = false)))

  private[functions] val probeSchema: StructType = StructType(Seq(
    StructField("_1", IntegerType, nullable = false),
    StructField("_2", DoubleType, nullable = false)))
}

/** `array<double>` vector → the `n` nearest coarse-centroid ids by cosine
  * (descending similarity, ties to the lower list id) as `array<int>` —
  * the IVF assignment (n = 1) and probe (n = nProbe) kernel. Broadcast
  * payload: (centroid, precomputed norm) pairs.
  */
case class IvfNearestLists(child: Expression,
    model: KernelPayload[Array[(Array[Double], Double)]], n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    AnnKernels.requireVec(prettyName, child.dataType)

  def computeRow(v: ArrayData): ArrayData = {
    val arr = v.toDoubleArray()
    val vn = math.sqrt(AnnKernels.sumSq(arr))
    val cents = model.value
    val neg = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)._1
      val cn = cents(c)._2
      val lim = math.min(arr.length, ctr.length)
      var dot = 0.0
      var j = 0
      while (j < lim) { dot += arr(j) * ctr(j); j += 1 }
      neg(c) = -(if (vn == 0.0 || cn == 0.0) 0.0 else dot / (vn * cn))
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(AnnKernels.topIdx(neg, n))
  }

  override def nullSafeEval(input: Any): Any = computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfNearest", this, classOf[IvfNearestLists].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfNearestLists =
    copy(child = newChild)

  override def prettyName: String = "ivf_nearest_lists"
}

/** `array<double>` vector → struct(_1 = argmax-cosine cluster id, _2 =
  * that cosine), ties to the lower id — the SemDeDup assignment kernel.
  */
case class IvfAssign(child: Expression,
    model: KernelPayload[Array[(Array[Double], Double)]]) extends UnaryExpression {

  override def dataType: DataType = AnnKernels.assignSchema

  override def checkInputDataTypes(): TypeCheckResult =
    AnnKernels.requireVec(prettyName, child.dataType)

  def computeRow(v: ArrayData): InternalRow = {
    val arr = v.toDoubleArray()
    val vn = math.sqrt(AnnKernels.sumSq(arr))
    val cents = model.value
    var best = 0
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)._1
      val cn = cents(c)._2
      val lim = math.min(arr.length, ctr.length)
      var dot = 0.0
      var j = 0
      while (j < lim) { dot += arr(j) * ctr(j); j += 1 }
      val s = if (vn == 0.0 || cn == 0.0) 0.0 else dot / (vn * cn)
      if (s > bestS) { bestS = s; best = c }
      c += 1
    }
    new GenericInternalRow(Array[Any](best, bestS))
  }

  override def nullSafeEval(input: Any): Any = computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfAssign", this, classOf[IvfAssign].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfAssign =
    copy(child = newChild)

  override def prettyName: String = "ivf_assign"
}

/** `array<double>` vector → struct(_1 = m PQ codes, _2 = reconstruction
  * norm): unit-normalize, per-subspace L2 argmin against the codebook
  * (strict <, ties to the lower code), norm over the reconstructed
  * sub-centroids. Broadcast payload: (books, bounds).
  */
case class PqEncode(child: Expression,
    model: KernelPayload[(Array[Array[Array[Double]]], Array[Int])]) extends UnaryExpression {

  override def dataType: DataType = AnnKernels.pqEncodeSchema

  override def checkInputDataTypes(): TypeCheckResult =
    AnnKernels.requireVec(prettyName, child.dataType)

  def computeRow(v: ArrayData): InternalRow = {
    val (bks, bds) = model.value
    val u = AnnKernels.unit(v.toDoubleArray())
    var normSq = 0.0
    val codes = new Array[Int](bks.length)
    var s = 0
    while (s < bks.length) {
      val book = bks(s)
      val lo = bds(s)
      val hi = bds(s + 1)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val ctr = book(c)
        var d = 0.0
        var j = lo
        while (j < hi) { val t = u(j) - ctr(j - lo); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      val ctr = book(best)
      var j = 0
      while (j < ctr.length) { normSq += ctr(j) * ctr(j); j += 1 }
      s += 1
    }
    new GenericInternalRow(Array[Any](
      UnsafeArrayData.fromPrimitiveArray(codes), math.sqrt(normSq)))
  }

  override def nullSafeEval(input: Any): Any = computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  override def prettyName: String = "pq_encode"
}

/** Query `array<double>` vector → flattened m × 2^bits LUT of sub-dot
  * products (`array<double>`) — the per-query PQ table build.
  */
case class PqLut(child: Expression,
    model: KernelPayload[(Array[Array[Array[Double]]], Array[Int])]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    AnnKernels.requireVec(prettyName, child.dataType)

  def computeRow(v: ArrayData): ArrayData = {
    val (bks, bds) = model.value
    val u = AnnKernels.unit(v.toDoubleArray())
    UnsafeArrayData.fromPrimitiveArray(AnnKernels.lutOf(bks, bds, u))
  }

  override def nullSafeEval(input: Any): Any = computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLut", this, classOf[PqLut].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqLut =
    copy(child = newChild)

  override def prettyName: String = "pq_lut"
}

/** ADC estimate for PQ: Σ_s lut[s·kCent + code_s], divided by the
  * reconstruction norm (0-norm → 0.0). m array lookups per candidate —
  * the pair-scoring inner loop.
  */
case class PqAdc(codes: Expression, xnorm: Expression, lut: Expression, kCent: Int)
  extends TernaryExpression {
  require(kCent >= 1, s"kCent must be >= 1, got $kCent")

  override def first: Expression = codes
  override def second: Expression = xnorm
  override def third: Expression = lut

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, xnorm.dataType, lut.dataType) match {
      case (ArrayType(IntegerType, _), DoubleType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"pq_adc requires (array<int>, double, array<double>), got " +
          s"${a.catalogString}, ${b.catalogString}, ${c.catalogString}")
    }

  def computeVal(cs: ArrayData, xn: Double, lt: ArrayData): Double = {
    var acc = 0.0
    var s = 0
    val n = cs.numElements()
    while (s < n) { acc += lt.getDouble(s * kCent + cs.getInt(s)); s += 1 }
    if (xn == 0.0) 0.0 else acc / xn
  }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    computeVal(a.asInstanceOf[ArrayData], b.asInstanceOf[Double], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    nullSafeCodeGen(ctx, ev, (a, b, c) => s"${ev.value} = $ref.computeVal($a, $b, $c);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqAdc =
    copy(codes = newFirst, xnorm = newSecond, lut = newThird)

  override def prettyName: String = "pq_adc"
}

/** `array<double>` vector → struct(_1 = coarse list id, _2 = m residual
  * PQ codes, _3 = reconstruction norm) — the IVFADC encode kernel.
  * Broadcast payload: (centroids, residual books, bounds).
  */
case class IvfPqEncode(child: Expression,
    model: KernelPayload[(Array[Array[Double]], Array[Array[Array[Double]]], Array[Int])])
  extends UnaryExpression {

  override def dataType: DataType = AnnKernels.ivfPqEncodeSchema

  override def checkInputDataTypes(): TypeCheckResult =
    AnnKernels.requireVec(prettyName, child.dataType)

  def computeRow(v: ArrayData): InternalRow = {
    val (cents, bks, bds) = model.value
    val u = AnnKernels.unit(v.toDoubleArray())
    val lst = AnnKernels.nearestListDot(cents, u)
    val cl = cents(lst)
    val recon = cl.clone()
    val codes = new Array[Int](bks.length)
    var s = 0
    while (s < bks.length) {
      val book = bks(s)
      val lo = bds(s)
      val hi = bds(s + 1)
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val ctr = book(c)
        var d = 0.0
        var j = lo
        while (j < hi) { val t = (u(j) - cl(j)) - ctr(j - lo); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      val ctr = book(best)
      var j = lo
      while (j < hi) { recon(j) += ctr(j - lo); j += 1 }
      s += 1
    }
    var normSq = 0.0
    var j = 0
    while (j < recon.length) { normSq += recon(j) * recon(j); j += 1 }
    new GenericInternalRow(Array[Any](
      lst, UnsafeArrayData.fromPrimitiveArray(codes), math.sqrt(normSq)))
  }

  override def nullSafeEval(input: Any): Any = computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfPqEncode", this, classOf[IvfPqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfPqEncode =
    copy(child = newChild)

  override def prettyName: String = "ivfpq_encode"
}

/** Query `array<double>` vector → the `nProbe` nearest coarse lists with
  * their query·centroid dots, as `array<struct<_1 int, _2 double>>`
  * ordered by descending dot (ties to the lower list id).
  */
case class IvfPqProbes(child: Expression,
    model: KernelPayload[(Array[Array[Double]], Array[Array[Array[Double]]], Array[Int])],
    nProbe: Int) extends UnaryExpression {
  require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")

  override def dataType: DataType = ArrayType(AnnKernels.probeSchema, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    AnnKernels.requireVec(prettyName, child.dataType)

  def computeRow(v: ArrayData): ArrayData = {
    val (cents, _, _) = model.value
    val u = AnnKernels.unit(v.toDoubleArray())
    val dots = new Array[Double](cents.length)
    val neg = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val ctr = cents(c)
      val lim = math.min(u.length, ctr.length)
      var dot = 0.0
      var j = 0
      while (j < lim) { dot += u(j) * ctr(j); j += 1 }
      dots(c) = dot
      neg(c) = -dot
      c += 1
    }
    val idx = AnnKernels.topIdx(neg, nProbe)
    val rows = new Array[Any](idx.length)
    var i = 0
    while (i < idx.length) {
      rows(i) = new GenericInternalRow(Array[Any](idx(i), dots(idx(i))))
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def nullSafeEval(input: Any): Any = computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfPqProbes", this, classOf[IvfPqProbes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfPqProbes =
    copy(child = newChild)

  override def prettyName: String = "ivfpq_probes"
}

/** Query `array<double>` vector → flattened residual LUT (list-independent)
  * for IVFADC ADC scoring.
  */
case class IvfPqLut(child: Expression,
    model: KernelPayload[(Array[Array[Double]], Array[Array[Array[Double]]], Array[Int])])
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    AnnKernels.requireVec(prettyName, child.dataType)

  def computeRow(v: ArrayData): ArrayData = {
    val (_, bks, bds) = model.value
    val u = AnnKernels.unit(v.toDoubleArray())
    UnsafeArrayData.fromPrimitiveArray(AnnKernels.lutOf(bks, bds, u))
  }

  override def nullSafeEval(input: Any): Any = computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfPqLut", this, classOf[IvfPqLut].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.computeRow($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfPqLut =
    copy(child = newChild)

  override def prettyName: String = "ivfpq_lut"
}

/** IVFADC ADC estimate: (qdotc + Σ_s lut[s·kCent + code_s]) / ‖x̂‖
  * (0-norm → 0.0).
  */
case class IvfPqAdc(codes: Expression, xnorm: Expression, qdotc: Expression,
    lut: Expression, kCent: Int) extends QuaternaryExpression {
  require(kCent >= 1, s"kCent must be >= 1, got $kCent")

  override def first: Expression = codes
  override def second: Expression = xnorm
  override def third: Expression = qdotc
  override def fourth: Expression = lut

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, xnorm.dataType, qdotc.dataType, lut.dataType) match {
      case (ArrayType(IntegerType, _), DoubleType, DoubleType, ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c, d) => TypeCheckResult.TypeCheckFailure(
        s"ivfpq_adc requires (array<int>, double, double, array<double>), got " +
          s"${a.catalogString}, ${b.catalogString}, ${c.catalogString}, ${d.catalogString}")
    }

  def computeVal(cs: ArrayData, xn: Double, qd: Double, lt: ArrayData): Double = {
    var acc = qd
    var s = 0
    val n = cs.numElements()
    while (s < n) { acc += lt.getDouble(s * kCent + cs.getInt(s)); s += 1 }
    if (xn == 0.0) 0.0 else acc / xn
  }

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    computeVal(a.asInstanceOf[ArrayData], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfPqAdc", this, classOf[IvfPqAdc].getName)
    nullSafeCodeGen(ctx, ev,
      (a, b, c, d) => s"${ev.value} = $ref.computeVal($a, $b, $c, $d);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): IvfPqAdc =
    copy(codes = newFirst, xnorm = newSecond, qdotc = newThird, lut = newFourth)

  override def prettyName: String = "ivfpq_adc"
}
