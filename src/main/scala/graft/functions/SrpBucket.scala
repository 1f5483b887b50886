package graft.functions

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Signed-random-projection bucket id for an `array<float>` vector —
  * bit-exact with the higher-order-function form FunctionsSpec keeps as
  * its witness (the ±1 hyperplane components derive from the same
  * xxhash64(plane, dim) parity), but computed in one primitive loop per row with the sign
  * matrix cached per (nBits, dim) instead of re-hashed per element.
  * This is the corpus-scan side of LSH bucketing — the expression runs
  * once per row of a 100 TB corpus, which is why it earns `doGenCode`.
  * SQL: `srp_bucket(vec, nBits)` (nBits must be a literal).
  */
case class SrpBucket(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), IntegerType) if right.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "srp_bucket requires (array<float>, literal int), got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def nullSafeEval(vec: Any, bits: Any): Any =
    SrpBucket.compute(vec.asInstanceOf[ArrayData], bits.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, b) => s"graft.functions.SrpBucket.compute($v, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SrpBucket =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "srp_bucket"
}

object SrpBucket {
  private val signCache = new ConcurrentHashMap[(Int, Int), Array[Array[Float]]]()

  /** ±1 components of plane p at dim i: parity of the same two-step
    * xxhash64 chain `xxhash64(p, i)` the Column version uses
    * (int values hashed with seed 42, chained).
    */
  private def signs(nBits: Int, dim: Int): Array[Array[Float]] =
    signCache.computeIfAbsent((nBits, dim), { _ =>
      Array.tabulate(nBits, dim) { (p, i) =>
        val h = XXH64.hashInt(i, XXH64.hashInt(p, 42L))
        if ((h & 1L) == 0L) 1.0f else -1.0f
      }
    })

  def compute(vec: ArrayData, nBits: Int): Int = {
    val n = vec.numElements()
    if (n == 0) return 0 // matches the Column form's null-propagation result
    val s = signs(nBits, n)
    var bucket = 0
    var p = 0
    while (p < nBits) {
      val sp = s(p)
      var proj = 0.0
      var i = 0
      while (i < n) {
        proj += vec.getFloat(i).toDouble * sp(i)
        i += 1
      }
      if (proj >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }
}
