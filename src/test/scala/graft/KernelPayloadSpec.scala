package graft

import scala.reflect.ClassTag
import graft.functions._
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

/** Model kernels compare by model content, not by broadcast identity: two
  * kernels over separately broadcast equal models are equal expressions
  * with equal hash codes (so canonical plans, exchange reuse and
  * `graft.Explain` fingerprints agree across JVMs), and kernels over
  * different models are not equal.
  */
class KernelPayloadSpec extends GraftTest {

  private def payload[T: ClassTag](value: T): KernelPayload[T] =
    KernelPayload(spark.sparkContext, value)

  private val vec = BoundReference(0, ArrayType(DoubleType), nullable = true)
  private val text = BoundReference(0, StringType, nullable = true)

  // fresh arrays per call: equal content, distinct objects
  private def cents(x: Double) = Array((Array(1.0, x), 1.0), (Array(x, 1.0), 2.0))
  private def books(x: Double) = (Array(Array(Array(1.0), Array(x))), Array(0, 1))
  private def ivfPq(x: Double) = (Array(Array(1.0, x)), books(x)._1, books(x)._2)
  private def merges(b: String) = Array(("a", b), ("c", "d"))

  /** (kernel, build over a model variant): variant 0 twice must agree. */
  private val kernels: Seq[(String, Int => Expression)] = Seq(
    "IvfNearestLists" -> (i => IvfNearestLists(vec, payload(cents(i)), 2)),
    "IvfAssign" -> (i => IvfAssign(vec, payload(cents(i)))),
    "PqEncode" -> (i => PqEncode(vec, payload(books(i)))),
    "PqLut" -> (i => PqLut(vec, payload(books(i)))),
    "IvfPqEncode" -> (i => IvfPqEncode(vec, payload(ivfPq(i)))),
    "IvfPqProbes" -> (i => IvfPqProbes(vec, payload(ivfPq(i)), 1)),
    "IvfPqLut" -> (i => IvfPqLut(vec, payload(ivfPq(i)))),
    "BpeSubwordCount" -> (i => BpeSubwordCount(text, payload(merges(s"b$i")))),
    "BpeEncode" -> (i => BpeEncode(text, payload(merges(s"b$i")))))

  kernels.foreach { case (name, build) =>
    test(s"$name: equal models give equal kernels, different models do not") {
      val (a, b, other) = (build(0), build(0), build(1))
      assert(a == b, s"$a != $b")
      assert(a.hashCode == b.hashCode)
      assert(a.toString == b.toString)
      assert(a.semanticEquals(b))
      assert(a != other, s"$a == $other")
    }
  }
}
