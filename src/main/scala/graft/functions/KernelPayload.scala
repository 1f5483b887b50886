package graft.functions

import java.io.{ObjectOutputStream, OutputStream}
import java.security.{DigestOutputStream, MessageDigest}
import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast

/** A trained model a kernel expression carries: its `Broadcast` plus a
  * content digest taken once, when it is broadcast. Equality, `hashCode`
  * and `toString` go by the digest. A raw `Broadcast` hashes by identity,
  * and Catalyst orders commutative operands by `hashCode` when it
  * canonicalizes, so canonical plans (exchange reuse, `sameResult`,
  * `graft.Explain`'s fingerprints) differed from JVM to JVM.
  */
final class KernelPayload[T] private (val bc: Broadcast[T], val digest: String)
    extends Serializable {

  def value: T = bc.value

  override def equals(other: Any): Boolean = other match {
    case p: KernelPayload[_] => p.digest == digest
    case _ => false
  }

  override def hashCode: Int = digest.hashCode

  override def toString: String = s"payload#$digest"
}

object KernelPayload {

  /** Broadcast `value` and digest its Java-serialized bytes (SHA-256,
    * first 8 bytes as hex). Models are arrays, tuples and strings, whose
    * serialized form depends only on their content.
    */
  def apply[T: ClassTag](sc: SparkContext, value: T): KernelPayload[T] = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new ObjectOutputStream(new DigestOutputStream(OutputStream.nullOutputStream(), md))
    try out.writeObject(value) finally out.close()
    new KernelPayload(sc.broadcast(value), md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }
}
