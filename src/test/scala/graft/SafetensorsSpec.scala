package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import graft.sources.Safetensors

/** Byte-level contract of the safetensors codec (public spec:
  * huggingface/safetensors README): roundtrip fidelity, header padding,
  * metadata passthrough, and the strict validation surface — every
  * malformed shape must fail with IllegalArgumentException("safetensors:
  * …"), never an index error or silent partial data.
  */
class SafetensorsSpec extends GraftTest {

  private def enc(tensors: Seq[(String, String, Seq[Long], Array[Byte])],
                  meta: Map[String, String] = Map.empty): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    Safetensors.write(bos, tensors, meta)
    bos.toByteArray
  }

  private def dec(b: Array[Byte]) =
    Safetensors.read(new ByteArrayInputStream(b), b.length.toLong)

  private def le(longs: Long*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(longs.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    longs.foreach(bb.putLong); bb.array()
  }

  private def leF(floats: Float*): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(floats.length * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    floats.foreach(bb.putFloat); bb.array()
  }

  test("roundtrip: tensors, shapes, metadata, and exact bytes survive") {
    val ids = le(7L, -3L)
    val vecs = leF(1.5f, -2.25f, 0f, Float.MinPositiveValue, 3f, -0f)
    val b = enc(Seq(
      ("vec_id", "I64", Seq(2L), ids),
      ("embedding", "F32", Seq(2L, 3L), vecs)),
      Map("format" -> "graft-vectors"))
    val (infos, meta, buf) = dec(b)
    assert(meta === Map("format" -> "graft-vectors"))
    assert(infos.map(_._1) === Seq("vec_id", "embedding"))
    val m = infos.toMap
    assert(m("vec_id").shape === Seq(2L) && m("embedding").shape === Seq(2L, 3L))
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(buf, m("vec_id").begin.toInt, m("vec_id").end.toInt), ids))
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(buf, m("embedding").begin.toInt, m("embedding").end.toInt), vecs))
    // the buffer must start 8-byte aligned (header space-padded)
    val hdrLen = java.nio.ByteBuffer.wrap(b, 0, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    assert((8 + hdrLen) % 8 === 0)
  }

  test("zero-row file roundtrips to empty tensors") {
    val b = enc(Seq(
      ("vec_id", "I64", Seq(0L), Array.emptyByteArray),
      ("embedding", "F32", Seq(0L, 0L), Array.emptyByteArray)))
    val (infos, _, buf) = dec(b)
    assert(buf.length === 0)
    assert(infos.forall { case (_, t) => t.begin == 0 && t.end == 0 })
  }

  private def expectBad(b: Array[Byte], fragment: String): Unit = {
    val e = intercept[IllegalArgumentException](dec(b))
    assert(e.getMessage.startsWith("safetensors:"), e.getMessage)
    assert(e.getMessage.contains(fragment), s"'${e.getMessage}' lacks '$fragment'")
  }

  test("validation: every malformed shape fails with the documented error") {
    val good = enc(Seq(("t", "I64", Seq(2L), le(1L, 2L))))
    // torn tail: the shrunk buffer no longer holds the header's spans
    // (caught at the offsets-bound check, before any tensor bytes read)
    expectBad(java.util.Arrays.copyOf(good, good.length - 4), "outside buffer")
    // header length pointing past EOF
    val hugeLen = good.clone()
    java.nio.ByteBuffer.wrap(hugeLen, 0, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(1 << 20)
    expectBad(hugeLen, "exceeds file length")
    // negative/absurd header length
    val negLen = good.clone()
    java.nio.ByteBuffer.wrap(negLen, 0, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(-1L)
    expectBad(negLen, "out of range")
    // file shorter than the 8-byte prefix
    expectBad(Array[Byte](1, 2, 3), "cannot hold")
    // garbage in the header JSON
    val garbled = good.clone()
    garbled(9) = '!'.toByte
    intercept[IllegalArgumentException](dec(garbled))
  }

  test("validation: span overlap, gaps, and shape/span disagreement are rejected") {
    def handAuthored(entries: String, buf: Array[Byte]): Array[Byte] = {
      val json = s"{$entries}"
      val raw = json.getBytes("UTF-8")
      val bb = java.nio.ByteBuffer.allocate(8 + raw.length + buf.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putLong(raw.length.toLong).put(raw).put(buf)
      bb.array()
    }
    // overlapping spans
    expectBad(handAuthored(
      """"a":{"dtype":"I64","shape":[1],"data_offsets":[0,8]},"b":{"dtype":"I64","shape":[1],"data_offsets":[4,12]}""",
      new Array[Byte](12)), "not contiguous")
    // a gap (dead bytes) between spans
    expectBad(handAuthored(
      """"a":{"dtype":"I64","shape":[1],"data_offsets":[0,8]},"b":{"dtype":"I64","shape":[1],"data_offsets":[16,24]}""",
      new Array[Byte](24)), "not contiguous")
    // span length disagrees with shape * width
    expectBad(handAuthored(
      """"a":{"dtype":"I64","shape":[3],"data_offsets":[0,8]}""",
      new Array[Byte](8)), "span")
    // offsets beyond the buffer
    expectBad(handAuthored(
      """"a":{"dtype":"I64","shape":[2],"data_offsets":[0,16]}""",
      new Array[Byte](8)), "outside buffer")
    // duplicate tensor names
    expectBad(handAuthored(
      """"a":{"dtype":"I64","shape":[1],"data_offsets":[0,8]},"a":{"dtype":"I64","shape":[1],"data_offsets":[8,16]}""",
      new Array[Byte](16)), "duplicate key")
    // unsupported dtype
    expectBad(handAuthored(
      """"a":{"dtype":"BF16","shape":[4],"data_offsets":[0,8]}""",
      new Array[Byte](8)), "unsupported dtype")
    // trailing padding spaces are LEGAL; other trailing bytes are not
    val padded = handAuthored(
      """"a":{"dtype":"I64","shape":[1],"data_offsets":[0,8]}""" , new Array[Byte](8))
    dec(padded) // sanity: the unpadded form parses
    expectBad({
      val json = """{"a":{"dtype":"I64","shape":[1],"data_offsets":[0,8]}}x"""
      val raw = json.getBytes("UTF-8")
      val bb = java.nio.ByteBuffer.allocate(8 + raw.length + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putLong(raw.length.toLong).put(raw).put(new Array[Byte](8))
      bb.array()
    }, "trailing garbage")
  }

  test("permissive read quarantines a torn shard whole; strict read throws") {
    import org.apache.spark.sql.functions._
    val dir = ProbeUtil.scratchDir("stspec")
    val emb = Graft.embeddings(spark, sf).limit(40)
      .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
    Safetensors.writeVectors(emb, dir, "vec_id", "embedding", "label", shards = 2)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val parts = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.map(_.toString).toSeq.sorted
    } finally files.close()
    assert(parts.size === 2)
    val whole = Safetensors.readVectors(spark, dir, "vec_id", "embedding", "label")
    assert(whole.count() === 40)
    // tear one shard's tail
    val victim = java.nio.file.Paths.get(parts.head)
    val vb = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.write(victim, java.util.Arrays.copyOf(vb, vb.length - 16))
    val perm = Safetensors.readVectorsPermissive(spark, dir, "vec_id", "embedding", "label")
    val strictFails = intercept[org.apache.spark.SparkException] {
      Safetensors.readVectors(spark, dir, "vec_id", "embedding", "label").count()
    }
    assert(strictFails.getMessage.contains("safetensors") ||
      Option(strictFails.getCause).exists(_.getMessage.contains("safetensors")))
    val survivors = perm.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors.size < 40 && survivors.nonEmpty)
    // the surviving shard's rows are intact and bit-exact
    val orig = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    perm.collect().foreach { r =>
      assert(r.getSeq[Float](1) === orig(r.getLong(0)))
    }
  }
}
