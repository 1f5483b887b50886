package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import graft.sources.{Recovery, Warc}

/** Byte-level contract of the WARC codec (ISO 28500 / IIPC WARC spec):
  * roundtrip fidelity, strict validation of every malformed shape, the
  * permissive torn-tail marker, and the documented framing limit (a cut
  * exactly between records is undetectable — WARC has no end marker).
  */
class WarcSpec extends GraftTest {

  private def rec(uri: String, payload: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    Warc.writeRecord(bos, uri, s"urn:test:$uri", payload.getBytes("UTF-8"))
    bos.toByteArray
  }

  private def readAll(b: Array[Byte]) =
    Warc.readStream(new ByteArrayInputStream(b)).toVector

  /** The recovery walk the permissive reader runs: the marker is (null, null, null, bytes). */
  private def readStreamPermissive(in: ByteArrayInputStream, shardLen: Long) =
    Recovery.recoverCounted(in, shardLen)(Warc.readStream).map {
      case Right((uri, rid, payload)) => (uri, rid, payload, 0L)
      case Left(dropped) => (null: String, null: String, null: Array[Byte], dropped)
    }

  test("roundtrip: records, uris, ids, and payload bytes survive; UTF-8 payloads exact") {
    val b = rec("https://a.example/1", "hello <b>world</b>") ++
      rec("https://a.example/2", "café 世界")
    val got = readAll(b)
    assert(got.map(_._1) === Vector("https://a.example/1", "https://a.example/2"))
    assert(got.map(_._2) === Vector("urn:test:https://a.example/1", "urn:test:https://a.example/2"))
    assert(new String(got(1)._3, "UTF-8") === "café 世界")
  }

  test("empty payload and empty stream are legal") {
    assert(readAll(rec("https://e", "")).head._3.length === 0)
    assert(readAll(Array.emptyByteArray).isEmpty)
  }

  private def expectBad(b: Array[Byte], fragment: String): Unit = {
    val e = intercept[IllegalArgumentException](readAll(b))
    assert(e.getMessage.startsWith("warc:"), e.getMessage)
    assert(e.getMessage.contains(fragment), s"'${e.getMessage}' lacks '$fragment'")
  }

  test("strict: every malformed shape throws the documented error") {
    val good = rec("https://a", "payload-bytes")
    // torn payload tail
    expectBad(java.util.Arrays.copyOf(good, good.length - 6), "truncated")
    // torn inside the header block
    expectBad(java.util.Arrays.copyOf(good, 30), "truncated")
    // bad version line
    expectBad("HTTP/1.1 200 OK\r\n\r\n".getBytes("US-ASCII"), "bad version line")
    // LF-only line endings rejected
    expectBad("WARC/1.0\nContent-Length: 0\n\n".getBytes("US-ASCII"), "CRLF")
    // missing Content-Length
    expectBad("WARC/1.0\r\nWARC-Type: response\r\n\r\n".getBytes("US-ASCII"), "without Content-Length")
    // non-numeric Content-Length
    expectBad("WARC/1.0\r\nContent-Length: twelve\r\n\r\n".getBytes("US-ASCII"), "bad Content-Length")
    // header line without a colon
    expectBad("WARC/1.0\r\nnonsense\r\n\r\n".getBytes("US-ASCII"), "malformed header line")
    // missing record terminator (next record starts immediately)
    val noTerm = {
      val g = rec("https://a", "xy")
      g.dropRight(4) ++ rec("https://b", "z")
    }
    expectBad(noTerm, "terminator")
    // writer refuses CR/LF injection into header values
    intercept[IllegalArgumentException] {
      Warc.writeRecord(new ByteArrayOutputStream(), "https://a\r\nX: y", "id", Array.emptyByteArray)
    }
  }

  test("documented framing limit: a cut exactly between records reads as a clean end") {
    val two = rec("https://a", "one") ++ rec("https://b", "two")
    val cut = java.util.Arrays.copyOf(two, rec("https://a", "one").length)
    assert(readAll(cut).map(_._1) === Vector("https://a")) // strict ACCEPTS — no end marker exists
  }

  test("warc.gz: per-record gzip members concatenate into one readable stream, each member standalone") {
    def gzMember(r: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(r); gz.finish(); gz.close()
      bos.toByteArray
    }
    val m1 = gzMember(rec("https://a", "one"))
    val m2 = gzMember(rec("https://b", "two"))
    // the whole shard: one multi-member stream, two records
    val all = Warc.readStream(new java.util.zip.GZIPInputStream(
      new ByteArrayInputStream(m1 ++ m2))).toVector
    assert(all.map(_._1) === Vector("https://a", "https://b"))
    // the CommonCrawl-index property: EACH member decompresses alone
    // (seek to offset, read one record — impossible with whole-file gzip)
    val solo = Warc.readStream(new java.util.zip.GZIPInputStream(
      new ByteArrayInputStream(m2))).toVector
    assert(solo.map(_._1) === Vector("https://b"))
    // a corrupt gzip frame is an I/O fault (task retry), not a torn-tail drop
    val broken = m1.clone(); broken(12) = (broken(12) ^ 0xff).toByte
    intercept[java.io.IOException] {
      Warc.readStream(new java.util.zip.GZIPInputStream(
        new ByteArrayInputStream(broken))).toVector
    }
  }

  test("warc.gz strict member accounting: a garbled member boundary fails loudly") {
    // ADVICE r16: JDK GZIPInputStream's readTrailer() swallows a
    // malformed next-member header (IOException → clean EOF), so a
    // garbled boundary silently dropped all subsequent records from the
    // STRICT reader. MultiMemberGzIn owns the member loop and must fail.
    def gzMember(r: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(r); gz.finish(); gz.close()
      bos.toByteArray
    }
    def viaStrict(b: Array[Byte]) =
      Warc.readStream(new Warc.MultiMemberGzIn(new ByteArrayInputStream(b))).toVector
    val m1 = gzMember(rec("https://a", "one"))
    val m2 = gzMember(rec("https://b", "two"))
    // clean concatenation and a solo member read exactly like the JDK path
    assert(viaStrict(m1 ++ m2).map(_._1) === Vector("https://a", "https://b"))
    assert(viaStrict(m2).map(_._1) === Vector("https://b"))
    // the swallow case: garbage where the next member header should be —
    // the JDK decompressor yields ONLY record 1 here (verified below);
    // the strict walk must throw instead of truncating the shard
    val garbled = m1 ++ "GARBAGE-NOT-GZIP".getBytes("US-ASCII")
    val jdk = Warc.readStream(new java.util.zip.GZIPInputStream(
      new ByteArrayInputStream(garbled ++ m2))).toVector
    assert(jdk.map(_._1) === Vector("https://a"), "JDK silently drops past the garble")
    val e = intercept[IllegalArgumentException](viaStrict(garbled))
    assert(e.getMessage.contains("gzip"), e.getMessage)
    intercept[IllegalArgumentException](viaStrict(garbled ++ m2))
    // truncated trailing member: EOF inside the deflate stream
    intercept[IllegalArgumentException](
      viaStrict(m1 ++ java.util.Arrays.copyOf(m2, m2.length - 6)))
    // corrupt deflate byte mid-member
    val broken = m1.clone(); broken(14) = (broken(14) ^ 0xff).toByte
    intercept[IllegalArgumentException](viaStrict(broken))
    // trailer CRC32 flip caught by the member check
    val crcBad = (m1 ++ m2).clone()
    crcBad(m1.length - 5) = (crcBad(m1.length - 5) ^ 0xff).toByte
    intercept[IllegalArgumentException](viaStrict(crcBad))
  }

  test("permissive: torn tail becomes one marker with exact abandoned-byte accounting") {
    val r1 = rec("https://a", "one")
    val whole = r1 ++ rec("https://b", "twotwotwo")
    val torn = java.util.Arrays.copyOf(whole, whole.length - 5)
    val got = readStreamPermissive(new ByteArrayInputStream(torn), torn.length.toLong).toVector
    val (recs, markers) = got.partition(_._1 != null)
    assert(recs.map(_._1) === Vector("https://a"))
    assert(markers.size === 1)
    assert(markers.head._4 === (torn.length - r1.length).toLong,
      "marker must account every byte past the last verified record")
    // garbage tail after valid records: all records survive, loss observed
    val garbaged = whole ++ "NOT-A-RECORD\r\n".getBytes("US-ASCII")
    val got2 = readStreamPermissive(new ByteArrayInputStream(garbaged), garbaged.length.toLong).toVector
    assert(got2.count(_._1 != null) === 2)
    assert(got2.filter(_._1 == null).map(_._4).sum === 14L)
  }
}
