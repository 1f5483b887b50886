package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pure-JVM WARC codec — the web-archive container CommonCrawl ships
  * (public spec: ISO 28500 / the IIPC WARC/1.1 specification): records
  * are concatenated, each
  *
  * {{{
  *   WARC/1.0\r\n
  *   <Name>: <value>\r\n ...          (header block, ends at an empty line)
  *   \r\n
  *   byte[Content-Length] payload
  *   \r\n\r\n                         (record terminator)
  * }}}
  *
  * The reader is a strict STREAMING walk (one record in memory at a
  * time, never the shard): a malformed version line, a non-numeric or
  * missing Content-Length, EOF inside a header/payload/terminator, or
  * an oversized header line all throw
  * `IllegalArgumentException("warc: …")` — the strict-dual convention
  * of every graft container codec. The permissive dual ([[Recovery]])
  * counts a torn tail as abandoned bytes and can never yield a
  * truncated payload as a record.
  *
  * HONEST FRAMING LIMIT (unlike tar): WARC has no end-of-archive
  * marker, so a tear landing EXACTLY between two records is
  * indistinguishable from a clean end — strict accepts it. Tar's
  * strict mode can detect that cut (missing end-of-archive blocks);
  * WARC the format simply cannot. Mid-record tears — the overwhelmingly
  * likely case — are always detected.
  *
  * Scale shape: shards are read one-task-per-shard (non-splittable,
  * like gzip/tar/TFRecord — the writer's shard count IS the read
  * parallelism), constant memory per task, loss observable per shard.
  */
object Warc {

  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(s"warc: $msg")

  /** Fixed date: reproducible shards (same device as tar's fixed mtime). */
  val FixedDate = "2026-01-01T00:00:00Z"

  private val MaxHeaderLine = 1 << 16

  def writeRecord(out: java.io.OutputStream, uri: String, recordId: String,
                  payload: Array[Byte], contentType: String = "text/html"): Unit = {
    def clean(s: String, what: String): String = {
      if (s.exists(c => c == '\r' || c == '\n')) bad(s"$what contains CR/LF: $s")
      s
    }
    val header =
      s"WARC/1.0\r\n" +
      s"WARC-Type: response\r\n" +
      s"WARC-Record-ID: <${clean(recordId, "record id")}>\r\n" +
      s"WARC-Date: $FixedDate\r\n" +
      s"WARC-Target-URI: ${clean(uri, "target uri")}\r\n" +
      s"Content-Type: ${clean(contentType, "content type")}\r\n" +
      s"Content-Length: ${payload.length}\r\n" +
      "\r\n"
    out.write(header.getBytes("UTF-8"))
    out.write(payload)
    out.write("\r\n\r\n".getBytes("US-ASCII"))
  }

  private def readFully(in: java.io.InputStream, a: Array[Byte], what: String): Array[Byte] = {
    var o = 0
    while (o < a.length) {
      val k = in.read(a, o, a.length - o)
      if (k < 0) bad(s"truncated (EOF inside $what)")
      o += k
    }
    a
  }

  /** Strict streaming walk: (target-uri, record-id, payload) per record.
    * It reads exactly what the record framing asks for (no read-ahead),
    * so the stream's position is the bytes consumed through the last
    * record — what the permissive dual's accounting counts.
    */
  def readStream(in: java.io.InputStream): Iterator[(String, String, Array[Byte])] =
    new Iterator[(String, String, Array[Byte])] {
      private var finished = false
      private var nextRec: (String, String, Array[Byte]) = _
      /** One CRLF-terminated line; None on clean EOF BEFORE the first
        * byte (only legal between records). */
      private def readLine(eofLegal: Boolean): Option[String] = {
        val buf = new java.io.ByteArrayOutputStream(128)
        var b = in.read()
        if (b < 0) {
          if (eofLegal) return None else bad("truncated (EOF at a header line start)")
        }
        while (b != '\n') {
          if (b < 0) bad("truncated (EOF inside a header line)")
          buf.write(b)
          if (buf.size > MaxHeaderLine) bad(s"header line exceeds $MaxHeaderLine bytes")
          b = in.read()
        }
        val a = buf.toByteArray
        if (a.isEmpty || a(a.length - 1) != '\r') bad("header line not CRLF-terminated")
        Some(new String(a, 0, a.length - 1, "UTF-8"))
      }
      private def advance(): Unit = {
        nextRec = null
        val version = readLine(eofLegal = true) match {
          case None => finished = true; return
          case Some(v) => v
        }
        if (!(version == "WARC/1.0" || version == "WARC/1.1"))
          bad(s"bad version line '${version.take(40)}'")
        var uri: String = null
        var rid: String = null
        var len = -1L
        var line = readLine(eofLegal = false).get
        while (line.nonEmpty) {
          val i = line.indexOf(':')
          if (i <= 0) bad(s"malformed header line '${line.take(40)}'")
          val (k, v) = (line.substring(0, i).trim, line.substring(i + 1).trim)
          // Locale.ROOT (ADVICE r16): default-locale lowercasing turns
          // 'WARC-Record-ID' into dotless-ı forms under a Turkish locale
          // and every record silently loses its uri/record_id
          k.toLowerCase(java.util.Locale.ROOT) match {
            case "content-length" =>
              if (!v.nonEmpty || !v.forall(_.isDigit)) bad(s"bad Content-Length '$v'")
              len = v.toLong
            case "warc-target-uri" => uri = v
            case "warc-record-id" =>
              rid = if (v.startsWith("<") && v.endsWith(">")) v.substring(1, v.length - 1) else v
            case _ => // other headers pass through unvalidated (spec-open set)
          }
          line = readLine(eofLegal = false).get
        }
        if (len < 0) bad("record without Content-Length")
        if (len > Int.MaxValue - 16) bad(s"payload of $len bytes exceeds the single-buffer bound")
        val payload = readFully(in, new Array[Byte](len.toInt), "payload")
        val term = readFully(in, new Array[Byte](4), "record terminator")
        if (!(term(0) == '\r' && term(1) == '\n' && term(2) == '\r' && term(3) == '\n'))
          bad("record terminator is not CRLF CRLF")
        nextRec = (uri, rid, payload)
      }
      override def hasNext: Boolean = {
        if (nextRec == null && !finished) advance()
        nextRec != null
      }
      override def next(): (String, String, Array[Byte]) = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }

  /** Write (uri, payload) rows as WARC shards — deterministic record ids
    * derived from the uri (reproducible shards), atomic-rename commit.
    */
  def writeShards(df: DataFrame, uriCol: String, payloadCol: String,
                  path: String, shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    df.select(col(uriCol).cast("string").as("u"), col(payloadCol).cast("binary").as("p"))
      .repartition(shards)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"part-$pid%05d.warc")
        Sources.writeShardAtomic(p) { out =>
          it.foreach { r =>
            val uri = r.getString(0)
            val rid = "urn:graft:" + java.security.MessageDigest.getInstance("MD5")
              .digest(uri.getBytes("UTF-8")).map("%02x".format(_)).mkString
            writeRecord(out, uri, rid, r.getAs[Array[Byte]](1))
          }
        }
      }
  }

  /** Write .warc.gz shards the way CommonCrawl actually ships them:
    * EACH RECORD IS ITS OWN GZIP MEMBER, members concatenated — the
    * layout that lets an index seek to a record's byte offset and
    * decompress just that member (plain whole-file gzip cannot).
    * RFC 1952 makes concatenated members one valid gzip stream, so
    * [[readGz]] walks the whole shard through one multi-member
    * decompressor feeding the SAME strict record walk.
    */
  def writeShardsGz(df: DataFrame, uriCol: String, payloadCol: String,
                    path: String, shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    df.select(col(uriCol).cast("string").as("u"), col(payloadCol).cast("binary").as("p"))
      .repartition(shards)
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"part-$pid%05d.warc.gz")
        Sources.writeShardAtomic(p) { out =>
          it.foreach { r =>
            val uri = r.getString(0)
            val rid = "urn:graft:" + java.security.MessageDigest.getInstance("MD5")
              .digest(uri.getBytes("UTF-8")).map("%02x".format(_)).mkString
            // one gzip member per record: open/finish a GZIPOutputStream
            // around each record so members concatenate seekably
            val gz = new java.util.zip.GZIPOutputStream(new NoCloseOut(out))
            writeRecord(gz, uri, rid, r.getAs[Array[Byte]](1))
            gz.finish(); gz.close()
          }
        }
      }
  }

  /** Shields the shard stream from per-member GZIPOutputStream.close(). */
  private final class NoCloseOut(out: java.io.OutputStream) extends java.io.FilterOutputStream(out) {
    override def write(b: Array[Byte], off: Int, len: Int): Unit = out.write(b, off, len)
    override def close(): Unit = flush()
  }

  /** RFC 1952 multi-member decompressor with STRICT member accounting
    * (ADVICE r16). JDK GZIPInputStream does consume concatenated
    * members, but its readTrailer() swallows a MALFORMED next-member
    * header (catch IOException → treat as clean EOF), so a garbled
    * member boundary silently dropped every subsequent record in the
    * strict reader. This walk owns the member loop: each member's
    * header is parsed per the spec (FEXTRA/FNAME/FCOMMENT/FHCRC
    * handled), the deflate body inflates through a raw Inflater,
    * the 8-byte trailer's CRC32 + ISIZE are verified, and — the
    * strict-dual property — bytes after the last valid member that do
    * NOT begin a well-formed next header fail loudly instead of
    * vanishing. Clean EOF is legal only at a member boundary with
    * zero bytes remaining.
    */
  private[graft] final class MultiMemberGzIn(raw: java.io.InputStream)
      extends java.io.InputStream {
    private val in = new java.io.PushbackInputStream(
      new java.io.BufferedInputStream(raw, 1 << 16), 1 << 16)
    private val inf = new java.util.zip.Inflater(true)
    private val crc = new java.util.zip.CRC32
    private val inBuf = new Array[Byte](1 << 16)
    private var inLen = 0
    private var inMember = false
    private var done = false
    private val one = new Array[Byte](1)

    private def expectByte(what: String): Int = {
      val b = in.read(); if (b < 0) bad(s"gzip: truncated $what"); b
    }

    /** Parse one member header; false on clean EOF before any byte.
      * When FHCRC is set, CRC32 over every header byte up to (not
      * including) the CRC16 field is verified against it (RFC 1952
      * §2.3.1) — ADVICE r17: a garbled header with FHCRC set must fail
      * here, not later at the body CRC.
      */
    private def startMember(): Boolean = {
      val b0 = in.read()
      if (b0 < 0) return false
      val hcrc = new java.util.zip.CRC32
      def hByte(what: String): Int = { val b = expectByte(what); hcrc.update(b); b }
      hcrc.update(b0)
      val b1 = hByte("gzip magic")
      if (b0 != 0x1f || b1 != 0x8b) bad(f"gzip: bad member magic $b0%02x$b1%02x")
      val cm = hByte("gzip CM")
      if (cm != 8) bad(s"gzip: unsupported compression method $cm")
      val flg = hByte("gzip FLG")
      var i = 0
      while (i < 6) { hByte("gzip MTIME/XFL/OS"); i += 1 }
      if ((flg & 4) != 0) { // FEXTRA: u16-LE length + payload
        val xl = hByte("FEXTRA len") | (hByte("FEXTRA len") << 8)
        var j = 0; while (j < xl) { hByte("FEXTRA"); j += 1 }
      }
      if ((flg & 8) != 0) while (hByte("FNAME") != 0) ()
      if ((flg & 16) != 0) while (hByte("FCOMMENT") != 0) ()
      if ((flg & 2) != 0) {
        val want = expectByte("FHCRC") | (expectByte("FHCRC") << 8)
        val got = (hcrc.getValue & 0xffffL).toInt
        if (got != want) bad(f"gzip: member header CRC16 mismatch (want $want%04x got $got%04x)")
      }
      inf.reset(); crc.reset(); inLen = 0
      inMember = true
      true
    }

    /** Trailer check at deflate end: unread the inflater's lookahead,
      * then verify CRC32 + ISIZE (mod 2^32).
      */
    private def endMember(): Unit = {
      val rem = inf.getRemaining
      if (rem > 0) in.unread(inBuf, inLen - rem, rem)
      val tr = new Array[Byte](8)
      var o = 0
      while (o < 8) {
        val k = in.read(tr, o, 8 - o)
        if (k < 0) bad("gzip: truncated member trailer")
        o += k
      }
      def le32(i: Int): Long =
        (tr(i) & 0xffL) | ((tr(i + 1) & 0xffL) << 8) |
          ((tr(i + 2) & 0xffL) << 16) | ((tr(i + 3) & 0xffL) << 24)
      if (le32(0) != crc.getValue) bad("gzip: member CRC32 mismatch")
      if (le32(4) != (inf.getBytesWritten & 0xffffffffL))
        bad("gzip: member ISIZE mismatch")
      inMember = false
    }

    override def read(): Int = {
      val k = read(one, 0, 1); if (k < 0) -1 else one(0) & 0xff
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (!done) {
        if (!inMember && !startMember()) { done = true; return -1 }
        val n =
          try inf.inflate(b, off, len)
          catch {
            case e: java.util.zip.DataFormatException =>
              bad(s"gzip: corrupt deflate stream (${e.getMessage})")
          }
        if (n > 0) { crc.update(b, off, n); return n }
        if (inf.finished()) endMember() // verify trailer; loop to next member
        else if (inf.needsInput()) {
          val k = in.read(inBuf, 0, inBuf.length)
          if (k < 0) bad("gzip: truncated member (EOF inside deflate stream)")
          inLen = k
          inf.setInput(inBuf, 0, k)
        } else if (inf.needsDictionary()) bad("gzip: preset dictionary unsupported")
      }
      -1
    }

    override def close(): Unit = { inf.end(); in.close() }
  }

  /** Strict shard-parallel read of [[writeShardsGz]] output through the
    * member-accounting [[MultiMemberGzIn]] walk, so the record stream
    * sees one continuous WARC stream AND a garbled member boundary
    * fails the task instead of silently truncating the shard (the JDK
    * decompressor's concatenation support swallows exactly that case).
    */
  def readGz(spark: SparkSession, path: String): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[(String, String, Array[Byte])] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
    Sources.shardRecords(spark, s"$path/*.warc.gz") { (_, _, in) =>
      readStream(new MultiMemberGzIn(in))
    }.toDF("uri", "record_id", "payload")
  }

  /** Strict shard-parallel read: (uri, record_id, payload). */
  def read(spark: SparkSession, path: String,
           src: Sources.ShardSource = Sources.batchShards): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[(String, String, Array[Byte])] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
    src(spark, s"$path/*.warc")((_, _, in) => readStream(in))
      .toDF("uri", "record_id", "payload")
  }

  /** Permissive shard-parallel read ([[Recovery]], metric
    * `graft.warc.skip`): survivors are CRLF-framed verified records.
    */
  def readPermissive(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    Recovery.read(spark, s"$path/*.warc", "warc", StructType(Seq(
        StructField("uri", StringType), StructField("record_id", StringType),
        StructField("payload", BinaryType)))) { (_, len, in) =>
      Recovery.recoverCounted(in, len)(readStream)
    } { case (uri, rid, payload) => org.apache.spark.sql.Row(uri, rid, payload) }
  }
}
