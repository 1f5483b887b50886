package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.sql.Row

/** Source/sink surface (SURVEY.md §2.1). The engine's record shape is
  * `(key string, value string, ts_us long)` regardless of transport:
  *
  *  - '''Kafka''' (S1/S3, the reference's primary transport —
  *    reference: src/main/scala/com/github/hosnimed/WordCountScalaExample.scala:111,117):
  *    `kafkaStream`/`writeKafka` wire `readStream.format("kafka")` with
  *    the standard key/value binary casts. No broker ships in this
  *    environment, so these builders are exercised only to the
  *    plan-construction level; the rest of the engine is
  *    transport-agnostic and is driven through files/memory streams.
  *  - '''Files''' (S9 + the test corpus): parquet/CSV with explicit
  *    schemas — schema-on-read at the edge, exactly where the reference
  *    applies its serdes.
  *  - '''Rate''' source for load-shaped testing (S8's generator role in
  *    streaming form).
  */
object Sources {

  /** S1: subscribe a Kafka topic as the canonical keyed stream. */
  def kafkaStream(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "earliest"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        unix_micros(col("timestamp")).as("ts_us"))

  /** S3: write a keyed stream back to a topic (`stream.to(topic)`). */
  def writeKafka(df: DataFrame, bootstrap: String, topic: String,
                 checkpoint: String): DataStreamWriter[Row] =
    df.select(col("key").cast("binary").as("key"), col("value").cast("binary").as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** TFRecord framing (r13) — the TensorFlow training-data interchange
    * format, from the PUBLIC spec (tensorflow/core/lib/io/record_writer):
    * each record is
    *   uint64 length (little-endian)
    *   uint32 masked CRC-32C of the 8 length bytes
    *   byte[length] payload
    *   uint32 masked CRC-32C of the payload
    * with mask(crc) = rotr15(crc) + 0xa282ead8 (uint32 wrap). CRC-32C
    * (Castagnoli) ships in the JDK (`java.util.zip.CRC32C`, RFC 3720
    * polynomial), so the codec is ~40 LoC with zero dependencies. Int
    * arithmetic below IS uint32 arithmetic mod 2^32 (same bit patterns;
    * shifts use >>> for the logical rotate).
    */
  object TfRecord {
    private def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
      val c = new java.util.zip.CRC32C()
      c.update(b, off, len)
      val crc = c.getValue.toInt
      ((crc >>> 15) | (crc << 17)) + 0xa282ead8
    }

    private def intLe(v: Int): Array[Byte] =
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()

    def write(out: java.io.OutputStream, payload: Array[Byte]): Unit = {
      // fail fast with a usable message: a NULL row in the payload
      // column would otherwise NPE deep inside a write task (review r13)
      require(payload != null, "TFRecord payload must not be null — filter null rows before writeTfRecords")
      val lenBuf = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(payload.length.toLong).array()
      out.write(lenBuf)
      out.write(intLe(maskedCrc(lenBuf, 0, 8)))
      out.write(payload)
      out.write(intLe(maskedCrc(payload, 0, payload.length)))
    }

    /** Strict STREAMING parse: every record's BOTH checksums must verify
      * and the stream must end exactly at a record boundary — a flipped
      * byte anywhere surfaces as IllegalArgumentException, never as
      * silently-wrong payloads (the CRC is the format's whole point).
      * Memory is one record at a time, never the shard: a GB-sized
      * shard reads in constant space (r14: 32 concurrent whole-shard
      * buffers OOM'd the 1000x arm — the exact failure a 100 TB read
      * would hit with executor-count concurrency).
      */
    def readStream(in: java.io.InputStream): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
      private val din = new java.io.DataInputStream(in)
      private var pos = 0L
      private var nextRec: Array[Byte] = null
      private var eof = false
      private def intLeOf(b: Array[Byte], off: Int): Int =
        (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
          ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)
      private def advance(): Unit = {
        if (nextRec != null || eof) return
        val head = new Array[Byte](12)
        val first = din.read(head, 0, 1)
        if (first == -1) { eof = true; return } // clean end at a boundary
        try din.readFully(head, 1, 11)
        catch { case _: java.io.EOFException =>
          throw new IllegalArgumentException(s"truncated record header at $pos") }
        val len = java.nio.ByteBuffer.wrap(head, 0, 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
        require(len >= 0 && len <= Int.MaxValue - 16, s"record length $len invalid at $pos")
        require(intLeOf(head, 8) == maskedCrc(head, 0, 8), s"length CRC mismatch at $pos")
        val payload = new Array[Byte](len.toInt)
        val tail = new Array[Byte](4)
        try { din.readFully(payload); din.readFully(tail) }
        catch { case _: java.io.EOFException =>
          throw new IllegalArgumentException(s"truncated record payload at $pos") }
        require(intLeOf(tail, 0) == maskedCrc(payload, 0, payload.length),
          s"payload CRC mismatch at $pos")
        pos += 12 + len + 4
        nextRec = payload
      }
      override def hasNext: Boolean = { advance(); !eof && nextRec != null }
      override def next(): Array[Byte] = {
        advance()
        if (nextRec == null) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }

  }

  /** tf.Example protobuf wire format (r14) — the MESSAGE inside real
    * TFRecord training shards (s_tfrecord's JSON payloads prove the
    * framing; this proves the payload TensorFlow actually writes).
    * Pure-JVM implementation of the public protobuf wire spec
    * (LEB128 varints, `key = field<<3 | wire_type`, LEN-delimited
    * submessages) for the tf.Example schema
    * (tensorflow/core/example/example.proto, feature.proto):
    *
    *   Example  { Features features = 1 }
    *   Features { map<string, Feature> feature = 1 }   // repeated entry
    *            // map entry: { string key = 1; Feature value = 2 }
    *   Feature  { oneof { BytesList bytes_list = 1;
    *                      FloatList float_list = 2;
    *                      Int64List int64_list = 3 } }
    *   BytesList { repeated bytes value = 1 }
    *   Int64List { repeated int64 value = 1 [packed] }
    *
    * Encoder emits map entries in caller order (deterministic shards);
    * decoder is spec-faithful: unknown fields SKIP by wire type
    * (forward compatibility — a shard written by a newer producer with
    * extra features still parses), truncation/malformed keys THROW
    * (never silently-wrong features), repeated non-packed int64 values
    * are accepted where packed is expected (the spec requires parsers
    * to accept both encodings). SourcesSpec pins hand-computed golden
    * bytes so encoder and decoder cannot be consistently wrong together.
    */
  object TfExample {
    final val WireVarint = 0
    final val WireI64 = 1
    final val WireLen = 2
    final val WireI32 = 5

    private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }

    private def writeKey(out: java.io.ByteArrayOutputStream, field: Int, wire: Int): Unit =
      writeVarint(out, ((field.toLong << 3) | wire.toLong))

    private def writeLenDelim(out: java.io.ByteArrayOutputStream, field: Int, body: Array[Byte]): Unit = {
      writeKey(out, field, WireLen)
      writeVarint(out, body.length.toLong)
      out.write(body, 0, body.length)
    }

    private def int64List(vs: Seq[Long]): Array[Byte] = {
      val packed = new java.io.ByteArrayOutputStream()
      vs.foreach(writeVarint(packed, _))
      val out = new java.io.ByteArrayOutputStream()
      writeLenDelim(out, 1, packed.toByteArray) // packed repeated int64
      out.toByteArray
    }

    private def bytesList(vs: Seq[Array[Byte]]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      vs.foreach(writeLenDelim(out, 1, _))
      out.toByteArray
    }

    private def floatList(vs: Seq[Float]): Array[Byte] = {
      val packed = java.nio.ByteBuffer.allocate(4 * vs.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vs.foreach(packed.putFloat)
      val out = new java.io.ByteArrayOutputStream()
      writeLenDelim(out, 1, packed.array()) // packed repeated float (I32)
      out.toByteArray
    }

    /** One feature-map entry: { key = 1, value = 2 (Feature) }. */
    private def mapEntry(name: String, feature: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      writeLenDelim(out, 1, name.getBytes("UTF-8"))
      writeLenDelim(out, 2, feature)
      out.toByteArray
    }

    private def feature(kindField: Int, list: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      writeLenDelim(out, kindField, list)
      out.toByteArray
    }

    /** Encode a feature map into tf.Example bytes. Values: Long →
      * Int64List, Array[Byte]/String → BytesList. Entries in given order.
      */
    def encode(features: Seq[(String, Any)]): Array[Byte] = {
      val fs = new java.io.ByteArrayOutputStream()
      features.foreach { case (name, v) =>
        val f = v match {
          case l: Long => feature(3, int64List(Seq(l)))
          case i: Int => feature(3, int64List(Seq(i.toLong)))
          case b: Array[Byte] => feature(1, bytesList(Seq(b)))
          case s: String => feature(1, bytesList(Seq(s.getBytes("UTF-8"))))
          case f: Float => feature(2, floatList(Seq(f)))
          case fa: Array[Float] => feature(2, floatList(fa.toSeq))
          case ls: Seq[_] if ls.nonEmpty && ls.forall(_.isInstanceOf[Float]) =>
            feature(2, floatList(ls.asInstanceOf[Seq[Float]]))
          case ls: Seq[_] if ls.forall(_.isInstanceOf[Long]) =>
            feature(3, int64List(ls.asInstanceOf[Seq[Long]]))
          case other => throw new IllegalArgumentException(
            s"unsupported tf.Example feature type for '$name': ${other.getClass}")
        }
        writeLenDelim(fs, 1, mapEntry(name, f))
      }
      val ex = new java.io.ByteArrayOutputStream()
      writeLenDelim(ex, 1, fs.toByteArray) // Example.features = 1
      ex.toByteArray
    }

    /** Decoded feature value: exactly one list is set per Feature. */
    final case class Value(bytes: Seq[Array[Byte]], int64s: Seq[Long],
                           floats: Seq[Float] = Nil)

    private final class Reader(buf: Array[Byte], start: Int, end: Int) {
      var pos: Int = start
      def hasMore: Boolean = pos < end
      def varint(): Long = {
        var shift = 0
        var v = 0L
        while (true) {
          require(pos < end, s"truncated varint at $pos")
          val b = buf(pos); pos += 1
          v |= (b & 0x7fL) << shift
          if ((b & 0x80) == 0) return v
          shift += 7
          require(shift < 64, "varint overflow")
        }
        v
      }
      def lenDelim(): (Int, Int) = {
        val len = varint()
        require(len >= 0 && len <= end - pos, s"truncated length-delimited field at $pos")
        val s = pos; pos += len.toInt; (s, s + len.toInt)
      }
      /** Skip a field of the given wire type (unknown-field tolerance). */
      def skip(wire: Int): Unit = wire match {
        case WireVarint => varint(); ()
        case WireI64 => require(end - pos >= 8, "truncated fixed64"); pos += 8
        case WireLen => lenDelim(); ()
        case WireI32 => require(end - pos >= 4, "truncated fixed32"); pos += 4
        case w => throw new IllegalArgumentException(s"unsupported wire type $w at $pos")
      }
    }

    private def parseInt64List(buf: Array[Byte], s: Int, e: Int): Seq[Long] = {
      val r = new Reader(buf, s, e)
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (r.hasMore) {
        val key = r.varint()
        val (field, wire) = ((key >>> 3).toInt, (key & 7).toInt)
        if (field == 1 && wire == WireLen) { // packed
          val (ps, pe) = r.lenDelim()
          val pr = new Reader(buf, ps, pe)
          while (pr.hasMore) out += pr.varint()
        } else if (field == 1 && wire == WireVarint) out += r.varint() // unpacked
        else r.skip(wire)
      }
      out.toSeq
    }

    private def parseBytesList(buf: Array[Byte], s: Int, e: Int): Seq[Array[Byte]] = {
      val r = new Reader(buf, s, e)
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      while (r.hasMore) {
        val key = r.varint()
        val (field, wire) = ((key >>> 3).toInt, (key & 7).toInt)
        if (field == 1 && wire == WireLen) {
          val (bs, be) = r.lenDelim()
          out += java.util.Arrays.copyOfRange(buf, bs, be)
        } else r.skip(wire)
      }
      out.toSeq
    }

    private def parseFloatList(buf: Array[Byte], s: Int, e: Int): Seq[Float] = {
      val r = new Reader(buf, s, e)
      val out = scala.collection.mutable.ArrayBuffer.empty[Float]
      def readF32(at: Int): Float =
        java.lang.Float.intBitsToFloat(
          (buf(at) & 0xff) | ((buf(at + 1) & 0xff) << 8) |
            ((buf(at + 2) & 0xff) << 16) | ((buf(at + 3) & 0xff) << 24))
      while (r.hasMore) {
        val key = r.varint()
        val (field, wire) = ((key >>> 3).toInt, (key & 7).toInt)
        if (field == 1 && wire == WireLen) { // packed
          val (ps, pe) = r.lenDelim()
          require((pe - ps) % 4 == 0, s"packed float list length not a multiple of 4 at $ps")
          var i = ps
          while (i < pe) { out += readF32(i); i += 4 }
        } else if (field == 1 && wire == WireI32) { // unpacked
          require(e - r.pos >= 4, "truncated fixed32")
          out += readF32(r.pos); r.pos += 4
        } else r.skip(wire)
      }
      out.toSeq
    }

    private def parseFeature(buf: Array[Byte], s: Int, e: Int): Value = {
      val r = new Reader(buf, s, e)
      var bytes = Seq.empty[Array[Byte]]
      var ints = Seq.empty[Long]
      var floats = Seq.empty[Float]
      while (r.hasMore) {
        val key = r.varint()
        val (field, wire) = ((key >>> 3).toInt, (key & 7).toInt)
        (field, wire) match {
          case (1, WireLen) => val (bs, be) = r.lenDelim(); bytes = parseBytesList(buf, bs, be)
          case (2, WireLen) => val (fs, fe) = r.lenDelim(); floats = parseFloatList(buf, fs, fe)
          case (3, WireLen) => val (is, ie) = r.lenDelim(); ints = parseInt64List(buf, is, ie)
          case _ => r.skip(wire)
        }
      }
      Value(bytes, ints, floats)
    }

    /** Decode tf.Example bytes into the feature map (insertion order). */
    def decode(bytes: Array[Byte]): Seq[(String, Value)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Value)]
      val ex = new Reader(bytes, 0, bytes.length)
      while (ex.hasMore) {
        val key = ex.varint()
        val (field, wire) = ((key >>> 3).toInt, (key & 7).toInt)
        if (field == 1 && wire == WireLen) { // Features
          val (fs, fe) = ex.lenDelim()
          val fr = new Reader(bytes, fs, fe)
          while (fr.hasMore) {
            val fkey = fr.varint()
            val (ff, fw) = ((fkey >>> 3).toInt, (fkey & 7).toInt)
            if (ff == 1 && fw == WireLen) { // map entry
              val (es, ee) = fr.lenDelim()
              val er = new Reader(bytes, es, ee)
              var name: String = null
              var value: Value = null
              while (er.hasMore) {
                val ekey = er.varint()
                val (ef, ew) = ((ekey >>> 3).toInt, (ekey & 7).toInt)
                if (ef == 1 && ew == WireLen) {
                  val (ns, ne) = er.lenDelim()
                  name = new String(bytes, ns, ne - ns, "UTF-8")
                } else if (ef == 2 && ew == WireLen) {
                  val (vs, ve) = er.lenDelim()
                  value = parseFeature(bytes, vs, ve)
                } else er.skip(ew)
              }
              require(name != null && value != null,
                "tf.Example map entry missing key or value")
              out += name -> value
            } else fr.skip(fw)
          }
        } else ex.skip(wire)
      }
      out.toSeq
    }
  }

  /** USTAR (POSIX tar) framing (r13) — the container under WebDataset,
    * the de-facto multimodal training-corpus layout (members grouped by
    * a sample key: `<key>.json`, `<key>.png`, … inside plain tar
    * shards; readers stream members sequentially, no index). Public
    * format: 512-byte octal-field headers ("ustar" magic), content
    * padded to 512, two zero blocks at EOF; the header checksum is the
    * byte sum with the checksum field read as spaces. Writer and reader
    * below are ~80 LoC of that spec, zero dependencies.
    */
  object Tar {
    private def octal(v: Long, width: Int): Array[Byte] = {
      val s = java.lang.Long.toOctalString(v)
      val padded = ("0" * (width - 1 - s.length)) + s + "\u0000"
      padded.getBytes("US-ASCII")
    }

    def writeEntry(out: java.io.OutputStream, name: String, data: Array[Byte]): Unit = {
      // US-ASCII getBytes substitutes '?' for unmappable chars, so two
      // distinct non-ASCII names could silently collide (ADVICE r13):
      // reject them before encoding instead
      require(name.forall(c => c >= 0x20 && c < 0x7f),
        s"tar member name must be printable ASCII: $name")
      require(name.getBytes("US-ASCII").length <= 100, s"tar name too long: $name")
      val h = new Array[Byte](512)
      val nb = name.getBytes("US-ASCII")
      System.arraycopy(nb, 0, h, 0, nb.length)
      System.arraycopy(octal(420 /*0644*/, 8), 0, h, 100, 8)
      System.arraycopy(octal(0, 8), 0, h, 108, 8)
      System.arraycopy(octal(0, 8), 0, h, 116, 8)
      System.arraycopy(octal(data.length.toLong, 12), 0, h, 124, 12)
      System.arraycopy(octal(0, 12), 0, h, 136, 12) // fixed mtime: reproducible shards
      java.util.Arrays.fill(h, 148, 156, ' '.toByte) // checksum field as spaces
      h(156) = '0' // regular file
      System.arraycopy("ustar\u000000".getBytes("US-ASCII"), 0, h, 257, 8)
      var sum = 0L
      var i = 0
      while (i < 512) { sum += h(i) & 0xff; i += 1 }
      val cs = java.lang.Long.toOctalString(sum)
      val csPadded = ("0" * (6 - cs.length)) + cs
      System.arraycopy(csPadded.getBytes("US-ASCII"), 0, h, 148, 6)
      h(154) = 0; h(155) = ' '.toByte
      out.write(h)
      out.write(data)
      val pad = (512 - data.length % 512) % 512
      if (pad > 0) out.write(new Array[Byte](pad))
    }

    def finish(out: java.io.OutputStream): Unit = out.write(new Array[Byte](1024))

    /** Strict STREAMING shard walk: every header checksum must verify;
      * truncated or malformed members throw, never yield garbage.
      * Memory is one member at a time, never the shard (r14: whole-shard
      * buffers OOM'd the 1000x arm at executor-count concurrency — the
      * failure a 100 TB read would hit).
      *
      * Strict also polices the ARCHIVE FRAMING (ADVICE r14): EOF before
      * the two zero end-of-archive blocks — a clean cut exactly between
      * members, or a partial trailing header — throws, because a torn
      * shard whose tear lands on a member boundary would otherwise pass
      * strict validation with members silently missing. The lenient
      * treat-EOF-as-end acceptance lives only in the lenient walk
      * [[readWebDatasetPermissive]] recovers, which surfaces the loss as
      * a counted marker instead of garbage.
      */
    def readStream(in: java.io.InputStream): Iterator[(String, Array[Byte])] =
      walk(in, strict = true)

    private[graft] def walk(in: java.io.InputStream, strict: Boolean)
        : Iterator[(String, Array[Byte])] =
      new Iterator[(String, Array[Byte])] {
        private val din = new java.io.DataInputStream(in)
        private var pos = 0L
        private var finished = false
        private var nextEntry: (String, Array[Byte]) = _
        // 1 = full 512-byte block; -1 = clean EOF at a block boundary;
        // 0 = partial trailing block (1-511 bytes)
        private def readBlock(h: Array[Byte]): Int = {
          val first = din.read(h, 0, 1)
          if (first == -1) -1
          else {
            try { din.readFully(h, 1, 511); 1 }
            catch { case _: java.io.EOFException => 0 }
          }
        }
        private def advance(): Unit = {
          nextEntry = null
          val h = new Array[Byte](512)
          while (nextEntry == null && !finished) {
            val blk = readBlock(h)
            if (blk != 1) {
              // EOF without end-of-archive blocks: a lenient walk stops
              // (the permissive wrapper accounts the loss); strict throws
              require(!strict,
                if (blk == 0) s"tar shard ends in a partial header block at offset $pos"
                else s"tar shard ends at offset $pos without end-of-archive blocks")
              finished = true; return
            }
            if (h.forall(_ == 0)) {
              // first zero block: strict demands the spec's SECOND zero
              // block whole (a lone zero block is a torn end-of-archive)
              if (strict) {
                val h2 = new Array[Byte](512)
                require(readBlock(h2) == 1 && h2.forall(_ == 0),
                  s"tar end-of-archive truncated at offset $pos (second zero block missing)")
              }
              finished = true; return
            }
            var sum = 0L
            var i = 0
            while (i < 512) {
              sum += (if (i >= 148 && i < 156) ' '.toInt else h(i) & 0xff)
              i += 1
            }
            // octal fields may be LEFT-padded with spaces (v7/historic
            // writers) and terminated by NUL or space — strip both
            // sides before parsing (review r13: zero-pad-only parsing
            // rejected spec-legal archives)
            def octalField(off: Int, len: Int): String =
              new String(h, off, len, "US-ASCII")
                .dropWhile(c => c == ' ' || c == 0)
                .takeWhile(c => c >= '0' && c <= '7')
            val stored = octalField(148, 8)
            require(stored.nonEmpty && java.lang.Long.parseLong(stored, 8) == sum,
              s"tar header checksum mismatch at offset $pos")
            val name = new String(h, 0, 100, "US-ASCII").takeWhile(_ != 0)
            val sizeStr = octalField(124, 12)
            require(sizeStr.nonEmpty, s"tar member $name has no size field")
            val size = java.lang.Long.parseLong(sizeStr, 8)
            require(size >= 0 && size <= Int.MaxValue - 512,
              s"tar member $name size $size out of range")
            val typeflag = h(156)
            val data = new Array[Byte](size.toInt)
            try {
              din.readFully(data)
              din.skipNBytes(((size + 511) / 512) * 512 - size)
            } catch {
              case _: java.io.EOFException =>
                throw new IllegalArgumentException(s"tar member $name overruns shard")
            }
            pos += 512 + ((size + 511) / 512) * 512
            // yield only REGULAR FILES: directories ('5'), pax headers
            // ('x'/'g'), links etc. are walked over (their data blocks
            // are still skipped above) — a dataset reader must never
            // surface them as samples (review r13)
            if (typeflag == '0'.toByte || typeflag == 0.toByte) nextEntry = (name, data)
          }
        }
        // LAZY advance (in hasNext, not next): the historical
        // pre-fetching next() parsed the FOLLOWING header eagerly, so a
        // torn member threw away the preceding GOOD member's return —
        // the permissive walker lost two members per tear (review r14)
        private var advanced = false
        private def ensure(): Unit = if (!advanced) { advance(); advanced = true }
        override def hasNext: Boolean = { ensure(); nextEntry != null }
        override def next(): (String, Array[Byte]) = {
          ensure()
          if (nextEntry == null) throw new NoSuchElementException
          val e = nextEntry
          nextEntry = null
          advanced = false
          e
        }
      }
  }

  /** Shard-writer commit protocol (ADVICE r13): stream the shard into
    * an attempt-unique temp file, then ATOMIC_MOVE into the final name.
    * With direct writes, a speculative duplicate attempt of the same
    * partition would open the same final path concurrently and could
    * interleave bytes (TRUNCATE_EXISTING only makes *sequential*
    * retries idempotent). With rename-commit, concurrent attempts each
    * build a private file and the last atomic rename wins whole —
    * either attempt's complete bytes, never a mix. This is the same
    * task-commit shape Spark's own FileOutputCommitter v2 uses.
    */
  private[sources] def writeShardAtomic(finalPath: java.nio.file.Path)
                              (body: java.io.OutputStream => Unit): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    val attempt = if (tc == null) 0L else tc.taskAttemptId()
    val tmp = finalPath.resolveSibling(
      s".${finalPath.getFileName}.attempt-$attempt.tmp")
    val out = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(tmp))
    // a failed attempt must not leave its .tmp behind (ADVICE r14:
    // killed/failed attempts would accumulate hidden temp files in the
    // output directory indefinitely) — delete before rethrowing
    try {
      try body(out) finally out.close()
      java.nio.file.Files.move(tmp, finalPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } catch {
      case e: Throwable =>
        try java.nio.file.Files.deleteIfExists(tmp)
        catch { case _: Throwable => () }
        throw e
    }
  }

  /** Write WebDataset shards: input rows are (key, ext, payload) —
    * every member of one sample (same key) must sit contiguously in one
    * shard, so rows repartition BY KEY and sort within partitions on
    * (key, ext), exactly the layout streaming WebDataset readers
    * require. One tar per partition.
    */
  def writeWebDataset(df: DataFrame, path: String, shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    df.select(col("key").cast("string"), col("ext").cast("string"),
        col("payload").cast("binary"))
      .repartition(shards, col("key"))
      .sortWithinPartitions("key", "ext")
      .foreachPartition { (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"shard-$pid%05d.tar")
        writeShardAtomic(p) { out =>
          it.foreach(r => Tar.writeEntry(out, s"${r.getString(0)}.${r.getString(1)}",
            r.getAs[Array[Byte]](2)))
          Tar.finish(out)
        }
      }
  }

  /** Hadoop Configuration is not java-serializable; this is the standard
    * write/readFields envelope (what Spark's own internal wrapper does)
    * so executor tasks see the SESSION'S filesystem settings — bare
    * `new Configuration()` would drop every spark.hadoop.* credential/
    * endpoint and break any non-default store (review r14).
    */
  private final class SerializableHadoopConf(
      @transient var conf: org.apache.hadoop.conf.Configuration)
      extends java.io.Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Shard-parallel STREAMING read core: one task per shard, one open
    * stream per task, `parse` pulls records incrementally.
    *
    * Why not binaryFile: the binaryFile source bin-packs small files by
    * maxPartitionBytes/openCostInBytes, which capped a 32-shard read at
    * ~4 tasks and broke both container formats' documented contract —
    * "read parallelism = shard count, the writer's knob" (measured r14:
    * 32 vs 4 shards only 1.8x faster through binaryFile). Paths are
    * globbed once on the driver (one cheap listing) and parallelized
    * with numSlices = nShards, which guarantees ONE path per task —
    * round-robin repartition would seed each input slice at a random
    * output partition, leaving ~1/e of tasks empty and some reading 2-3
    * shards serially (review r14).
    *
    * Why streaming, not whole-shard buffers: 32 concurrent whole-shard
    * Array[Byte] loads OOM'd the 1000x scale arm on a 16 GB heap — the
    * exact failure a 100 TB read with GB-sized shards hits at
    * executor-count concurrency. Each task holds ONE record/member at a
    * time; shard size no longer bounds memory (measured: the 1000x
    * WebDataset arm went from OOM to green).
    *
    * Tasks read through the SESSION'S Hadoop configuration
    * ([[SerializableHadoopConf]]), so any Hadoop-compatible store works
    * exactly as it does for binaryFile. The stream closes eagerly when
    * its iterator drains or fails, AND a task-completion listener (the
    * pattern Spark's own file sources use) backstops abandonment —
    * limit/take/show, task kill, or a downstream failure between
    * hasNext calls can leave the iterator undrained, and in a
    * long-lived executor JVM that leaked descriptor/connection never
    * comes back (ADVICE r14).
    */
  private[sources] def shardRecords[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, glob: String)(
      parse: (String, Long, java.io.InputStream) => Iterator[T])
      : org.apache.spark.sql.Dataset[T] = {
    val p = new org.apache.hadoop.fs.Path(glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus returns NULL (not empty) when the parent path does not
    // exist — surface the path, don't NPE (review r14)
    val paths = Option(fs.globStatus(p)).getOrElse(Array.empty)
      .map(_.getPath.toString).sorted.toSeq
    require(paths.nonEmpty, s"no shards match $glob")
    val serConf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    spark.createDataset(
      spark.sparkContext.parallelize(paths, paths.length))
      .flatMap { s =>
        val path = new org.apache.hadoop.fs.Path(s)
        val f = path.getFileSystem(serConf.conf)
        val len = f.getFileStatus(path).getLen
        val in = new java.io.BufferedInputStream(f.open(path), 1 << 16)
        val inner = parse(s, len, in)
        // close as soon as the shard drains (don't wait for task end)…
        new Iterator[T] {
          private var closed = false
          private def closeOnce(): Unit = if (!closed) { closed = true; in.close() }
          // …and at task end regardless: an abandoned iterator must not
          // leak the open stream in a long-lived executor (ADVICE r14)
          Option(org.apache.spark.TaskContext.get()).foreach(
            _.addTaskCompletionListener[Unit](_ => closeOnce()))
          override def hasNext: Boolean = {
            val h = try inner.hasNext
                    catch { case e: Throwable => closeOnce(); throw e }
            if (!h) closeOnce()
            h
          }
          override def next(): T = inner.next()
        }
      }
  }

  /** Where a shard reader takes its shards from. Both sources run the
    * reader's one `(path, length, stream) => records` walk per shard, so
    * a container's batch read and its stream read share their decode.
    */
  trait ShardSource {
    def apply[T: org.apache.spark.sql.Encoder](spark: SparkSession, glob: String)(
        parse: (String, Long, java.io.InputStream) => Iterator[T])
        : org.apache.spark.sql.Dataset[T]
  }

  /** The batch source: one task per shard ([[shardRecords]]). */
  val batchShards: ShardSource = new ShardSource {
    def apply[T: org.apache.spark.sql.Encoder](spark: SparkSession, glob: String)(
        parse: (String, Long, java.io.InputStream) => Iterator[T])
        : org.apache.spark.sql.Dataset[T] = shardRecords(spark, glob)(parse)
  }

  /** The stream source: a binaryFile file stream admitting one shard per
    * micro-batch — shards parsed as they land. It reads under Spark's
    * fixed binaryFile schema (no listing to infer one) and walks each
    * shard's bytes with the same parse as [[batchShards]]; a shard is
    * one row, so it is held whole (the batch source streams it).
    */
  val streamShards: ShardSource = new ShardSource {
    def apply[T: org.apache.spark.sql.Encoder](spark: SparkSession, glob: String)(
        parse: (String, Long, java.io.InputStream) => Iterator[T])
        : org.apache.spark.sql.Dataset[T] = {
      import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
      import spark.implicits._
      spark.readStream.format("binaryFile").schema(BinaryFileFormat.schema)
        .option("maxFilesPerTrigger", 1)
        .load(glob)
        .select("path", "length", "content").as[(String, Long, Array[Byte])]
        .flatMap { case (path, len, bytes) =>
          parse(path, len, new java.io.ByteArrayInputStream(bytes))
        }
    }
  }

  /** WebDataset/ZIP member naming: `<key>.<ext>`, the sample key being
    * the name up to the LAST dot. Members without an extension (or
    * hidden in directories a foreign writer added) are not samples:
    * readers skip them, never crash on them (review r13:
    * substring(0, -1) threw on dot-less names).
    */
  object SampleName {
    def unapply(name: String): Option[(String, String)] = {
      val dot = name.lastIndexOf('.')
      if (dot > 0) Some((name.substring(0, dot), name.substring(dot + 1))) else None
    }
  }

  /** The (key, ext, payload) schema the tar and zip sample readers emit. */
  private val sampleSchema = StructType(Seq(
    StructField("key", StringType), StructField("ext", StringType),
    StructField("payload", BinaryType)))

  def readWebDataset(spark: SparkSession, path: String,
                     src: ShardSource = batchShards): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[(String, String, Array[Byte])] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY)
    src(spark, s"$path/*.tar") { (_, _, in) =>
      Tar.readStream(in).collect { case (SampleName(key, ext), data) => (key, ext, data) }
    }.toDF("key", "ext", "payload")
  }

  /** [[readWebDataset]] in torn-tail recovery mode ([[Recovery]],
    * metric `graft.webdataset.skip`). The walk is the LENIENT one: EOF
    * without the end-of-archive blocks ends the shard (strict rejects
    * it), and any cut is accounted as abandoned bytes instead.
    */
  def readWebDatasetPermissive(spark: SparkSession, path: String): DataFrame =
    Recovery.read(spark, s"$path/*.tar", "webdataset", sampleSchema) { (_, len, in) =>
      Recovery.recoverCounted(in, len)(Tar.walk(_, strict = false))
    } { case (SampleName(key, ext), data) => Row(key, ext, data) }

  /** ZIP shard container (pure JDK `java.util.zip`) — the other common
    * sample-archive layout next to WebDataset tar: many dataset dumps
    * (Kaggle exports, scraped-corpus drops, COCO-style image sets) ship
    * as zip shards of `<key>.<ext>` members. Same member-naming and
    * key-contiguity conventions as the tar family; DEFLATE compression
    * comes with the container. Like tar/TFRecord, a zip shard read in
    * stream mode is one task (the central directory sits at the tail, so
    * splitting would need a footer pass) — read parallelism = shard
    * count, the writer's knob.
    */
  object Zip {
    private val LOC = 0x04034b50L
    private val CEN = 0x02014b50L
    private val EOCD = 0x06054b50L
    private val DESC = 0x08074b50L

    private def bad(msg: String): Nothing = throw new IllegalArgumentException(s"zip: $msg")

    /** Counting little-endian reader over the raw stream, with pushback
      * for the deflate bytes the inflater over-reads past a member's end.
      * `consumed` tracks exactly the bytes the walk has accepted — the
      * recovery walk's abandoned-tail accounting reads it (a counter
      * outside would count the pushed-back read-ahead as consumed).
      */
    private[graft] final class LeIn(in: java.io.InputStream) {
      private val pb = new java.io.PushbackInputStream(in, 1 << 16)
      var consumed = 0L
      def readN(n: Int): Array[Byte] = {
        val a = new Array[Byte](n); var off = 0
        while (off < n) {
          val k = pb.read(a, off, n - off)
          if (k < 0) bad("truncated (EOF inside header or member)")
          off += k
        }
        consumed += n; a
      }
      /** 4 bytes, or None on clean EOF BEFORE the first byte. */
      def tryRead4(): Option[Array[Byte]] = {
        val b0 = pb.read()
        if (b0 < 0) None
        else { consumed += 1; Some(Array(b0.toByte) ++ readN(3)) }
      }
      def readChunk(buf: Array[Byte]): Int = {
        val k = pb.read(buf, 0, buf.length)
        if (k > 0) consumed += k
        k
      }
      def unread(buf: Array[Byte], off: Int, len: Int): Unit = {
        pb.unread(buf, off, len); consumed -= len
      }
    }
    private def u16(a: Array[Byte], i: Int): Int =
      (a(i) & 0xff) | ((a(i + 1) & 0xff) << 8)
    private def u32(a: Array[Byte], i: Int): Long =
      (u16(a, i).toLong) | (u16(a, i + 2).toLong << 16)

    /** Streaming member walk over the LOCAL headers (a hand framing
      * walk, the Tar/TfRecord convention — NOT `ZipInputStream`, whose
      * `readLOC` swallows a torn header's `EOFException` and reports
      * clean end-of-archive, exactly the silent-truncation gap the tar
      * strict mode closes per ADVICE r14). One member in memory at a
      * time; every member's CRC-32 and size verified against its header
      * or data descriptor — a flipped payload byte throws, never yields
      * a silently-wrong member. End of members is the central-directory
      * (or empty-archive EOCD) SIGNATURE — plain EOF anywhere is a torn
      * shard and throws; the central directory itself is framing-only
      * for a stream reader and is not walked. STORED and DEFLATED
      * methods supported (descriptor mode requires DEFLATED, whose
      * coding is self-terminating; STORED-with-descriptor is not
      * streamable and is rejected, as every stream reader must).
      * Directory members skip. ZIP64 is out of scope (shards are
      * writer-bounded) and rejected loudly.
      */
    def readStream(in: java.io.InputStream): Iterator[(String, Array[Byte])] =
      walk(new LeIn(in))

    private[graft] def walk(s: LeIn): Iterator[(String, Array[Byte])] =
      new Iterator[(String, Array[Byte])] {
        private var nextEntry: (String, Array[Byte]) = null
        private var finished = false
        private def fetch(): Unit = {
          while (nextEntry == null && !finished) {
            s.tryRead4() match {
              case None =>
                // EOF where a signature belongs: only a zero-byte
                // stream is ambiguous enough to accept (an empty
                // partition's EOCD-only commit always has the sig)
                if (s.consumed == 0L) finished = true else bad("truncated (EOF where a signature belongs)")
              case Some(sig4) =>
                u32(sig4, 0) match {
                  case CEN | EOCD => finished = true // valid end of members
                  case LOC =>
                    val h = s.readN(26) // rest of the 30-byte local header
                    val flags = u16(h, 2)
                    val method = u16(h, 4)
                    val crcH = u32(h, 10)
                    val csizeH = u32(h, 14)
                    val usizeH = u32(h, 18)
                    val nlen = u16(h, 22)
                    val elen = u16(h, 24)
                    if (csizeH == 0xffffffffL || usizeH == 0xffffffffL) bad("ZIP64 not supported")
                    if (csizeH > Int.MaxValue - 8 || usizeH > Int.MaxValue - 8)
                      bad(s"member larger than the 2 GiB single-buffer bound ($usizeH bytes)")
                    val name = new String(s.readN(nlen), "UTF-8")
                    if (elen > 0) s.readN(elen)
                    val hasDesc = (flags & 8) != 0
                    val crc = new java.util.zip.CRC32
                    val data: Array[Byte] =
                      if (method == 0) {
                        if (hasDesc) bad(s"STORED member '$name' with data descriptor is not streamable")
                        if (csizeH != usizeH) bad(s"STORED member '$name' size mismatch")
                        val d = s.readN(usizeH.toInt)
                        crc.update(d)
                        if (crc.getValue != crcH) bad(s"CRC mismatch in member '$name'")
                        d
                      } else if (method == 8) {
                        val inf = new java.util.zip.Inflater(true)
                        try {
                          val out = new java.io.ByteArrayOutputStream(math.max(64, usizeH.toInt))
                          val inBuf = new Array[Byte](8192)
                          val outBuf = new Array[Byte](8192)
                          var lastK = 0
                          var fedTotal = 0L
                          while (!inf.finished()) {
                            if (inf.needsInput()) {
                              if (!hasDesc && fedTotal >= csizeH) bad(s"deflate stream of '$name' overruns its declared size")
                              val k = s.readChunk(inBuf)
                              if (k < 0) bad(s"truncated deflate stream in member '$name'")
                              lastK = k; fedTotal += k
                              inf.setInput(inBuf, 0, k)
                            }
                            val n =
                              try inf.inflate(outBuf)
                              catch { case e: java.util.zip.DataFormatException => bad(s"corrupt deflate data in member '$name': ${e.getMessage}") }
                            if (n > 0) { out.write(outBuf, 0, n); crc.update(outBuf, 0, n) }
                            else if (n == 0 && inf.needsDictionary()) bad(s"member '$name' needs a preset dictionary")
                          }
                          val rem = inf.getRemaining
                          if (rem > 0) s.unread(inBuf, lastK - rem, rem)
                          val d = out.toByteArray
                          if (hasDesc) {
                            val first = s.readN(4)
                            val crcD = if (u32(first, 0) == DESC) u32(s.readN(4), 0) else u32(first, 0)
                            val tail = s.readN(8)
                            val usizeD = u32(tail, 4)
                            if (crc.getValue != crcD) bad(s"CRC mismatch in member '$name'")
                            if ((d.length.toLong & 0xffffffffL) != usizeD) bad(s"size mismatch in member '$name'")
                          } else {
                            if (fedTotal - rem != csizeH) bad(s"compressed size mismatch in member '$name'")
                            if (crc.getValue != crcH) bad(s"CRC mismatch in member '$name'")
                            if ((d.length.toLong & 0xffffffffL) != usizeH) bad(s"size mismatch in member '$name'")
                          }
                          d
                        } finally inf.end()
                      } else bad(s"unsupported compression method $method in member '$name'")
                    if (!name.endsWith("/")) nextEntry = (name, data) // directories skip
                  case other => bad(f"unexpected signature 0x$other%08x")
                }
            }
          }
        }
        override def hasNext: Boolean = { fetch(); nextEntry != null }
        override def next(): (String, Array[Byte]) = {
          fetch()
          if (nextEntry == null) throw new NoSuchElementException
          val r = nextEntry; nextEntry = null; r
        }
      }
  }

  /** Write ZIP shards: rows are (key, ext, payload), repartitioned BY
    * KEY and sorted within partitions on (key, ext) so a sample's
    * members sit contiguously — the same layout contract as
    * [[writeWebDataset]]. One zip per partition via the atomic-rename
    * commit; entry times pinned to the DOS epoch so shard bytes carry
    * no wall clock.
    */
  def writeZipShards(df: DataFrame, path: String, shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    df.select(col("key").cast("string"), col("ext").cast("string"),
        col("payload").cast("binary"))
      .repartition(shards, col("key"))
      .sortWithinPartitions("key", "ext")
      .foreachPartition { (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"shard-$pid%05d.zip")
        writeShardAtomic(p) { out =>
          val z = new java.util.zip.ZipOutputStream(out)
          var wrote = false
          it.foreach { r =>
            val e = new java.util.zip.ZipEntry(s"${r.getString(0)}.${r.getString(1)}")
            e.setTime(0L) // deterministic shard bytes (clamps to DOS epoch)
            z.putNextEntry(e)
            z.write(r.getAs[Array[Byte]](2))
            z.closeEntry()
            wrote = true
          }
          // ZipOutputStream refuses a zero-entry finish(); an empty
          // partition commits the 22-byte EOCD-only archive instead
          // (readers see an empty shard, not a missing one)
          if (wrote) z.finish()
          else out.write(Array[Byte]('P', 'K', 5, 6, 0, 0, 0, 0, 0, 0, 0, 0,
            0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
        }
      }
  }

  /** Read ZIP shards back as (key, ext, payload) — shard-parallel
    * ([[shardRecords]]), every member CRC-verified, one member in
    * memory at a time. Same `<key>.<ext>` naming convention as
    * [[readWebDataset]] (dot-less members skip, they are not samples).
    */
  def readZipShards(spark: SparkSession, path: String,
                    src: ShardSource = batchShards): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[(String, String, Array[Byte])] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY)
    src(spark, s"$path/*.zip") { (_, _, in) =>
      Zip.readStream(in).collect { case (SampleName(key, ext), data) => (key, ext, data) }
    }.toDF("key", "ext", "payload")
  }

  /** [[readZipShards]] in torn-tail recovery mode ([[Recovery]], metric
    * `graft.zip.skip`). Unlike tar, a tear exactly between members is
    * still a failure (a valid end is the central-directory signature),
    * so it is counted too. Consumption comes from [[Zip.LeIn]], which
    * pushes the inflater's read-ahead back.
    */
  def readZipShardsPermissive(spark: SparkSession, path: String): DataFrame =
    Recovery.read(spark, s"$path/*.zip", "zip", sampleSchema) { (_, len, in) =>
      val le = new Zip.LeIn(in)
      Recovery.recover(Zip.walk(le), len, () => le.consumed)
    } { case (SampleName(key, ext), data) => Row(key, ext, data) }

  /** Write Arrow IPC stream shards (one `.arrows` per partition via the
    * atomic-rename commit) — the zero-copy interchange format ML
    * dataloaders mmap. Embarrassingly parallel; each task buffers one
    * record batch (1024 rows), never the shard. Non-splittable for a
    * stream reader (batch boundaries are discovered by walking
    * messages), so read parallelism = shard count, the writer's knob —
    * the tar/TFRecord/zip contract.
    */
  def writeArrowStream(df: DataFrame, path: String, shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val schema = df.schema
    df.repartition(shards)
      .foreachPartition { (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"part-$pid%05d.arrows")
        writeShardAtomic(p)(out => ArrowIpc.writeStream(out, schema, it))
      }
  }

  /** Write Feather-V2 Arrow FILE shards (`.arrow` — the mmap-able form
    * with a footer of batch locations, what `pyarrow.ipc.open_file`
    * expects). Same contract as [[writeArrowStream]] otherwise.
    */
  def writeArrowFile(df: DataFrame, path: String, shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    val schema = df.schema
    df.repartition(shards)
      .foreachPartition { (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"part-$pid%05d.arrow")
        writeShardAtomic(p)(out => ArrowIpc.writeFile(out, schema, it))
      }
  }

  /** Read Feather-V2 `.arrow` file shards — the same streaming walk as
    * [[readArrowStream]] (magic skipped, footer never consulted: a
    * stream reader stops at the end-of-stream marker).
    */
  def readArrowFile(spark: SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    shardRecords(spark, s"$path/*.arrow")((_, _, in) => ArrowIpc.readStream(in, schema))
      .toDF()
  }

  /** Read Arrow IPC stream shards back, validating the stream schema
    * against the EXPECTED Spark schema (names + types, order-exact) —
    * shard-parallel ([[shardRecords]]), one record batch in memory at a
    * time, nulls honored through the validity bitmaps.
    */
  def readArrowStream(spark: SparkSession, path: String,
                      schema: org.apache.spark.sql.types.StructType,
                      src: ShardSource = batchShards): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    src(spark, s"$path/*.arrows")((_, _, in) => ArrowIpc.readStream(in, schema))
      .toDF()
  }

  /** Write a binary column as TFRecord shards (one file per output
    * partition). 100 TB shape: the write is embarrassingly parallel
    * (each task streams its partition through the framing with no
    * buffering beyond one record); like gzip text, a TFRecord shard is
    * NOT splittable, so read parallelism = shard count — the writer
    * controls it here exactly as production corpus writers do.
    */
  def writeTfRecords(df: DataFrame, payloadCol: String, path: String,
                     shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    df.select(col(payloadCol).cast("binary").as("p"))
      .repartition(shards)
      .foreachPartition { (it: Iterator[Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"part-$pid%05d.tfrecord")
        writeShardAtomic(p) { out =>
          it.foreach(r => TfRecord.write(out, r.getAs[Array[Byte]](0)))
        }
      }
  }

  /** Read TFRecord shards back as one `payload: binary` row per record —
    * shard-parallel ([[shardRecords]]: one task per shard, matching
    * the format's non-splittable framing), every checksum verified,
    * one record in memory at a time.
    */
  def readTfRecords(spark: SparkSession, path: String,
                    src: ShardSource = batchShards): DataFrame =
    src(spark, s"$path/*.tfrecord")((_, _, in) => TfRecord.readStream(in))(
      org.apache.spark.sql.Encoders.BINARY)
      .toDF("payload")

  /** [[readTfRecords]] in torn-tail recovery mode ([[Recovery]], metric
    * `graft.tfrecord.skip`): the CRCs make every surviving record a
    * verified one.
    */
  def readTfRecordsPermissive(spark: SparkSession, path: String): DataFrame =
    Recovery.read(spark, s"$path/*.tfrecord", "tfrecord",
        StructType(Seq(StructField("payload", BinaryType)))) { (_, len, in) =>
      Recovery.recoverCounted(in, len)(TfRecord.readStream)
    } { case payload => Row(payload) }

  /** S9: CSV with an explicit schema (serde-at-the-edge). */
  def csv(spark: SparkSession, path: String, schema: StructType, header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  /** Batch parquet "topic". */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Persist a frame as a BUCKETED parquet table: rows hash-partition
    * into `nBuckets` files per write task by `bucketCol`, each sorted on
    * it. A bucketed table carries its partitioning in metadata, so a
    * subsequent equi-join (or aggregation) on the bucket column reads
    * co-located data and plans with NO Exchange and NO Sort — at 100 TB
    * the dominant join cost paid ONCE at write time and amortized over
    * every downstream query. This is the batch analog of the reference's
    * co-partitioned topics (Kafka Streams joins require both topics to
    * share partition count and keying — reference:
    * src/main/scala/com/github/hosnimed/StreamToStreamJoinExample.scala:92-95).
    * Requires `saveAsTable` (bucket metadata lives in the catalog); the
    * table is EXTERNAL at `path`, so its files live where the caller
    * says, never in a warehouse under the working directory.
    */
  def writeBucketed(df: DataFrame, table: String, path: String, bucketCol: String,
                    nBuckets: Int): Unit = {
    // repartition on the bucket column first: Spark's repartition hash
    // (Murmur3 pmod n) IS the bucket hash, so each write task holds
    // exactly one bucket → ONE file per bucket. Without it every task
    // writes a sliver of every bucket (task×bucket small files), and a
    // multi-file bucket forces downstream joins to re-Sort even though
    // the Exchange is gone.
    df.repartition(nBuckets, col(bucketCol))
      .write.mode("overwrite")
      .format("parquet")
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .saveAsTable(table)
  }

  /** Persist a frame PARTITIONED by a low-cardinality column (hive-style
    * `col=value/` directories). A filter on the partition column then
    * prunes whole directories at PLANNING time — the scan never opens,
    * lists, or reads the excluded partitions. At 100 TB with a
    * `lang=`/`date=` layout this is the difference between scanning the
    * corpus and scanning one slice; the complement of bucketing (which
    * prunes the JOIN, not the scan). Keep partition columns coarse: one
    * directory per distinct value (a high-cardinality partition key is
    * the classic small-files failure).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Z-value of two numeric columns: each normalizes to a `bits`-bit
    * rank inside its [min, max] span (the one-row bounds frame
    * broadcasts), then the bits interleave — points close in BOTH
    * dimensions get close z-values. Pure integer arithmetic, exact and
    * engine-portable.
    */
  def zValue(a: Column, b: Column, aMin: Column, aMax: Column,
             bMin: Column, bMax: Column, bits: Int = 16): Column = {
    val top = (1L << bits) - 1
    def norm(x: Column, lo: Column, hi: Column): Column =
      when(hi === lo, lit(0L)).otherwise(
        ((x.cast("double") - lo.cast("double")) * lit(top.toDouble) /
          (hi.cast("double") - lo.cast("double"))).cast("long"))
    val an = norm(a, aMin, aMax)
    val bn = norm(b, bMin, bMax)
    (0 until bits).map { i =>
      shiftleft(shiftright(an, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(bn, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
  }

  /** Z-ORDERED layout: sort the table along the Z-curve of two columns
    * before writing, so every parquet row group's min/max footer stats
    * form a tight bounding box in BOTH dimensions — a 2D box predicate
    * (user AND time range, key AND size band) then skips most row
    * groups at scan time, where a single-column sort helps only its own
    * column. The standard lakehouse data-skipping layout for multi-
    * dimensional filters, as a plain two-pass parquet write: one
    * bounds aggregation (one row, broadcast), then
    * repartitionByRange(zval) + sortWithinPartitions(zval) — a RANGE
    * exchange, parallel everywhere, never a single-reducer global sort.
    * The z-value is layout metadata only; the written schema is the
    * input schema.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int = 8, bits: Int = 16): Unit = {
    val bounds = df.agg(
      min(col(colA)).as("_amin"), max(col(colA)).as("_amax"),
      min(col(colB)).as("_bmin"), max(col(colB)).as("_bmax"))
    df.crossJoin(broadcast(bounds))
      .withColumn("_z", zValue(col(colA), col(colB),
        col("_amin"), col("_amax"), col("_bmin"), col("_bmax"), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_amin", "_amax", "_bmin", "_bmax", "_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Streaming load generator (records/sec), shaped like the canonical
    * stream — for soak/load tests where the reference used inline
    * producers (S8).
    */
  def rateStream(spark: SparkSession, rowsPerSecond: Int, keys: Int = 16): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .select(
        (col("value") % keys).cast("string").as("key"),
        concat(lit("v"), col("value")).as("value"),
        unix_micros(col("timestamp")).as("ts_us"))
}
