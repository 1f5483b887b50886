package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Pure-JVM NumPy `.npy` codec + the `.npz` shard form (public spec:
  * numpy's "NEP 1 / format.py" docs):
  *
  * {{{
  *   \x93NUMPY            magic
  *   u8 major, u8 minor   (1.0 here)
  *   u16 LE header_len
  *   byte[header_len]     ASCII python dict literal, space-padded so
  *                        (10 + header_len) % 64 == 0, ending '\n':
  *                        {'descr': '<f4', 'fortran_order': False,
  *                         'shape': (n, d), }
  *   raw little-endian C-contiguous data
  * }}}
  *
  * `.npz` is simply a ZIP of named `.npy` members (numpy `savez`) — so
  * the shard reader composes the repo's OWN hand-built zip walk (every
  * member CRC-verified, torn-tail semantics inherited) with this
  * parser. Strict validation convention: every malformed shape throws
  * `IllegalArgumentException("npy: …")`. Only `<f4`/`<i8`,
  * C-order (fortran_order False), rank 1-2 — the layouts the graft
  * tables need; anything else fails loudly.
  */
object Npy {

  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(s"npy: $msg")

  private val Magic = Array[Byte](0x93.toByte, 'N', 'U', 'M', 'P', 'Y')

  final case class Header(descr: String, fortran: Boolean, shape: Seq[Long])

  def encode(descr: String, shape: Seq[Long], data: Array[Byte]): Array[Byte] = {
    val width = descr match {
      case "<f4" => 4L; case "<i8" => 8L
      case d => bad(s"unsupported descr $d")
    }
    if (shape.product * width != data.length)
      bad(s"${data.length} bytes != shape ${shape.mkString("x")} * $width")
    val shapeTxt = shape match {
      case Seq(n) => s"($n,)" // 1-tuple needs the trailing comma
      case s => s.mkString("(", ", ", ")")
    }
    val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': $shapeTxt, }"
    val unpadded = 10 + dict.length + 1 // magic+ver+len + dict + '\n'
    val total = ((unpadded + 63) / 64) * 64
    val header = dict + (" " * (total - unpadded)) + "\n"
    val out = new java.io.ByteArrayOutputStream(total + data.length)
    out.write(Magic); out.write(1); out.write(0)
    out.write(header.length & 0xff); out.write((header.length >> 8) & 0xff)
    out.write(header.getBytes("US-ASCII"))
    out.write(data)
    out.toByteArray
  }

  /** Parse header; returns (Header, data offset). Strict: bad magic,
    * unsupported version/descr/order, malformed dict, or a data length
    * that disagrees with shape × width all throw.
    */
  def parseHeader(bytes: Array[Byte]): (Header, Int) = {
    if (bytes.length < 10) bad(s"file of ${bytes.length} bytes cannot hold the magic")
    if (!java.util.Arrays.equals(java.util.Arrays.copyOf(bytes, 6), Magic)) bad("bad magic")
    val (maj, min) = (bytes(6) & 0xff, bytes(7) & 0xff)
    if (maj != 1 || min != 0) bad(s"unsupported version $maj.$min")
    val hlen = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    if (10 + hlen > bytes.length) bad(s"header length $hlen exceeds file")
    val dict = new String(bytes, 10, hlen, "US-ASCII")
    if (!dict.endsWith("\n")) bad("header not newline-terminated")
    def field(re: String, what: String): String = {
      val m = re.r.findFirstMatchIn(dict).getOrElse(bad(s"header missing $what"))
      m.group(1)
    }
    val descr = field("'descr':\\s*'([^']+)'", "descr")
    val fortran = field("'fortran_order':\\s*(True|False)", "fortran_order") == "True"
    if (fortran) bad("fortran_order True unsupported (C-order only)")
    val shapeTxt = field("'shape':\\s*\\(([^)]*)\\)", "shape")
    val shape = shapeTxt.split(',').map(_.trim).filter(_.nonEmpty).toSeq.map { t =>
      if (!t.forall(_.isDigit)) bad(s"bad shape element '$t'")
      t.toLong
    }
    if (shape.isEmpty || shape.size > 2) bad(s"rank ${shape.size} unsupported (1-2 only)")
    val width = descr match {
      case "<f4" => 4L; case "<i8" => 8L
      case d => bad(s"unsupported descr $d")
    }
    if (shape.product * width != bytes.length - 10 - hlen)
      bad(s"data of ${bytes.length - 10 - hlen} bytes != shape ${shape.mkString("x")} * $width")
    (Header(descr, fortran, shape), 10 + hlen)
  }

  // ---- npz shards over the house (id, vec, label) vector layout -------

  /** Write (id: long, vec: array<float>, label: long) as `.npz` shards:
    * each shard a ZIP (STORED members, deterministic bytes) holding
    * `<idCol>.npy` (i8 [n]), `<vecCol>.npy` (f4 [n,d]),
    * `<labelCol>.npy` (i8 [n]) — exactly what `np.load` of an npz
    * returns member-wise. Shard buffers its partition (npy needs shape
    * up front) — shard count controls peak task memory AND read
    * parallelism, the non-splittable container discipline.
    */
  def writeNpzVectors(df: DataFrame, path: String, idCol: String, vecCol: String,
                      labelCol: String, shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    df.select(col(idCol).cast("long"), col(vecCol), col(labelCol).cast("long"))
      .repartition(shards)
      .foreachPartition { (it: Iterator[Row]) =>
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val labels = scala.collection.mutable.ArrayBuffer.empty[Long]
        val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        var dim = -1
        it.foreach { r =>
          val v = r.getSeq[Float](1).toArray
          if (dim < 0) dim = v.length
          else if (dim != v.length) bad(s"ragged vectors: $dim vs ${v.length}")
          ids += r.getLong(0); labels += r.getLong(2); vecs += v
        }
        val n = ids.length
        val d = math.max(dim, 0)
        // Long-arithmetic size guard (ADVICE r16): n*d*4 in Int wraps on
        // a large shard — fail with the codec's shard-bound error instead
        // of a confusing negative-capacity/BufferOverflow exception
        if (n.toLong * d * 4L > Int.MaxValue - 1024 ||
            n.toLong * 8L > Int.MaxValue - 1024)
          bad(s"shard of $n rows x $d dims exceeds the single-buffer bound; " +
            "increase shard count")
        def le64(xs: Seq[Long]): Array[Byte] = {
          val bb = java.nio.ByteBuffer.allocate(xs.length * 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          xs.foreach(bb.putLong); bb.array()
        }
        val vB = java.nio.ByteBuffer.allocate(n * d * 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        vecs.foreach(_.foreach(vB.putFloat))
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"part-$pid%05d.npz")
        Sources.writeShardAtomic(p) { out =>
          val z = new java.util.zip.ZipOutputStream(out)
          z.setMethod(java.util.zip.ZipOutputStream.STORED) // numpy savez layout
          def put(name: String, b: Array[Byte]): Unit = {
            val e = new java.util.zip.ZipEntry(name)
            e.setTime(0L) // deterministic shard bytes
            e.setMethod(java.util.zip.ZipEntry.STORED)
            e.setSize(b.length.toLong)
            e.setCompressedSize(b.length.toLong)
            val crc = new java.util.zip.CRC32(); crc.update(b)
            e.setCrc(crc.getValue)
            z.putNextEntry(e); z.write(b); z.closeEntry()
          }
          put(s"$idCol.npy", encode("<i8", Seq(n.toLong), le64(ids.toSeq)))
          put(s"$vecCol.npy", encode("<f4", Seq(n.toLong, d.toLong), vB.array()))
          put(s"$labelCol.npy", encode("<i8", Seq(n.toLong), le64(labels.toSeq)))
          z.finish()
        }
      }
  }

  // ---- bare .npy shard directories (the fairseq/megatron idiom) -------

  /** Bare `.npy` vector shards (r17) — the layout fairseq/megatron-style
    * loaders consume: each shard ONE raw f4 [n, d] matrix, NO ids in
    * the container (row identity = shard + row order). Shards are
    * DETERMINISTIC — `part-j.npy` holds rows with `id % shards == j`,
    * ascending by id — so a reader (and the DuckDB oracle) reconstructs
    * the id mapping exactly. The within-partition sort makes each
    * shard's rows contiguous, so peak task memory is one shard's matrix
    * (the non-splittable container discipline: shard count is the write
    * memory AND read parallelism knob).
    */
  def writeNpyShards(df: DataFrame, path: String, idCol: String, vecCol: String,
                     shards: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    df.select(pmod(col(idCol), lit(shards)).cast("int").as("_s"),
        col(idCol).cast("long").as("_id"), col(vecCol).as("_v"))
      .repartition(shards, col("_s"))
      .sortWithinPartitions("_s", "_id")
      .foreachPartition { (it: Iterator[Row]) =>
        var cur = -1
        var dim = -1
        val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
        def flush(): Unit = if (cur >= 0 && vecs.nonEmpty) {
          val n = vecs.length
          val d = math.max(dim, 0)
          if (n.toLong * d * 4L > Int.MaxValue - 1024)
            bad(s"shard of $n rows x $d dims exceeds the single-buffer bound; " +
              "increase shard count")
          val bb = java.nio.ByteBuffer.allocate(n * d * 4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          vecs.foreach(_.foreach(bb.putFloat))
          val p = java.nio.file.Paths.get(path, f"part-$cur%05d.npy")
          Sources.writeShardAtomic(p) { out =>
            out.write(encode("<f4", Seq(n.toLong, d.toLong), bb.array()))
          }
          vecs.clear(); dim = -1
        }
        it.foreach { r =>
          val s = r.getInt(0)
          if (s != cur) { flush(); cur = s }
          val v = r.getSeq[Float](2).toArray
          if (dim < 0) dim = v.length
          else if (dim != v.length) bad(s"ragged vectors: $dim vs ${v.length}")
          vecs += v
        }
        flush()
      }
  }

  /** Strict shard-parallel read of [[writeNpyShards]] output:
    * (shard, row_idx, vec) — the shard index comes from the file NAME
    * (the layout carries no ids). Any header/shape/extent violation
    * fails the task.
    */
  def readNpyShards(spark: SparkSession, path: String,
                    src: Sources.ShardSource = Sources.batchShards): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(npyShardSchema)
    src(spark, s"$path/*.npy")(npyShard).toDF()
  }

  /** Permissive dual ([[Recovery]], metric `graft.npy.skip`): a bare
    * .npy has no record framing, so a torn tail leaves no salvageable
    * prefix (the data extent no longer matches the header's shape). The
    * whole shard is validated before its first row, and a shard failing
    * ANY check is dropped whole: its full length counts as dropped.
    */
  def readNpyShardsPermissive(spark: SparkSession, path: String): DataFrame =
    Recovery.read(spark, s"$path/*.npy", "npy", npyShardSchema) { (name, len, in) =>
      Recovery.recover(npyShard(name, len, in).toVector.iterator, len, () => len)
    } { case row => row }

  private def npyShard(name: String, len: Long, in: java.io.InputStream): Iterator[Row] = {
    if (len > Int.MaxValue - 16)
      bad(s"shard of $len bytes exceeds the single-buffer bound")
    val bytes = new Array[Byte](len.toInt)
    var o = 0
    while (o < bytes.length) {
      val k = in.read(bytes, o, bytes.length - o)
      if (k < 0) bad("truncated shard (EOF before the stated extent)")
      o += k
    }
    decodeVectorShard(shardIndexOf(name), bytes)
  }

  private val shardRe = ".*part-(\\d+)\\.npy$".r

  /** The deterministic shard index a [[writeNpyShards]] file name carries. */
  private def shardIndexOf(name: String): Long = name match {
    case shardRe(k) => k.toLong
    case _ => bad(s"unrecognized npy shard name $name")
  }

  /** One whole shard (as bytes) → (shard, row_idx, vec) rows (a bare
    * .npy has no record framing, so file == record batch). Strict: any
    * header/shape/extent violation throws.
    */
  def decodeVectorShard(shard: Long, bytes: Array[Byte]): Iterator[Row] = {
    val (h, off) = parseHeader(bytes)
    if (h.descr != "<f4") bad(s"vector shard must be <f4, got ${h.descr}")
    val (n, dm) = h.shape match {
      case Seq(rows, d) => (rows.toInt, d.toInt)
      case s => bad(s"vector shard must be rank-2, got ${s.mkString("x")}")
    }
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).iterator.map { i =>
      val v = new Array[Float](dm)
      var j = 0
      while (j < dm) { v(j) = bb.getFloat(off + (i * dm + j) * 4); j += 1 }
      Row(shard, i.toLong, v.toSeq)
    }
  }

  /** The (shard, row_idx, vec) catalyst schema the npy shard readers emit. */
  private def npyShardSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("shard", LongType, nullable = false),
      StructField("row_idx", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
  }

  /** Shard-parallel strict read of [[writeNpzVectors]] output: the
    * members come back through the repo's own CRC-verifying zip walk,
    * each parsed by [[parseHeader]]; shapes must agree across the three
    * arrays. Any violation fails the task.
    */
  def readNpzVectors(spark: SparkSession, path: String, idCol: String,
                     vecCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField(vecCol, ArrayType(FloatType, containsNull = false), nullable = false),
      StructField(labelCol, LongType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(schema)
    Sources.shardRecords(spark, s"$path/*.npz") { (_, _, in) =>
      val members = Sources.Zip.readStream(in).map { case (n, b) => n -> b }.toMap
      def member(n: String): Array[Byte] =
        members.getOrElse(s"$n.npy", bad(s"npz missing member $n.npy"))
      val (hi, oi) = parseHeader(member(idCol))
      val (hv, ov) = parseHeader(member(vecCol))
      val (hl, ol) = parseHeader(member(labelCol))
      if (hi.descr != "<i8" || hl.descr != "<i8" || hv.descr != "<f4")
        bad(s"unexpected descrs ${hi.descr}/${hv.descr}/${hl.descr}")
      val n = hi.shape match { case Seq(n) => n.toInt; case s => bad(s"ids rank ${s.size}") }
      val d = hv.shape match {
        case Seq(r, d) if r == n => d.toInt
        case s => bad(s"vec shape ${s.mkString("x")} does not match n=$n")
      }
      if (hl.shape != Seq(n.toLong)) bad(s"labels shape ${hl.shape.mkString("x")} != [$n]")
      val bi = java.nio.ByteBuffer.wrap(member(idCol)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val bv = java.nio.ByteBuffer.wrap(member(vecCol)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val bl = java.nio.ByteBuffer.wrap(member(labelCol)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).iterator.map { i =>
        val vec = new Array[Float](d)
        var j = 0
        while (j < d) { vec(j) = bv.getFloat(ov + (i * d + j) * 4); j += 1 }
        Row(bi.getLong(oi + i * 8), vec.toSeq, bl.getLong(ol + i * 8))
      }
    }.toDF()
  }
}
