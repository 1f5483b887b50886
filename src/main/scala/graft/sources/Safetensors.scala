package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Pure-JVM safetensors codec — the tensor-interchange file format of
  * the model/training ecosystem (public spec: huggingface/safetensors
  * README "Format" section):
  *
  * {{{
  *   u64 N (little-endian)      — byte length of the JSON header
  *   byte[N] header             — UTF-8 JSON: {"name": {"dtype":"F32",
  *                                "shape":[n,d], "data_offsets":[b,e]},
  *                                ..., "__metadata__": {str: str}}
  *   byte[*] buffer             — C-contiguous little-endian tensor
  *                                bytes; data_offsets index into THIS
  *                                buffer (not the file)
  * }}}
  *
  * Spec constraints enforced on read (each violation throws
  * `IllegalArgumentException("safetensors: …")` — the strict-dual
  * convention every graft container codec follows): header ≤ 100 MB,
  * valid JSON of the restricted grammar above, offsets in-bounds,
  * per-tensor byte length == product(shape) * dtype width, and the
  * buffer fully covered without overlap (validated by sorting spans).
  * Trailing ASCII spaces after the JSON object are legal padding (the
  * reference Rust writer 8-byte-aligns the buffer this way).
  *
  * Scale shape: a safetensors file has NO record framing — it is an
  * all-or-nothing shard (torn tail ⇒ quarantine the whole shard, never
  * partial rows), sharded corpora get parallelism from shard count
  * exactly like TFRecord/tar, and the reader streams rows out of the
  * buffer without re-materializing per-row objects beyond the row
  * itself. Only F32/F64/I64 are implemented — the three dtypes the
  * graft tables need; anything else fails loudly.
  */
object Safetensors {

  private def bad(msg: String): Nothing =
    throw new IllegalArgumentException(s"safetensors: $msg")

  final case class TensorInfo(dtype: String, shape: Seq[Long], begin: Long, end: Long)

  private val widths = Map("F32" -> 4L, "F64" -> 8L, "I64" -> 8L)

  // ---- minimal JSON for the restricted header grammar ----------------

  private def jsonEscape(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  /** Recursive-descent parser for the header subset: objects, arrays,
    * strings (incl. \uXXXX), and non-negative integers. Any other JSON
    * construct in a header is out of spec for safetensors and rejected.
    */
  private final class JsonP(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && (s(i) == ' ' || s(i) == '\t' || s(i) == '\n' || s(i) == '\r')) i += 1
    private def expect(c: Char): Unit = {
      ws(); if (i >= s.length || s(i) != c) bad(s"header JSON: expected '$c' at $i"); i += 1
    }
    def value(): Any = {
      ws()
      if (i >= s.length) bad("header JSON: truncated")
      s(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => str()
        case c if c.isDigit => num()
        case c => bad(s"header JSON: unexpected '$c' at $i")
      }
    }
    def obj(): Map[String, Any] = {
      expect('{'); ws()
      if (i < s.length && s(i) == '}') { i += 1; return Map.empty }
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      var more = true
      while (more) {
        ws(); val k = str(); expect(':'); val v = value()
        if (m.contains(k)) bad(s"header JSON: duplicate key '$k'")
        m(k) = v
        ws()
        if (i < s.length && s(i) == ',') i += 1
        else { expect('}'); more = false }
      }
      m.toMap
    }
    private def arr(): Seq[Any] = {
      expect('['); ws()
      if (i < s.length && s(i) == ']') { i += 1; return Seq.empty }
      val b = Seq.newBuilder[Any]
      var more = true
      while (more) {
        b += value(); ws()
        if (i < s.length && s(i) == ',') i += 1
        else { expect(']'); more = false }
      }
      b.result()
    }
    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\') {
          if (i + 1 >= s.length) bad("header JSON: truncated escape")
          s(i + 1) match {
            case '"'  => b.append('"'); i += 2
            case '\\' => b.append('\\'); i += 2
            case '/'  => b.append('/'); i += 2
            case 'n'  => b.append('\n'); i += 2
            case 't'  => b.append('\t'); i += 2
            case 'r'  => b.append('\r'); i += 2
            case 'u'  =>
              if (i + 6 > s.length) bad("header JSON: truncated \\u escape")
              b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case c => bad(s"header JSON: unsupported escape '\\$c'")
          }
        } else { b.append(s(i)); i += 1 }
      }
      if (i >= s.length) bad("header JSON: unterminated string")
      i += 1
      b.toString
    }
    private def num(): Long = {
      val st = i
      while (i < s.length && s(i).isDigit) i += 1
      java.lang.Long.parseLong(s.substring(st, i))
    }
    /** After the top-level value: only padding spaces may remain. */
    def assertPaddingTail(): Unit = {
      while (i < s.length && s(i) == ' ') i += 1
      if (i != s.length) bad(s"header JSON: trailing garbage at $i")
    }
  }

  // ---- byte-level write ----------------------------------------------

  /** Serialize tensors (name → (dtype, shape, little-endian bytes)) plus
    * optional string metadata. Tensors are laid out in the given order,
    * contiguous from offset 0; the header is space-padded so the buffer
    * starts 8-byte aligned (matching the reference writer).
    */
  def write(out: java.io.OutputStream,
            tensors: Seq[(String, String, Seq[Long], Array[Byte])],
            metadata: Map[String, String] = Map.empty): Unit = {
    var off = 0L
    val entries = tensors.map { case (name, dtype, shape, data) =>
      val w = widths.getOrElse(dtype, bad(s"unsupported dtype $dtype"))
      val want = shape.product * w
      if (want != data.length) bad(s"tensor '$name': ${data.length} bytes != shape ${shape.mkString("x")} * $w")
      val e = s""""${jsonEscape(name)}":{"dtype":"$dtype","shape":[${shape.mkString(",")}],"data_offsets":[$off,${off + want}]}"""
      off += want
      e
    }
    val meta =
      if (metadata.isEmpty) Seq.empty
      else Seq(s""""__metadata__":{${metadata.toSeq.sorted.map { case (k, v) =>
        s""""${jsonEscape(k)}":"${jsonEscape(v)}"""" }.mkString(",")}}""")
    val json = (meta ++ entries).mkString("{", ",", "}")
    val raw = json.getBytes("UTF-8")
    val padded = ((raw.length + 8 + 7) / 8) * 8 - 8 // buffer start 8-aligned
    val hdr = java.util.Arrays.copyOf(raw, padded)
    java.util.Arrays.fill(hdr, raw.length, padded, ' '.toByte)
    val lenBuf = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(hdr.length.toLong)
    out.write(lenBuf.array())
    out.write(hdr)
    tensors.foreach { case (_, _, _, data) => out.write(data) }
  }

  // ---- byte-level read -----------------------------------------------

  private def readFully(in: java.io.InputStream, n: Int, what: String): Array[Byte] = {
    val a = new Array[Byte](n); var o = 0
    while (o < n) {
      val k = in.read(a, o, n - o)
      if (k < 0) bad(s"truncated (EOF inside $what)")
      o += k
    }
    a
  }

  /** Parse one file: (tensor infos in header order, raw buffer).
    * `fileLen` bounds the buffer read so a torn tail fails loudly
    * instead of blocking; every spec constraint above is checked.
    */
  def read(in: java.io.InputStream, fileLen: Long): (Seq[(String, TensorInfo)], Map[String, String], Array[Byte]) = {
    if (fileLen < 8) bad(s"file of $fileLen bytes cannot hold the header length")
    val n = java.nio.ByteBuffer.wrap(readFully(in, 8, "header length"))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    if (n <= 0 || n > 100L * 1024 * 1024) bad(s"header length $n out of range (spec max 100 MB)")
    if (8 + n > fileLen) bad(s"header length $n exceeds file length $fileLen")
    val json = new String(readFully(in, n.toInt, "header JSON"), "UTF-8")
    val p = new JsonP(json)
    val top = p.obj()
    p.assertPaddingTail()
    val bufLen = fileLen - 8 - n
    if (bufLen > Int.MaxValue - 16) bad(s"buffer of $bufLen bytes exceeds the single-array bound")
    val buf = readFully(in, bufLen.toInt, "tensor buffer")
    val metadata = top.get("__metadata__") match {
      case Some(m: Map[_, _]) => m.map {
        case (k: String, v: String) => k -> v
        case (k, v) => bad(s"__metadata__ entry $k -> $v is not a string pair")
      }
      case Some(_) => bad("__metadata__ is not an object")
      case None => Map.empty[String, String]
    }
    val infos = top.toSeq.collect { case (name, v) if name != "__metadata__" =>
      val m = v match {
        case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
        case _ => bad(s"tensor '$name' entry is not an object")
      }
      val dtype = m.getOrElse("dtype", bad(s"tensor '$name' missing dtype")) match {
        case s: String => s; case x => bad(s"tensor '$name' dtype $x not a string")
      }
      val w = widths.getOrElse(dtype, bad(s"tensor '$name': unsupported dtype $dtype"))
      val shape = m.getOrElse("shape", bad(s"tensor '$name' missing shape")) match {
        case a: Seq[_] => a.map { case l: Long => l; case x => bad(s"tensor '$name' shape element $x") }
        case x => bad(s"tensor '$name' shape $x not an array")
      }
      if (shape.exists(_ < 0)) bad(s"tensor '$name': negative shape")
      val offs = m.getOrElse("data_offsets", bad(s"tensor '$name' missing data_offsets")) match {
        case Seq(b: Long, e: Long) => (b, e)
        case x => bad(s"tensor '$name' data_offsets $x not a [begin,end] pair")
      }
      val (b, e) = offs
      if (b < 0 || e < b || e > bufLen) bad(s"tensor '$name': offsets [$b,$e) outside buffer of $bufLen")
      if (e - b != shape.product * w) bad(s"tensor '$name': span ${e - b} != shape ${shape.mkString("x")} * $w")
      name -> TensorInfo(dtype, shape, b, e)
    }
    // spans must tile the buffer without overlap (spec: no overlapping
    // offsets; gaps would be silently-dead bytes — reject those too)
    val spans = infos.map(_._2).map(t => (t.begin, t.end)).sortBy(_._1)
    spans.foldLeft(0L) { case (prev, (b, e)) =>
      if (b != prev) bad(s"buffer not contiguous at $prev (next span starts at $b)")
      e
    } match {
      case total if total != bufLen => bad(s"spans cover $total of $bufLen buffer bytes")
      case _ =>
    }
    (infos, metadata, buf)
  }

  // ---- Spark-level shard writers/readers ------------------------------

  /** Write an (id: long, vec: array<float>, label: long) frame as
    * safetensors shards — the exact file a torch/NumPy consumer mmaps:
    * per shard, tensors `<idCol>` I64 [n], `<vecCol>` F32 [n, d],
    * `<labelCol>` I64 [n]. The shard buffers its partition (a
    * safetensors header needs n and the offsets up front), so shard
    * count controls peak task memory AND read parallelism — size it
    * like any non-splittable container. Empty partitions write shape
    * [0] / [0, 0] files, which roundtrip to zero rows.
    */
  def writeVectors(df: DataFrame, path: String, idCol: String, vecCol: String,
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
          else if (dim != v.length)
            bad(s"ragged vectors: $dim vs ${v.length} in one shard")
          ids += r.getLong(0); labels += r.getLong(2); vecs += v
        }
        val n = ids.length
        val d = math.max(dim, 0)
        // size the buffers in LONG arithmetic (ADVICE r16): n*d*4 in Int
        // wraps for a large shard — a negative-capacity IAE at best, a
        // positive wrap + BufferOverflowException mid-write at worst —
        // instead of the codec's documented shard-bound error
        val vecBytes = n.toLong * d * 4L
        if (vecBytes > Int.MaxValue - 1024 || n.toLong * 8L > Int.MaxValue - 1024)
          bad(s"shard of $n rows x $d dims exceeds the single-buffer bound; " +
            "increase shard count")
        val idB = java.nio.ByteBuffer.allocate(n * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        ids.foreach(idB.putLong)
        val lbB = java.nio.ByteBuffer.allocate(n * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        labels.foreach(lbB.putLong)
        val vB = java.nio.ByteBuffer.allocate(n * d * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        vecs.foreach(_.foreach(vB.putFloat))
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val p = java.nio.file.Paths.get(path, f"part-$pid%05d.safetensors")
        Sources.writeShardAtomic(p) { out =>
          write(out, Seq(
            (idCol, "I64", Seq(n.toLong), idB.array()),
            (vecCol, "F32", Seq(n.toLong, d.toLong), vB.array()),
            (labelCol, "I64", Seq(n.toLong), lbB.array())),
            Map("format" -> "graft-vectors"))
        }
      }
  }

  /** Row-ify one parsed file back to (id, vec, label). */
  private def rows(infos: Seq[(String, TensorInfo)], buf: Array[Byte],
                   idCol: String, vecCol: String, labelCol: String): Iterator[Row] = {
    val m = infos.toMap
    val id = m.getOrElse(idCol, bad(s"missing tensor '$idCol'"))
    val vec = m.getOrElse(vecCol, bad(s"missing tensor '$vecCol'"))
    val lbl = m.getOrElse(labelCol, bad(s"missing tensor '$labelCol'"))
    if (id.dtype != "I64" || lbl.dtype != "I64" || vec.dtype != "F32")
      bad(s"unexpected dtypes ${id.dtype}/${vec.dtype}/${lbl.dtype}")
    val n = id.shape match { case Seq(n) => n.toInt; case s => bad(s"'$idCol' shape ${s.mkString("x")} not rank-1") }
    val d = vec.shape match {
      case Seq(r, d) if r == n => d.toInt
      case s => bad(s"'$vecCol' shape ${s.mkString("x")} does not match n=$n")
    }
    if (lbl.shape != Seq(n.toLong)) bad(s"'$labelCol' shape ${lbl.shape.mkString("x")} != [$n]")
    val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).iterator.map { i =>
      val vecArr = new Array[Float](d)
      var j = 0
      while (j < d) { vecArr(j) = bb.getFloat(vec.begin.toInt + (i * d + j) * 4); j += 1 }
      Row(bb.getLong(id.begin.toInt + i * 8), vecArr.toSeq,
        bb.getLong(lbl.begin.toInt + i * 8))
    }
  }

  private def vecSchema(idCol: String, vecCol: String, labelCol: String) = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField(vecCol, ArrayType(FloatType, containsNull = false), nullable = false),
      StructField(labelCol, LongType, nullable = false)))
  }

  /** Shard-parallel strict read of [[writeVectors]] output: any spec
    * violation fails the task (the strict dual; a torn shard can never
    * yield partial rows because parsing validates the whole file before
    * the first row).
    */
  def readVectors(spark: SparkSession, path: String, idCol: String,
                  vecCol: String, labelCol: String,
                  src: Sources.ShardSource = Sources.batchShards): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(vecSchema(idCol, vecCol, labelCol))
    src(spark, s"$path/*.safetensors") { (_, len, in) =>
      val (infos, _, buf) = read(in, len)
      rows(infos, buf, idCol, vecCol, labelCol)
    }.toDF()
  }

  /** Permissive dual ([[Recovery]], metric `graft.safetensors.skip`):
    * safetensors has no record framing, so there is no salvageable
    * prefix. The whole shard is validated before its first row (rows()
    * is lazy, so it is materialized inside the recovery walk), and a
    * shard failing ANY spec check is dropped whole: its full length
    * counts as dropped.
    */
  def readVectorsPermissive(spark: SparkSession, path: String, idCol: String,
                            vecCol: String, labelCol: String): DataFrame =
    Recovery.read(spark, s"$path/*.safetensors", "safetensors",
        vecSchema(idCol, vecCol, labelCol)) { (_, len, in) =>
      Recovery.recover({
        val (infos, _, buf) = read(in, len)
        rows(infos, buf, idCol, vecCol, labelCol).toVector.iterator
      }, len, () => len)
    } { case row => row }
}
