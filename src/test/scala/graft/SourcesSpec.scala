package graft

import java.nio.file.Files
import graft.sources.{Recovery, Sources}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source-surface tests beyond the driver gate: S9 parity with the
  * reference's song fixture shape, and the Avro serde round-trip.
  *
  * The reference's CSV fixture (reference:
  * src/test/resources/song_source.csv, used by its song-count example) is
  * a headerless 5-column file `id,album,artist,song,genre`. The fixture
  * below reproduces the SHAPE (schema, headerless format, a genre worth
  * filtering on) with original rows — the point is that a user's existing
  * file loads unchanged through [[Sources.csv]].
  */
class SourcesSpec extends GraftTest {

  private val songSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("album", StringType),
    StructField("artist", StringType),
    StructField("song", StringType),
    StructField("genre", StringType)))

  private def writeSongFixture(): String = {
    val dir = java.nio.file.Paths.get(ProbeUtil.scratchDir("songs"))
    val rows = Seq(
      "1,First Light,The Harbor Lights,Morning Tide,Folk",
      "2,First Light,The Harbor Lights,Gulls Over Granite,Folk",
      "3,Static Bloom,Cassette Future,Neon Garden,Synth",
      "4,Static Bloom,Cassette Future,Midnight Arcade,Synth",
      "5,Static Bloom,Cassette Future,Rewind Culture,Synth",
      "6,Gravel Road,June Calloway,Long Way South,Country")
    Files.write(dir.resolve("songs.csv"), rows.mkString("\n").getBytes("UTF-8"))
    dir.toAbsolutePath.toString
  }

  /** A recovery walk as (name, data, abandoned bytes): the marker is (null, null, bytes). */
  private def bytesIn(b: Array[Byte]) = new java.io.ByteArrayInputStream(b)

  private def asTriples(it: Iterator[Either[Long, (String, Array[Byte])]]) =
    it.map {
      case Right((name, data)) => (name, data, 0L)
      case Left(dropped) => (null: String, null: Array[Byte], dropped)
    }.toSeq

  /** The recovery walk the permissive WebDataset reader runs over one tar shard. */
  private def tarRecovery(bytes: Array[Byte]) = asTriples(Recovery.recoverCounted(
    new java.io.ByteArrayInputStream(bytes), bytes.length.toLong)(Sources.Tar.walk(_, strict = false)))

  /** The recovery walk the permissive ZIP reader runs over one zip shard. */
  private def zipRecovery(bytes: Array[Byte]) = {
    val le = new Sources.Zip.LeIn(new java.io.ByteArrayInputStream(bytes))
    asTriples(Recovery.recover(Sources.Zip.walk(le), bytes.length.toLong, () => le.consumed))
  }

  test("S9 song-fixture parity: headerless id,album,artist,song,genre CSV loads with explicit schema") {
    val songs = Sources.csv(spark, writeSongFixture(), songSchema, header = false)
    assert(songs.schema === songSchema)
    assert(songs.count() === 6)
    // the reference's usage shape: filter one genre, count per artist
    val synth = songs.where(col("genre") === "Synth")
      .groupBy("artist").count().collect()
    assert(synth.length === 1)
    assert(synth.head.getString(0) === "Cassette Future")
    assert(synth.head.getLong(1) === 3L)
    // typed column survives the explicit schema (no header inference)
    assert(songs.agg(max("id")).head().getLong(0) === 6L)
  }

  test("Avro round-trip is the identity on the region table") {
    val direct = Graft.region(spark, sf).collect().map(_.toSeq).toSet
    val viaAvro = SparkEntry.queries("s_avro_roundtrip")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(viaAvro === direct)
  }

  test("corpus write-out partitions by split: one directory per split, scans prune") {
    import graft.functions.TextFunctions
    val out = new java.io.File(ProbeUtil.scratchDir("corpus-out"))
    out.deleteOnExit()
    val corpus = Graft.documents(spark, sf)
      .select(col("doc_id"), col("text"), TextFunctions.splitAssign(col("doc_id")).as("split"))
    // the final pipeline stage at 100 TB: hive-style split directories so
    // training readers open train/ only — partition pruning, not filtering
    corpus.write.partitionBy("split").mode("overwrite").parquet(out.getAbsolutePath)
    val dirs = out.list().filter(_.startsWith("split=")).toSet
    assert(dirs === Set("split=train", "split=val", "split=test"), dirs.toString)
    val back = spark.read.parquet(out.getAbsolutePath)
    assert(back.count() === corpus.count())
    // a split=train read must prune partitions at planning time, not scan-filter
    val trainScan = back.where(col("split") === "train")
    val p = trainScan.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("split"),
      "split predicate must prune partitions:\n" + p.take(2000))
    assert(trainScan.count() === corpus.where(col("split") === "train").count())
  }

  test("JSONL roundtrip: corrupt line SURFACES in PERMISSIVE mode, then dead-letters out") {
    // s_jsonl's mechanism, pinned at the row level (the driver query only
    // proves the net 500-row identity): the planted garbage line must
    // appear as a _corrupt_record row — not be silently skipped — and
    // embedded newlines must survive the line-delimited framing
    import spark.implicits._
    val dir = ProbeUtil.scratchDir("jsonl")
    val docs = Seq((1L, "plain text"), (2L, "line one\nline two\ttabbed"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").json(dir)
    Files.write(java.nio.file.Paths.get(dir, "zz-corrupt.json"),
      "{this is not json\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = docs.schema.add("_corrupt_record", StringType)
    // Spark disallows raw-file queries whose only referenced column is
    // the corrupt record (SPARK-21610) — cache the parsed result first,
    // exactly as the error message prescribes
    val all = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    try {
      assert(all.count() === 3, "the corrupt line must surface as a row, not vanish")
      assert(all.where(col("_corrupt_record").isNotNull).count() === 1)
      val clean = all.where(col("_corrupt_record").isNull)
        .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(clean === Set((1L, "plain text"), (2L, "line one\nline two\ttabbed")),
        "clean rows roundtrip bit-identically incl. embedded newlines/tabs")
    } finally all.unpersist()
  }

  test("ORC roundtrip is the identity and the reader pushes filters + prunes columns") {
    // s_orc's mechanism plus the scale contract the driver query can't
    // see: Spark's ORC scan must behave like the parquet scan — the
    // predicate reaches the reader (PushedFilters) and a 2-column
    // projection never reads the text column
    val dir = ProbeUtil.scratchDir("orc")
    val docs = Graft.documents(spark, sf)
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(docs.schema).orc(dir)
    assert(back.count() === docs.count())
    val q = back.where(col("n_chars") > 500).select("doc_id", "n_chars")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && p.contains("n_chars"),
      "ORC scan must push the n_chars predicate:\n" + p.take(2000))
    assert(p.contains("ReadSchema") && !p.contains("text"),
      "2-column projection must not read text:\n" + p.take(2000))
    // identity at the value level on a sample
    val a = docs.orderBy("doc_id").limit(5).collect().toSeq
    val b = back.orderBy("doc_id").limit(5).collect().toSeq
    assert(a === b)
  }

  test("zValue: hand-checked bit interleave, degenerate span, negative ranges") {
    import spark.implicits._
    // bits=2: normalized ranks in [0,3]; z = interleave(a hi, b lo)
    // hand-check: (a,b) rank pairs (0,0)->0, (3,3)->15, (3,0)->10, (0,3)->5
    val df = Seq((0L, 0L), (3L, 3L), (3L, 0L), (0L, 3L)).toDF("a", "b")
    val z = df.select(col("a"), col("b"),
        Sources.zValue(col("a"), col("b"), lit(0L), lit(3L), lit(0L), lit(3L), bits = 2).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(z === Map((0L, 0L) -> 0L, (3L, 3L) -> 15L, (3L, 0L) -> 10L, (0L, 3L) -> 5L))
    // degenerate span (min == max) normalizes to rank 0, never divides by zero
    val zc = df.select(Sources.zValue(col("a"), col("b"), lit(2L), lit(2L), lit(0L), lit(3L), bits = 2))
      .collect().map(_.getLong(0)).toSet
    // a's bits live at odd positions (1, 3) — a collapsed a-span must
    // leave them zero; b still contributes at even positions (0, 2)
    assert(zc.forall(z => (z & 0xAL) === 0L), "collapsed dimension contributes 0 bits")
    // negative ranges normalize like any other span
    val zn = Seq((-10L, -10L), (10L, 10L)).toDF("a", "b")
      .select(Sources.zValue(col("a"), col("b"), lit(-10L), lit(10L), lit(-10L), lit(10L), bits = 2))
      .collect().map(_.getLong(0)).toSeq
    assert(zn === Seq(0L, 15L))
  }

  test("z-ordered layout: per-file bounding boxes tight in BOTH dimensions; identity") {
    import spark.implicits._
    // 64x64 uniform grid → 16 z-range files should each cover ~1/4 of
    // each dimension's span; a single-column sort would leave every
    // file spanning the FULL other dimension — the property that makes
    // 2D box predicates skip row groups under z-order and not under a
    // linear sort
    val grid = for { a <- 0 until 64; b <- 0 until 64 } yield (a.toLong * 64 + b, a.toLong, b.toLong)
    val df = grid.toDF("id", "a", "b")
    val dir = ProbeUtil.scratchDir("zorder")
    Sources.writeZOrdered(df, dir, "a", "b", numFiles = 16)
    val back = spark.read.schema(df.schema).parquet(dir)
    // identity on content
    assert(back.count() === 4096)
    assert(back.except(df).count() === 0 && df.except(back).count() === 0)
    // per-file spans: every file's box must be narrow in BOTH dims
    val spans = back.groupBy(input_file_name().as("f"))
      .agg((max("a") - min("a")).as("sa"), (max("b") - min("b")).as("sb"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spans.length >= 8, s"expected multiple files, got ${spans.length}")
    spans.foreach { case (sa, sb) =>
      assert(sa <= 40 && sb <= 40,
        s"z-file bounding box must be tight in both dims, got span ($sa, $sb) of 63")
    }
  }

  test("kafka source/sink builders pin their failure shape against this Spark version") {
    // The kafka transport is environment-blocked (no spark-sql-kafka jar,
    // zero egress — README carries the deployment runbook). This pin
    // keeps the blocked path from rotting silently: the builders must
    // either analyze (jar present in a real deployment) or fail with
    // EXACTLY the missing-data-source error — any other failure shape
    // (an option rename, an API change in a Spark upgrade) turns this
    // test red instead of surfacing first on a user's cluster.
    try {
      val df = Sources.kafkaStream(spark, "localhost:9092", "graft-in")
      // jar present: the plan must analyze to the canonical record shape
      assert(df.schema.fieldNames.toSeq === Seq("key", "value", "ts_us"))
      assert(df.isStreaming)
      val sink = Sources.writeKafka(df, "localhost:9092", "graft-out", "/tmp/graft-kafka-ckpt")
      assert(sink != null) // builder-level: start() needs the broker
    } catch {
      case e: Exception =>
        val msg = Option(e.getMessage).getOrElse("")
        assert(msg.contains("DATA_SOURCE_NOT_FOUND") ||
               msg.toLowerCase.contains("failed to find") && msg.toLowerCase.contains("kafka"),
          s"kafka builder failed with an unexpected shape (API rot?): $e")
    }
  }

  test("parquet bloom filter: written, present in the footer, answers might-contain") {
    import scala.jdk.CollectionConverters._
    val dir = ProbeUtil.scratchDir("bloomspec")
    val docs = Graft.documents(spark, sf).limit(200)
    docs.coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .option("parquet.bloom.filter.expected.ndv#doc_id", "1000000")
      .parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get.getAbsolutePath
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    try {
      val block = reader.getRowGroups.get(0)
      val cc = block.getColumns.asScala.find(_.getPath.toDotString == "doc_id").get
      assert(cc.getBloomFilterOffset >= 0, "doc_id column chunk carries no bloom filter")
      val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
      assert(bloom != null)
      // every written id must answer might-contain = true (no false negatives)
      val ids = docs.select("doc_id").collect().map(_.getLong(0))
      ids.foreach(id => assert(bloom.findHash(bloom.hash(id)), s"false negative for $id"))
      // a far-away id should answer false at this ndv/fpp (deterministic
      // bytes for fixed input — this is a stable check, not a flaky one)
      assert(!bloom.findHash(bloom.hash(987654321098L)), "expected definitely-absent")
    } finally reader.close()
  }

  test("TFRecord framing: byte-exact layout, roundtrip, CRC corruption detection") {
    import graft.sources.Sources.TfRecord
    val payloads = Seq("hello".getBytes("UTF-8"), Array.emptyByteArray,
      Array.tabulate(1000)(i => (i * 7).toByte))
    val bos = new java.io.ByteArrayOutputStream()
    payloads.foreach(p => TfRecord.write(bos, p))
    val bytes = bos.toByteArray
    // structural pin: per record 8 (len) + 4 (len crc) + n + 4 (data crc)
    assert(bytes.length === payloads.map(_.length + 16).sum)
    // length field is little-endian uint64
    assert(bytes(0) === 5.toByte && bytes.slice(1, 8).forall(_ == 0))
    // exact roundtrip, multi-record file
    val back = TfRecord.readStream(bytesIn(bytes)).toSeq
    assert(back.size === 3)
    payloads.zip(back).foreach { case (a, b) => assert(a.toSeq === b.toSeq) }
    // any single flipped byte must surface as a framing/CRC error or a
    // changed payload — NEVER as a silently-identical parse
    for (i <- Seq(0, 5, 11, 12, 16, bytes.length - 1)) {
      val bad = bytes.clone(); bad(i) = (bad(i) ^ 0x40).toByte
      val r = scala.util.Try(TfRecord.readStream(bytesIn(bad)).toSeq)
      assert(r.isFailure || r.get.map(_.toSeq) != payloads.map(_.toSeq),
        s"flip at $i went undetected")
    }
    // truncation mid-record throws
    intercept[IllegalArgumentException](
      TfRecord.readStream(bytesIn(bytes.dropRight(2))).toSeq)
  }

  test("USTAR framing: roundtrip, padding, checksum corruption detection") {
    import graft.sources.Sources.Tar
    val members = Seq(
      "000001.json" -> """{"a":1}""".getBytes("UTF-8"),
      "000001.png" -> Array.tabulate(513)(i => (i * 3).toByte), // crosses a block
      "000002.json" -> Array.emptyByteArray)
    val bos = new java.io.ByteArrayOutputStream()
    members.foreach { case (n, d) => Tar.writeEntry(bos, n, d) }
    Tar.finish(bos)
    val bytes = bos.toByteArray
    // every member occupies header + ceil(size/512) blocks; +2 EOF blocks
    assert(bytes.length === members.map(m => 512 + (m._2.length + 511) / 512 * 512).sum + 1024)
    val back = Tar.readStream(bytesIn(bytes)).toSeq
    assert(back.map(_._1) === members.map(_._1))
    members.zip(back).foreach { case ((_, a), (_, b)) => assert(a.toSeq === b.toSeq) }
    // corrupting any header byte must break its checksum
    for (off <- Seq(0, 50, 124)) {
      val bad = bytes.clone(); bad(off) = (bad(off) ^ 0x01).toByte
      intercept[IllegalArgumentException](Tar.readStream(bytesIn(bad)).toSeq)
    }
  }

  test("USTAR cross-validation: GNU tar extracts our shards; we read GNU tar's") {
    import graft.sources.Sources.Tar
    assume(new java.io.File("/usr/bin/tar").exists(), "system tar required")
    val dir = java.nio.file.Paths.get(ProbeUtil.scratchDir("tarx"))
    // ours -> GNU tar
    val shard = dir.resolve("ours.tar")
    val payload = Array.tabulate(700)(i => (i * 7 + 1).toByte)
    val out = java.nio.file.Files.newOutputStream(shard)
    try { Tar.writeEntry(out, "k1.bin", payload); Tar.finish(out) } finally out.close()
    val exDir = dir.resolve("ex"); java.nio.file.Files.createDirectories(exDir)
    val rc = new ProcessBuilder("tar", "-xf", shard.toString, "-C", exDir.toString)
      .inheritIO().start().waitFor()
    assert(rc === 0, "GNU tar rejected our shard")
    assert(java.nio.file.Files.readAllBytes(exDir.resolve("k1.bin")).toSeq === payload.toSeq)
    // GNU tar -> ours
    val src = dir.resolve("src"); java.nio.file.Files.createDirectories(src)
    java.nio.file.Files.write(src.resolve("k2.bin"), payload)
    val theirs = dir.resolve("theirs.tar")
    val rc2 = new ProcessBuilder("tar", "--format=ustar", "-cf", theirs.toString,
      "-C", src.toString, "k2.bin").inheritIO().start().waitFor()
    assert(rc2 === 0)
    val back = Tar.readStream(bytesIn(java.nio.file.Files.readAllBytes(theirs))).toSeq
    assert(back.map(_._1) === Seq("k2.bin"))
    assert(back.head._2.toSeq === payload.toSeq)
  }

  test("USTAR hardening: space-padded octal fields, directory members, dot-less names") {
    import graft.sources.Sources.Tar
    val payload = "data".getBytes("UTF-8")
    // 1. space-padded checksum/size fields (v7/historic writers) parse
    val bos = new java.io.ByteArrayOutputStream()
    Tar.writeEntry(bos, "a.bin", payload)
    Tar.finish(bos)
    val bytes = bos.toByteArray
    def respace(off: Int, len: Int): Unit = {
      val s = new String(bytes, off, len, "US-ASCII")
      val digits = s.dropWhile(c => c == '0').takeWhile(c => c >= '0' && c <= '7')
      val v = if (digits.isEmpty) "0" else digits
      val re = (" " * (len - 2 - v.length)) + v + "  "
      System.arraycopy(re.getBytes("US-ASCII"), 0, bytes, off, len)
    }
    respace(124, 12) // size field: "        4\0 "
    // recompute + space-pad the checksum for the modified header
    var sum = 0L
    for (i <- 0 until 512) sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(i) & 0xff)
    val cs = java.lang.Long.toOctalString(sum)
    val csField = (" " * (6 - cs.length)) + cs + "  "
    System.arraycopy(csField.getBytes("US-ASCII"), 0, bytes, 148, 8)
    val back = Tar.readStream(bytesIn(bytes)).toSeq
    assert(back.map(_._1) === Seq("a.bin") && back.head._2.toSeq === payload.toSeq,
      "space-padded octal fields must parse (v7-style writers)")
    // 2. directory + pax-style members are walked over, never yielded
    val bos2 = new java.io.ByteArrayOutputStream()
    Tar.writeEntry(bos2, "samples/", Array.emptyByteArray)
    Tar.writeEntry(bos2, "k.json", payload)
    val arr = bos2.toByteArray
    arr(156) = '5' // first member: directory typeflag
    // fix its checksum after the typeflag edit
    var s2 = 0L
    for (i <- 0 until 512) s2 += (if (i >= 148 && i < 156) ' '.toInt else arr(i) & 0xff)
    val cs2 = java.lang.Long.toOctalString(s2)
    System.arraycopy((("0" * (6 - cs2.length)) + cs2).getBytes("US-ASCII"), 0, arr, 148, 6)
    arr(154) = 0; arr(155) = ' '.toByte
    val bos3 = new java.io.ByteArrayOutputStream()
    bos3.write(arr); Tar.finish(bos3)
    assert(Tar.readStream(bytesIn(bos3.toByteArray)).map(_._1).toSeq === Seq("k.json"),
      "directory members must be skipped")
    // 3. a dot-less regular member survives Tar.readAll but is NOT a
    // WebDataset sample — readWebDataset must skip it, not crash
    import spark.implicits._
    val dir = java.nio.file.Paths.get(ProbeUtil.scratchDir("wds-mixed"))
    val out = java.nio.file.Files.newOutputStream(dir.resolve("shard-00000.tar"))
    try {
      Tar.writeEntry(out, "README", payload) // no dot
      Tar.writeEntry(out, "000001.json", """{"i":1}""".getBytes("UTF-8"))
      Tar.finish(out)
    } finally out.close()
    val rows = graft.sources.Sources.readWebDataset(spark, dir.toString)
      .select("key", "ext").as[(String, String)].collect().toSeq
    assert(rows === Seq(("000001", "json")),
      "dot-less members must be skipped by the WebDataset reader")
  }

  test("WebDataset shards: sample members stay contiguous in one shard, roundtrip exact") {
    import spark.implicits._
    val dir = ProbeUtil.scratchDir("wds")
    val rows = (0 until 200).flatMap { i =>
      val k = f"$i%06d"
      Seq((k, "json", s"""{"i":$i}""".getBytes("UTF-8")),
          (k, "png", Array.tabulate(32)(j => (i + j).toByte)))
    }
    graft.sources.Sources.writeWebDataset(rows.toDF("key", "ext", "payload"), dir, shards = 4)
    // both members of every key land in the SAME shard (streaming
    // readers group by adjacency — a split sample would be unreadable)
    import graft.sources.Sources.Tar
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tar"))
    assert(files.length === 4)
    val perShard = files.map(f =>
      Tar.readStream(bytesIn(java.nio.file.Files.readAllBytes(f.toPath))).map(_._1).toSeq)
    perShard.foreach { names =>
      names.grouped(2).foreach { pair =>
        assert(pair.map(_.split('.').head).distinct.size === 1,
          s"sample split across members: $pair")
      }
    }
    val back = graft.sources.Sources.readWebDataset(spark, dir)
      .select(col("key"), col("ext"), col("payload"))
      .as[(String, String, Array[Byte])].collect()
      .map { case (k, e, p) => (k, e, p.toSeq) }.sortBy(t => (t._1, t._2))
    assert(back.toSeq === rows.map { case (k, e, p) => (k, e, p.toSeq) }.sortBy(t => (t._1, t._2)))
  }

  test("TFRecord shards roundtrip through Spark write/read (payload identity)") {
    import spark.implicits._
    val dir = ProbeUtil.scratchDir("tfrec")
    val rows = (0 until 500).map(i => s"""{"i":$i,"s":"v$i"}""")
    graft.sources.Sources.writeTfRecords(
      rows.toDF("payload").select(col("payload").cast("binary").as("payload")),
      "payload", dir, shards = 4)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tfrecord"))
    assert(files.length === 4, "one shard file per output partition")
    val back = graft.sources.Sources.readTfRecords(spark, dir)
      .select(col("payload").cast("string")).as[String].collect().sorted
    assert(back.toSeq === rows.sorted)
  }

  test("TFRecord permissive read: intact prefix survives, tail loss is counted") {
    import graft.sources.Sources.TfRecord
    val buf = new java.io.ByteArrayOutputStream()
    Seq("one", "two", "three").foreach(s => TfRecord.write(buf, s.getBytes("UTF-8")))
    val good = buf.toByteArray
    // the shared recovery walk over the strict reader: (records, abandoned bytes)
    def readAllPermissive(bytes: Array[Byte]): (Seq[Array[Byte]], Long) = {
      val out = Recovery.recoverCounted(
        new java.io.ByteArrayInputStream(bytes), bytes.length.toLong)(TfRecord.readStream).toSeq
      (out.collect { case Right(p) => p }, out.collect { case Left(t) => t }.sum)
    }
    // intact shard: everything survives, zero abandoned bytes
    val (all, t0) = readAllPermissive(good)
    assert(all.map(new String(_, "UTF-8")) === Seq("one", "two", "three") && t0 === 0L)
    // torn tail: last record's payload CRC truncated -> first two
    // survive, abandoned byte count equals the torn record's framing
    val torn = java.util.Arrays.copyOf(good, good.length - 4)
    val (pre, t1) = readAllPermissive(torn)
    assert(pre.map(new String(_, "UTF-8")) === Seq("one", "two"))
    assert(t1 === (8 + 4 + "three".length + 4 - 4).toLong)
    // appended garbage: all records survive, only the garbage abandoned
    val noisy = good ++ Array[Byte](9, 9, 9)
    val (allN, t2) = readAllPermissive(noisy)
    assert(allN.size === 3 && t2 === 3L)
    // fully-garbage shard: zero records, whole length abandoned
    val (none, t3) = readAllPermissive(Array.fill[Byte](40)(7))
    assert(none.isEmpty && t3 === 40L)
    // a FLIPPED byte mid-payload can only drop the tail, never corrupt:
    val flipped = good.clone(); flipped(8 + 4 + 1) = 'X'.toByte
    val (fl, _) = readAllPermissive(flipped)
    assert(fl.isEmpty, "flip in record 1 must drop everything from record 1 on")
  }

  test("container reads plan exactly one task per shard (the parallelism contract)") {
    import spark.implicits._
    val dir = ProbeUtil.scratchDir("tfr-tasks")
    val payloads = (1 to 70).map(i => s"rec-$i").toDF("payload")
      .select(col("payload").cast("binary").as("payload"))
    graft.sources.Sources.writeTfRecords(payloads, "payload", dir, shards = 7)
    val ds = graft.sources.Sources.readTfRecords(spark, dir)
    // binaryFile bin-packs small files into shared partitions and
    // round-robin repartition leaves ~1/e of tasks empty — the r14
    // reader must give exactly shard-count partitions, none empty
    assert(ds.rdd.getNumPartitions === 7, "one partition per shard")
    val perPart = ds.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.length === 7 && perPart.forall(_ > 0),
      s"every shard task must carry records: ${perPart.mkString(",")}")
    assert(ds.count() === 70)
  }

  test("tar permissive walk: torn tail drops ONLY the torn member; poisoned header quarantines") {
    import graft.sources.Sources.Tar
    def shard(names: Seq[String]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      names.foreach(n => Tar.writeEntry(bos, n, s"content of $n".getBytes("UTF-8")))
      Tar.finish(bos)
      bos.toByteArray
    }
    val good = shard(Seq("a.json", "b.json", "c.json"))
    def walk(bytes: Array[Byte]) = tarRecovery(bytes)
    // intact: all members, no marker
    assert(walk(good).map(_._1) === Seq("a.json", "b.json", "c.json"))
    // torn tail (end blocks + 1 byte of the last member's padded data):
    // a and b MUST survive — the historical pre-fetching next() lost b
    // too (the r14 lazy-advance fix pins this exact case)
    val torn = java.util.Arrays.copyOf(good, good.length - 1025)
    val w = walk(torn)
    assert(w.map(_._1) === Seq("a.json", "b.json", null))
    assert(w.last._3 > 0, "marker must carry the abandoned byte count")
    // poisoned first header: whole shard quarantines as one marker
    val poisoned = good.clone(); poisoned(0) = (poisoned(0) ^ 0x7).toByte
    val p = walk(poisoned)
    assert(p.map(_._1) === Seq(null.asInstanceOf[String]))
    assert(p.head._3 === good.length.toLong)
    // strict walk still throws on both corruptions
    intercept[IllegalArgumentException](Tar.readStream(bytesIn(torn)).toSeq)
    intercept[IllegalArgumentException](Tar.readStream(bytesIn(poisoned)).toSeq)
  }

  test("tar strict walk rejects torn end-of-archive framing; permissive stays lenient") {
    // ADVICE r14: a tear landing exactly between members (or inside the
    // end-of-archive blocks) used to pass strict validation with members
    // silently missing — strict now polices the archive framing too
    import graft.sources.Sources.Tar
    val bos = new java.io.ByteArrayOutputStream()
    Tar.writeEntry(bos, "a.json", "x".getBytes("US-ASCII"))
    val noEoa = bos.toByteArray // complete member, NO finish()
    val finBos = new java.io.ByteArrayOutputStream()
    finBos.write(noEoa); Tar.finish(finBos)
    val finished = finBos.toByteArray
    // intact archive reads clean
    assert(Tar.readStream(bytesIn(finished)).map(_._1).toSeq === Seq("a.json"))
    // tear exactly at the member boundary: EOF with no end-of-archive
    intercept[IllegalArgumentException](Tar.readStream(bytesIn(noEoa)).toSeq)
    // partial trailing header block (1-511 bytes)
    intercept[IllegalArgumentException](
      Tar.readStream(bytesIn(java.util.Arrays.copyOf(finished, noEoa.length + 100))).toSeq)
    // lone zero block: the spec's SECOND end-of-archive block torn off
    intercept[IllegalArgumentException](
      Tar.readStream(bytesIn(java.util.Arrays.copyOf(finished, noEoa.length + 512))).toSeq)
    // the permissive walk keeps the lenient acceptance (its contract
    // surfaces loss as a marker, and a boundary cut loses no member —
    // the complete member survives, markerless)
    val w = tarRecovery(noEoa)
    assert(w.map(_._1) === Seq("a.json"))
  }

  test("failed shard write leaves no temp files behind (ADVICE r14)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Paths.get(ProbeUtil.scratchDir("shardfail"))
    // a null payload makes TfRecord.write throw mid-shard: the write
    // must fail the job AND delete its .attempt-N.tmp before rethrowing
    val bad = spark.range(10)
      .select(when(col("id") === 7, lit(null))
        .otherwise(col("id").cast("string")).cast("binary").as("payload"))
    intercept[org.apache.spark.SparkException] {
      graft.sources.Sources.writeTfRecords(bad, "payload", dir.toString, shards = 2)
    }
    val leftovers = {
      val l = java.nio.file.Files.list(dir)
      try l.map[String](_.getFileName.toString).toArray.map(_.toString).toSeq
      finally l.close()
    }
    assert(!leftovers.exists(_.contains(".tmp")),
      s"failed attempts must clean their temp files: $leftovers")
    // and a healthy write into the same directory still commits whole
    val good = spark.range(10)
      .select(col("id").cast("string").cast("binary").as("payload"))
    graft.sources.Sources.writeTfRecords(good, "payload", dir.toString, shards = 2)
    assert(graft.sources.Sources.readTfRecords(spark, dir.toString).count() === 10)
  }

  test("tf.Example wire format: golden bytes, roundtrip, unknown-field skip, truncation") {
    import graft.sources.Sources.TfExample
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    // hand-computed golden bytes against the public protobuf wire spec:
    // Example{features{["a"->Int64List[1]]}} — every key/len derived by
    // hand so encoder and decoder cannot be consistently wrong together
    assert(hex(TfExample.encode(Seq("a" -> 1L))) === "0a0c0a0a0a01611205" + "1a030a0101")
    // Example{features{["b"->BytesList["hi"]]}}
    assert(hex(TfExample.encode(Seq("b" -> "hi"))) === "0a0d0a0b0a01621206" + "0a040a026869")
    // roundtrip: mixed feature map, order preserved
    val enc = TfExample.encode(Seq(
      "doc_id" -> 123456789L, "text" -> "alpha beta", "neg" -> -7L,
      "blob" -> Array[Byte](0, 1, -1, 127)))
    val dec = TfExample.decode(enc)
    assert(dec.map(_._1) === Seq("doc_id", "text", "neg", "blob"))
    val m = dec.toMap
    assert(m("doc_id").int64s === Seq(123456789L))
    assert(new String(m("text").bytes.head, "UTF-8") === "alpha beta")
    assert(m("neg").int64s === Seq(-7L), "negative int64 must survive the 10-byte varint")
    assert(m("blob").bytes.head.toSeq === Seq[Byte](0, 1, -1, 127))
    // unknown-field tolerance: append an unknown top-level varint field
    // (field 99) — a newer producer's extra field must SKIP, not throw
    val unknown = enc ++ Array[Byte](0x98.toByte, 0x06, 0x2a) // key=(99<<3|0), value=42
    assert(TfExample.decode(unknown).toMap.apply("doc_id").int64s === Seq(123456789L))
    // spec-required leniency: unpacked repeated int64 where packed is
    // expected — Feature{int64_list{value(varint)=5, value(varint)=6}}
    val unpacked = {
      val il = Array[Byte](0x08, 0x05, 0x08, 0x06) // two field-1 varints
      val feat = Array[Byte](0x1a, il.length.toByte) ++ il
      val entry = Array[Byte](0x0a, 0x01, 0x75) ++ Array[Byte](0x12, feat.length.toByte) ++ feat
      val feats = Array[Byte](0x0a, entry.length.toByte) ++ entry
      Array[Byte](0x0a, feats.length.toByte) ++ feats
    }
    assert(TfExample.decode(unpacked).toMap.apply("u").int64s === Seq(5L, 6L))
    // FloatList golden bytes: Example{["f"->FloatList[1.0f]]} — packed
    // fixed32 LE of 1.0f is 00 00 80 3f
    assert(hex(TfExample.encode(Seq("f" -> 1.0f))) ===
      "0a0f0a0d0a0166" + "120812060a04" + "0000803f")
    // float roundtrip is BIT-exact, including denormals and -0.0f
    val fenc = TfExample.encode(Seq(
      "v" -> Array(1.5f, -0.0f, Float.MinPositiveValue, 3.4028235e38f)))
    val fdec = TfExample.decode(fenc).toMap.apply("v").floats
    assert(fdec.map(java.lang.Float.floatToRawIntBits) ===
      Seq(1.5f, -0.0f, Float.MinPositiveValue, 3.4028235e38f)
        .map(java.lang.Float.floatToRawIntBits))
    // truncation must throw, never yield silently-wrong features
    intercept[IllegalArgumentException](TfExample.decode(enc.dropRight(1)))
    intercept[IllegalArgumentException](TfExample.decode(Array[Byte](0x0a, 0x7f)))
  }

  test("ZIP shards: roundtrip exact, CRC corruption detection") {
    import spark.implicits._
    val dir = ProbeUtil.scratchDir("zip")
    val rows = (0 until 200).map(i => (f"$i%06d", "bin",
      Array.tabulate[Byte](50 + i % 7)(j => ((i * 31 + j) % 256).toByte)))
    graft.sources.Sources.writeZipShards(rows.toDF("key", "ext", "payload"),
      dir, shards = 4)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".zip"))
    assert(files.length === 4, "one shard file per output partition")
    val back = graft.sources.Sources.readZipShards(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    assert(back.toSeq === rows.map(t => (t._1, t._2, t._3.toSeq)).sortBy(_._1))
    // a flipped byte inside a member's DEFLATE data: the strict read
    // must throw (inflate/CRC-32 verification), never yield a silently-
    // wrong payload. The data offset is parsed from the local header
    // (JDK writers append an extended-timestamp extra field, so a fixed
    // offset could land in ignored extra bytes)
    val victim = files.minBy(_.getName).toPath
    val bytes = java.nio.file.Files.readAllBytes(victim)
    def u16(i: Int): Int = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    val dataStart = 30 + u16(26) + u16(28)
    bytes(dataStart + 5) = (bytes(dataStart + 5) ^ 0x55).toByte
    java.nio.file.Files.write(victim, bytes)
    intercept[Exception] {
      graft.sources.Sources.readZipShards(spark, dir).collect()
    }
  }

  test("ZIP permissive walk: torn member drops, intact prefix survives, empty EOCD reads empty") {
    import graft.sources.Sources.Zip
    val baos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(baos)
    def put(name: String, data: Array[Byte]): Unit = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTime(0L)
      z.putNextEntry(e); z.write(data); z.closeEntry()
    }
    put("a.txt", "alpha".getBytes("UTF-8"))
    put("b.txt", "bravo-bravo".getBytes("UTF-8"))
    z.flush()
    val cutAt = baos.size() + 20 // 20 bytes into the third local header
    put("c.txt", "charlie".getBytes("UTF-8"))
    z.finish()
    val full = baos.toByteArray
    // intact: all three members, no marker
    val whole = zipRecovery(full)
    assert(whole.map(_._1) === Seq("a.txt", "b.txt", "c.txt"))
    assert(whole.forall(_._3 === 0L))
    // torn inside the last member's header: first two survive, one
    // trailing marker accounts EXACTLY the abandoned framing bytes
    // (cutAt sits 20 bytes past the end of member b)
    val torn = java.util.Arrays.copyOf(full, cutAt)
    val got = zipRecovery(torn)
    assert(got.map(_._1) === Seq("a.txt", "b.txt", null))
    assert(new String(got(1)._2, "UTF-8") === "bravo-bravo")
    assert(got(2)._3 === 20L)
    // strict walk must REJECT the same tear (a torn header is not a
    // clean end — the ZipInputStream silent-truncation gap, closed by
    // walking local headers by hand): valid end = CEN/EOCD signature
    intercept[IllegalArgumentException] {
      Zip.readStream(bytesIn(torn)).toList
    }
    // a tear landing exactly BETWEEN members (at the next signature
    // boundary, cutAt - 20) is still torn framing, not end-of-archive
    intercept[IllegalArgumentException] {
      Zip.readStream(bytesIn(java.util.Arrays.copyOf(full, cutAt - 20))).toList
    }
    // EOCD-only empty archive (what an empty write partition commits)
    val eocd = Array[Byte]('P', 'K', 5, 6) ++ new Array[Byte](18)
    assert(Zip.readStream(bytesIn(eocd)).isEmpty)
  }

  test("ZIP cross-validation: foreign-written archives (stored + deflated, no descriptors) read back") {
    // python's zipfile writes local headers with KNOWN sizes and no data
    // descriptors — the two walk branches our own writer (descriptor
    // mode) never produces; a directory member exercises the skip rule
    val py = new java.io.File("/usr/bin/python3")
    assume(py.exists(), "python3 not available")
    val dir = java.nio.file.Paths.get(ProbeUtil.scratchDir("zipx"))
    val zf = dir.resolve("foreign.zip")
    val script =
      s"""import zipfile
         |z = zipfile.ZipFile("$zf", "w")
         |z.writestr("stored.txt", "plain stored payload", compress_type=zipfile.ZIP_STORED)
         |z.writestr("deflated.txt", "deflate " * 50, compress_type=zipfile.ZIP_DEFLATED)
         |z.writestr("subdir/", "")
         |z.writestr("subdir/nested.bin", "nested", compress_type=zipfile.ZIP_DEFLATED)
         |z.close()
         |""".stripMargin
    val p = new ProcessBuilder("/usr/bin/python3", "-c", script).inheritIO().start()
    assert(p.waitFor() === 0)
    val got = graft.sources.Sources.Zip.readStream(bytesIn(
      java.nio.file.Files.readAllBytes(zf))).toList
    assert(got.map(_._1) === List("stored.txt", "deflated.txt", "subdir/nested.bin"))
    assert(new String(got(0)._2, "UTF-8") === "plain stored payload")
    assert(new String(got(1)._2, "UTF-8") === "deflate " * 50)
    assert(new String(got(2)._2, "UTF-8") === "nested")
  }


  test("Arrow IPC: Spark roundtrip exact; truncation and garbage throw") {
    import spark.implicits._
    val dir = ProbeUtil.scratchDir("arrow")
    val df = (0 until 300).map(i =>
      (i.toLong, s"text-$i \u00e9\u4e2d", i * 0.125, Array.tabulate[Byte](i % 5)(j => (i + j).toByte)))
      .toDF("id", "s", "x", "b")
    graft.sources.Sources.writeArrowStream(df, dir, shards = 3)
    val back = graft.sources.Sources.readArrowStream(spark, dir, df.schema)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1)
    val want = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
      r.getAs[Array[Byte]](3).toSeq)).sortBy(_._1)
    assert(back.toSeq === want.toSeq)
    // truncation mid-stream throws (never a silent prefix)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".arrows")).head.toPath
    val bytes = java.nio.file.Files.readAllBytes(f)
    val torn = java.util.Arrays.copyOf(bytes, bytes.length - 9)
    intercept[IllegalArgumentException] {
      graft.sources.ArrowIpc.readStream(
        new java.io.ByteArrayInputStream(torn), df.schema).toList
    }
    // garbage throws
    intercept[IllegalArgumentException] {
      graft.sources.ArrowIpc.readStream(
        new java.io.ByteArrayInputStream(Array.fill[Byte](64)(7)),
        df.schema).toList
    }
  }

  test("Arrow IPC cross-validation: pyarrow reads our stream; we read pyarrow's, nulls honored") {
    import org.apache.spark.sql.types._
    // probe for a pyarrow-capable interpreter (the driver environment's
    // pyenv python carries it; the system python may not)
    val py = Seq("/root/.pyenv/shims/python3", "/root/.pyenv/versions/3.11.7/bin/python3",
        "/usr/bin/python3", "/usr/local/bin/python3")
      .find { c =>
        new java.io.File(c).exists() && {
          try new ProcessBuilder(c, "-c", "import pyarrow").start().waitFor() == 0
          catch { case _: Exception => false }
        }
      }
    assume(py.isDefined, "no pyarrow-capable python3 available")
    val dir = java.nio.file.Paths.get(ProbeUtil.scratchDir("arrowx"))
    // direction 1: OUR writer -> pyarrow reader (checksummed row echo)
    import spark.implicits._
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.25), (3L, "\u00fcber", 0.0))
      .toDF("id", "name", "score")
    graft.sources.Sources.writeArrowStream(df, dir.toString, shards = 1)
    val script1 =
      s"""import pyarrow.ipc as ipc, glob
         |t = ipc.open_stream(sorted(glob.glob("$dir/*.arrows"))[0]).read_all()
         |rows = sorted(zip(t.column(0).to_pylist(), t.column(1).to_pylist(), t.column(2).to_pylist()))
         |assert rows == [(1, "alpha", 1.5), (2, "beta", -2.25), (3, "\\u00fcber", 0.0)], rows
         |print("OK1")
         |""".stripMargin
    val p1 = new ProcessBuilder(py.get, "-c", script1).start()
    val out1 = new String(p1.getInputStream.readAllBytes(), "UTF-8")
    assert(p1.waitFor() === 0, new String(p1.getErrorStream.readAllBytes(), "UTF-8"))
    assert(out1.contains("OK1"))
    // direction 2: pyarrow writer (multiple batches + NULLS) -> our reader
    val foreign = dir.resolve("foreign.arrows")
    val script2 =
      s"""import pyarrow as pa, pyarrow.ipc as ipc
         |schema = pa.schema([("id", pa.int64()), ("name", pa.string()), ("score", pa.float64())])
         |w = ipc.new_stream("$foreign", schema)
         |w.write_batch(pa.record_batch([pa.array([10, None]), pa.array(["x", None]), pa.array([0.5, None])], schema=schema))
         |w.write_batch(pa.record_batch([pa.array([30]), pa.array(["z"]), pa.array([None], type=pa.float64())], schema=schema))
         |w.close()
         |print("OK2")
         |""".stripMargin
    val p2 = new ProcessBuilder(py.get, "-c", script2).start()
    assert(p2.waitFor() === 0, new String(p2.getErrorStream.readAllBytes(), "UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val got = graft.sources.ArrowIpc.readStream(
      new java.io.BufferedInputStream(java.nio.file.Files.newInputStream(foreign)), schema).toList
    assert(got.map(r => (r.get(0), r.get(1), r.get(2))) === List(
      (10L, "x", 0.5), (null, null, null), (30L, "z", null)))
  }


  test("Arrow IPC list<float32>: bit-exact roundtrip; pyarrow reads our list column") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = ProbeUtil.scratchDir("arrowl")
    val df = Seq(
      (1L, Array(1.5f, -0.25f, java.lang.Float.MIN_VALUE)),
      (2L, Array.empty[Float]),
      (3L, Array(Float.MaxValue, 3.0f))
    ).toDF("id", "vec")
    graft.sources.Sources.writeArrowStream(df, dir, shards = 1)
    val back = graft.sources.Sources.readArrowStream(spark, dir, df.schema)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toList)).sortBy(_._1)
    assert(back.toList === List(
      (1L, List(1.5f, -0.25f, java.lang.Float.MIN_VALUE)),
      (2L, Nil), (3L, List(Float.MaxValue, 3.0f))))
    val py = Seq("/root/.pyenv/shims/python3", "/usr/bin/python3").find { c =>
      new java.io.File(c).exists() && {
        try new ProcessBuilder(c, "-c", "import pyarrow").start().waitFor() == 0
        catch { case _: Exception => false }
      }
    }
    assume(py.isDefined, "no pyarrow-capable python3")
    val script =
      s"""import pyarrow.ipc as ipc, glob
         |t = ipc.open_stream(sorted(glob.glob("$dir/*.arrows"))[0]).read_all()
         |assert str(t.schema.field("vec").type) == "list<item: float>", t.schema
         |vecs = dict(zip(t.column("id").to_pylist(), t.column("vec").to_pylist()))
         |assert vecs[1][0] == 1.5 and vecs[1][1] == -0.25 and len(vecs[1]) == 3
         |assert vecs[2] == [] and len(vecs[3]) == 2
         |print("OKL")
         |""".stripMargin
    val pr = new ProcessBuilder(py.get, "-c", script).start()
    val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
    assert(pr.waitFor() === 0, new String(pr.getErrorStream.readAllBytes(), "UTF-8"))
    assert(out.contains("OKL"))
  }


  test("Arrow FILE (Feather V2): footer readable by pyarrow open_file; we read its files") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val py = Seq("/root/.pyenv/shims/python3", "/usr/bin/python3").find { c =>
      new java.io.File(c).exists() && {
        try new ProcessBuilder(c, "-c", "import pyarrow").start().waitFor() == 0
        catch { case _: Exception => false }
      }
    }
    assume(py.isDefined, "no pyarrow-capable python3")
    val dir = ProbeUtil.scratchDir("arrowf")
    // >1 batch so the footer carries multiple Block records
    val df = (0 until 2500).map(i => (i.toLong, s"r$i")).toDF("id", "s")
    graft.sources.Sources.writeArrowFile(df, dir, shards = 1)
    val script =
      s"""import pyarrow.ipc as ipc, glob
         |f = ipc.open_file(sorted(glob.glob("$dir/*.arrow"))[0])
         |assert f.num_record_batches >= 2, f.num_record_batches
         |t = f.read_all()
         |assert t.num_rows == 2500 and t.column("id").to_pylist()[:3] is not None
         |ids = sorted(t.column("id").to_pylist())
         |assert ids[0] == 0 and ids[-1] == 2499 and len(set(ids)) == 2500
         |# random batch access through the footer blocks (the mmap path)
         |b = f.get_batch(f.num_record_batches - 1)
         |assert b.num_rows > 0
         |print("OKF")
         |""".stripMargin
    val pr = new ProcessBuilder(py.get, "-c", script).start()
    val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
    assert(pr.waitFor() === 0, new String(pr.getErrorStream.readAllBytes(), "UTF-8"))
    assert(out.contains("OKF"))
    // our reader consumes our own files and pyarrow-written files
    val back = graft.sources.Sources.readArrowFile(spark, dir, df.schema)
    assert(back.count() === 2500)
    val foreign = java.nio.file.Paths.get(dir, "foreign.arrow")
    val script2 =
      s"""import pyarrow as pa, pyarrow.ipc as ipc
         |t = pa.table({"id": pa.array([7, 8], type=pa.int64()), "s": pa.array(["a", "b"])})
         |w = ipc.new_file("$foreign", t.schema)
         |w.write_table(t)
         |w.close()
         |print("OKW")
         |""".stripMargin
    val p2 = new ProcessBuilder(py.get, "-c", script2).start()
    assert(p2.waitFor() === 0, new String(p2.getErrorStream.readAllBytes(), "UTF-8"))
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    val got = graft.sources.ArrowIpc.readStream(
      new java.io.BufferedInputStream(java.nio.file.Files.newInputStream(foreign)), schema)
      .map(r => (r.getLong(0), r.getString(1))).toList
    assert(got === List((7L, "a"), (8L, "b")))
  }

  /** Collects `df` and the metrics its run observed under names starting with `prefix`. */
  private def collectObserved(df: org.apache.spark.sql.DataFrame, prefix: String)
      : (Array[org.apache.spark.sql.Row], Map[String, org.apache.spark.sql.Row]) = {
    val seen = scala.concurrent.Promise[Map[String, org.apache.spark.sql.Row]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        val named = qe.observedMetrics.filter(_._1.startsWith(prefix))
        if (named.nonEmpty) seen.trySuccess(named)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rows = df.collect()
      import scala.concurrent.duration._
      (rows, scala.concurrent.Await.result(seen.future, 60.seconds))
    } finally spark.listenerManager.unregister(listener)
  }

  test("every permissive reader counts the shard it tears: corrupt_shards, exact dropped_bytes, survivors") {
    import graft.sources.{Npy, Safetensors, Warc}
    // four shards of three records each (record j of shard i carries
    // id 10*i + j); shard 2 is torn, so its lost records and bytes are known
    def payload(i: Int, j: Int) = s"""{"id":${10 * i + j}}""".getBytes("UTF-8")
    def bytesOf(body: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); body(bos); bos.toByteArray
    }
    def le(n: Int, put: (java.nio.ByteBuffer, Int) => Unit, width: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(n * width).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(put(bb, _)); bb.array()
    }
    /** Writes the shards, tears shard 2 to `torn(bytes)`, returns its torn length. */
    def stage(dir: String, ext: String, shard: Int => Array[Byte], torn: Array[Byte] => Array[Byte]): Long = {
      (0 until 4).foreach { i =>
        val b = if (i == 2) torn(shard(i)) else shard(i)
        Files.write(java.nio.file.Paths.get(dir, f"part-$i%05d.$ext"), b)
      }
      Files.size(java.nio.file.Paths.get(dir, f"part-00002.$ext"))
    }
    def check(df: org.apache.spark.sql.DataFrame, format: String, dropped: Long,
              ids: Seq[Long], idOf: org.apache.spark.sql.Row => Long): Unit = {
      val (rows, ms) = collectObserved(df, s"graft.$format.skip.")
      assert(ms.size === 1, format)
      val m = ms.values.head
      assert(m.getAs[Long]("corrupt_shards") === 1L, format)
      assert(m.getAs[Long]("dropped_bytes") === dropped, format)
      assert(rows.map(idOf).toSeq.sorted === ids, format)
    }
    def jsonId(r: org.apache.spark.sql.Row): Long =
      """\d+""".r.findFirstIn(new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).get.toLong
    val all = for (i <- 0 until 4; j <- 0 until 3) yield (10 * i + j).toLong
    val allButLast = all.filterNot(_ == 22L) // the torn record of shard 2
    val allButShard = all.filterNot(_ / 10 == 2) // shard 2 dropped whole

    // TFRecord: the last record's payload CRC torn off
    val tfr = ProbeUtil.scratchDir("skip-tfr")
    val tfrLen = stage(tfr, "tfrecord",
      i => bytesOf(out => (0 until 3).foreach(j => Sources.TfRecord.write(out, payload(i, j)))),
      b => java.util.Arrays.copyOf(b, b.length - 4))
    check(Sources.readTfRecordsPermissive(spark, tfr), "tfrecord",
      tfrLen - 2 * (16 + payload(2, 0).length), allButLast, jsonId)

    // tar: the end-of-archive blocks and one byte of the last member torn off
    val tar = ProbeUtil.scratchDir("skip-tar")
    val tarLen = stage(tar, "tar",
      i => bytesOf { out =>
        (0 until 3).foreach(j => Sources.Tar.writeEntry(out, s"k$i$j.json", payload(i, j)))
        Sources.Tar.finish(out)
      },
      b => java.util.Arrays.copyOf(b, b.length - 1025))
    check(Sources.readWebDatasetPermissive(spark, tar), "webdataset",
      tarLen - 2 * (512 + 512), allButLast, jsonId)

    // zip: torn 20 bytes into the last member's local header
    val zip = ProbeUtil.scratchDir("skip-zip")
    var zipCut = 0
    val zipLen = stage(zip, "zip",
      i => bytesOf { out =>
        val z = new java.util.zip.ZipOutputStream(out)
        (0 until 3).foreach { j =>
          if (j == 2) { z.flush(); if (i == 2) zipCut = out.size() + 20 }
          val e = new java.util.zip.ZipEntry(s"k$i$j.json"); e.setTime(0L)
          z.putNextEntry(e); z.write(payload(i, j)); z.closeEntry()
        }
        z.finish()
      },
      b => java.util.Arrays.copyOf(b, zipCut))
    assert(zipLen === zipCut)
    check(Sources.readZipShardsPermissive(spark, zip), "zip", 20L, allButLast, jsonId)

    // WARC: the last record's terminator torn off
    val warc = ProbeUtil.scratchDir("skip-warc")
    def warcRecord(i: Int, j: Int) =
      bytesOf(out => Warc.writeRecord(out, s"https://h/$i/$j", s"urn:$i:$j", payload(i, j)))
    val warcLen = stage(warc, "warc",
      i => (0 until 3).map(warcRecord(i, _)).reduce(_ ++ _),
      b => java.util.Arrays.copyOf(b, b.length - 5))
    check(Warc.readPermissive(spark, warc), "warc",
      warcLen - warcRecord(2, 0).length - warcRecord(2, 1).length, allButLast, jsonId)

    // npy: no record framing, so the torn shard drops whole
    val npy = ProbeUtil.scratchDir("skip-npy")
    val npyLen = stage(npy, "npy",
      i => Npy.encode("<f4", Seq(3L, 2L),
        le(6, (bb, k) => bb.putFloat((10 * i + k / 2).toFloat), 4)),
      b => java.util.Arrays.copyOf(b, b.length - 8))
    check(Npy.readNpyShardsPermissive(spark, npy), "npy", npyLen, allButShard,
      r => 10 * r.getAs[Long]("shard") + r.getAs[Long]("row_idx"))

    // safetensors: likewise dropped whole
    val st = ProbeUtil.scratchDir("skip-st")
    val stLen = stage(st, "safetensors",
      i => bytesOf(out => Safetensors.write(out, Seq(
        ("id", "I64", Seq(3L), le(3, (bb, j) => bb.putLong(10L * i + j), 8)),
        ("vec", "F32", Seq(3L, 2L), le(6, (bb, _) => bb.putFloat(1f), 4)),
        ("label", "I64", Seq(3L), le(3, (bb, _) => bb.putLong(0L), 8))))),
      b => java.util.Arrays.copyOf(b, b.length - 16))
    check(Safetensors.readVectorsPermissive(spark, st, "id", "vec", "label"), "safetensors",
      stLen, allButShard, _.getAs[Long]("id"))
  }

  test("two permissive reads of one format in one query observe their drops apart") {
    /** Two zip shards of two members each; shard 1 torn 20 bytes into its last member. */
    def stage(base: Int): String = {
      val dir = ProbeUtil.scratchDir("skip-union")
      (0 until 2).foreach { i =>
        val out = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(out)
        var cut = 0
        (0 until 2).foreach { j =>
          if (j == 1) { z.flush(); cut = out.size() + 20 }
          val e = new java.util.zip.ZipEntry(s"k$i$j.json"); e.setTime(0L)
          z.putNextEntry(e); z.write(s"""{"id":${base + 10 * i + j}}""".getBytes("UTF-8")); z.closeEntry()
        }
        z.finish()
        val b = if (i == 1) java.util.Arrays.copyOf(out.toByteArray, cut) else out.toByteArray
        Files.write(java.nio.file.Paths.get(dir, f"part-$i%05d.zip"), b)
      }
      dir
    }
    val df = Sources.readZipShardsPermissive(spark, stage(0))
      .unionByName(Sources.readZipShardsPermissive(spark, stage(100)))
    val (rows, ms) = collectObserved(df, "graft.zip.skip.")
    assert(ms.size === 2, ms.keys)
    assert(ms.values.map(_.getAs[Long]("corrupt_shards")).toSeq === Seq(1L, 1L))
    assert(ms.values.map(_.getAs[Long]("dropped_bytes")).toSeq === Seq(20L, 20L))
    val ids = rows.map(r => """\d+""".r.findFirstIn(new String(r.getAs[Array[Byte]]("payload"), "UTF-8")).get.toLong)
    assert(ids.toSeq.sorted === Seq(0L, 1L, 10L, 100L, 101L, 110L))
  }
}
