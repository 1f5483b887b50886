package graft.queries

import graft.Graft
import graft.ProbeUtil.scratchDir
import graft.operators.{Aggregates, Joins, Profiling, StreamOps, TableView, Windows}
import graft.sources.Sources
import graft.plans.Topology
import graft.streaming.{Processors, StreamingQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The SURVEY.md §2 operator inventory as driver-checkable queries:
  * each entry exercises one operator through the graft library and has a
  * DuckDB oracle (in [[CoreQueries.oracles]]) computing the same result
  * over the same parquet tables. Column names/aliases match the oracle
  * exactly (the driver sorts columns by name before hashing).
  */
object CoreQueries {
  import StreamOps._

  type Q = (SparkSession, String) => DataFrame

  // Session-cached SETUP writes for queries whose operator-under-test is
  // a read path over a specially laid-out table (partition pruning,
  // bucketed co-location). Bench runs a query several times per process;
  // rewriting the layout each rep times dirty-page write variance instead
  // of the operator (s_partition_prune flapped 2.67x run to run, entirely
  // in the rewrite). Keyed by (tag, sfDir) so different corpora never
  // alias.
  private val setupDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedSetup(tag: String, d: String)(build: String => Unit): String =
    setupDirs.computeIfAbsent(s"$tag|$d", { _ =>
      val path = scratchDir(tag)
      build(path)
      path
    })

  // Guaranteed-unique per-session token for setup-cache keys whose
  // artifact is SESSION state (catalog tables): identityHashCode is not
  // unique — after GC a new session can reuse a dead session's identity
  // hash and would skip rebuilding its catalog entries. Weak keys let
  // dead sessions unpin their tokens.
  private val sessionTokens =
    new java.util.WeakHashMap[SparkSession, String]()
  private val sessionSeq = new java.util.concurrent.atomic.AtomicLong()
  private def sessionToken(s: SparkSession): String =
    sessionTokens.synchronized {
      val existing = sessionTokens.get(s)
      if (existing != null) existing
      else {
        val t = s"s${sessionSeq.incrementAndGet()}"
        sessionTokens.put(s, t)
        t
      }
    }

  // ---- S: sources & sinks -------------------------------------------------

  val sources: Map[String, Q] = Map(
    "s1_stream_source" -> ((s, d) =>
      Graft.eventsStream(s, d).select(col("key"), col("value"), col("ts_us"))),

    "s2_table_source" -> ((s, d) =>
      TableView.latestPerKey(Graft.eventsStream(s, d), Seq("key"), col("ts_us"), col("event_id"))
        .select(col("key"), col("value").as("last_type"), col("amount").as("last_amount"),
          col("ts_us").as("last_ts_us"))),

    "s3_stream_sink" -> ((s, d) => {
      val out = scratchDir("sink")
      Graft.eventsStream(s, d).select("key", "value", "ts_us").to(out)
      s.read.parquet(out)
    }),

    "s4_raw_source" -> ((s, d) =>
      new Topology()
        .addSource("events-source", Graft.eventsStream(s, d))
        .addProcessor("project", _.select(col("event_id"), col("key"), col("value")))
        .build),

    "s5_raw_sink" -> ((s, d) => {
      val out = scratchDir("rawsink")
      new Topology()
        .addSource("events-source", Graft.eventsStream(s, d))
        .addProcessor("upper", _.mapValues(upper))
        .addProcessor("project", _.select(col("event_id"), col("key"), col("value")))
        .addSink("events-sink", out)
      s.read.parquet(out)
    }),

    "s6_console_sink" -> ((s, d) => {
      val df = Graft.eventsStream(s, d).select(col("key"), col("value"))
      df.limit(3).printToSysOut("s6_console_sink", 3)
      df
    }),

    "s7_file_sink" -> ((s, d) => {
      val out = scratchDir("filesink")
      Graft.eventsStream(s, d)
        .select(concat_ws("|", col("event_id"), col("key"), col("value")).as("value"))
        .write.mode("overwrite").text(out)
      s.read.text(out)
        .select(split(col("value"), "\\|").as("p"))
        .select(col("p").getItem(0).cast(LongType).as("event_id"),
          col("p").getItem(1).as("key"), col("p").getItem(2).as("value"))
    }),

    "s8_datagen" -> ((s, _) =>
      // deterministic fixture generator (reference's inline producers S8)
      s.range(0, 1000).select(
        col("id"),
        concat(lit("u"), (col("id") % 15).cast("string")).as("user_key"),
        ((col("id") * 37) % 100).as("score"))),

    "s9_csv_source" -> ((s, d) => {
      val out = scratchDir("csv")
      Graft.region(s, d).write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(Graft.region(s, d).schema).option("header", "true").csv(out)
    }),

    "s10_ddl" -> ((s, d) => {
      // topic/table DDL ≈ catalog temp views + SQL over them
      Graft.nation(s, d).createOrReplaceTempView("nation_v")
      Graft.region(s, d).createOrReplaceTempView("region_v")
      s.sql("SELECT n_name, r_name FROM nation_v JOIN region_v ON n_regionkey = r_regionkey")
    }),

    "s_avro_roundtrip" -> ((s, d) => {
      // Avro serde capability (SURVEY §1.2; the reference declares Avro
      // serdes it never exercises — reference pom.xml:46-60): write the
      // region table through Spark's Avro serializer and read it back —
      // identity checked against the plain-table oracle. This distribution
      // ships AvroFileFormat inside spark-sql but NOT the spark-avro
      // connector package that the to_avro/from_avro SQL wrappers load
      // reflectively, so the format is addressed by class name; the
      // serde core exercised (AvroSerializer/AvroDeserializer) is the
      // same either way.
      val avroFormat = "org.apache.spark.sql.avro.AvroFileFormat"
      val out = scratchDir("avro")
      val region = Graft.region(s, d)
      region.write.mode("overwrite").format(avroFormat).save(out)
      s.read.format(avroFormat).schema(region.schema).load(out)
    }),

    "s_avro_evolution" -> ((s, d) => {
      // Avro READER-SCHEMA evolution (r15 VERDICT #6) — the container's
      // native mechanism, distinct from parquet's mergeSchema: batch 1
      // writes (doc_id, lang), batch 2 adds n_chars, and ONE read with
      // the evolved reader schema (n_chars: union[null,long] default
      // null) resolves both writer schemas per-file — Avro schema
      // resolution fills the default for old files. This is how a 100 TB
      // Avro lake absorbs column adds without rewriting history.
      val avroFormat = "org.apache.spark.sql.avro.AvroFileFormat"
      val path = scratchDir("avroevo")
      val docs = Graft.documents(s, d)
      docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select("doc_id", "lang")
        .write.mode("overwrite").format(avroFormat).save(s"$path/b1")
      docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").format(avroFormat).save(s"$path/b2")
      val readerSchema =
        """{"type":"record","name":"topLevelRecord","fields":[
          |  {"name":"doc_id","type":["long","null"]},
          |  {"name":"lang","type":["string","null"]},
          |  {"name":"n_chars","type":["null","long"],"default":null}
          |]}""".stripMargin
      s.read.format(avroFormat).option("avroSchema", readerSchema)
        .load(s"$path/b1", s"$path/b2")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    "s_avro_corrupt_skip" -> ((s, d) => {
      // Avro corrupt-shard quarantine (r15 VERDICT #6) — the twin every
      // other container family has: four deterministic shard dirs
      // (doc_id%4), then shard 2's part file gets its 4-byte magic
      // zeroed (a torn/garbled object-store upload). Avro's
      // DataFileStream throws IOException("Not an Avro data file") on
      // the bad magic, and the per-read ignoreCorruptFiles option turns
      // that into a whole-file skip — log-and-continue (T2) at shard
      // granularity, never a silently-wrong row. Oracle states the
      // surviving set exactly: everything but shard 2.
      val avroFormat = "org.apache.spark.sql.avro.AvroFileFormat"
      val path = scratchDir("avrocorrupt")
      val docs = Graft.documents(s, d).select("doc_id", "lang")
      (0 until 4).foreach { i =>
        docs.where(pmod(col("doc_id"), lit(4)) === i)
          .coalesce(1)
          .write.mode("overwrite").format(avroFormat).save(s"$path/s$i")
      }
      val s2Files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$path/s2"))
      val part2 =
        try {
          import scala.jdk.CollectionConverters._
          s2Files.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".avro")).toSeq.head
        } finally s2Files.close()
      val bytes = java.nio.file.Files.readAllBytes(part2)
      java.util.Arrays.fill(bytes, 0, 4, 0.toByte)
      java.nio.file.Files.write(part2, bytes)
      s.read.format(avroFormat).schema(docs.schema)
        .option("ignoreCorruptFiles", "true")
        .load((0 until 4).map(i => s"$path/s$i"): _*)
    }),

    "s_orc" -> ((s, d) => {
      // ORC roundtrip — the other columnar interchange format (Hive /
      // Trino warehouse corpora ship as ORC about as often as parquet):
      // write documents as ORC, read back with the EXPLICIT schema
      // (same no-inference-scan rule as s_jsonl), identity vs the plain
      // table. Spark's vectorized ORC reader gets the same
      // pushdown/pruning treatment as parquet — pinned in SourcesSpec.
      val out = scratchDir("orc")
      val docs = Graft.documents(s, d)
      docs.write.mode("overwrite").orc(out)
      s.read.schema(docs.schema).orc(out)
    }),

    "s_zorder" -> ((s, d) => {
      // Z-ordered layout roundtrip: events written sorted along the
      // (user_id, ts_us) Z-curve — every row group's footer stats form
      // a tight 2D bounding box, so user+time box predicates skip most
      // groups at scan (the lakehouse data-skipping layout for
      // multi-dimensional filters; single-column sort helps only its
      // own column). Content identity is the oracle; the bounding-box
      // property is pinned in SourcesSpec.
      val out = scratchDir("zorder")
      val ev = Graft.events(s, d)
        .select("event_id", "user_id", "ts_us", "event_type", "value")
      Sources.writeZOrdered(ev, out, "user_id", "ts_us")
      s.read.schema(ev.schema).parquet(out)
    }),

    "s_jsonl" -> ((s, d) => {
      // JSONL (newline-delimited JSON) roundtrip — the standard corpus
      // interchange format for web-scale text datasets: write documents
      // as JSONL shards, plant a garbage line alongside them, read back
      // with the EXPLICIT schema (schema inference over 100 TB is a
      // second full scan) in PERMISSIVE mode with a corrupt-record
      // column — clean rows survive bit-identically (JSON escapes
      // embedded newlines, so line-delimited framing is safe for any
      // text), the garbage line routes to the dead-letter filter (T2's
      // log-and-continue at the format boundary, like s_corrupt_skip
      // for parquet shards).
      val out = scratchDir("jsonl")
      val docs = Graft.documents(s, d)
      docs.write.mode("overwrite").json(out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "zz-corrupt.json"),
        "{this is not json\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val schema = docs.schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
        .where(col("_corrupt_record").isNull)
        .select(docs.columns.map(col): _*)
    }),

    "s_jsonl_bz2" -> ((s, d) => {
      // BZIP2-compressed JSONL roundtrip — the one SPLITTABLE text
      // codec in vanilla Hadoop (pure-Java BZip2Codec): unlike gzip
      // (one shard = one task, writer-controlled parallelism), a bzip2
      // text shard splits at block boundaries, so read parallelism is
      // independent of how the corpus was sharded — the safer default
      // for text corpora whose shard sizing the reader doesn't control.
      val out = scratchDir("jsonlbz2")
      val docs = Graft.documents(s, d)
      docs.repartition(2).write.mode("overwrite")
        .option("compression", "bzip2").json(out)
      s.read.schema(docs.schema).json(out)
    }),

    "s_webdataset" -> ((s, d) => {
      // WebDataset roundtrip (r13) — the de-facto MULTIMODAL training
      // corpus layout: per sample, a `<key>.json` metadata member and a
      // `<key>.png` image member, grouped contiguously inside plain
      // USTAR tar shards (pure-JVM framing, header checksums verified
      // on read; write repartitions BY KEY so a sample never splits
      // across shards — the property streaming WebDataset readers
      // rely on). Certified BOTH modalities deep: the json side must
      // reproduce the documents table bit-exactly (from_json, explicit
      // schema) and the png side goes through the FULL certified PNG
      // decode to per-asset pixel sums the oracle replays from the
      // pixel formula. Scale shape: shard-parallel read, scan-local
      // decode, one broadcastable join keyed by doc_id.
      val out = scratchDir("wds")
      val docs = Graft.documents(s, d)
      val key = format_string("%012d", col("doc_id"))
      val jsonRows = docs.select(key.as("key"), lit("json").as("ext"),
        to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload"))
      val pngRows = graft.multimodal.Multimodal.syntheticPngAssets(docs)
        .select(format_string("%012d", col("asset_id")).as("key"),
          lit("png").as("ext"), col("payload"))
      graft.sources.Sources.writeWebDataset(
        jsonRows.unionByName(pngRows), out, shards = 4)
      val back = graft.sources.Sources.readWebDataset(s, out)
      val js = back.where(col("ext") === "json")
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(col("r.*"))
      val px = graft.multimodal.Multimodal.decodePngChannels(
          back.where(col("ext") === "png")
            .select(col("key").cast("long").as("asset_id"), col("payload")))
        .groupBy("asset_id").agg(sum("px_sum").as("png_px_sum"))
      js.join(px.withColumnRenamed("asset_id", "doc_id"), Seq("doc_id"))
    }),

    "s_webdataset_streaming" -> ((s, d) => {
      // WebDataset shards arriving THROUGH the real streaming engine
      // (the multimodal ingest-at-arrival shape): the SAME 4 shards
      // are staged, read with a streaming binaryFile source, each tar
      // parsed and both member types processed per micro-batch —
      // stateless append, so the converged result equals the batch
      // read and shares s_webdataset's oracle verbatim.
      val out = scratchDir("wdss")
      val docs = Graft.documents(s, d)
      val key = format_string("%012d", col("doc_id"))
      val jsonRows = docs.select(key.as("key"), lit("json").as("ext"),
        to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload"))
      val pngRows = graft.multimodal.Multimodal.syntheticPngAssets(docs)
        .select(format_string("%012d", col("asset_id")).as("key"),
          lit("png").as("ext"), col("payload"))
      graft.sources.Sources.writeWebDataset(
        jsonRows.unionByName(pngRows), out, shards = 4)
      import s.implicits._
      val stream = s.readStream.format("binaryFile")
        .schema(s.read.format("binaryFile").load(s"$out/*.tar").schema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$out/*.tar")
        .select("content").as[Array[Byte]]
        .flatMap(graft.sources.Sources.Tar.readAll(_).collect {
          // same dot-less/non-sample skip as Sources.readWebDataset
          case (name, data) if name.lastIndexOf('.') > 0 =>
            val dot = name.lastIndexOf('.')
            (name.substring(0, dot), name.substring(dot + 1), data)
        })
        .toDF("key", "ext", "payload")
      val js = stream.where(col("ext") === "json")
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(col("r.*"))
      val px = graft.multimodal.Multimodal.decodePngChannels(
          stream.where(col("ext") === "png")
            .select(col("key").cast("long").as("asset_id"), col("payload")))
      // per-asset channel stats are append-safe (each asset's members
      // arrive in ONE shard = one batch); the final per-doc reduce +
      // join runs on the converged tables
      val jsT = graft.streaming.StreamingQueries.runAppendToMemory(s, "s_wds_js", js)
      val pxT = graft.streaming.StreamingQueries.runAppendToMemory(s, "s_wds_px", px)
      jsT.join(
        pxT.groupBy("asset_id").agg(sum("px_sum").as("png_px_sum"))
          .withColumnRenamed("asset_id", "doc_id"),
        Seq("doc_id"))
    }),

    "s_tfrecord" -> ((s, d) => {
      // TFRecord roundtrip (r13) — the TensorFlow training-data
      // interchange format, pure-JVM framing (8-byte LE length + masked
      // CRC-32C on both the length and the payload; JDK CRC32C, public
      // spec constants): documents → JSON payloads → 4 TFRecord shards
      // → shard-parallel read with EVERY checksum verified → from_json
      // with the explicit schema → identity vs the plain table. Like
      // gzip text, a shard is one read task (non-splittable framing) —
      // the writer controls parallelism, stated in the write API.
      val out = scratchDir("tfrecord")
      val docs = Graft.documents(s, d)
      graft.sources.Sources.writeTfRecords(
        docs.select(to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload")),
        "payload", out, shards = 4)
      graft.sources.Sources.readTfRecords(s, out)
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(docs.columns.map(c => col(s"r.$c")): _*)
    }),

    "s_tfrecord_streaming" -> ((s, d) => {
      // TFRecord shards arriving THROUGH the real streaming engine
      // (r14, verdict ask #5) — the standard TF-data ingest shape:
      // shards land incrementally and each is parsed at arrival. The
      // SAME 4 shards as s_tfrecord are staged, read with a streaming
      // binaryFile source one shard per micro-batch, every record's
      // masked CRC-32C verified by the SAME strict TfRecord.readAll
      // the batch path uses (a flipped byte kills the batch, never
      // yields a silently-wrong payload), then from_json with the
      // explicit schema. Stateless append, so the converged result
      // equals the batch read and shares s_tfrecord's oracle verbatim.
      val out = scratchDir("tfrecords")
      val docs = Graft.documents(s, d)
      graft.sources.Sources.writeTfRecords(
        docs.select(to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload")),
        "payload", out, shards = 4)
      import s.implicits._
      val stream = s.readStream.format("binaryFile")
        .schema(s.read.format("binaryFile").load(s"$out/*.tfrecord").schema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$out/*.tfrecord")
        .select("content").as[Array[Byte]]
        .flatMap(graft.sources.Sources.TfRecord.readAll)
        .toDF("payload")
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(docs.columns.map(c => col(s"r.$c")): _*)
      graft.streaming.StreamingQueries.runAppendToMemory(s, "s_tfr_stream", stream)
    }),

    "s_webdataset_corrupt_tail" -> ((s, d) => {
      // torn-tail recovery for tar shards (r14) — the TFRecord entry's
      // twin, certifying BOTH permissive branches: four shards staged
      // deterministically (shard i = doc_id%4==i, key-ordered), then
      // shard 3 loses its end-of-archive blocks plus ONE byte of the
      // final member's padded data (writer killed mid-member — exactly
      // that member, the class's max doc_id, must drop) and shard 2's
      // FIRST header gets a flipped byte (checksum mismatch on entry —
      // the whole shard quarantines). The permissive reader surfaces
      // both losses through the observe metric and can never yield a
      // garbage member; the oracle states the exact surviving set.
      val out = scratchDir("wdscorrupt")
      val docs = Graft.documents(s, d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      (0 until 4).foreach { i =>
        docs.where(pmod(col("doc_id"), lit(4)) === i)
          .select(format_string("%012d", col("doc_id")).as("key"),
            to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload"))
          .coalesce(1).sortWithinPartitions("key")
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            val p = java.nio.file.Paths.get(out, f"shard-$i%05d.tar")
            val os = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(p))
            try {
              it.foreach(r => graft.sources.Sources.Tar.writeEntry(
                os, s"${r.getString(0)}.json", r.getAs[Array[Byte]](1)))
              graft.sources.Sources.Tar.finish(os)
            } finally os.close()
          }
      }
      val s3 = java.nio.file.Paths.get(out, "shard-00003.tar")
      val b3 = java.nio.file.Files.readAllBytes(s3)
      // drop the two end-of-archive blocks plus one byte of the last
      // member's padded data region — a torn final member either way
      // (data cut when size%512==0, padding cut otherwise). An empty
      // class (possible at tiny SFs) leaves only the 1024-byte
      // end-of-archive — nothing to tear, skip rather than underflow
      // (ADVICE r14); the oracle's max-doc_id drop clause is then a
      // no-op over the empty set, so the result still matches.
      if (b3.length > 1025)
        java.nio.file.Files.write(s3, java.util.Arrays.copyOf(b3, b3.length - 1025))
      val s2 = java.nio.file.Paths.get(out, "shard-00002.tar")
      val b2 = java.nio.file.Files.readAllBytes(s2)
      b2(0) = (b2(0) ^ 0x7).toByte // first header name byte: checksum now wrong
      java.nio.file.Files.write(s2, b2)
      graft.sources.Sources.readWebDatasetPermissive(s, out)
        .where(col("ext") === "json")
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(docs.columns.map(c => col(s"r.$c")): _*)
    }),

    "s_arrow_roundtrip" -> ((s, d) => {
      // Arrow IPC stream roundtrip (r15) — the columnar interchange
      // format ML dataloaders consume, spoken by a HAND-BUILT
      // FlatBuffers layer (vtables, unions, struct vectors) and the
      // encapsulated-message framing, pure JVM (Sources.ArrowIpc;
      // cross-validated BOTH directions against pyarrow in
      // SourcesSpec): documents → 4 .arrows shards → shard-parallel
      // streaming read (schema validated, one batch in memory) →
      // identity vs the plain table.
      val out = scratchDir("arrowstream")
      val docs = Graft.documents(s, d)
      graft.sources.Sources.writeArrowStream(docs, out, shards = 4)
      graft.sources.Sources.readArrowStream(s, out, docs.schema)
    }),

    "s_arrow_file" -> ((s, d) => {
      // Feather-V2 Arrow FILE roundtrip (r15): the stream content
      // wrapped in magic + a Footer flatbuffer of batch locations — the
      // mmap-able form pyarrow.ipc.open_file random-accesses
      // (cross-validated in SourcesSpec). Read back through the same
      // schema-validated streaming walk.
      val out = scratchDir("arrowfile")
      val docs = Graft.documents(s, d)
      graft.sources.Sources.writeArrowFile(docs, out, shards = 4)
      graft.sources.Sources.readArrowFile(s, out, docs.schema)
    }),

    "s_arrow_embeddings" -> ((s, d) => {
      // embeddings through the Arrow interchange: vec_id/label as
      // Int64, the vector as list<float32> — the EXACT layout a
      // pyarrow/torch dataloader consumes. Float bits ride the fixed32
      // child buffer untouched, so the roundtrip is bit-exact; the
      // harness-facing projection explodes to scalars (the
      // s_tfexample_embeddings device — pandas cannot hash raw arrays).
      val out = scratchDir("arrowemb")
      val emb = Graft.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      graft.sources.Sources.writeArrowStream(emb, out, shards = 4)
      graft.sources.Sources.readArrowStream(s, out, emb.schema)
        .select(col("vec_id"), posexplode(col("embedding")), col("label"))
        .select(col("vec_id"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("value"), col("label").cast("int").as("label"))
    }),

    "s_safetensors" -> ((s, d) => {
      // embeddings through the SAFETENSORS interchange (r16) — the
      // model-ecosystem tensor container (public spec:
      // huggingface/safetensors): per shard, vec_id I64 [n],
      // embedding F32 [n,d], label I64 [n] — exactly the file a
      // torch/NumPy dataloader mmaps. Float bits ride the little-endian
      // buffer untouched (bit-exact roundtrip); harness projection
      // explodes to scalars (the s_arrow_embeddings device). Shards are
      // all-or-nothing (no record framing), so shard count = read
      // parallelism AND peak writer-task memory — the non-splittable
      // container discipline TFRecord/tar already follow.
      val out = scratchDir("safetensors")
      val emb = Graft.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      graft.sources.Safetensors.writeVectors(emb, out, "vec_id", "embedding", "label", shards = 4)
      graft.sources.Safetensors.readVectors(s, out, "vec_id", "embedding", "label")
        .select(col("vec_id"), posexplode(col("embedding")), col("label"))
        .select(col("vec_id"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("value"), col("label").cast("int").as("label"))
    }),

    "s_npz" -> ((s, d) => {
      // embeddings through numpy's npz interchange (r16): each shard a
      // ZIP of three .npy members (i8 ids, f4 [n,d] vectors, i8 labels)
      // — exactly what np.load returns member-wise — written STORED with
      // deterministic bytes, read back through the repo's OWN
      // CRC-verifying zip walk composed with the .npy header parser.
      // Float bits ride the LE buffer untouched; same exploded-scalar
      // projection and oracle as the other vector containers.
      val out = scratchDir("npz")
      val emb = Graft.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      graft.sources.Npy.writeNpzVectors(emb, out, "vec_id", "embedding", "label", shards = 4)
      graft.sources.Npy.readNpzVectors(s, out, "vec_id", "embedding", "label")
        .select(col("vec_id"), posexplode(col("embedding")), col("label"))
        .select(col("vec_id"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("value"), col("label").cast("int").as("label"))
    }),

    "s_npy" -> ((s, d) => {
      // bare .npy vector shards (r17, VERDICT r16 #4) — the fairseq/
      // megatron wire form: a directory of raw f4 [n,d] matrices with
      // NO ids in the container (row identity = shard + row order).
      // Shards are deterministic (vec_id mod 4, rows ascending by
      // vec_id within a shard), so the oracle reconstructs the mapping
      // exactly: shard = vec_id % 4, row_idx = rank within shard.
      // Float bits ride the LE buffer untouched; exploded-scalar
      // projection like the other vector containers.
      val out = scratchDir("npyshards")
      val emb = Graft.embeddings(s, d)
      graft.sources.Npy.writeNpyShards(emb, out, "vec_id", "embedding", shards = 4)
      graft.sources.Npy.readNpyShards(s, out)
        .select(col("shard"), col("row_idx"), posexplode(col("vec")))
        .select(col("shard"), col("row_idx"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("value"))
    }),

    "s_npy_streaming" -> ((s, d) => {
      // bare-.npy shards arriving THROUGH the real streaming engine (the
      // container family's ingest-at-arrival twin): the SAME 4 shards
      // staged, streaming binaryFile source one shard per micro-batch,
      // each decoded whole by the SAME validated parser (a bare .npy has
      // no record framing — file == batch), shard index from the file
      // name. Stateless append — converged result equals the batch read
      // and shares s_npy's oracle.
      val out = scratchDir("npystream")
      val emb = Graft.embeddings(s, d)
      graft.sources.Npy.writeNpyShards(emb, out, "vec_id", "embedding", shards = 4)
      import s.implicits._
      implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
        org.apache.spark.sql.Encoders.row(graft.sources.Npy.npyShardSchema)
      val stream = s.readStream.format("binaryFile")
        .schema(s.read.format("binaryFile").load(s"$out/*.npy").schema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$out/*.npy")
        .select("path", "content").as[(String, Array[Byte])]
        .flatMap { case (p, b) =>
          graft.sources.Npy.decodeVectorShard(graft.sources.Npy.shardIndexOf(p), b)
        }
      graft.streaming.StreamingQueries.runAppendToMemory(s, "s_npy_stream",
          stream.toDF())
        .select(col("shard"), col("row_idx"), posexplode(col("vec")))
        .select(col("shard"), col("row_idx"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("value"))
    }),

    "s_npy_corrupt_tail" -> ((s, d) => {
      // bare-.npy torn-tail quarantine: shard 2's file loses its final
      // 256 bytes — with no record framing the data extent no longer
      // matches the header's shape, so the permissive reader
      // quarantines the WHOLE shard (zero rows for it); the strict dual
      // fails the task instead. Oracle states the surviving set
      // exactly: every shard but vec_id%4 == 2.
      val out = scratchDir("npycorrupt")
      val emb = Graft.embeddings(s, d)
      graft.sources.Npy.writeNpyShards(emb, out, "vec_id", "embedding", shards = 4)
      val victim = java.nio.file.Paths.get(s"$out/part-00002.npy")
      val vb = java.nio.file.Files.readAllBytes(victim)
      // ADVICE r17: at a tiny SF the shard file could be < 256 bytes of
      // payload — cut at most what's there past the 128-byte header so
      // the fixture always exercises quarantine, never throws.
      val cut = math.min(256, math.max(1, vb.length - 128))
      java.nio.file.Files.write(victim, java.util.Arrays.copyOf(vb, vb.length - cut))
      graft.sources.Npy.readNpyShardsPermissive(s, out)
        .select(col("shard"), col("row_idx"), posexplode(col("vec")))
        .select(col("shard"), col("row_idx"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("value"))
    }),

    "s_safetensors_streaming" -> ((s, d) => {
      // safetensors shards arriving THROUGH the real streaming engine
      // (the dataloader-feed shape, the s_arrow_streaming device): the
      // SAME 4 shards staged, streaming binaryFile source one shard per
      // micro-batch, each decoded whole by the SAME validated parser
      // (a safetensors shard has no record framing — file == batch).
      // Stateless append — converged result equals the batch read,
      // shared oracle.
      val out = scratchDir("ststream")
      val emb = Graft.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      graft.sources.Safetensors.writeVectors(emb, out, "vec_id", "embedding", "label", shards = 4)
      import s.implicits._
      val schema = graft.sources.Safetensors.vectorSchema("vec_id", "embedding", "label")
      implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
        org.apache.spark.sql.Encoders.row(schema)
      val stream = s.readStream.format("binaryFile")
        .schema(s.read.format("binaryFile").load(s"$out/*.safetensors").schema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$out/*.safetensors")
        .select("content").as[Array[Byte]]
        .flatMap(b => graft.sources.Safetensors.decodeVectors(b, "vec_id", "embedding", "label"))
      graft.streaming.StreamingQueries.runAppendToMemory(s, "s_safetensors_stream",
          stream.toDF())
        .select(col("vec_id"), posexplode(col("embedding")), col("label"))
        .select(col("vec_id"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("value"), col("label").cast("int").as("label"))
    }),

    "s_safetensors_corrupt_skip" -> ((s, d) => {
      // safetensors torn-tail quarantine: four DETERMINISTIC shards
      // (vec_id%4), shard 2's file loses its final 256 bytes — with no
      // record framing there is no salvageable prefix (the buffer no
      // longer matches the header's spans), so the permissive reader
      // quarantines the WHOLE shard and surfaces zero rows for it;
      // strict-read duals fail the task instead. Oracle states the
      // surviving set exactly: everything but vec_id%4 == 2.
      val out = scratchDir("stcorrupt")
      val emb = Graft.embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label").cast("long").as("label"))
      (0 until 4).foreach { i =>
        graft.sources.Safetensors.writeVectors(
          emb.where(pmod(col("vec_id"), lit(4)) === i),
          s"$out/s$i", "vec_id", "embedding", "label", shards = 1)
      }
      val victim = java.nio.file.Paths.get(s"$out/s2/part-00000.safetensors")
      val vb = java.nio.file.Files.readAllBytes(victim)
      java.nio.file.Files.write(victim, java.util.Arrays.copyOf(vb, vb.length - 256))
      val parts = (0 until 4).map(i => s"$out/s$i")
      parts.tail.foldLeft(
          graft.sources.Safetensors.readVectorsPermissive(s, parts.head,
            "vec_id", "embedding", "label")) { (acc, p) =>
          acc.unionAll(graft.sources.Safetensors.readVectorsPermissive(s, p,
            "vec_id", "embedding", "label"))
        }
        .select(col("vec_id"), posexplode(col("embedding")), col("label"))
        .select(col("vec_id"), col("pos").cast("int").as("idx"),
          col("col").cast("double").as("value"), col("label").cast("int").as("label"))
    }),

    "s_arrow_streaming" -> ((s, d) => {
      // Arrow shards arriving THROUGH the real streaming engine (the
      // dataloader-feed shape): the SAME 4 shards staged, streaming
      // binaryFile source one shard per micro-batch, each walked by the
      // SAME schema-validated batch reader. Stateless append —
      // converged result equals the batch read, shared oracle.
      val out = scratchDir("arrowstreams")
      val docs = Graft.documents(s, d)
      graft.sources.Sources.writeArrowStream(docs, out, shards = 4)
      import s.implicits._
      val schema = docs.schema
      implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
        org.apache.spark.sql.Encoders.row(schema)
      val stream = s.readStream.format("binaryFile")
        .schema(s.read.format("binaryFile").load(s"$out/*.arrows").schema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$out/*.arrows")
        .select("content").as[Array[Byte]]
        .flatMap(b => graft.sources.ArrowIpc.readStream(
          new java.io.ByteArrayInputStream(b), schema))
      graft.streaming.StreamingQueries.runAppendToMemory(s, "s_arrow_stream",
        stream.toDF())
    }),

    "s_zipshards" -> ((s, d) => {
      // ZIP shard roundtrip (r15) — the other common sample-archive
      // container next to WebDataset tar (Kaggle dumps, scraped-corpus
      // drops, COCO-style sets): documents → JSON members → 4 zip
      // shards (pure-JDK java.util.zip, DEFLATE) → shard-parallel
      // streaming read with every member's CRC-32 verified → from_json
      // with the explicit schema → identity vs the plain table. Read
      // parallelism = shard count (stream mode ignores the tail-resident
      // central directory, so a shard is one task — the writer's knob,
      // stated in the write API).
      val out = scratchDir("zipshards")
      val docs = Graft.documents(s, d)
      graft.sources.Sources.writeZipShards(
        docs.select(format_string("%012d", col("doc_id")).as("key"),
          lit("json").as("ext"),
          to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload")),
        out, shards = 4)
      graft.sources.Sources.readZipShards(s, out)
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(docs.columns.map(c => col(s"r.$c")): _*)
    }),

    "s_zipshards_streaming" -> ((s, d) => {
      // zip shards arriving THROUGH the real streaming engine (the
      // container family's ingest-at-arrival twin): the SAME 4 shards
      // staged, streaming binaryFile source one shard per micro-batch,
      // each archive walked by the SAME CRC-verifying member reader the
      // batch path uses, then from_json. Stateless append — converged
      // result equals the batch read and shares s_zipshards' oracle.
      val out = scratchDir("zipshardss")
      val docs = Graft.documents(s, d)
      graft.sources.Sources.writeZipShards(
        docs.select(format_string("%012d", col("doc_id")).as("key"),
          lit("json").as("ext"),
          to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload")),
        out, shards = 4)
      import s.implicits._
      val stream = s.readStream.format("binaryFile")
        .schema(s.read.format("binaryFile").load(s"$out/*.zip").schema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$out/*.zip")
        .select("content").as[Array[Byte]]
        .flatMap(graft.sources.Sources.Zip.readAll(_).collect {
          case (name, data) if name.lastIndexOf('.') > 0 => data
        })
        .toDF("payload")
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(docs.columns.map(c => col(s"r.$c")): _*)
      graft.streaming.StreamingQueries.runAppendToMemory(s, "s_zip_stream", stream)
    }),

    "s_zipshards_corrupt_tail" -> ((s, d) => {
      // torn-tail recovery for zip shards (r15) — the tar/TFRecord
      // permissive twin on the third container format: four shards
      // staged deterministically (shard i = doc_id%4==i, key-ordered),
      // then shard 3 is truncated INSIDE its final member's local
      // header (a writer killed mid-member; the cut offset is captured
      // structurally while building the shard, not scanned from bytes —
      // DEFLATE payloads could contain spurious signatures). Exactly
      // that member, the class's max doc_id, must drop; complete
      // CRC-verified members survive; the loss rides the observe
      // metric. The oracle states the exact surviving set.
      val out = scratchDir("zipcorrupt")
      val docs = Graft.documents(s, d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      (0 until 3).foreach { i =>
        docs.where(pmod(col("doc_id"), lit(4)) === i)
          .select(format_string("%012d", col("doc_id")).as("key"),
            to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload"))
          .coalesce(1).sortWithinPartitions("key")
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            val p = java.nio.file.Paths.get(out, f"shard-$i%05d.zip")
            val os = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(p))
            val z = new java.util.zip.ZipOutputStream(os)
            try {
              var wrote = false
              it.foreach { r =>
                val e = new java.util.zip.ZipEntry(s"${r.getString(0)}.json")
                e.setTime(0L)
                z.putNextEntry(e)
                z.write(r.getAs[Array[Byte]](1))
                z.closeEntry()
                wrote = true
              }
              if (wrote) z.finish()
            } finally os.close()
          }
      }
      // shard 3 builds on the driver (the readAllBytes-precedent class
      // sizes) so the last member's local-header offset is KNOWN: after
      // each closeEntry the underlying buffer holds that entry whole
      val rows3 = docs.where(pmod(col("doc_id"), lit(4)) === 3)
        .select(format_string("%012d", col("doc_id")).as("key"),
          to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload"))
        .orderBy("key").collect()
      if (rows3.nonEmpty) {
        val baos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.ZipOutputStream(baos)
        rows3.dropRight(1).foreach { r =>
          val e = new java.util.zip.ZipEntry(s"${r.getString(0)}.json")
          e.setTime(0L)
          z.putNextEntry(e)
          z.write(r.getAs[Array[Byte]](1))
          z.closeEntry()
        }
        z.flush()
        val cut = baos.size() + 12 // 12 bytes into the last local header
        val last = rows3.last
        val e = new java.util.zip.ZipEntry(s"${last.getString(0)}.json")
        e.setTime(0L)
        z.putNextEntry(e)
        z.write(last.getAs[Array[Byte]](1))
        z.closeEntry()
        z.finish()
        val full = baos.toByteArray
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out, "shard-00003.zip"),
          java.util.Arrays.copyOf(full, cut))
      }
      graft.sources.Sources.readZipShardsPermissive(s, out)
        .where(col("ext") === "json")
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(docs.columns.map(c => col(s"r.$c")): _*)
    }),

    "s_tfexample" -> ((s, d) => {
      // tf.Example protobuf payloads inside TFRecord shards (r14) —
      // the message TensorFlow training pipelines ACTUALLY write
      // (s_tfrecord's JSON payloads prove the framing; this proves the
      // payload): each doc encodes as an Example with int64 features
      // (doc_id, n_chars) and bytes features (text, lang, source)
      // through the pure-JVM protobuf wire codec (Sources.TfExample —
      // LEB128 varints, LEN-delimited submessages, packed int64 lists;
      // golden bytes pinned in SourcesSpec), rides the checksummed
      // TFRecord framing, and decodes back field-by-field to the
      // identity. Unknown fields skip by wire type (forward compat);
      // truncation throws. Scale shape: encode and decode are
      // partition-local scans; shards read one-task-per-shard.
      val out = scratchDir("tfexample")
      val docs = Graft.documents(s, d)
      import s.implicits._
      val payloads = docs.select("doc_id", "text", "lang", "source", "n_chars")
        .as[(Long, String, String, String, Long)]
        .map { case (id, text, lang, source, nc) =>
          graft.sources.Sources.TfExample.encode(Seq(
            "doc_id" -> id, "text" -> text, "lang" -> lang,
            "source" -> source, "n_chars" -> nc))
        }.toDF("payload")
      graft.sources.Sources.writeTfRecords(payloads, "payload", out, shards = 4)
      graft.sources.Sources.readTfRecords(s, out)
        .as[Array[Byte]]
        .map { b =>
          val m = graft.sources.Sources.TfExample.decode(b).toMap
          def str(k: String) = new String(m(k).bytes.head, "UTF-8")
          (m("doc_id").int64s.head, str("text"), str("lang"), str("source"),
            m("n_chars").int64s.head)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
    }),

    "s_tfrecord_corrupt_tail" -> ((s, d) => {
      // torn-tail recovery (r14) — the failure the TFRecord CRCs exist
      // for: a writer killed mid-record leaves an intact prefix and a
      // garbage tail. Four shards staged DETERMINISTICALLY (shard i =
      // doc_id%4==i, doc_id-ordered), then two corruptions planted:
      // shard 3 loses its final 4 bytes (payload CRC torn off — its
      // LAST record, the max doc_id of the class, must drop) and shard
      // 2 gains appended garbage (all records survive; only the bogus
      // tail is abandoned). The permissive reader keeps every complete
      // verified record, reports dropped bytes per shard through an
      // observe metric, and can never yield a silently-wrong payload —
      // the reference's log-and-continue (T2) semantics on binary
      // shards. The oracle states the exact surviving set.
      val out = scratchDir("tfrcorrupt")
      val docs = Graft.documents(s, d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
      (0 until 4).foreach { i =>
        docs.where(pmod(col("doc_id"), lit(4)) === i)
          .select(col("doc_id"),
            to_json(struct(docs.columns.map(col): _*)).cast("binary").as("payload"))
          .coalesce(1).sortWithinPartitions("doc_id")
          .select("payload")
          .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
            val p = java.nio.file.Paths.get(out, f"part-$i%05d.tfrecord")
            val os = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(p))
            try it.foreach(r => graft.sources.Sources.TfRecord.write(os, r.getAs[Array[Byte]](0)))
            finally os.close()
          }
      }
      val s3 = java.nio.file.Paths.get(out, "part-00003.tfrecord")
      val b3 = java.nio.file.Files.readAllBytes(s3)
      java.nio.file.Files.write(s3, java.util.Arrays.copyOf(b3, b3.length - 4))
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "part-00002.tfrecord"),
        Array[Byte](1, 2, 3, 4, 5), java.nio.file.StandardOpenOption.APPEND)
      graft.sources.Sources.readTfRecordsPermissive(s, out)
        .select(from_json(col("payload").cast("string"), docs.schema).as("r"))
        .select(docs.columns.map(c => col(s"r.$c")): _*)
    }),

    "s_tfexample_embeddings" -> ((s, d) => {
      // tf.Example FLOAT features (r14): the embeddings table as real
      // TF training records — vec_id/label as Int64List, the vector as
      // a packed FloatList (fixed32 little-endian, the third and last
      // tf.Example list kind) — roundtripped to the identity. Float
      // bits pass through intBitsToFloat/putFloat untouched, so the
      // roundtrip is bit-exact, not approximately-equal.
      val out = scratchDir("tfexemb")
      val emb = Graft.embeddings(s, d)
      import s.implicits._
      val payloads = emb.select("vec_id", "embedding", "label")
        .as[(Long, Array[Float], Int)]
        .map { case (id, v, label) =>
          graft.sources.Sources.TfExample.encode(Seq(
            "vec_id" -> id, "embedding" -> v, "label" -> label.toLong))
        }.toDF("payload")
      graft.sources.Sources.writeTfRecords(payloads, "payload", out, shards = 4)
      // The harness compares results in pandas, which cannot sort/hash a
      // raw array column (r14's one err row) — so the roundtripped vector
      // leaves as EXPLODED scalars (vec_id, idx, value, label). The
      // float→double widening is exact (every binary32 is a binary64),
      // so a hash-match here still certifies the fixed32 passthrough
      // bit-for-bit; DuckDB replays it as embedding[i] CAST AS DOUBLE.
      graft.sources.Sources.readTfRecords(s, out)
        .as[Array[Byte]]
        .flatMap { b =>
          val m = graft.sources.Sources.TfExample.decode(b).toMap
          val id = m("vec_id").int64s.head
          val label = m("label").int64s.head.toInt
          m("embedding").floats.iterator.zipWithIndex.map {
            case (x, i) => (id, i, x.toDouble, label)
          }
        }.toDF("vec_id", "idx", "value", "label")
    }),

    "s_tfexample_media" -> ((s, d) => {
      // TFDS-style IMAGE records (r15) — the standard tf.Example image
      // shape: a PNG payload as an `image/encoded` BytesList feature
      // (plus `image/format`) inside TFRecord shards, the layout TFDS
      // image datasets actually ship. Composed entirely from certified
      // pieces: the tf.Example wire codec (r14), TFRecord framing (r13),
      // the streaming one-task-per-shard reader, and the full PNG decode
      // path (chunk walk → CRC-32 → inflate → unfilter). The read side
      // stream-parses each shard with ONE record in memory, decodes the
      // BytesList payload, and reduces to per-asset pixel sums the
      // oracle replays from the synthetic pixel formula (the
      // s_webdataset device). 100 TB shape: shard-parallel read,
      // scan-local decode, one hash aggregation.
      val out = scratchDir("tfexmedia")
      val docs = Graft.documents(s, d)
      import s.implicits._
      val payloads = docs.select("doc_id", "n_chars").as[(Long, Long)]
        .map { case (id, nc) =>
          graft.sources.Sources.TfExample.encode(Seq(
            "asset_id" -> id,
            "image/encoded" -> graft.multimodal.Multimodal.syntheticPngBytes(id, nc),
            "image/format" -> "png"))
        }.toDF("payload")
      graft.sources.Sources.writeTfRecords(payloads, "payload", out, shards = 4)
      val decoded = graft.sources.Sources.readTfRecords(s, out)
        .as[Array[Byte]]
        .map { b =>
          val m = graft.sources.Sources.TfExample.decode(b).toMap
          require(new String(m("image/format").bytes.head, "UTF-8") == "png",
            "unexpected image/format")
          (m("asset_id").int64s.head, m("image/encoded").bytes.head)
        }.toDF("asset_id", "payload")
      graft.multimodal.Multimodal.decodePngChannels(decoded)
        .groupBy("asset_id").agg(sum("px_sum").as("png_px_sum"))
        .select(col("asset_id").as("doc_id"), col("png_px_sum"))
    }),

    "s_tfexample_media_jpeg" -> ((s, d) => {
      // the JPEG arm of the TFDS image-record chain (r15): the same
      // tf.Example `image/encoded` BytesList transport, carrying the
      // certified baseline-JPEG fixture instead of PNG — the payload
      // decodes through the FULL entropy → dequantize → IDCT path and
      // reduces to the mm_decode_jpeg block stats, so that oracle
      // transfers verbatim. Together with s_tfexample_media this pins
      // that the container layer is format-agnostic bytes (the
      // image/format feature, not the framing, selects the codec).
      val out = scratchDir("tfexmjpg")
      val docs = Graft.documents(s, d)
      import s.implicits._
      val payloads = graft.multimodal.Multimodal.syntheticJpegAssets(docs)
        .as[(Long, Array[Byte])]
        .map { case (id, jpeg) =>
          graft.sources.Sources.TfExample.encode(Seq(
            "asset_id" -> id, "image/encoded" -> jpeg,
            "image/format" -> "jpeg"))
        }.toDF("payload")
      graft.sources.Sources.writeTfRecords(payloads, "payload", out, shards = 4)
      val assets = graft.sources.Sources.readTfRecords(s, out)
        .as[Array[Byte]]
        .map { b =>
          val m = graft.sources.Sources.TfExample.decode(b).toMap
          require(new String(m("image/format").bytes.head, "UTF-8") == "jpeg",
            "unexpected image/format")
          (m("asset_id").int64s.head, m("image/encoded").bytes.head)
        }.toDF("asset_id", "payload")
      graft.multimodal.Multimodal.decodeJpegBlocks(assets)
    }),

    "s_tfexample_media_streaming" -> ((s, d) => {
      // the streaming twin of s_tfexample_media: the SAME image shards
      // arrive through the real engine (binaryFile source, one shard
      // per micro-batch), each TFRecord frame parsed, the tf.Example
      // decoded, the PNG payload decoded per batch — stateless append,
      // so the converged per-asset pixel sums equal the batch read and
      // share its oracle verbatim (the s_webdataset_streaming device
      // applied to the tf.Example container).
      val out = scratchDir("tfexmstream")
      val docs = Graft.documents(s, d)
      import s.implicits._
      val payloads = docs.select("doc_id", "n_chars").as[(Long, Long)]
        .map { case (id, nc) =>
          graft.sources.Sources.TfExample.encode(Seq(
            "asset_id" -> id,
            "image/encoded" -> graft.multimodal.Multimodal.syntheticPngBytes(id, nc),
            "image/format" -> "png"))
        }.toDF("payload")
      graft.sources.Sources.writeTfRecords(payloads, "payload", out, shards = 4)
      val stream = s.readStream.format("binaryFile")
        .schema(s.read.format("binaryFile").load(s"$out/*.tfrecord").schema)
        .option("maxFilesPerTrigger", 1)
        .load(s"$out/*.tfrecord")
        .select("content").as[Array[Byte]]
        .flatMap { shard =>
          graft.sources.Sources.TfRecord.readAll(shard).map { b =>
            val m = graft.sources.Sources.TfExample.decode(b).toMap
            (m("asset_id").int64s.head, m("image/encoded").bytes.head)
          }
        }.toDF("asset_id", "payload")
      val px = graft.multimodal.Multimodal.decodePngChannels(stream)
      val pxT = graft.streaming.StreamingQueries.runAppendToMemory(s, "s_tfexm_px", px)
      pxT.groupBy("asset_id").agg(sum("px_sum").as("png_px_sum"))
        .select(col("asset_id").as("doc_id"), col("png_px_sum"))
    }),

    "s_tfexample_multimodal" -> ((s, d) => {
      // the COMPLETE multimodal training sample (r15): one tf.Example
      // per document carrying text (BytesList), the paired image
      // (image/encoded BytesList PNG), and integer metadata (Int64List)
      // — the record shape a text+image training pipeline actually
      // consumes. Both modalities certified deep on the way back: text
      // must reproduce the documents columns bit-exactly (UTF-8
      // BytesList roundtrip) and the image goes through the full PNG
      // decode to per-asset pixel sums the oracle replays.
      val out = scratchDir("tfexmm")
      val docs = Graft.documents(s, d)
      import s.implicits._
      val payloads = docs.select("doc_id", "text", "lang", "n_chars")
        .as[(Long, String, String, Long)]
        .map { case (id, text, lang, nc) =>
          graft.sources.Sources.TfExample.encode(Seq(
            "doc_id" -> id, "text" -> text, "lang" -> lang, "n_chars" -> nc,
            "image/encoded" -> graft.multimodal.Multimodal.syntheticPngBytes(id, nc),
            "image/format" -> "png"))
        }.toDF("payload")
      graft.sources.Sources.writeTfRecords(payloads, "payload", out, shards = 4)
      val back = graft.sources.Sources.readTfRecords(s, out)
        .as[Array[Byte]]
        .map { b =>
          val m = graft.sources.Sources.TfExample.decode(b).toMap
          (m("doc_id").int64s.head,
            new String(m("text").bytes.head, "UTF-8"),
            new String(m("lang").bytes.head, "UTF-8"),
            m("n_chars").int64s.head,
            m("image/encoded").bytes.head)
        }.toDF("doc_id", "text", "lang", "n_chars", "payload")
      val px = graft.multimodal.Multimodal.decodePngChannels(
          back.select(col("doc_id").as("asset_id"), col("payload")))
        .groupBy("asset_id").agg(sum("px_sum").as("png_px_sum"))
        .withColumnRenamed("asset_id", "doc_id")
      back.drop("payload").join(px, Seq("doc_id"))
    }),

    "s_parquet_zstd" -> ((s, d) => {
      // ZSTD-compressed parquet roundtrip — the modern default storage
      // codec for analytics corpora (splittable at the row-group level,
      // unlike gzip text, so a 100 TB corpus parallelizes by row group
      // regardless of shard sizing): write documents with
      // compression=zstd, read back, identity vs the plain table.
      val out = scratchDir("zstd")
      val docs = Graft.documents(s, d)
      docs.write.mode("overwrite").option("compression", "zstd").parquet(out)
      s.read.schema(docs.schema).parquet(out)
    }),

    "s_parquet_bloom" -> ((s, d) => {
      // Parquet BLOOM FILTERS — the point-lookup data-skipping layout:
      // written with a bloom filter on doc_id, an id-equality scan can
      // skip whole row groups whose filter says "definitely absent"
      // without reading the column data (footer stats only help on
      // SORTED ids; blooms skip on arbitrary layout). At 100 TB this is
      // the difference between touching every row group and touching
      // ~the ones that contain the ids. Correctness: the IN-predicate
      // read returns exactly the oracle rows; SourcesSpec opens the
      // footer with parquet-mr and asserts the filter exists and
      // answers might-contain correctly on planted/absent ids.
      val out = scratchDir("bloom")
      val docs = Graft.documents(s, d)
      docs.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.expected.ndv#doc_id", "1000000")
        .parquet(out)
      s.read.schema(docs.schema).parquet(out)
        .where(col("doc_id").isin(5L, 105L, 205L, 306L))
    }),

    "s_jsonl_gz" -> ((s, d) => {
      // GZIP-compressed JSONL roundtrip — how web-scale corpora actually
      // ship (.jsonl.gz shards): write documents as gzip'd JSONL through
      // Hadoop's GzipCodec, read back with the EXPLICIT schema. The
      // 100-TB note that matters: gzip is NOT splittable, so one shard =
      // one read task — parallelism is the shard count, which the WRITER
      // controls (repartition before write; the 4-shard write here is
      // the miniature of the many-small-shards layout real corpora use).
      // Content identity vs the plain table is the oracle.
      val out = scratchDir("jsonlgz")
      val docs = Graft.documents(s, d)
      docs.repartition(4).write.mode("overwrite")
        .option("compression", "gzip").json(out)
      s.read.schema(docs.schema).json(out)
    }))

  /** Per-asset pixel-sum replay of the synthetic PNG formula — shared
    * by the tf.Example media batch query and its streaming twin.
    */
  private val tfexampleMediaPxSql: String =
    """SELECT d.doc_id,
              CAST(SUM((d.doc_id * 7 + gx.x * 3 + gy.y * 5 + ch.c * 11) % 256) AS BIGINT) AS png_px_sum
       FROM documents d,
            UNNEST(generate_series(0, 2)) AS ch(c),
            UNNEST(generate_series(0, 12)) AS gx(x),
            UNNEST(generate_series(0, 10)) AS gy(y)
       WHERE ch.c < (CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END)
         AND gx.x < 1 + d.n_chars % 13
         AND gy.y < 1 + d.doc_id % 11
       GROUP BY 1"""

  val sourceOracles: Map[String, String] = Map(
    "s1_stream_source" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value, epoch_us(ts) AS ts_us FROM events",
    "s2_table_source" ->
      """SELECT CAST(user_id AS VARCHAR) AS key, event_type AS last_type, value AS last_amount, epoch_us(ts) AS last_ts_us
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1""",
    "s3_stream_sink" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value, epoch_us(ts) AS ts_us FROM events",
    "s4_raw_source" ->
      "SELECT event_id, CAST(user_id AS VARCHAR) AS key, event_type AS value FROM events",
    "s5_raw_sink" ->
      "SELECT event_id, CAST(user_id AS VARCHAR) AS key, upper(event_type) AS value FROM events",
    "s6_console_sink" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value FROM events",
    "s7_file_sink" ->
      "SELECT event_id, CAST(user_id AS VARCHAR) AS key, event_type AS value FROM events",
    "s8_datagen" ->
      "SELECT range AS id, 'u' || CAST(range % 15 AS VARCHAR) AS user_key, (range * 37) % 100 AS score FROM range(0, 1000)",
    "s9_csv_source" -> "SELECT * FROM region",
    "s10_ddl" ->
      "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey",
    "s_avro_roundtrip" -> "SELECT * FROM region",
    // Avro reader-schema resolution: old files surface the evolved
    // column as its union default (null)
    "s_avro_evolution" ->
      """SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 <> 0""",
    // bad-magic shard 2 is skipped whole; the other three survive intact
    "s_avro_corrupt_skip" ->
      "SELECT doc_id, lang FROM documents WHERE doc_id % 4 <> 2",
    "s_zorder" ->
      "SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM events",
    "s_orc" -> "SELECT * FROM documents",
    "s_jsonl" -> "SELECT * FROM documents",
    "s_jsonl_gz" -> "SELECT * FROM documents",
    "s_jsonl_bz2" -> "SELECT * FROM documents",
    "s_tfrecord" -> "SELECT * FROM documents",
    // the streaming twin converges to the identical table (stateless
    // append over the same 4 shards) — batch oracle shared verbatim
    "s_tfrecord_streaming" -> "SELECT * FROM documents",
    // tf.Example roundtrip reconstructs the table field-by-field
    "s_tfexample" -> "SELECT * FROM documents",
    // FloatList roundtrip is bit-exact (fixed32 passthrough); exploded
    // to scalars because the harness comparator can't hash array cells —
    // float→double widening is exact, so the hash still certifies bits
    "s_tfexample_embeddings" ->
      """SELECT vec_id, CAST(i - 1 AS INT) AS idx,
                CAST(embedding[i] AS DOUBLE) AS value, label
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)""",
    // TFDS-style image/encoded BytesList payloads: the tf.Example +
    // TFRecord + PNG-decode chain reduces to the synthetic pixel
    // formula (the s_webdataset per-asset pixel-sum device)
    "s_tfexample_media" -> tfexampleMediaPxSql,
    // the stateless streaming twin converges to the batch read — SAME oracle
    "s_tfexample_media_streaming" -> tfexampleMediaPxSql,
    // JPEG payloads through the same container reduce to the
    // mm_decode_jpeg block stats — that oracle verbatim
    "s_tfexample_media_jpeg" -> PipelineQueries.mmDecodeJpegSql,
    // full multimodal sample: text columns roundtrip to identity, the
    // paired image reduces to the pixel-formula sums
    "s_tfexample_multimodal" ->
      """SELECT d.doc_id, d.text, d.lang, d.n_chars, p.png_px_sum
         FROM documents d JOIN (
           SELECT d.doc_id,
                  CAST(SUM((d.doc_id * 7 + gx.x * 3 + gy.y * 5 + ch.c * 11) % 256) AS BIGINT) AS png_px_sum
           FROM documents d,
                UNNEST(generate_series(0, 2)) AS ch(c),
                UNNEST(generate_series(0, 12)) AS gx(x),
                UNNEST(generate_series(0, 10)) AS gy(y)
           WHERE ch.c < (CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END)
             AND gx.x < 1 + d.n_chars % 13
             AND gy.y < 1 + d.doc_id % 11
           GROUP BY 1) p ON p.doc_id = d.doc_id""",
    // tar twin: shard 2 quarantines whole (poisoned first header),
    // shard 3 drops exactly its last (max-doc_id) member (torn tail)
    "s_webdataset_corrupt_tail" ->
      """SELECT * FROM documents
         WHERE doc_id % 4 <> 2
           AND NOT (doc_id % 4 = 3 AND doc_id =
             (SELECT max(doc_id) FROM documents WHERE doc_id % 4 = 3))""",
    // torn shard-3 tail drops exactly that shard's last (max-doc_id)
    // record; the garbage appended to shard 2 drops nothing
    "s_tfrecord_corrupt_tail" ->
      """SELECT * FROM documents
         WHERE NOT (doc_id % 4 = 3 AND doc_id =
           (SELECT max(doc_id) FROM documents WHERE doc_id % 4 = 3))""",
    // the stateless streaming twin converges to the batch read — SAME oracle
    "s_webdataset_streaming" ->
      """SELECT d.*, p.png_px_sum FROM documents d JOIN (
           SELECT d.doc_id,
                  CAST(SUM((d.doc_id * 7 + gx.x * 3 + gy.y * 5 + ch.c * 11) % 256) AS BIGINT) AS png_px_sum
           FROM documents d,
                UNNEST(generate_series(0, 2)) AS ch(c),
                UNNEST(generate_series(0, 12)) AS gx(x),
                UNNEST(generate_series(0, 10)) AS gy(y)
           WHERE ch.c < (CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END)
             AND gx.x < 1 + d.n_chars % 13
             AND gy.y < 1 + d.doc_id % 11
           GROUP BY 1) p ON p.doc_id = d.doc_id""",

    // json members reproduce the table; png members decode to the
    // pixel-formula sums (all channels)
    "s_webdataset" ->
      """SELECT d.*, p.png_px_sum FROM documents d JOIN (
           SELECT d.doc_id,
                  CAST(SUM((d.doc_id * 7 + gx.x * 3 + gy.y * 5 + ch.c * 11) % 256) AS BIGINT) AS png_px_sum
           FROM documents d,
                UNNEST(generate_series(0, 2)) AS ch(c),
                UNNEST(generate_series(0, 12)) AS gx(x),
                UNNEST(generate_series(0, 10)) AS gy(y)
           WHERE ch.c < (CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 3 END)
             AND gx.x < 1 + d.n_chars % 13
             AND gy.y < 1 + d.doc_id % 11
           GROUP BY 1) p ON p.doc_id = d.doc_id""",
    "s_arrow_roundtrip" -> "SELECT * FROM documents",
    "s_arrow_streaming" -> "SELECT * FROM documents",
    "s_arrow_file" -> "SELECT * FROM documents",
    "s_arrow_embeddings" ->
      """SELECT vec_id, CAST(i - 1 AS INT) AS idx,
                CAST(embedding[i] AS DOUBLE) AS value, label
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)""",
    "s_safetensors" ->
      """SELECT vec_id, CAST(i - 1 AS INT) AS idx,
                CAST(embedding[i] AS DOUBLE) AS value, label
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)""",
    "s_npz" ->
      """SELECT vec_id, CAST(i - 1 AS INT) AS idx,
                CAST(embedding[i] AS DOUBLE) AS value, label
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)""",
    // the bare-.npy layout carries no ids: the oracle reconstructs the
    // deterministic (shard = vec_id%4, row_idx = rank-within-shard)
    // mapping the writer pins
    "s_npy" ->
      """WITH r AS (SELECT vec_id % 4 AS shard,
                           row_number() OVER (PARTITION BY vec_id % 4 ORDER BY vec_id) - 1 AS row_idx,
                           embedding
                    FROM embeddings)
         SELECT CAST(shard AS BIGINT) AS shard, CAST(row_idx AS BIGINT) AS row_idx,
                CAST(i - 1 AS INT) AS idx, CAST(embedding[i] AS DOUBLE) AS value
         FROM r, UNNEST(generate_series(1, len(embedding))) AS t(i)""",
    // stateless streaming append converges to the batch read — SAME oracle
    "s_npy_streaming" ->
      """WITH r AS (SELECT vec_id % 4 AS shard,
                           row_number() OVER (PARTITION BY vec_id % 4 ORDER BY vec_id) - 1 AS row_idx,
                           embedding
                    FROM embeddings)
         SELECT CAST(shard AS BIGINT) AS shard, CAST(row_idx AS BIGINT) AS row_idx,
                CAST(i - 1 AS INT) AS idx, CAST(embedding[i] AS DOUBLE) AS value
         FROM r, UNNEST(generate_series(1, len(embedding))) AS t(i)""",
    // the torn shard (vec_id%4 = 2) quarantines whole; the rest survive
    "s_npy_corrupt_tail" ->
      """WITH r AS (SELECT vec_id % 4 AS shard,
                           row_number() OVER (PARTITION BY vec_id % 4 ORDER BY vec_id) - 1 AS row_idx,
                           embedding
                    FROM embeddings)
         SELECT CAST(shard AS BIGINT) AS shard, CAST(row_idx AS BIGINT) AS row_idx,
                CAST(i - 1 AS INT) AS idx, CAST(embedding[i] AS DOUBLE) AS value
         FROM r, UNNEST(generate_series(1, len(embedding))) AS t(i)
         WHERE shard <> 2""",
    // stateless streaming append converges to the batch read — SAME oracle
    "s_safetensors_streaming" ->
      """SELECT vec_id, CAST(i - 1 AS INT) AS idx,
                CAST(embedding[i] AS DOUBLE) AS value, label
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)""",
    // the torn shard (vec_id%4 = 2) quarantines whole; the rest survive
    "s_safetensors_corrupt_skip" ->
      """SELECT vec_id, CAST(i - 1 AS INT) AS idx,
                CAST(embedding[i] AS DOUBLE) AS value, label
         FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
         WHERE vec_id % 4 <> 2""",
    "s_zipshards" -> "SELECT * FROM documents",
    "s_zipshards_streaming" -> "SELECT * FROM documents",
    // torn shard-3 tail (cut inside the final member's local header)
    // drops exactly that shard's last (max-doc_id) record
    "s_zipshards_corrupt_tail" ->
      """SELECT * FROM documents
         WHERE NOT (doc_id % 4 = 3 AND doc_id =
           (SELECT max(doc_id) FROM documents WHERE doc_id % 4 = 3))""",
    "s_parquet_zstd" -> "SELECT * FROM documents",
    "s_parquet_bloom" -> "SELECT * FROM documents WHERE doc_id IN (5, 105, 205, 306)")

  // ---- P: stateless transforms -------------------------------------------

  val stateless: Map[String, Q] = Map(
    "p1_mapvalues" -> ((s, d) =>
      Graft.eventsStream(s, d).mapValues(upper).select("key", "value")),

    "p2_map" -> ((s, d) =>
      Graft.eventsStream(s, d)
        .mapKV(col("value"), concat(col("key"), lit("#"), col("event_id")))),

    "p3_flatmap" -> ((s, d) =>
      Graft.eventsStream(s, d).flatMapKV(
        explode(array(
          struct(col("value").as("key"), col("key").as("value")),
          struct(col("key").as("key"), col("value").as("value")))))),

    "p4_flatmapvalues" -> ((s, d) =>
      Graft.documents(s, d)
        .select(col("doc_id").as("key"), col("text").as("value"))
        .flatMapValues(v => explode(split(lower(v), "\\W+")))
        .filterKV(length(col("value")) > 0)),

    "p5_filter" -> ((s, d) =>
      Graft.eventsStream(s, d).filterKV(col("amount") > 100)
        .select("key", "value", "amount")),

    "p6_filternot" -> ((s, d) =>
      Graft.eventsStream(s, d).filterNot(col("amount") > 100)
        .select("key", "value", "amount")),

    "p7_branch" -> ((s, d) =>
      Graft.eventsStream(s, d)
        .branchTag(2, col("value") === "purchase", col("amount") > 100)
        .select("event_id", "key", "value", "amount", "branch")),

    "p8_selectkey" -> ((s, d) =>
      Graft.eventsStream(s, d).selectKey(substring(col("value"), 1, 1))
        .select("key", "value")),

    "p9_peek" -> ((s, d) => {
      val seen = s.sparkContext.longAccumulator("p9_peek_seen")
      val df = Graft.eventsStream(s, d).select("key", "value").peek(_ => seen.add(1))
      df
    }),

    "p10_foreach" -> ((s, d) => {
      val seen = s.sparkContext.longAccumulator("p10_foreach_seen")
      val df = Graft.eventsStream(s, d).select("key", "value")
      df.foreachKV(_ => seen.add(1)) // terminal side effect (reference P10)
      df
    }))

  val statelessOracles: Map[String, String] = Map(
    "p1_mapvalues" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, upper(event_type) AS value FROM events",
    "p2_map" ->
      "SELECT event_type AS key, CAST(user_id AS VARCHAR) || '#' || CAST(event_id AS VARCHAR) AS value FROM events",
    "p3_flatmap" ->
      """SELECT event_type AS key, CAST(user_id AS VARCHAR) AS value FROM events
         UNION ALL SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value FROM events""",
    "p4_flatmapvalues" ->
      """SELECT doc_id AS key, unnest(list_filter(string_split_regex(lower(text), '\W+'), w -> len(w) > 0)) AS value
         FROM documents""",
    "p5_filter" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value, value AS amount FROM events WHERE value > 100",
    "p6_filternot" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value, value AS amount FROM events WHERE NOT (value > 100)",
    "p7_branch" ->
      """SELECT event_id, CAST(user_id AS VARCHAR) AS key, event_type AS value, value AS amount,
                CASE WHEN event_type = 'purchase' THEN 0 WHEN value > 100 THEN 1 ELSE 2 END AS branch
         FROM events""",
    "p8_selectkey" ->
      "SELECT substring(event_type, 1, 1) AS key, event_type AS value FROM events",
    "p9_peek" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value FROM events",
    "p10_foreach" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, event_type AS value FROM events")

  // ---- A: aggregations ----------------------------------------------------

  val aggregations: Map[String, Q] = Map(
    "a1_wordcount" -> ((s, d) =>
      // the reference's headline: source → flatMapValues → filter →
      // groupBy → count (WordCountScalaExample.scala:113-117).
      // explode-then-filter keeps the empty-token drop as a row-level
      // codegen filter instead of an array-building lambda (~30% faster)
      Graft.documents(s, d)
        .select(col("doc_id").as("key"), col("text").as("value"))
        .flatMapValues(v => explode(split(lower(v), "\\W+")))
        .filterKV(length(col("value")) > 0)
        .groupBy(col("value").as("word")).agg(count(lit(1)).as("cnt"))),

    "a2_groupbykey" -> ((s, d) =>
      Graft.eventsStream(s, d).groupBy("key")
        .agg(count(lit(1)).as("cnt"), round(sum("amount"), 2).as("sum_amount"))),

    "a3_count" -> ((s, d) =>
      Graft.eventsStream(s, d).groupBy(col("value").as("key")).agg(count(lit(1)).as("cnt"))),

    "a4_aggregate_fold" -> ((s, d) => {
      import s.implicits._
      val pairs = Graft.eventsStream(s, d)
        .select(col("value"), col("amount")).as[(String, Double)]
      val fold = Aggregates.sumFold[(String, Double)](_._2)
      pairs.groupByKey(_._1).agg(fold.toColumn.name("agg_value"))
        .toDF("key", "agg_value")
        .select(col("key"), round(col("agg_value"), 2).as("agg_value"))
    }),

    "a5_reduce" -> ((s, d) => {
      import s.implicits._
      val pairs = Graft.eventsStream(s, d)
        .select(col("key"), col("amount")).as[(String, Double)]
      Aggregates.reducePerKey(pairs, (a: Double, b: Double) => math.max(a, b))
        .toDF("key", "max_amount")
    }),

    "a6_table_reduce" -> ((s, d) => {
      val latest = TableView.latestPerKey(
        Graft.eventsStream(s, d), Seq("key"), col("ts_us"), col("event_id"))
      TableView.regroupAndAgg(latest, col("value"),
        Seq(round(sum("amount"), 2).as("total")))
    }),

    // A6 through the real streaming engine: the table re-aggregation's
    // RETRACTION semantics (adder + subtractor,
    // DSLStatefulTransformation.scala:105-111) ride the foreachBatch
    // upsert loop — when a later batch upserts a key into a different
    // group, the recomputed snapshot moves its amount between groups
    // (old group sum shrinks: the subtractor's effect, without needing
    // one). Final snapshot = batch answer, SAME oracle as a6.
    "a6_streaming" -> ((s, d) => {
      val ev = Graft.eventsStream(s, d).select("key", "value", "amount", "ts_us", "event_id")
      StreamingQueries.runUpsertSnapshots(s, ev, pmod(col("event_id"), lit(3)), "a6") { acc =>
        TableView.regroupAndAgg(
          TableView.latestPerKey(acc, Seq("key"), col("ts_us"), col("event_id")),
          col("value"), Seq(round(sum("amount"), 2).as("total")))
      }._1
    }),

    "a7_table_groupby" -> ((s, d) => {
      val latest = TableView.latestPerKey(
        Graft.eventsStream(s, d), Seq("key"), col("ts_us"), col("event_id"))
      TableView.regroupAndAgg(latest, col("value"), Seq(count(lit(1)).as("cnt")))
    }),

    "a8_sketch_hll" -> ((s, d) =>
      // approximate sketches (A8, the declared-but-unused Algebird
      // intent), CERTIFIED in one query: the HLL++ sketch stays in the
      // plan and its estimate is asserted within 10% of the exact
      // distinct count (rsd 0.02 → the 10% bound is 5σ; the oracle
      // states TRUE), while the exact n_users/cnt columns hash-match
      // DuckDB. At 100 TB a caller keeps only the sketch column — the
      // exact count is the oracle hook at test scale.
      Graft.eventsStream(s, d).groupBy(col("value").as("key"))
        .agg(approx_count_distinct(col("key"), 0.02).as("_approx"),
          count_distinct(col("key")).as("n_users"),
          count(lit(1)).as("cnt"))
        .select(col("key"), col("n_users"), col("cnt"),
          (abs(col("_approx") - col("n_users")) <=
            col("n_users") * lit(0.10)).as("hll_ok"))),

    // Spark-inherited analytics beyond the reference's operator set
    // (SURVEY §2.3: sort/limit/multi-way joins/rollup come free) — shown
    // with oracles so the claim is checked, not asserted
    "q3_shipping" -> ((s, d) =>
      Joins.streamTableJoin(
          Joins.streamTableJoin(
            Graft.lineitem(s, d), Graft.orders(s, d), "l_orderkey", "o_orderkey", "inner",
            broadcastTable = false),
          Graft.customer(s, d).where(col("c_mktsegment") === "BUILDING"),
          "o_custkey", "c_custkey", "inner")
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
          count(lit(1)).as("n_lines"))),

    "q_rollup" -> ((s, d) =>
      Graft.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))),

    "q_cube" -> ((s, d) =>
      // CUBE: all 2^k grouping-set combinations in ONE pass (Expand +
      // single shuffle — never k separate scans unioned); the r13
      // companion to q_rollup completing the grouping-sets surface
      Graft.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("cnt"))),

    "q1_agg" -> ((s, d) =>
      Graft.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    // sort/limit/top-k (absent from the reference — SURVEY §2.3 note):
    // top-2 revenue orders per market segment. The aggregation shuffles on
    // orderkey with map-side partials; the rank runs through
    // Aggregates.topKPerGroup's two-phase window — with only 5 segments, a
    // single global window would funnel every aggregated row into 5
    // reducers at 100 TB; the local phase keeps the sort at input-partition
    // parallelism and the final rank sees only k×partitions×5 candidates.
    "q_topn" -> ((s, d) => {
      // revenue pre-aggregates BELOW the join: l_orderkey functionally
      // determines (o_custkey → c_mktsegment), so per-(segment, order)
      // revenue equals per-order revenue — summing lineitem first shrinks
      // the big join's probe side from |lineitem| to |orders| rows, and
      // the groupBy output arrives already hash-partitioned on the join
      // key (one fewer wide shuffle; Catalyst does not push aggregates
      // through joins on its own)
      val revPerOrder = Graft.lineitem(s, d).groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      val rev = Joins.streamTableJoin(
          Joins.streamTableJoin(
            revPerOrder, Graft.orders(s, d), "l_orderkey", "o_orderkey", "inner",
            broadcastTable = false),
          Graft.customer(s, d), "o_custkey", "c_custkey", "inner")
        .select("c_mktsegment", "l_orderkey", "revenue")
      Aggregates.topKPerGroup(rev, Seq("c_mktsegment"),
          Seq(col("revenue").desc, col("l_orderkey").asc), k = 2)
        .select(col("c_mktsegment"), col("l_orderkey"), col("revenue"), col("rnk"))
    }))

  val aggregationOracles: Map[String, String] = Map(
    // a8: exact columns hash-match; hll_ok is the sketch's 10%-bound
    // claim, which the oracle states as literal TRUE (a bound violation
    // flips the engine-side boolean and fails the hash)
    "a8_sketch_hll" ->
      """SELECT event_type AS key, count(DISTINCT user_id) AS n_users,
                count(*) AS cnt, TRUE AS hll_ok
         FROM events GROUP BY 1""",
    "a1_wordcount" ->
      """SELECT w AS word, count(*) AS cnt
         FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS w FROM documents)
         GROUP BY w""",
    "a2_groupbykey" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt, round(sum(value), 2) AS sum_amount FROM events GROUP BY 1",
    "a3_count" ->
      "SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1",
    "a4_aggregate_fold" ->
      "SELECT event_type AS key, round(sum(value), 2) AS agg_value FROM events GROUP BY 1",
    "a5_reduce" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, max(value) AS max_amount FROM events GROUP BY 1",
    "a6_table_reduce" ->
      """SELECT event_type AS key, round(sum(value), 2) AS total
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 GROUP BY 1""",
    "a6_streaming" ->
      """SELECT event_type AS key, round(sum(value), 2) AS total
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 GROUP BY 1""",
    "a7_table_groupby" ->
      """SELECT event_type AS key, count(*) AS cnt
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
         WHERE rn = 1 GROUP BY 1""",
    "q3_shipping" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, count(*) AS n_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY l_orderkey""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q_topn" ->
      """WITH rev AS (SELECT c_mktsegment, l_orderkey,
                             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
                      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                      JOIN customer ON o_custkey = c_custkey
                      GROUP BY c_mktsegment, l_orderkey)
         SELECT c_mktsegment, l_orderkey, revenue, rnk FROM (
           SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                        ORDER BY revenue DESC, l_orderkey ASC) AS rnk
           FROM rev)
         WHERE rnk <= 2""")

  // ---- W: windows ---------------------------------------------------------

  val windows: Map[String, Q] = Map(
    "w1_tumbling" -> ((s, d) =>
      Windows.tumblingCount(Graft.events(s, d), "ts_us", "5 minutes", col("event_type"))),

    "w2_session" -> ((s, d) =>
      Windows.sessionCount(Graft.events(s, d), "ts_us", "1 hour", col("user_id"))),

    "w3_windowed_key" -> ((s, d) =>
      Windows.flattenWindowedKey(Graft.events(s, d), "ts_us", "5 minutes", col("event_type"))),

    "w4_hopping" -> ((s, d) =>
      Windows.hoppingCount(Graft.events(s, d), "ts_us", "10 minutes", "5 minutes", col("event_type"))),

    // W1 through the streaming engine end-to-end: readStream → watermark
    // (grace) → tumbling window aggregation → memory sink; same oracle as
    // the batch form
    "w1_streaming" -> ((s, d) =>
      StreamingQueries.runCompleteAggToMemory(s, d, "events", "w1s_counts",
        df => df
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "3 minutes")
          .groupBy(window(col("event_time"), "5 minutes"), col("event_type")).count()
          .select(col("event_type"),
            unix_timestamp(col("window.start")).as("window_start_s"),
            col("count").as("cnt")))),

    // W2 through the streaming engine end-to-end: readStream → watermark
    // (grace) → native session_window aggregation (merging session state
    // store) → memory sink; same oracle as the batch gaps-and-islands form
    "w2_streaming" -> ((s, d) =>
      StreamingQueries.runCompleteAggToMemory(s, d, "events", "w2s_sessions",
        df => df
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "3 minutes")
          .groupBy(session_window(col("event_time"), "1 hour"), col("user_id"))
          .count()
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            col("count").as("cnt")))),

    // W4 through the streaming engine end-to-end: readStream → watermark →
    // hopping (overlapping) window aggregation → memory sink; same oracle
    // as the batch form — each event lands in width/slide windows
    "w4_streaming" -> ((s, d) =>
      StreamingQueries.runCompleteAggToMemory(s, d, "events", "w4s_counts",
        df => df
          .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "3 minutes")
          .groupBy(window(col("event_time"), "10 minutes", "5 minutes"), col("event_type"))
          .count()
          .select(col("event_type"),
            unix_timestamp(col("window.start")).as("window_start_s"),
            col("count").as("cnt")))))

  val windowOracles: Map[String, String] = Map(
    "w1_tumbling" ->
      """SELECT event_type, epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000 AS window_start_s, count(*) AS cnt
         FROM events GROUP BY 1, 2""",
    "w2_session" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
              m AS (SELECT user_id, ts_us,
                           CASE WHEN lag(ts_us) OVER w IS NULL
                                  OR ts_us - lag(ts_us) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
                    FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
              g AS (SELECT user_id, ts_us,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS grp
                    FROM m)
         SELECT user_id, min(ts_us) AS session_start_us, count(*) AS cnt FROM g GROUP BY user_id, grp""",
    "w3_windowed_key" ->
      """SELECT event_type || '@[' || CAST(b AS VARCHAR) || ' : ' || CAST(b + 300 AS VARCHAR) || ']' AS key, count(*) AS cnt
         FROM (SELECT event_type, epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000 AS b FROM events)
         GROUP BY 1""",
    "w4_hopping" ->
      """WITH x AS (SELECT event_type, epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000 AS b FROM events),
              w AS (SELECT event_type, b AS ws FROM x UNION ALL SELECT event_type, b - 300 AS ws FROM x)
         SELECT event_type, ws AS window_start_s, count(*) AS cnt FROM w GROUP BY 1, 2""",
    "w1_streaming" ->
      """SELECT event_type, epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000 AS window_start_s, count(*) AS cnt
         FROM events GROUP BY 1, 2""",
    "w4_streaming" ->
      """WITH x AS (SELECT event_type, epoch_us(time_bucket(INTERVAL '5 minutes', ts)) // 1000000 AS b FROM events),
              w AS (SELECT event_type, b AS ws FROM x UNION ALL SELECT event_type, b - 300 AS ws FROM x)
         SELECT event_type, ws AS window_start_s, count(*) AS cnt FROM w GROUP BY 1, 2""",
    "w2_streaming" ->
      """WITH o AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
              m AS (SELECT user_id, ts_us,
                           CASE WHEN lag(ts_us) OVER w IS NULL
                                  OR ts_us - lag(ts_us) OVER w > 3600000000 THEN 1 ELSE 0 END AS brk
                    FROM o WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
              g AS (SELECT user_id, ts_us,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS grp
                    FROM m)
         SELECT user_id, min(ts_us) AS session_start_us, count(*) AS cnt FROM g GROUP BY user_id, grp""")

  // ---- J: joins -----------------------------------------------------------

  private def purchases(s: SparkSession, d: String): DataFrame =
    Graft.eventsStream(s, d).filterKV(col("value") === "purchase")
      .select("key", "event_id", "amount", "ts_us")
  private def views(s: SparkSession, d: String): DataFrame =
    Graft.eventsStream(s, d).filterKV(col("value") === "view")
      .select("key", "event_id", "amount", "ts_us")

  private val hourUs = 3600L * 1000 * 1000

  private def ssJoin(s: SparkSession, d: String, joinType: String): DataFrame =
    Joins.windowedJoin(purchases(s, d), views(s, d), "key", "ts_us", "event_id", hourUs, joinType)
      .select(
        col("l_event_id"), col("r_event_id"),
        coalesce(col("l_key"), col("r_key")).as("key"),
        round(col("l_amount") + col("r_amount"), 2).as("combined"))

  private val ssJoinOracleBase =
    """FROM (SELECT user_id, event_id, value, ts FROM events WHERE event_type = 'purchase') a
       %s JOIN (SELECT user_id, event_id, value, ts FROM events WHERE event_type = 'view') b
       ON a.user_id = b.user_id AND b.ts BETWEEN a.ts - INTERVAL '1 hour' AND a.ts + INTERVAL '1 hour'"""

  private def ssJoinOracle(kind: String) =
    s"""SELECT a.event_id AS l_event_id, b.event_id AS r_event_id,
               CAST(coalesce(a.user_id, b.user_id) AS VARCHAR) AS key,
               round(a.value + b.value, 2) AS combined
        ${ssJoinOracleBase.format(kind)}"""

  private def latestByType(s: SparkSession, d: String, tpe: String): DataFrame =
    TableView.latestPerKey(
      Graft.eventsStream(s, d).filterKV(col("value") === tpe)
        .select("key", "event_id", "amount", "ts_us"),
      Seq("key"), col("ts_us"), col("event_id"))

  private def latestByTypeSql(tpe: String) =
    s"""(SELECT CAST(user_id AS VARCHAR) AS key, value AS amount
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events WHERE event_type = '$tpe')
         WHERE rn = 1)"""

  private def ttJoin(s: SparkSession, d: String, joinType: String): DataFrame = {
    val l = latestByType(s, d, "purchase").select(col("key"), col("amount").as("purchase_amount"))
    val r = latestByType(s, d, "view").select(col("key").as("rkey"), col("amount").as("view_amount"))
    Joins.tableTableJoin(l, r, "key", "rkey", joinType)
      .select(coalesce(col("key"), col("rkey")).as("key"), col("purchase_amount"), col("view_amount"))
  }

  private def ttJoinOracle(kind: String) =
    s"""SELECT coalesce(l.key, r.key) AS key, l.amount AS purchase_amount, r.amount AS view_amount
        FROM ${latestByTypeSql("purchase")} l $kind JOIN ${latestByTypeSql("view")} r ON l.key = r.key"""

  /** J6-J8 through the real streaming engine: the events changelog is
    * staged as three micro-batches and consumed by a foreachBatch upsert
    * loop (StreamingQueries.runUpsertSnapshots) that recomputes the
    * latest-per-key purchase/view tables and re-joins them per batch —
    * the reference's "emit updated join output as either side upserts"
    * (TableToTableJoinExample.scala:115-117). The final snapshot has seen
    * the whole changelog, so it converges to the batch join and SHARES its
    * oracle; mid-stream upsert updates are asserted in ProcessorsSpec.
    */
  private def ttJoinStreaming(s: SparkSession, d: String, joinType: String): DataFrame = {
    val ev = Graft.eventsStream(s, d).select("key", "value", "amount", "ts_us", "event_id")
    StreamingQueries.runUpsertSnapshots(s, ev, pmod(col("event_id"), lit(3)),
        s"tt-$joinType") { acc =>
      def side(tpe: String) = TableView.latestPerKey(
        acc.where(col("value") === tpe).select("key", "event_id", "amount", "ts_us"),
        Seq("key"), col("ts_us"), col("event_id"))
      val l = side("purchase").select(col("key"), col("amount").as("purchase_amount"))
      val r = side("view").select(col("key").as("rkey"), col("amount").as("view_amount"))
      Joins.tableTableJoin(l, r, "key", "rkey", joinType)
        .select(coalesce(col("key"), col("rkey")).as("key"), col("purchase_amount"), col("view_amount"))
    }._1
  }

  val joins: Map[String, Q] = Map(
    "j1_ss_inner" -> ((s, d) => ssJoin(s, d, "inner")),
    "j2_ss_left" -> ((s, d) => ssJoin(s, d, "left")),
    "j3_ss_outer" -> ((s, d) => ssJoin(s, d, "outer")),

    "j4_st_inner" -> ((s, d) =>
      Joins.streamTableJoin(Graft.orders(s, d), Graft.customer(s, d),
          "o_custkey", "c_custkey", "inner")
        .select("o_orderkey", "c_mktsegment", "o_totalprice")),

    "j5_st_left" -> ((s, d) =>
      Joins.streamTableJoin(Graft.orders(s, d),
          Graft.customer(s, d).where(col("c_nationkey") < 10),
          "o_custkey", "c_custkey", "left")
        .select("o_orderkey", "c_mktsegment", "o_totalprice")),

    "j6_tt_inner" -> ((s, d) => ttJoin(s, d, "inner")),
    "j7_tt_left" -> ((s, d) => ttJoin(s, d, "left")),
    "j8_tt_outer" -> ((s, d) => ttJoin(s, d, "outer")),
    // J6-J8 driven through the streaming engine's foreachBatch upsert
    // loop — same oracles as the batch forms (see ttJoinStreaming)
    "j6_streaming" -> ((s, d) => ttJoinStreaming(s, d, "inner")),
    "j7_streaming" -> ((s, d) => ttJoinStreaming(s, d, "left")),
    "j8_streaming" -> ((s, d) => ttJoinStreaming(s, d, "outer")),
    // J9: the join type arrives as a runtime string, dispatched through
    // Joins.sparkJoinType — the reference's CLI inner|left|outer switch.
    // The oracle is pinned to FULL, matching the default; setting
    // GRAFT_JOIN_TYPE during a Verify run would intentionally diverge.
    "j9_dispatch" -> ((s, d) => ttJoin(s, d, sys.env.getOrElse("GRAFT_JOIN_TYPE", "outer"))),

    // beyond-reference: explicit skew salting — event_type has 5 distinct
    // values, so an unsalted shuffle join funnels the whole fact side
    // into 5 reducers; salting spreads each hot key over 8. The result
    // is exactly the unsalted join (each fact row matches the one
    // replica carrying its salt), so the oracle replays it plain.
    "j_salted" -> ((s, d) => {
      val ev = Graft.eventsStream(s, d)
      val dim = ev.groupBy(col("value"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("amount")), 2).as("sum_amount"))
      Joins.saltedJoin(ev.select(col("event_id"), col("value")), dim, "value", "event_id",
          salts = 8)
        .select(col("event_id"), col("value"), col("n_events"), col("sum_amount"))
    }),

    // beyond-reference: bucketized range join — overlapping amount bands
    // (lo = 32i, hi = 32i + 48: exact binary doubles, so cell math and
    // the verify predicate replay identically in the oracle) attach to
    // every event whose amount falls inside; equi-join on cell id, never
    // a nested loop
    "j_range" -> ((s, d) => {
      val bands = s.range(0, 16).select(
        col("id").as("band"),
        (col("id") * 32.0d).as("lo"),
        (col("id") * 32.0d + 48.0d).as("hi"))
      Joins.rangeJoin(
          Graft.eventsStream(s, d).select(col("event_id"), col("amount")),
          "amount", bands, "lo", "hi", cellWidth = 32.0d)
        .select(col("event_id"), col("band"))
    }),

    // beyond-reference: co-located join on BUCKETED tables — the write
    // pays the shuffle once, then the fact⋈fact equi-join (and any
    // downstream op keyed the same way) plans with no Exchange at all
    // (asserted in PlanSpec). Revenue math runs in cents-exact longs so
    // the per-customer sum is associative — double summation would make
    // the 4th decimal depend on partition merge order.
    // beyond-reference: corrupt-shard tolerance — at 100 TB some file is
    // always truncated/garbage; ignoreCorruptFiles skips the bad shard
    // and the scan completes over the healthy ones instead of failing
    // the whole job. The reference's log-and-continue policy (T2) at the
    // FILE level rather than the record level.
    "s_corrupt_skip" -> ((s, d) => {
      val path = scratchDir("corrupt")
      Graft.documents(s, d).select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(path)
      java.nio.file.Files.write(java.nio.file.Paths.get(path, "part-corrupt.parquet"),
        "this is not a parquet file".getBytes("UTF-8"))
      s.read.option("ignoreCorruptFiles", "true").parquet(path)
        .select(col("doc_id"), col("lang"))
    }),

    // beyond-reference: schema evolution across ingest batches — a
    // long-lived corpus accretes columns over pipeline versions;
    // mergeSchema reads old and new batches as the union shape with
    // nulls where a batch predates a column, no rewrite of history.
    "s_schema_evolution" -> ((s, d) => {
      val path = scratchDir("evo")
      val docs = Graft.documents(s, d)
      docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select("doc_id", "lang").write.mode("overwrite").parquet(s"$path/b1")
      docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
        .select("doc_id", "lang", "n_chars").write.mode("overwrite").parquet(s"$path/b2")
      s.read.option("mergeSchema", "true").parquet(s"$path/b1", s"$path/b2")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // beyond-reference: hive-style partition pruning — the corpus is laid
    // out as lang=*/ directories and the lang filter prunes whole
    // directories at planning time (PlanSpec asserts the PartitionFilters
    // entry), so the scan never touches the other languages. The
    // scan-side complement of j_bucketed's join-side pruning.
    "s_partition_prune" -> ((s, d) => {
      val path = cachedSetup("part", d) { p =>
        Sources.writePartitioned(
          Graft.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
          p, "lang")
      }
      s.read.parquet(path).where(col("lang") === "en")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
    }),

    "j_bucketed" -> ((s, d) => {
      // same session-cached-setup contract as s_partition_prune: the
      // operator under test is the zero/one-exchange co-located join,
      // not the bucketBy write (covered by BucketedJoinSpec + SourcesSpec).
      // The artifact is CATALOG tables, so the key carries a
      // guaranteed-unique session token — a fresh session must rebuild
      // its catalog entries (identityHashCode could collide after GC).
      cachedSetup(s"bucketed-${sessionToken(s)}", d) { _ =>
        Sources.writeBucketed(Graft.lineitem(s, d).select(
            col("l_orderkey"),
            round(col("l_extendedprice") * 100).cast("long").as("price_c"),
            round(col("l_discount") * 100).cast("long").as("disc_c")),
          "graft_b_lineitem", "l_orderkey", nBuckets = 16,
          overwriteOrphan = true)
        Sources.writeBucketed(
          Graft.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
          "graft_b_orders", "o_orderkey", nBuckets = 16,
          overwriteOrphan = true)
      }
      s.table("graft_b_lineitem")
        .join(s.table("graft_b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(
          round(sum(col("price_c") * (lit(100L) - col("disc_c"))).cast("double") / 1e4, 4)
            .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // beyond-reference: as-of enrichment (latest right row at or before
    // each left row's event time)
    "aj_asof" -> ((s, d) =>
      Joins.asofJoin(purchases(s, d), views(s, d), "key", "ts_us", "left")
        .select(col("l_event_id"), col("r_event_id"), col("l_key").as("key"))),

    // forward as-of: the NEXT right row at or after each left row — the
    // time-to-next-event enrichment (e.g. purchase → next view)
    "aj_forward" -> ((s, d) =>
      Joins.asofJoin(purchases(s, d), views(s, d), "key", "ts_us", "left",
          direction = "forward")
        .select(col("l_event_id"), col("r_event_id"), col("l_key").as("key"))),

    // beyond-reference: conversion funnel composed from the forward
    // as-of join — each view attaches its user's NEXT purchase, and the
    // funnel counts conversions within the hour. Same single-shuffle
    // shape as aj_asof; the window bound is a post-join filter.
    "q_funnel" -> ((s, d) =>
      Joins.asofJoin(views(s, d), purchases(s, d), "key", "ts_us", "left",
          direction = "forward")
        .agg(
          count(lit(1)).as("n_views"),
          sum(when(col("r_ts_us").isNotNull &&
            col("r_ts_us") - col("l_ts_us") <= hourUs, 1L).otherwise(0L))
            .as("n_converted_1h"))),

    // J4 through the real streaming engine: stream-static join — the
    // orders stream enriches against the static (broadcast) customer
    // dimension per micro-batch, exactly SURVEY §2.5's Spark mapping for
    // stream⋈table; same oracle as the batch j4_st_inner
    "j4_streaming" -> ((s, d) => {
      val ordersStream = StreamingQueries.readStreamParquet(s, d, "orders")
      val joined = Joins.streamTableJoin(ordersStream, Graft.customer(s, d),
          "o_custkey", "c_custkey", "inner")
        .select("o_orderkey", "c_mktsegment", "o_totalprice")
      StreamingQueries.runAppendToMemory(s, "j4s_join", joined)
    }),

    // J5 through the real streaming engine: stream-static LEFT join —
    // unlike the stream-stream outers, a stream-static left join pads
    // un-matched stream rows IMMEDIATELY (the static side is complete
    // per micro-batch, no watermark wait), so no sentinel staging is
    // needed; same oracle as the batch j5_st_left
    "j5_streaming" -> ((s, d) => {
      val ordersStream = StreamingQueries.readStreamParquet(s, d, "orders")
      val joined = Joins.streamTableJoin(ordersStream,
          Graft.customer(s, d).where(col("c_nationkey") < 10),
          "o_custkey", "c_custkey", "left")
        .select("o_orderkey", "c_mktsegment", "o_totalprice")
      StreamingQueries.runAppendToMemory(s, "j5s_join", joined)
    }),

    // J1 through the real streaming engine: two watermarked file streams,
    // native event-time interval join (Spark's stream-stream join keeps
    // per-key state bounded by watermark + range), append-mode memory
    // sink; same oracle as the batch j1_ss_inner
    "j1_streaming" -> ((s, d) => {
      def side(tag: String) =
        StreamingQueries.readStreamParquet(s, d, "events")
          .select(col("event_id").as(s"${tag}_event_id"),
            col("user_id").cast("string").as(s"${tag}_key"),
            col("event_type").as(s"${tag}_type"),
            col("value").as(s"${tag}_amount"),
            timestamp_micros(expr("ts div 1000")).as(s"${tag}_time"))
          .withWatermark(s"${tag}_time", "3 minutes")
      val l = side("l").where(col("l_type") === "purchase")
      val r = side("r").where(col("r_type") === "view")
      val joined = l.join(r, expr(
          "l_key = r_key AND r_time BETWEEN l_time - INTERVAL 1 HOUR AND l_time + INTERVAL 1 HOUR"))
        .select(col("l_event_id"), col("r_event_id"), col("l_key").as("key"),
          round(col("l_amount") + col("r_amount"), 2).as("combined"))
      StreamingQueries.runAppendToMemory(s, "j1s_join", joined)
    }),

    // J3 through the real engine — SURVEY §7.4 hard part #2: FULL OUTER
    // stream-stream join where null-padded rows for unmatched events may
    // emit only once the watermark passes their join-window end (the
    // reference's KStream outer join emits eagerly; Spark holds the row
    // in state and pads at eviction). Three time-ordered micro-batches
    // (ts tertiles — monotone batches, so nothing is late-dropped and
    // the joined set equals the batch join) plus a terminal
    // watermark-SENTINEL row staged as its own 4th file: it flows
    // through BOTH sides' watermark operators (advancing the global
    // watermark past every real row's eviction bound: max ts + 1h range
    // + 3 min delay < +2 h) and is then filtered out by the
    // event-type predicates, so it joins nothing. The trailing no-data
    // batch flushes every still-unmatched row null-padded, making the
    // append-mode result EQUAL to the batch full-outer join — same
    // oracle as j3_ss_outer. ProcessorsSpec("full-outer … watermark")
    // proves the timing half: no null padding before watermark passage,
    // padding after.
    //
    // The sentinels must SURVIVE the event-type filters (one 'purchase',
    // one 'view', on keys that exist nowhere else): Catalyst pushes a
    // deterministic filter below the EventTimeWatermark node into the
    // scan, so a filtered-out sentinel would never reach the watermark
    // operator (measured: the watermark then tracks the last per-type
    // event, not the sentinel). A surviving sentinel advances both
    // sides' watermark but joins nothing (no matching key, and its
    // event time sits beyond every real row's interval) and is itself
    // never evicted (its own window outlives the final watermark), so
    // it cannot appear in the append output.
    "j3_streaming" -> ((s, d) => ssOuterStreaming(s, d, "full_outer", "j3s_join")),

    // J2 through the real engine: LEFT OUTER interval join — the same
    // watermark-sentinel machinery as j3_streaming, with only the left
    // (purchase) side's unmatched rows held in state for null-padded
    // emission after watermark passage. Same oracle as the batch
    // j2_ss_left.
    "j2_streaming" -> ((s, d) => ssOuterStreaming(s, d, "left_outer", "j2s_join")))

  /** Outer stream-stream interval join through the real streaming engine
    * (j2_streaming / j3_streaming). See the j3_streaming comment above
    * for the staging design: three time-ordered micro-batch files plus a
    * 4th file carrying one watermark-sentinel row PER event type (a
    * filtered-out sentinel would never reach the watermark operator —
    * Catalyst pushes the type filter below EventTimeWatermark into the
    * scan). The sentinels advance both sides past every real row's
    * eviction bound and the trailing no-data batch flushes all remaining
    * outer state, so the append result equals the batch join and shares
    * its oracle.
    */
  private def ssOuterStreaming(s: SparkSession, d: String, joinType: String,
                               queryName: String): DataFrame = {
    val raw = Graft.normalizeEventTs(s.read.parquet(s"$d/events.parquet"))
    // sentinel ids and keys are DERIVED from the corpus, strictly below
    // every real event_id / user_id — the old fixed -999/-998 keys only
    // worked by the convention that the generator never emits negative
    // ids; deriving the floor makes non-collision structural
    val bounds = raw.agg(max(col("ts")),
      least(min(col("event_id")), lit(0L)),
      least(min(col("user_id")), lit(0L)),
      min(col("ts"))).head()
    val (maxTs, idFloor, userFloor) = (bounds.getLong(0), bounds.getLong(1), bounds.getLong(2))
    val minTs = bounds.getLong(3)
    def sentinel(id: Long, user: Long, tpe: String) =
      raw.orderBy(col("ts").desc).limit(1)
        .withColumn("event_id", lit(id))
        .withColumn("user_id", lit(user))
        .withColumn("event_type", lit(tpe))
        .withColumn("ts", lit(maxTs + 2L * 3600 * 1000000000L))
    val withSentinels = raw
      .unionByName(sentinel(idFloor - 1L, userFloor - 1L, "purchase"))
      .unionByName(sentinel(idFloor - 2L, userFloor - 2L, "view"))
    // ARITHMETIC time-tertiles from the already-computed bounds — NOT
    // ntile over an unbounded Window.orderBy, which ranked the whole
    // table in one task (VERDICT r12 #1). Batch i holds ts in
    // [minTs + i·span/3, minTs + (i+1)·span/3): later batches still hold
    // strictly-later event times, the only property the watermark staging
    // needs (equal COUNTS never mattered). Integer `div` keeps the
    // assignment exact for any nanosecond range (3·span < Long.Max for
    // spans under ~97 years); sentinels take the `when` branch first.
    val batchCol =
      when(col("event_id") <= lit(idFloor - 1L), lit(3))
        .otherwise(least(
          expr(s"((ts - ${minTs}L) * 3) div ${maxTs - minTs + 1L}L"),
          lit(2)).cast("int"))
    // the staged frame (events + sentinels + time-tertile batch column)
    // is identical for BOTH sides and EVERY join flavor — one session-
    // cached staging serves j2/j3_streaming's four readStream sources
    // (r18; the bounds probe above stays per-call, it feeds the join
    // columns too)
    def side(tag: String) =
      StreamingQueries.stageStreamBatchedCached(s, withSentinels,
          "ev-ssjoin", s"ssjoin|$d")(batchCol)
        .select(col("event_id").as(s"${tag}_event_id"),
          col("user_id").cast("string").as(s"${tag}_key"),
          col("event_type").as(s"${tag}_type"),
          col("value").as(s"${tag}_amount"),
          timestamp_micros(expr("ts div 1000")).as(s"${tag}_time"))
        .withWatermark(s"${tag}_time", "3 minutes")
    val l = side("l").where(col("l_type") === "purchase")
    val r = side("r").where(col("r_type") === "view")
    val joined = l.join(r, expr(
        "l_key = r_key AND r_time BETWEEN l_time - INTERVAL 1 HOUR AND l_time + INTERVAL 1 HOUR"),
        joinType)
      .select(col("l_event_id"), col("r_event_id"),
        coalesce(col("l_key"), col("r_key")).as("key"),
        round(col("l_amount") + col("r_amount"), 2).as("combined"))
    StreamingQueries.runAppendToMemory(s, queryName, joined)
  }

  val joinOracles: Map[String, String] = Map(
    "j1_ss_inner" -> ssJoinOracle("INNER"),
    "j1_streaming" -> ssJoinOracle("INNER"),
    "j4_streaming" ->
      "SELECT o_orderkey, c_mktsegment, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey",
    "j5_streaming" ->
      """SELECT o_orderkey, c_mktsegment, o_totalprice
         FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_nationkey < 10) c ON o_custkey = c_custkey""",
    "j2_ss_left" -> ssJoinOracle("LEFT"),
    "j3_ss_outer" -> ssJoinOracle("FULL"),
    // the sentinel staging makes the streaming append results converge
    // to the batch joins, so the SAME oracles apply
    "j2_streaming" -> ssJoinOracle("LEFT"),
    "j3_streaming" -> ssJoinOracle("FULL"),
    "j4_st_inner" ->
      "SELECT o_orderkey, c_mktsegment, o_totalprice FROM orders JOIN customer ON o_custkey = c_custkey",
    "j5_st_left" ->
      """SELECT o_orderkey, c_mktsegment, o_totalprice
         FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_nationkey < 10) c ON o_custkey = c_custkey""",
    "j6_tt_inner" -> ttJoinOracle("INNER"),
    "j7_tt_left" -> ttJoinOracle("LEFT"),
    "j8_tt_outer" -> ttJoinOracle("FULL"),
    // the upsert loop converges to the batch join — SAME oracles
    "j6_streaming" -> ttJoinOracle("INNER"),
    "j7_streaming" -> ttJoinOracle("LEFT"),
    "j8_streaming" -> ttJoinOracle("FULL"),
    "j9_dispatch" -> ttJoinOracle("FULL"),
    "j_salted" ->
      """WITH dim AS (SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_amount
                      FROM events GROUP BY event_type)
         SELECT e.event_id, e.event_type AS value, d.n_events, d.sum_amount
         FROM events e JOIN dim d ON e.event_type = d.event_type""",
    "j_range" ->
      """WITH bands AS (SELECT i AS band, i * 32.0 AS lo, i * 32.0 + 48.0 AS hi
                        FROM UNNEST(generate_series(0, 15)) AS t(i))
         SELECT e.event_id, b.band
         FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi""",
    "s_corrupt_skip" ->
      "SELECT doc_id, lang FROM documents",
    "s_schema_evolution" ->
      """SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars FROM documents WHERE doc_id % 2 = 0
         UNION ALL
         SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 <> 0""",
    "s_partition_prune" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE lang = 'en' GROUP BY lang""",
    "j_bucketed" ->
      """WITH li AS (SELECT l_orderkey,
                            CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                            CAST(round(l_discount * 100) AS BIGINT) AS disc_c
                     FROM lineitem)
         SELECT o_custkey,
                round(CAST(sum(price_c * (100 - disc_c)) AS DOUBLE) / 10000.0, 4) AS revenue,
                count(*) AS n_items
         FROM li JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    "aj_asof" ->
      """SELECT a.event_id AS l_event_id, b.event_id AS r_event_id, CAST(a.user_id AS VARCHAR) AS key
         FROM (SELECT * FROM events WHERE event_type = 'purchase') a
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
         ON a.user_id = b.user_id AND b.ts <= a.ts""",
    "aj_forward" ->
      """SELECT a.event_id AS l_event_id, b.event_id AS r_event_id, CAST(a.user_id AS VARCHAR) AS key
         FROM (SELECT * FROM events WHERE event_type = 'purchase') a
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
         ON a.user_id = b.user_id AND b.ts >= a.ts""",
    "q_funnel" ->
      """SELECT count(*) AS n_views,
                CAST(sum(CASE WHEN b.ts IS NOT NULL
                              AND epoch_us(b.ts) - epoch_us(a.ts) <= 3600000000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_1h
         FROM (SELECT * FROM events WHERE event_type = 'view') a
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
         ON a.user_id = b.user_id AND b.ts >= a.ts""")

  // ---- D: duality ---------------------------------------------------------

  val duality: Map[String, Q] = Map(
    "d1_tostream" -> ((s, d) =>
      // KTable.toStream: the count table's changelog — batch analog is the
      // final table itself (update-mode emission tested in streaming suite)
      Graft.eventsStream(s, d).groupBy("key").agg(count(lit(1)).as("cnt"))),

    "d2_stream_to_table" -> ((s, d) =>
      TableView.latestPerKey(
        Graft.orders(s, d).withColumn("odate_us",
          unix_micros(col("o_orderdate").cast("timestamp"))), // parquet NTZ → UTC-session timestamp
        Seq("o_custkey"), col("odate_us"), col("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey").as("last_orderkey"),
          col("o_totalprice").as("last_totalprice"), col("odate_us").as("last_odate_us"))))

  val dualityOracles: Map[String, String] = Map(
    "d1_tostream" ->
      "SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt FROM events GROUP BY 1",
    "d2_stream_to_table" ->
      """SELECT o_custkey, o_orderkey AS last_orderkey, o_totalprice AS last_totalprice,
                epoch_us(o_orderdate) AS last_odate_us
         FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
         WHERE rn = 1""")

  // ---- X: processor API ---------------------------------------------------

  val processor: Map[String, Q] = Map(
    "x1_processor_wordcount" -> ((s, d) => {
      import s.implicits._
      val words = Graft.documents(s, d)
        .select(explode(split(lower(col("text")), "\\W+")).as("w"))
        .where(length(col("w")) > 0)
        .as[String]
      Processors.wordCount(words).toDF("word", "cnt")
    }),

    "x2_punctuate_snapshot" -> ((s, d) => {
      // batch analog of the punctuator's store snapshot (streaming timer
      // form covered in ProcessorsSpec)
      import s.implicits._
      val keys = Graft.eventsStream(s, d).select(col("value")).as[String]
      Processors.wordCount(keys).toDF("key", "cnt")
    }),

    "x3_forward_multi" -> ((s, d) => {
      import s.implicits._
      val pairs = Graft.eventsStream(s, d)
        .select(col("value"), col("amount")).as[(String, Double)]
      Processors.countAndSum(pairs).toDF("key", "metric", "metric_value")
    }),

    "x8_describe" -> ((s, d) => {
      // FULL-oracle form since r11 (the one rows-only entry retired):
      // the named DAG is a pure function of the builder calls (byte-
      // stable, oracle-stated as a literal) and the physical shape
      // reduces to coarse booleans — does the optimized plan aggregate /
      // shuffle — which are stable across Spark versions where the raw
      // plan TEXT is not. describe() still produces the full text dump
      // for users (has_plan_text certifies it is non-trivial; the exact
      // text stays out of the hash by design).
      import s.implicits._
      val t = new Topology()
        .addSource("events-source", Graft.eventsStream(s, d))
        .addProcessor("count-by-key", _.groupBy("key").count())
      val full = t.describe()
      val phys = full.substring(t.dagString.length)
      Seq((t.dagString, t.dagString.split("\n").length,
          phys.contains("Aggregate"), phys.contains("Exchange"),
          phys.length > 40))
        .toDF("topology_dag", "n_nodes", "has_aggregate", "has_exchange", "has_plan_text")
    }),

    "x9_passthrough" -> ((s, d) =>
      new Topology()
        .addSource("in", Graft.eventsStream(s, d))
        .addProcessor("identity", df => df)
        .build.select("event_id", "key", "value")),

    "x4_streaming_checkpoint" -> ((s, d) =>
      StreamingQueries.runCompleteAggToMemory(s, d, "events", "x4_counts",
        _.groupBy(col("event_type").as("key")).agg(count(lit(1)).as("cnt")))),

    "x5_x6_rocksdb_state" -> ((s, d) =>
      StreamingQueries.runCompleteAggToMemory(s, d, "events", "x56_counts",
        _.groupBy(col("user_id")).agg(count(lit(1)).as("cnt")),
        Map("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))),

    "x10_lifecycle_foreach" -> ((s, d) =>
      StreamingQueries.runForeachSink(s, d, "events",
        _.groupBy(col("event_type")).agg(count(lit(1)).as("cnt")))
        .select(split(col("line"), ",").as("p"))
        .select(col("p").getItem(0).as("key"), col("p").getItem(1).cast(LongType).as("cnt"))))

  val processorOracles: Map[String, String] = Map(
    "x1_processor_wordcount" ->
      """SELECT w AS word, count(*) AS cnt
         FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) > 0)) AS w FROM documents)
         GROUP BY w""",
    "x2_punctuate_snapshot" ->
      "SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1",
    "x3_forward_multi" ->
      """SELECT event_type AS key, 'cnt' AS metric, CAST(count(*) AS DOUBLE) AS metric_value FROM events GROUP BY 1
         UNION ALL
         SELECT event_type AS key, 'sum' AS metric, round(sum(value), 2) AS metric_value FROM events GROUP BY 1""",
    "x9_passthrough" ->
      "SELECT event_id, CAST(user_id AS VARCHAR) AS key, event_type AS value FROM events",
    "x4_streaming_checkpoint" ->
      "SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1",
    "x5_x6_rocksdb_state" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY 1",
    "x10_lifecycle_foreach" ->
      "SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1",
    // the DAG literal is what the builder calls deterministically
    // produce; the booleans state the coarse physical shape any Spark
    // version plans for a groupBy-count (aggregate + shuffle)
    "x8_describe" ->
      """SELECT 'source: events-source' || chr(10) || 'processor: count-by-key <- events-source' AS topology_dag,
                2 AS n_nodes, TRUE AS has_aggregate, TRUE AS has_exchange, TRUE AS has_plan_text""")

  // ---- T: time & error handling ------------------------------------------

  val timeError: Map[String, Q] = Map(
    "t1_event_time" -> ((s, d) => {
      // payload-embedded event time with fallback (MyEventTimeExtractor
      // semantics): corrupt payloads (injected deterministically) fall
      // back to the record timestamp
      val ev = Graft.events(s, d)
      val raw = when(col("event_id") % 7 === 0, lit("{bad")).otherwise(col("props"))
      val k = get_json_object(raw, "$.k").cast(LongType)
      ev.select(col("event_id"),
        when(k.isNotNull, col("ts_us") + k * 1000000L).otherwise(col("ts_us")).as("event_time_us"))
    }),

    "t2_badrecords" -> ((s, d) => {
      // log-and-continue: permissive parse routes corrupt records to a
      // dead-letter tag instead of failing the pipeline
      val ev = Graft.events(s, d)
      val raw = when(col("event_id") % 7 === 0, lit("{bad")).otherwise(col("props"))
      val k = get_json_object(raw, "$.k").cast(LongType)
      ev.select(col("event_id"),
        when(k.isNotNull, lit("ok")).otherwise(lit("corrupt")).as("status"),
        k.as("k"))
    }),

    "t3_late_drop" -> ((s, d) => {
      // watermark semantics, batch-emulated: drop events later than
      // (max event time - 7 days), then daily counts
      val ev = Graft.events(s, d)
      val wm = ev.agg((max(col("ts_us")) - 7L * 86400 * 1000000).as("wm_us"))
      ev.crossJoin(broadcast(wm))
        .where(col("ts_us") >= col("wm_us"))
        .groupBy(col("event_type"), expr("ts_us div 86400000000").as("day_idx"))
        .agg(count(lit(1)).as("cnt"))
    }),

    "t3_streaming" -> ((s, d) => {
      // T3 through the REAL watermark machinery, multi-batch: three
      // micro-batches (even event_ids; then ids ≡ 1 mod 4; then ids ≡ 3
      // mod 4). Late-input filtering uses the PREVIOUS batch's watermark
      // (SPARK-40925), so batch-3 rows face a drop threshold of
      // max(batch-1 event time) − 1h: rows whose 5-minute window closed
      // below it hit the engine's real late-drop path. Append mode emits
      // only windows finalized by the terminal watermark. Every boundary
      // is a pure function of the data (watermark floors event time to
      // MILLISECONDS before subtracting the delay), so the oracle replays
      // drop and emission exactly.
      val out = StreamingQueries
        .readStreamBatched(s, d, "events",
          when(pmod(col("event_id"), lit(2)) === 0, 0)
            .when(pmod(col("event_id"), lit(4)) === 1, 1).otherwise(2))
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
        .count()
        .select(col("event_type"),
          unix_timestamp(col("window.start")).as("window_start_s"),
          col("count").as("cnt"))
      StreamingQueries.runAppendToMemory(s, "t3s_counts", out)
    }),

    "t4_state_cleanup" -> ((s, d) =>
      StreamingQueries.runWithStateCleanup(s, d, "events", "t4_counts",
        _.groupBy(col("event_type").as("key")).agg(count(lit(1)).as("cnt")))),

    // CERTIFIED since r6 (was rows-only): the counts the query delivered
    // BEFORE the graceful stop hash-match the oracle — drained state is
    // complete, nothing was lost in the close — and the stop outcome
    // itself rides as a boolean the oracle states as TRUE.
    "t5_graceful_shutdown" -> ((s, d) => {
      val q = StreamingQueries.readStreamParquet(s, d, "events")
        .groupBy("event_type").count()
        .writeStream.format("memory").queryName("t5_counts")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.stop() // graceful close (reference's streams.close(10s))
      s.table("t5_counts")
        .select(col("event_type").as("key"), col("count").as("cnt"),
          lit(!q.isActive).as("stopped"))
    }),

    "f_scalars" -> ((s, d) =>
      Graft.part(s, d).select(
        col("p_partkey"),
        lower(col("p_name")).as("lo"),
        upper(col("p_brand")).as("up"),
        length(col("p_type")).as("len"),
        substring(col("p_name"), 1, 3).as("sub3"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("cat"),
        (col("p_size").cast(LongType) * 2 + 1).as("arith"),
        col("p_name").startsWith("a").as("starts_a"),
        element_at(split(col("p_name"), " "), 1).as("first_word"))))

  val timeErrorOracles: Map[String, String] = Map(
    "t1_event_time" ->
      """SELECT event_id,
                CASE WHEN k IS NULL THEN epoch_us(ts)
                     ELSE epoch_us(ts) + k * 1000000 END AS event_time_us
         FROM (SELECT *, CASE WHEN event_id % 7 = 0 THEN NULL
                              ELSE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
               FROM events)""",
    "t2_badrecords" ->
      """SELECT event_id,
                CASE WHEN k IS NULL THEN 'corrupt' ELSE 'ok' END AS status, k
         FROM (SELECT *, CASE WHEN event_id % 7 = 0 THEN NULL
                              ELSE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
               FROM events)""",
    "t3_late_drop" ->
      """WITH m AS (SELECT max(epoch_us(ts)) - 604800000000 AS wm_us FROM events)
         SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx, count(*) AS cnt
         FROM events, m WHERE epoch_us(ts) >= wm_us GROUP BY 1, 2""",
    // w0/w2 replay the engine's watermark arithmetic (ms-floored max
    // event time minus the delay): batch-3 rows (ids ≡ 3 mod 4) drop
    // when their window closed below the batch-1 watermark (late-input
    // filtering lags one batch), and a window emits once the terminal
    // watermark passes its end
    "t3_streaming" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS us FROM events),
              w0 AS (SELECT ((max(us) // 1000) - 3600000) * 1000 AS wm FROM e WHERE event_id % 2 = 0),
              w2 AS (SELECT ((max(us) // 1000) - 3600000) * 1000 AS wm FROM e),
              kept AS (SELECT e.event_type, (e.us // 300000000) * 300000000 AS ws
                       FROM e, w0
                       WHERE e.event_id % 2 = 0 OR e.event_id % 4 = 1
                          OR (e.us // 300000000) * 300000000 + 300000000 > w0.wm),
              agg AS (SELECT event_type, ws, count(*) AS cnt FROM kept GROUP BY 1, 2)
         SELECT event_type, ws // 1000000 AS window_start_s, cnt
         FROM agg, w2 WHERE ws + 300000000 <= w2.wm""",
    "t4_state_cleanup" ->
      "SELECT event_type AS key, count(*) AS cnt FROM events GROUP BY 1",
    // t5: the drained pre-stop counts are exact; `stopped` is the
    // graceful-close outcome, TRUE on the oracle side (a failed stop
    // flips the engine-side literal and fails the hash)
    "t5_graceful_shutdown" ->
      "SELECT event_type AS key, count(*) AS cnt, TRUE AS stopped FROM events GROUP BY 1",
    "f_scalars" ->
      """SELECT p_partkey, lower(p_name) AS lo, upper(p_brand) AS up, length(p_type) AS len,
                substring(p_name, 1, 3) AS sub3, p_brand || '#' || p_type AS cat,
                CAST(p_size AS BIGINT) * 2 + 1 AS arith, starts_with(p_name, 'a') AS starts_a,
                string_split(p_name, ' ')[1] AS first_word
         FROM part""")

  val all: Map[String, Q] =
    sources ++ stateless ++ aggregations ++ windows ++ joins ++ duality ++ processor ++ timeError

  val oracles: Map[String, String] =
    sourceOracles ++ statelessOracles ++ aggregationOracles ++ windowOracles ++
      joinOracles ++ dualityOracles ++ processorOracles ++ timeErrorOracles
}
