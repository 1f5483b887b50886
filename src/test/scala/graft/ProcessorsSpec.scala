package graft

import graft.streaming.Processors
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-engine tests: update-mode word count over a memory stream
  * (the reference's TopologyTestDriver pattern — pipe records, read
  * outputs), stream-time punctuation via event-time timers, watermark
  * late-data drop, and state-store flavors.
  */
class ProcessorsSpec extends GraftTest {

  test("X1 streaming word count updates per-key state across batches") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[String]
    val counts = Processors.wordCount(in.toDS())
    val q = counts.toDF("word", "cnt").writeStream
      .format("memory").queryName("x1_wc").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData("hello", "spark", "hello")
      q.processAllAvailable()
      val after1 = spark.table("x1_wc").collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(after1 === Map("hello" -> 2L, "spark" -> 1L))

      in.addData("hello") // state must persist: hello goes 2 -> 3
      q.processAllAvailable()
      val rows = spark.table("x1_wc").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.contains(("hello", 3L)), s"expected updated count 3, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("X2 punctuation: event-time timer emits store snapshot after quiescence") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val out = Processors.punctuatedCount(in.toDS(), intervalMs = 1000)
    val q = out.toDF("word", "cnt").writeStream
      .format("memory").queryName("x2_punct").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      in.addData(("w", ts(1000)), ("w", ts(1500)))
      q.processAllAvailable() // watermark still at batch-start; timer armed
      in.addData(("other", ts(100000))) // advances watermark far past w's timer
      q.processAllAvailable()
      in.addData(("other2", ts(200000))) // one more batch so the timeout fires
      q.processAllAvailable()
      val rows = spark.table("x2_punct").collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows.contains(("w", 2L)), s"punctuator should have forwarded (w,2); got $rows")
    } finally q.stop()
  }

  test("T3 watermark drops data later than the grace period") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, java.sql.Timestamp)]
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val agg = in.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 seconds") // ≡ the reference's grace(3 min), scaled
      .groupBy(window(col("ts"), "10 seconds"), col("k")).count()
    val q = agg.writeStream.format("memory").queryName("t3_wm")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(("a", ts(5)), ("a", ts(8)))
      q.processAllAvailable()
      in.addData(("b", ts(100))) // watermark → 90s; window [0,10) finalized
      q.processAllAvailable()
      in.addData(("a", ts(6))) // LATE: arrives after watermark passed its window
      q.processAllAvailable()
      in.addData(("c", ts(200))) // flush
      q.processAllAvailable()
      val aCount = spark.table("t3_wm").where(col("k") === "a").collect().map(_.getLong(2)).sum
      assert(aCount === 2L, s"late record must be dropped; got a=$aCount")
    } finally q.stop()
  }

  test("X6 state-store flavors: RocksDB provider computes the same counts") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[String]
      val q = Processors.wordCount(in.toDS()).toDF("word", "cnt").writeStream
        .format("memory").queryName("x6_rocks").outputMode("update")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        in.addData("x", "y", "x")
        q.processAllAvailable()
        in.addData("x")
        q.processAllAvailable()
        val rows = spark.table("x6_rocks").collect().map(r => (r.getString(0), r.getLong(1)))
        assert(rows.contains(("x", 3L)))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("a run with its own state-store provider gives back the session's") {
    // runCompleteAggToMemory's `confs` hold for its run only: a session
    // that chose RocksDB itself still has it afterwards
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    spark.conf.set(key, rocks)
    try {
      graft.streaming.StreamingQueries.runCompleteAggToMemory(spark, sf, "events", "conf_restore",
          _.groupBy("event_type").count(),
          Map(key -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"))
        .collect()
      assert(spark.conf.get(key) === rocks)
    } finally spark.conf.unset(key)
  }

  test("X9 pass-through topology: streaming identity in → out") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Int, String)]
    val q = in.toDF().toDF("key", "value").writeStream
      .format("memory").queryName("x9_pass").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      assert(spark.table("x9_pass").collect().map(r => (r.getInt(0), r.getString(1))).toSet ===
        Set((1, "a"), (2, "b")))
    } finally q.stop()
  }

  test("classifier scoring runs unchanged inside a streaming query (stateless scan)") {
    // classifierScore is select/withColumn only — no shuffle, no state —
    // so the SAME operator filters a stream at ingest time; streaming
    // rows must score exactly as the batch oracle-certified path
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val scored = graft.functions.TextFunctions.classifierScore(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text")
    assert(scored.isStreaming, "the scored frame must still be a streaming frame")
    val q = scored.writeStream
      .format("memory").queryName("cls_stream").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      val rows = Seq((1L, "some ordinary words to score"), (2L, ""), (3L, "more text here"))
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("cls_stream").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSet
      val want = graft.functions.TextFunctions.classifierScore(
          rows.toDF("doc_id", "text"), "doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3))).toSet
      assert(got === want, "streaming scores must equal the batch path")
      assert(got.exists(!_._4) && got.exists(_._4), "fixture exercises both decisions")
    } finally q.stop()
  }

  test("BPE token-id encoding runs unchanged inside a streaming query (stateless scan)") {
    // encodeBpe is a codegen'd per-row kernel with a broadcast-held
    // frozen model — no shuffle, no state — so tokenize-at-ingest uses
    // the SAME operator; streaming ids must equal the batch
    // oracle-certified path token for token
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val model = graft.functions.Bpe.train(Graft.documents(spark, sf), "text", nMerges = 64)
    val in = MemoryStream[(Long, String)]
    val enc = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.Bpe.encodeBpe(col("text"), model).as("ids"))
    assert(enc.isStreaming, "the encoded frame must still be a streaming frame")
    val q = enc.writeStream
      .format("memory").queryName("bpe_stream").outputMode("append")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      val rows = Seq((1L, "the fast table scan joins the stream"), (2L, ""), (3L, "window merge sort"))
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("bpe_stream").collect()
        .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
      val want = rows.toDF("doc_id", "text")
        .select(col("doc_id"), graft.functions.Bpe.encodeBpe(col("text"), model).as("ids"))
        .collect().map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
      assert(got === want, "streaming token ids must equal the batch path")
      assert(got.exists(_._2.nonEmpty) && got.exists(_._2.isEmpty),
        "fixture exercises tokens and the empty doc")
    } finally q.stop()
  }

  test("X1 with pre-populated store: counts continue from seeded state") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[String]
    val seeded = Seq(("hello", 40L), ("other", 7L)).toDS()
    val q = Processors.wordCountSeeded(in.toDS(), seeded).toDF("word", "cnt").writeStream
      .format("memory").queryName("x1_seeded").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData("hello", "hello")
      q.processAllAvailable()
      val rows = spark.table("x1_seeded").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.contains(("hello", 42L)), s"seeded 40 + 2 new = 42; got ${rows.toSeq}")
    } finally q.stop()
  }

  test("X1 via transformWithState: named ValueState store counts across batches") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[String]
      val q = Processors.wordCountTws(in.toDS()).toDF("word", "cnt").writeStream
        .format("memory").queryName("x1_tws").outputMode("update")
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        in.addData("a", "b", "a")
        q.processAllAvailable()
        in.addData("a")
        q.processAllAvailable()
        val rows = spark.table("x1_tws").collect().map(r => (r.getString(0), r.getLong(1)))
        assert(rows.contains(("a", 3L)), s"got ${rows.toSeq}")
        assert(rows.contains(("b", 1L)))
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("A6 incremental adder/subtractor matches the recompute model") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, String, Double, Long)]
    val q = Processors.tableReduceDeltas(in.toDS()).toDF("gk", "delta").writeStream
      .format("memory").queryName("a6_deltas").outputMode("update")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // uma contributes 5.0 to north...
      in.addData(("uma", "north", 5.0, 1L), ("vic", "east", 3.0, 2L))
      q.processAllAvailable()
      // ...then MOVES to south with 7.0: subtractor must retract north's 5
      in.addData(("uma", "south", 7.0, 3L))
      q.processAllAvailable()
      val totals = spark.table("a6_deltas").groupBy("gk").sum("delta")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(totals("north") === 0.0) // +5 then -5
      assert(totals("south") === 7.0)
      assert(totals("east") === 3.0)
    } finally q.stop()
  }

  test("X4 checkpoint resume: restart processes only new data (exactly-once)") {
    import spark.implicits._
    val base = java.nio.file.Paths.get(ProbeUtil.scratchDir("x4-resume"))
    val srcDir = base.resolve("src"); val outDir = base.resolve("out"); val ckpt = base.resolve("ckpt")
    java.nio.file.Files.createDirectories(srcDir)
    // stage then move so the file stream sees complete files
    def addFile(name: String, rows: Seq[(Long, String)]): Unit = {
      val staged = base.resolve(s"stage-$name")
      rows.toDF("id", "v").coalesce(1).write.parquet(staged.toString)
      val part = java.nio.file.Files.list(staged).filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, srcDir.resolve(s"$name.parquet"))
    }
    val schema = Seq((1L, "x")).toDF("id", "v").schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(srcDir.toString)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    addFile("b1", Seq((1L, "a"), (2L, "b")))
    runOnce() // first run: processes b1, commits offsets to the checkpoint
    addFile("b2", Seq((3L, "c")))
    runOnce() // resumed run: must process ONLY b2
    val out = spark.read.parquet(outDir.toString).collect().map(_.getLong(0)).sorted
    assert(out.toSeq === Seq(1L, 2L, 3L), s"each row exactly once across restarts; got ${out.toSeq}")
  }

  test("streaming dedup: duplicates dropped within the horizon, state expires beyond it") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val out = in.toDS().toDF("id", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
      .select("id")
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def ts(ms: Long) = new java.sql.Timestamp(ms)
      in.addData((1L, ts(1000)), (1L, ts(2000))) // in-batch duplicate
      q.processAllAvailable()
      in.addData((1L, ts(3000)), (2L, ts(3000))) // cross-batch duplicate + new key
      q.processAllAvailable()
      val early = spark.table("sdedup").collect().map(_.getLong(0)).sorted
      assert(early.toSeq === Seq(1L, 2L), s"one emission per key inside the horizon; got ${early.toSeq}")

      in.addData((9L, ts(100000))) // watermark → 90s: ids 1/2 expire from state
      q.processAllAvailable()
      in.addData((1L, ts(95000))) // same key, beyond the horizon → re-emitted
      q.processAllAvailable()
      val late = spark.table("sdedup").collect().map(_.getLong(0)).sorted
      assert(late.toSeq === Seq(1L, 1L, 2L, 9L),
        s"state is bounded by the horizon (key 1 re-emitted after expiry); got ${late.toSeq}")
    } finally q.stop()
  }

  test("full-outer stream-stream join pads unmatched rows only after the watermark passes") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lIn = MemoryStream[(String, Double, java.sql.Timestamp)]
    val rIn = MemoryStream[(String, Double, java.sql.Timestamp)]
    val l = lIn.toDS().toDF("l_key", "l_amt", "l_ts").withWatermark("l_ts", "5 seconds")
    val r = rIn.toDS().toDF("r_key", "r_amt", "r_ts").withWatermark("r_ts", "5 seconds")
    val joined = l.join(r,
      expr("l_key = r_key AND r_ts BETWEEN l_ts - INTERVAL 10 SECONDS AND l_ts + INTERVAL 10 SECONDS"),
      "full_outer")
    val q = joined.writeStream.format("memory").queryName("j3wm")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      def ts(msec: Long) = new java.sql.Timestamp(msec)
      // batch 1: one matched pair + one unmatched left row
      lIn.addData(("a", 1.0, ts(10000)), ("lonely", 5.0, ts(11000)))
      rIn.addData(("a", 2.0, ts(12000)))
      q.processAllAvailable()
      def collected() = spark.table("j3wm").collect()
        .map(row => (Option(row.getString(0)), Option(row.getString(3))))
      val early = collected()
      assert(early.contains((Some("a"), Some("a"))),
        s"matched pair must emit eagerly; got ${early.toSeq}")
      assert(!early.exists(_._1.contains("lonely")),
        "unmatched row must NOT be null-padded before the watermark passes its join window")

      // batch 2: a far-future row on EACH side (global watermark = min of
      // the two) pushes the watermark past lonely's eviction bound
      // (11s event + 10s range + 5s delay << 95s)
      lIn.addData(("zl", 0.0, ts(100000)))
      rIn.addData(("zr", 0.0, ts(100000)))
      q.processAllAvailable()
      // the padding emits in a trailing no-data batch; poll briefly
      val deadline = System.currentTimeMillis() + 30000
      var padded = collected()
      while (!padded.exists(p => p._1.contains("lonely") && p._2.isEmpty) &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(200); q.processAllAvailable(); padded = collected()
      }
      assert(padded.exists(p => p._1.contains("lonely") && p._2.isEmpty),
        s"unmatched row must emit null-padded after watermark passage; got ${padded.toSeq}")
    } finally q.stop()
  }

  test("J6 streaming upsert: join output updates when a table side upserts (alice moves region)") {
    import spark.implicits._
    import graft.operators.TableView
    import graft.streaming.StreamingQueries
    // reference StreamToTableJoinTestData.scala:45-59 / TableToTableJoin-
    // Example.scala:115-117 — alice starts in europe, later upserts to
    // asia; the joined view must follow the upsert mid-stream.
    val changelog = Seq(
      (0, "user", "alice", "europe", 1L),
      (0, "user", "bob", "americas", 1L),
      (0, "region", "europe", "Europe", 1L),
      (0, "region", "americas", "Americas", 1L),
      (0, "region", "asia", "Asia", 1L),
      (1, "user", "alice", "asia", 2L)
    ).toDF("batch", "side", "key", "value", "ts")
    val (finalSnap, snapRoot) = StreamingQueries.runUpsertSnapshots(
        spark, changelog, col("batch"), ProbeUtil.scratchDir("alice")) { acc =>
      def side(s: String) = TableView.latestPerKey(
        acc.where(col("side") === s).select("key", "value", "ts"),
        Seq("key"), col("ts"), col("value"))
      val users = side("user").select(col("key").as("user"), col("value").as("region"))
      val regions = side("region").select(col("key").as("rkey"), col("value").as("region_name"))
      users.join(regions, col("region") === col("rkey"), "inner")
        .select("user", "region", "region_name")
    }
    def snap(i: Int) = spark.read.parquet(s"$snapRoot/batch-$i")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(snap(0) === Set(("alice", "europe", "Europe"), ("bob", "americas", "Americas")))
    // the upsert replaces alice's region — the old joined row is GONE
    assert(snap(1) === Set(("alice", "asia", "Asia"), ("bob", "americas", "Americas")))
    assert(finalSnap.count() === 2)
  }

  test("A6 streaming retraction: upsert moves a key's amount between groups") {
    import spark.implicits._
    import graft.operators.TableView
    import graft.streaming.StreamingQueries
    val changelog = Seq(
      (0, "alice", "europe", 10.0, 1L),
      (0, "bob", "europe", 5.0, 1L),
      (1, "alice", "asia", 10.0, 2L)
    ).toDF("batch", "user", "region", "amount", "ts")
    val (_, snapRoot) = StreamingQueries.runUpsertSnapshots(
        spark, changelog, col("batch"), ProbeUtil.scratchDir("a6-retract")) { acc =>
      TableView.regroupAndAgg(
        TableView.latestPerKey(acc.select("user", "region", "amount", "ts"),
          Seq("user"), col("ts"), col("region")),
        col("region"), Seq(round(sum("amount"), 2).as("total")))
    }
    def snap(i: Int) = spark.read.parquet(s"$snapRoot/batch-$i")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(snap(0) === Map("europe" -> 15.0))
    // alice's 10 must be subtracted from europe (the reference's
    // subtractor) and added to asia — recompute gives both for free
    assert(snap(1) === Map("europe" -> 5.0, "asia" -> 10.0))
  }

  test("upsert batch step is idempotent under foreachBatch retry (no double-count)") {
    import spark.implicits._
    import graft.streaming.StreamingQueries
    import org.apache.spark.sql.DataFrame
    val root = ProbeUtil.scratchDir("retry-upsert")
    def snapshot(acc: DataFrame) =
      acc.groupBy("k").agg(round(sum("v"), 2).as("total"))
    val b0 = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    val b1 = Seq(("a", 3.0)).toDF("k", "v")
    StreamingQueries.upsertBatch(spark, b0, 0L, root)(snapshot)
    StreamingQueries.upsertBatch(spark, b1, 1L, root)(snapshot)
    def read(i: Int) = spark.read.parquet(s"$root/snapshot/batch-$i")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val once = read(1)
    assert(once === Map("a" -> 4.0, "b" -> 2.0))
    // foreachBatch is at-least-once: Spark may re-run the batch body
    // after a failure. A flat changelog APPEND would double batch 1's
    // rows here; the overwritten per-batch subdir must not.
    StreamingQueries.upsertBatch(spark, b1, 1L, root)(snapshot)
    assert(read(1) === once)
  }

  test("heavy-hitters sketch accumulates incrementally across micro-batches") {
    import spark.implicits._
    // the streaming-ingest shape for frequent items: each micro-batch
    // accumulates ONE bounded summary (approx_top_k_accumulate inside
    // foreachBatch in production; here the batch step directly), the
    // summaries persist, and "who dominates so far" is a combine over
    // the stored summaries — never a re-read of past batches. The
    // combined answer must match a single-shot sketch over the union.
    val batches = Seq(
      Seq.fill(50)("hot") ++ (0 until 300).map(i => s"a_$i"),
      Seq.fill(70)("hot") ++ (0 until 300).map(i => s"b_$i"),
      Seq.fill(30)("hot") ++ Seq.fill(40)("warm") ++ (0 until 300).map(i => s"c_$i"))
    val accs = batches.zipWithIndex.map { case (rows, i) =>
      rows.toDF("v").agg(
        call_function("approx_top_k_accumulate", col("v"), lit(64)).as("sk"),
        count(lit(1)).as("n")).withColumn("batch", lit(i))
    }
    val stored = accs.reduce(_ union _) // stands in for the persisted per-batch summaries
    val merged = stored.agg(
        call_function("approx_top_k_combine", col("sk"), lit(64)).as("skm"),
        sum("n").as("n_total"))
      .select(explode(call_function("approx_top_k_estimate", col("skm"), lit(10))).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact totals: hot = 150, warm = 40 over N = 1190. Per-batch
    // eviction (300+ distinct vs 64-entry maps) shifts estimates by a
    // bounded offset, so assert the sketch's actual contract: both
    // heavies SURFACE, never undercount, and sit within the a-priori
    // 3.5N/m envelope (~65 here)
    val bound = 7L * 1190L / (2L * 64L)
    def ok(m: Map[String, Long], item: String, exact: Long): Unit = {
      assert(m.contains(item), s"$item must surface; got $m")
      assert(m(item) >= exact && m(item) <= exact + bound,
        s"$item estimate ${m(item)} outside [$exact, ${exact + bound}]")
    }
    ok(merged, "hot", 150L)
    ok(merged, "warm", 40L)
    // out-of-order arrival: combining the summaries in reverse order
    // preserves the same guarantees (estimates may shift within the
    // bound — merge order matters, the contract does not)
    val rev = accs.reverse.reduce(_ union _).agg(
        call_function("approx_top_k_combine", col("sk"), lit(64)).as("skm"))
      .select(explode(call_function("approx_top_k_estimate", col("skm"), lit(10))).as("e"))
      .select(col("e.item"), col("e.count"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ok(rev, "hot", 150L)
    ok(rev, "warm", 40L)
  }

  test("runIngestStream: cross-batch dedup state, near-dup gate, batch-chain parity") {
    import spark.implicits._
    // 0 and 20 share content but arrive TWO micro-batches apart (the
    // cross-batch state must drop 20); 10 is a (lang, n_chars)-blocked
    // near-dup of corpus doc 1 (jaccard {a,b,c,e}/{a,b,c,d} = 0.6);
    // 30 is genuinely fresh
    val batch = Seq(
      (0L, "x y z", "en", 5L),
      (10L, "a b c e", "en", 7L),
      (20L, "x y z", "en", 5L),
      (30L, "unique fresh words", "en", 18L)).toDF("doc_id", "text", "lang", "n_chars")
    val corpus = Seq(
      (1L, "a b c d", "en", 7L),
      (2L, "other corpus doc", "en", 16L)).toDF("doc_id", "text", "lang", "n_chars")
    val all = batch.unionByName(corpus)
    val batchOf = least(col("doc_id") / 10, lit(2)).cast("int") // ascending thirds
    val out = graft.streaming.StreamingQueries
      .runIngestStream(spark, batch, corpus, batchOf, jaccardMin = 0.5, ProbeUtil.scratchDir("spec"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out.map(_._1) === Set(0L, 30L),
      s"expected 20 dropped by cross-batch state and 10 by the near-dup gate, got $out")
    // parity: the streaming composition converges to the batch chain
    val keptExact = graft.dedup.Dedup.incremental(batch, corpus, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val cand = batch.select(col("lang"), col("n_chars"), col("doc_id").as("a"))
      .join(corpus.select(col("lang"), col("n_chars"), col("doc_id").as("b")),
        Seq("lang", "n_chars"))
      .select("a", "b")
    val nearDup = graft.dedup.Dedup.verifyJaccard(cand, all, "doc_id", "text")
      .where(col("jaccard") >= 0.5)
      .select(col("a").as("doc_id")).distinct()
    val batchRes = batch.join(keptExact, Seq("doc_id"), "left_semi")
      .join(nearDup, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        graft.functions.TextFunctions.splitAssign(col("doc_id")).as("split"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === batchRes)
  }

  test("runIngestStream semantic gate: corpus-scoped drops, accepted-batch docs don't gate, cross-batch state intact") {
    import spark.implicits._
    // hand-built frozen model: cluster 0 = +x hemisphere, cluster 1 = -x
    val model = graft.ann.IvfModel(Array(Array(1.0, 0.0), Array(-1.0, 0.0)))
    // d0: unique text but embedding ~ corpus c1 (same cluster, cos≈1) →
    //     dropped by the SEMANTIC gate only;
    // d10: far from all corpus vectors → kept;
    // d20: exact text dup of d10, TWO batches later → dropped by the
    //     cross-batch content-hash state (still active under the gate);
    // d30: embedding ~ d10 (an ACCEPTED batch doc, not corpus) → KEPT —
    //     the gate is corpus-scoped by design (batch-chain parity)
    val batch = Seq(
      (0L, "x y z", "en", 5L),
      (10L, "p q r", "en", 5L),
      (20L, "p q r", "en", 5L),
      (30L, "m n o", "en", 5L)).toDF("doc_id", "text", "lang", "n_chars")
    val corpus = Seq(
      (1L, "a b c d", "en", 7L),
      (2L, "other corpus doc", "en", 16L)).toDF("doc_id", "text", "lang", "n_chars")
    val all = batch.unionByName(corpus)
    val emb = Seq(
      (0L, Array(0.95f, 0.05f)),   // ~ c1 → semantic drop
      (10L, Array(-0.5f, -0.85f)), // cos vs c2 ≈ 0.41 < 0.95 → kept
      (20L, Array(-0.6f, -0.8f)),
      (30L, Array(-0.5f, -0.86f)), // ~ d10 (accepted, not corpus) → kept
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(-0.9f, 0.1f))).toDF("vec_id", "embedding")
    val batchOf = least(col("doc_id") / 10, lit(2)).cast("int")
    val out = graft.streaming.StreamingQueries
      .runIngestStream(spark, batch, corpus, batchOf, jaccardMin = 0.5,
        ProbeUtil.scratchDir("semspec"), semantic = Some((emb, model, 0.95, 100)))
      .collect().map(_.getLong(0)).toSet
    assert(out === Set(10L, 30L),
      s"expected 0 semantic-dropped, 20 state-dropped, 30 kept (corpus-scoped gate); got $out")
    // the building blocks agree: assignment puts d0 with c1, and the
    // cross gate flags exactly d0
    val asg = graft.ann.Ann.assignClusters(emb, "vec_id", "embedding", model)
    val cl = asg.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(cl(0L) === 0 && cl(1L) === 0 && cl(10L) === 1 && cl(30L) === 1)
    val flagged = graft.ann.Ann.crossSemanticDup(
        asg.where(col("vec_id") < 1000 && !col("vec_id").isin(1L, 2L)),
        asg.where(col("vec_id").isin(1L, 2L)), threshold = 0.95, maxCluster = 100)
      .collect().map(_.getLong(0)).toSet
    assert(flagged === Set(0L))
  }

  test("runBm25Stream: stats accumulate across micro-batches, batch parity exact") {
    import spark.implicits._
    // 'shared' occurs in all three micro-batches (its df must come from
    // the ACCUMULATED state, not any single batch); 'rare' only in the
    // first; doc 21 has no query term (no row); doc lengths differ so
    // the dl normalization is exercised
    val docs = Seq(
      (1L, "shared rare words here"),
      (2L, "plain filler text"),
      (11L, "shared again with more filler tokens"),
      (12L, "nothing relevant"),
      (21L, "completely unrelated"),
      (22L, "shared third time")).toDF("doc_id", "text")
    val terms = Seq("shared", "rare")
    val batchOf = least(col("doc_id") / 10, lit(2)).cast("int")
    val streamed = graft.streaming.StreamingQueries
      .runBm25Stream(spark, docs, batchOf, terms, ProbeUtil.scratchDir("bm25spec"))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    val batch = graft.functions.TextFunctions.bm25(docs, "doc_id", "text", terms)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(streamed === batch, "converged streaming stats must reproduce batch BM25 exactly")
    assert(streamed.keySet === Set(1L, 11L, 22L))
    assert(streamed(1L)._1 === 2, "doc 1 hits both terms")
    // df('shared') = 3 spans all batches: under any single batch's stats
    // the idf (and so the score) would differ — parity proves the
    // accumulated state, not a per-batch shortcut
  }

  test("runGate media fingerprints: corpus, cross-batch and in-batch duplicates drop, keep-min id") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import graft.streaming.StreamingQueries
    import org.apache.spark.sql.DataFrame
    // syntheticPngAssets draws an image from (id mod 2816, n_chars mod
    // 13) (2816 = lcm(2, 11, 256)), so ids 2816 apart with equal n_chars
    // decode to the same pixels and share every fingerprint
    val p = 2816L
    val corpus = Seq((29L, 6L)).toDF("doc_id", "n_chars")
    val batch = Seq(
      (30L, 4L),          // batch 0: fresh, kept
      (28L + p, 11L),     // batch 0: in-batch duplicate of 28, dropped (keep-min)
      (28L, 11L),         // batch 0: kept
      (29L + p, 6L),      // batch 0: the corpus image, dropped
      (29L + 4 * p, 7L),  // batch 1: fresh, kept
      (30L + 8 * p, 4L)   // batch 2: batch 0's image two micro-batches later, dropped
    ).toDF("doc_id", "n_chars")
    val batchOf = least(col("doc_id") / 10000, lit(2)).cast("int")
    val fingerprints = Seq[(String, DataFrame => DataFrame)](
      "dhash" -> (df => Multimodal.imageDHash(Multimodal.syntheticPngAssets(df))),
      "phash_dct" -> (df => Multimodal.imagePHashDct(Multimodal.syntheticPngAssets(df))))
    fingerprints.foreach { case (name, fp) =>
      // the plant holds under this fingerprint: the corpus image and the
      // three fresh ones have four distinct keys
      val keyOf = fp(batch.unionByName(corpus)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(Seq(29L, 30L, 28L, 29L + 4 * p).map(keyOf).distinct.size === 4, s"$name keys $keyOf")
      val out = StreamingQueries.runGate(spark, batch, corpus, batchOf,
        ProbeUtil.scratchDir(s"mgate-$name"))(fp)
      assert(out.columns.toSeq === fp(corpus).columns.toSeq)
      assert(out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap ===
        Seq(30L, 28L, 29L + 4 * p).map(i => i -> keyOf(i)).toMap, name)
    }
  }

  test("an empty batch drains to an empty frame with the output schema (gate, ingest, BM25)") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    import graft.streaming.StreamingQueries
    import org.apache.spark.sql.DataFrame
    val docs = Seq((1L, "a b", "en", 3L), (2L, "c d", "en", 3L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val empty = docs.where(col("doc_id") < 0)
    def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    def batches = StreamingQueries.harnessBatches(empty, "doc_id")
    val fp: DataFrame => DataFrame = df => Multimodal.imageDHash(Multimodal.syntheticPngAssets(df))
    val gated = StreamingQueries.runGate(spark, empty, docs, batches,
      ProbeUtil.scratchDir("empty-gate"))(fp)
    val ingested = StreamingQueries.runIngestStream(spark, empty, docs, batches, 0.5,
      ProbeUtil.scratchDir("empty-ingest"))
    val scored = StreamingQueries.runBm25Stream(spark, empty, batches, Seq("a"),
      ProbeUtil.scratchDir("empty-bm25"))
    assert(gated.count() === 0 && ingested.count() === 0 && scored.count() === 0)
    assert(fields(gated) === fields(fp(docs)))
    assert(fields(ingested) === fields(docs.select(col("doc_id"),
      graft.functions.TextFunctions.splitAssign(col("doc_id")).as("split"))))
    assert(fields(scored) === fields(graft.functions.TextFunctions.bm25(docs, "doc_id", "text", Seq("a"))))
  }

  test("T5 graceful stop leaves the query inactive and session healthy") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS().toDF("v").writeStream.format("memory")
      .queryName("t5_stop").outputMode("append").start()
    in.addData(1, 2, 3)
    q.processAllAvailable()
    q.stop()
    assert(!q.isActive)
    assert(spark.sql("SELECT 1").count() === 1) // session still serves queries
  }

  test("dropDuplicatesWithinWatermark: live dups drop, expired state re-emits") {
    // the drop/keep boundary behind dd_stream_dedup_watermark, pinned on
    // planted keys (the T3 device applied to dedup). Engine mechanics
    // (probed r15, Spark 4.1, micro-batch N): late-input filtering keeps
    // rows with event_time STRICTLY ABOVE the previous batch's eviction
    // watermark (the filter lags one batch, SPARK-40925); a surviving
    // row drops iff its key is in state; state eviction runs at batch
    // END with the batch's eviction watermark (computed from data
    // through batch N-1), predicate expiry <= watermark — so a key
    // first seen in batch 0 re-emits no earlier than batch 2.
    //
    // Batch 0: A@3h, B@23h -> eviction watermark during batch 1 = 22h.
    // Batch 1: A@23h drops (A still in state: end-of-batch-0 eviction
    //          used the initial 0 watermark), F@22h emits (new key,
    //          expiry 23h), G@21h emits (new key, expiry exactly 22h).
    // Batch 2 (late-filter watermark = 22h, the batch-1 eviction value —
    //          the filter lags one batch, SPARK-40925): A@23h RE-EMITS
    //          (expiry 4h <= 22h evicted at end of batch 1), B@23h drops
    //          (expiry 24h live), G@23h pins the eviction boundary
    //          (expiry exactly 22h: evicted, predicate is
    //          expiry <= watermark), F@23h pins the complement (expiry
    //          23h > 22h: live, drops), C@21h and H@22h pin the late
    //          filter (BELOW and exactly AT the watermark: both drop —
    //          keep is strictly event_time > watermark).
    import org.apache.spark.sql.functions._
    val hour = 3600L * 1000000L
    val base = 1704067200000000L
    val dir = java.nio.file.Paths.get(ProbeUtil.scratchDir("wmdedup"))
    def stage(i: Int, rows: Seq[(String, Long)]): Unit = {
      import spark.implicits._
      val tmp = java.nio.file.Paths.get(ProbeUtil.scratchDir(s"wmst$i"))
      rows.toDF("k", "us").withColumn("event_time", timestamp_micros(col("us")))
        .drop("us").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val l = java.nio.file.Files.list(tmp)
      val part = try l.filter(_.toString.endsWith(".parquet")).findFirst().get()
                 finally l.close()
      val t = dir.resolve(s"batch-$i.parquet")
      java.nio.file.Files.move(part, t)
      java.nio.file.Files.setLastModifiedTime(t,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (2 - i) * 120000L))
    }
    stage(0, Seq(("A", base + 3 * hour), ("B", base + 23 * hour)))
    stage(1, Seq(("A", base + 23 * hour), ("F", base + 22 * hour),
      ("G", base + 21 * hour)))
    stage(2, Seq(("A", base + 23 * hour), ("B", base + 23 * hour),
      ("G", base + 23 * hour), ("F", base + 23 * hour), ("C", base + 21 * hour),
      ("H", base + 22 * hour)))
    val schema = spark.read.parquet(dir.toString).schema
    val out = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"), unix_micros(col("event_time")).as("us"))
    val q = out.writeStream.format("memory").queryName("wmdedup_probe")
      .outputMode("append")
      .option("checkpointLocation",
        ProbeUtil.scratchDir("wmck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(); q.stop()
    info(s"batches: ${q.recentProgress.map(p => s"${p.batchId}:${p.numInputRows}:wm=${p.eventTime.get("watermark")}").mkString(" | ")}")
    val got = spark.table("wmdedup_probe")
      .collect().map(r => (r.getString(0), (r.getLong(1) - base) / hour))
      .sorted.toSeq
    info(s"observed: ${got.mkString(", ")}")
    assert(got === Seq(("A", 3L), ("A", 23L), ("B", 23L),
      ("F", 22L), ("G", 21L), ("G", 23L)))
  }

  test("funnelChain advances cross-batch state and emits only on change (r18)") {
    import graft.streaming.{Processors, StreamingQueries}
    import spark.implicits._
    // two ascending-event-time batches; winUs wide enough for every chain
    // u1: view@10, click@20 (batch 0), purchase@30 (batch 1) — advances in both
    // u2: view@10 (batch 0); view@40 (batch 1) does NOT advance (t1 write-once)
    // u3: click@15 (batch 0) never qualifies (no view); click@45 (batch 1) same
    val rows = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (2L, "view", 10L), (3L, "click", 15L),
      (1L, "purchase", 30L), (2L, "view", 40L), (3L, "click", 45L))
    val src = rows.toDF("user_id", "event_type", "ts_us")
    val stream = StreamingQueries.stageStreamBatched(spark, src,
        when(col("ts_us") < 25, lit(0)).otherwise(lit(1)), "funnelspec")
      .as[(Long, String, Long)]
    val snaps = Processors.funnelChain(stream, winUs = 100L)
      .toDF("user_id", "t1", "t2", "t3")
    val sink = StreamingQueries.runUpdateToMemory(spark, "funnelspec_sink", snaps)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    // emit-on-change: u1 twice (both batches advance), u2/u3 once (their
    // batch-1 rows change nothing) — 4 rows, not 3 users x their batches
    assert(sink === Seq(
      (1L, 10L, 20L, -1L), (1L, 10L, 20L, 30L),
      (2L, 10L, -1L, -1L), (3L, -1L, -1L, -1L)))
    // converged max-per-field table equals the batch first-timestamp chain
    val conv = sink.groupBy(_._1).view.mapValues(g =>
      (g.map(_._2).max, g.map(_._3).max, g.map(_._4).max)).toMap
    assert(conv === Map(1L -> ((10L, 20L, 30L)), 2L -> ((10L, -1L, -1L)),
      3L -> ((-1L, -1L, -1L))))
  }

  test("a table stored as a directory of files streams all of its rows") {
    // the split layout: <dir>/events.parquet is a directory of part files
    val dir = java.nio.file.Paths.get(ProbeUtil.scratchDir("split-layout"))
    try {
      val events = spark.read.parquet(s"$sf/events.parquet")
      events.repartition(4).write.parquet(s"$dir/events.parquet")
      assert(dir.resolve("events.parquet").toFile.listFiles()
        .count(_.getName.endsWith(".parquet")) > 1, "expected a multi-file table")
      val streamed = SparkEntry.queries("dd_stream_dedup")(spark, dir.toString).count()
      val batch = events.select("user_id", "event_type").distinct().count()
      assert(batch > 0 && streamed === batch)
    } finally ProbeUtil.deleteRecursively(dir)
  }

  test("stageStreamBatchedCached stages once per key and re-streams the full layout") {
    import graft.streaming.StreamingQueries
    val src = spark.range(0, 30).selectExpr("id", "id % 3 AS grp")
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    def batchOf = { probes.incrementAndGet(); col("grp") }
    def drain(name: String): Seq[Long] = {
      val q = StreamingQueries
        .stageStreamBatchedCached(spark, src, "cachedstage", "cachedstage|spec")(batchOf)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation",
          ProbeUtil.scratchDir("csck"))
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q.stop()
      spark.table(name).select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
    // two runs, one staging: the thunk (and its max-probe) fires once,
    // and the second run still streams every row from a fresh checkpoint
    assert(drain("cs_a") === (0L until 30L))
    assert(drain("cs_b") === (0L until 30L))
    assert(probes.get() === 1)
    // a different key is a different staging
    StreamingQueries
      .stageStreamBatchedCached(spark, src, "cachedstage", "cachedstage|spec2")(batchOf)
    assert(probes.get() === 2)
  }
}
