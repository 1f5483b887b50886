package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import graft.operators.{Joins, Windows}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** `stream_open_loop`: three Structured Streaming topologies read one
  * watched directory while a generator thread publishes pre-written event
  * files into it on a fixed schedule; then closed catch-up rounds drain
  * fixed backlogs. Files are published by hard link, which is atomic.
  */
object StreamWorkload {
  val eventSchema: StructType = new StructType()
    .add("event_id", LongType).add("user", StringType).add("clicks", LongType)
    .add("event_ms", LongType).add("due_ms", LongType)

  final case class EventFile(name: String, phase: String, dueMs: Double, events: Long)

  val topologies: Seq[String] = Seq("tumbling", "region_clicks", "dedup")

  /** The stream of every file in the watched directory's subdirectories:
    * a glob, so that a whole directory of files can appear at once. */
  def events(spark: SparkSession, watch: String): DataFrame =
    spark.readStream.schema(eventSchema).csv(s"$watch/*")
      .withColumn("event_time", timestamp_millis(col("event_ms")))

  def users(spark: SparkSession, path: String): DataFrame =
    spark.read.schema("u_user STRING, region STRING").csv(path)

  /** Starts the three topologies on `watch`, checkpointing under `ckpt`. */
  def start(spark: SparkSession, watch: String, ckpt: String, usersPath: String): Seq[StreamingQuery] = {
    val ev = events(spark, watch)
    // 5-minute tumbling count per user with a 3-minute grace
    val tumbling = ev.withWatermark("event_time", "3 minutes")
      .groupBy(window(col("event_time"), "5 minutes"), col("user")).count()
      .select(col("user"), unix_timestamp(col("window.start")).as("window_start_s"),
        col("count").as("cnt"))
    // stream-table enrichment plus keyed sum: clicks per region
    val regionClicks = Joins.streamTableJoin(ev, users(spark, usersPath), "user", "u_user", "inner")
      .groupBy("region").agg(sum("clicks").as("clicks"))
    // watermark deduplication of redelivered events
    val dedup = ev.withWatermark("event_time", "3 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user", "clicks", "event_ms")
    Seq((tumbling, OutputMode.Append()), (regionClicks, OutputMode.Complete()),
      (dedup, OutputMode.Append())).zip(topologies).map { case ((df, mode), name) =>
      df.writeStream.queryName(name).format("memory").outputMode(mode)
        .option("checkpointLocation", s"$ckpt/$name").start()
    }
  }

  def readManifest(path: String): Seq[EventFile] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().drop(1).map(_.split(",")).map { a =>
      EventFile(a(0), a(1), a(2).toDouble, a(3).toLong)
    }.toVector
    finally src.close()
  }

  def run(spec: Spec, out: Recorder): Unit = {
    val staging = spec("staging")
    val work = spec("work")
    val usersPath = s"$staging/users.csv"
    val files = readManifest(s"$staging/manifest.csv")
    val warm = files.filter(_.phase == "warm")
    val open = files.filter(_.phase == "open")
    val backlogs = files.filter(_.phase.startsWith("backlog")).groupBy(_.phase).toSeq.sortBy(_._1)

    def publish(f: EventFile, dir: String, dueMs: Double): Unit = {
      Files.createLink(Paths.get(dir, f.name), Paths.get(staging, "events", f.name))
      out.rec("publish", "file" -> f.name, "phase" -> f.phase, "due" -> dueMs,
        "actual" -> Clock.nowMs, "events" -> f.events)
    }
    def awaitAll(qs: Seq[StreamingQuery]): Unit = qs.foreach(_.processAllAvailable())
    // no batch for 300 ms (a no-data batch may follow the last data batch)
    def awaitIdle(qs: Seq[StreamingQuery]): Unit = {
      awaitAll(qs)
      def last = qs.map(q => Option(q.lastProgress).map(_.batchId))
      var seen = last
      var quietSince = Clock.nowMs
      while (Clock.nowMs - quietSince < 300) {
        Thread.sleep(5)
        val now = last
        if (now != seen) { seen = now; quietSince = Clock.nowMs }
      }
    }

    // set-up rounds: session, the three topologies, one warm batch each
    var spark: SparkSession = null
    var queries: Seq[StreamingQuery] = Nil
    var watch = ""
    var ckpt = ""
    val progress = new ProgressRecorder(out)
    for (r <- 0 until spec.int("setup_rounds")) {
      queries.foreach(_.stop())
      spark = Main.freshSession(Option(spark), spec("cores"), out, r)
      val t0 = Clock.nowMs
      watch = s"$work/round$r/watch"
      ckpt = s"$work/round$r/ckpt"
      Seq("warm", "open").foreach(d => Files.createDirectories(Paths.get(watch, d)))
      Tag.set(spark.sparkContext, s"setup$r", "setup")
      queries = start(spark, watch, ckpt, usersPath)
      warm.foreach(f => publish(f, s"$watch/warm", Clock.nowMs))
      awaitAll(queries)
      out.rec("setup_prep", "round" -> r, "start" -> t0, "end" -> Clock.nowMs)
    }
    spark.streams.addListener(progress)
    val tracer = if (spec.flag("trace")) Some(new Tracer(spark, out, withProgress = false)) else None
    tracer.foreach(_.start())
    Tag.set(spark.sparkContext, "stream", "stream")

    // open loop: one generator thread publishes file i at t0 + due_i,
    // whatever the topologies are doing
    val t0 = Clock.nowMs + 100
    val generator = new Thread(() => open.foreach { f =>
      val due = t0 + f.dueMs
      var wait = due - Clock.nowMs
      while (wait > 0) {
        LockSupport.parkNanos((wait * 1e6).toLong)
        wait = due - Clock.nowMs
      }
      publish(f, s"$watch/open", due)
    }, "graftbench-generator")
    generator.start()
    generator.join()
    awaitAll(queries)
    out.rec("open_loop", "start" -> t0, "end" -> Clock.nowMs)

    // closed catch-up rounds: once the topologies are idle, each backlog
    // appears at once (linked into a directory outside the watched one,
    // which is then renamed into it) and is drained
    backlogs.foreach { case (phase, fs) =>
      awaitIdle(queries)
      val pending = Paths.get(work, "pending", phase)
      Files.createDirectories(pending)
      fs.foreach(f => Files.createLink(pending.resolve(f.name), Paths.get(staging, "events", f.name)))
      val b0 = Clock.nowMs
      Files.move(pending, Paths.get(watch, phase), StandardCopyOption.ATOMIC_MOVE)
      fs.foreach(f => out.rec("publish", "file" -> f.name, "phase" -> f.phase, "due" -> b0,
        "actual" -> b0, "events" -> f.events))
      awaitAll(queries)
      out.rec("catch_up", "phase" -> phase, "start" -> b0, "end" -> Clock.nowMs,
        "events" -> fs.map(_.events).sum)
    }
    tracer.foreach(_.stop())
    spark.streams.removeListener(progress)
    Tag.set(spark.sparkContext, "check", "check")

    val watermarkMs = queries.head.lastProgress.eventTime.get("watermark") match {
      case null => Long.MinValue
      case w => java.time.Instant.parse(w).toEpochMilli
    }
    queries.foreach(_.stop())

    // the file source's log offset of each file, per topology
    topologies.foreach { q =>
      val log = Paths.get(ckpt, q, "sources", "0")
      val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
      val offset = scala.collection.mutable.Map.empty[String, Long]
      Files.list(log).toArray.map(_.asInstanceOf[Path])
        .filterNot(_.getFileName.toString.startsWith(".")).foreach { p =>
        Files.readAllLines(p).forEach { l =>
          entry.findFirstMatchIn(l).foreach { m =>
            val name = m.group(1).split('/').last
            val b = m.group(2).toLong
            if (offset.get(name).forall(_ > b)) offset(name) = b
          }
        }
      }
      offset.foreach { case (f, b) => out.rec("file_batch", "query" -> q, "file" -> f, "log" -> b) }
    }

    // each topology's final result equals its batch form over every
    // published file, for windows the watermark has closed
    val published = Files.walk(Paths.get(watch)).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".csv"))
      .map(_.toString).toIndexedSeq
    val batchEv = spark.read.schema(eventSchema).csv(published: _*)
      .withColumn("ts_us", col("event_ms") * 1000L)
    val expected = Map(
      "tumbling" -> Windows.tumblingCount(batchEv, "ts_us", "5 minutes", col("user"))
        .where((col("window_start_s") + 300L) * 1000L <= lit(watermarkMs)),
      "region_clicks" -> Joins.streamTableJoin(batchEv, users(spark, usersPath), "user", "u_user", "inner")
        .groupBy("region").agg(sum("clicks").as("clicks")),
      // redelivered events are exact copies, so distinct rows are the dedup
      "dedup" -> batchEv.select("event_id", "user", "clicks", "event_ms").distinct())
    topologies.foreach { q =>
      val got = spark.table(q)
      val want = expected(q).select(got.columns.map(col).toIndexedSeq: _*)
      val (g, w) = (got.count(), want.count())
      val missing = want.exceptAll(got).count()
      val extra = got.exceptAll(want).count()
      val ok = g == w && missing == 0 && extra == 0 && g > 0
      out.rec("check", "name" -> s"stream:$q", "ok" -> ok, "rows" -> g,
        "detail" -> s"stream rows $g, batch rows $w, missing $missing, extra $extra")
    }
    out.rec("watermark", "ms" -> watermarkMs.toDouble)
  }
}
