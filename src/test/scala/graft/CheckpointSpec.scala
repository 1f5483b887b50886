package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicReference
import scala.jdk.CollectionConverters._
import graft.streaming.LocalCheckpointFileManager
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** [[LocalCheckpointFileManager]]: the atomic-publish contract Spark's
  * metadata logs and state stores rely on, and streaming checkpoints
  * that cross from Spark's manager to graft's on restart. */
class CheckpointSpec extends GraftTest {

  private val sparkManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
  private val hdfsStore =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  private val rocksDbStore =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** A temp dir swept at JVM exit. */
  private def tmpDir(tag: String): NioPath = Paths.get(ProbeUtil.scratchDir(tag))

  private def manager(dir: NioPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), spark.sparkContext.hadoopConfiguration)

  private def write(fm: LocalCheckpointFileManager, file: NioPath, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(new Path(file.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(file: NioPath): String = new String(Files.readAllBytes(file), UTF_8)

  private def names(dir: NioPath): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
  }

  private def filesUnder(dir: NioPath): Seq[NioPath] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
  }

  /** Hadoop's checksum files are hidden: `.<name>.crc`. (Spark's own state
    * checksums, `<name>.crc`, are ordinary checkpoint files.) */
  private def hadoopCrc(dir: NioPath): Seq[NioPath] = filesUnder(dir).filter { f =>
    val n = f.getFileName.toString
    n.startsWith(".") && n.endsWith(".crc")
  }

  test("publish without overwrite onto an existing file throws Hadoop's FileAlreadyExistsException") {
    val dir = tmpDir("ckpt-noov")
    val fm = manager(dir)
    val target = dir.resolve("0")
    write(fm, target, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, target, "second", overwrite = false))
    assert(read(target) === "first", "the existing file must keep its content")
    assert(names(dir) === Seq("0"), "no temp file may be left behind")
  }

  test("publish with overwrite replaces the content and removes a stale .crc") {
    val dir = tmpDir("ckpt-ov")
    val fm = manager(dir)
    val target = dir.resolve("2.delta")
    write(fm, target, "old", overwrite = true)
    Files.write(dir.resolve(".2.delta.crc"), Array[Byte](1, 2, 3, 4))
    write(fm, target, "new", overwrite = true)
    assert(read(target) === "new")
    assert(names(dir) === Seq("2.delta"), "the stale checksum and the temp file must be gone")
  }

  test("cancel() leaves neither the target nor a temp file") {
    val dir = tmpDir("ckpt-cancel")
    val out = manager(dir).createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).exists(n => n.startsWith(".1.") && n.endsWith(".tmp")),
      s"bytes go to a hidden temp file first; found ${names(dir)}")
    out.cancel()
    out.close() // a cancelled stream must not publish on close
    assert(names(dir).isEmpty, s"found ${names(dir)}")
  }

  test("a stateful query on Graft.session leaves no .crc under offsets/, commits/ and state/") {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = tmpDir("ckpt-nocrc")
    val in = MemoryStream[String]
    val q = in.toDS().groupBy("value").count().writeStream
      .format("memory").queryName("ckpt_nocrc").outputMode("complete")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData("a", "b", "a")
      q.processAllAvailable()
      in.addData("a")
      q.processAllAvailable()
    } finally q.stop()
    val counts = spark.table("ckpt_nocrc").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("a" -> 3L, "b" -> 1L))
    for (sub <- Seq("offsets", "commits", "state")) {
      assert(filesUnder(ckpt.resolve(sub)).nonEmpty, s"$sub/ must hold checkpoint files")
      val crc = hadoopCrc(ckpt.resolve(sub))
      assert(crc.isEmpty, s"$sub/ holds Hadoop checksum files: $crc")
    }
  }

  /** A complete-mode file-source aggregation, checkpointed first under
    * Spark's manager, then, after a crash between the state commit and the
    * commit-log write, resumed twice under graft's manager. The resumed
    * runs replay the last batch, overwrite its state files, and must end
    * where an uninterrupted run ends. */
  private def restartAcrossManagers(provider: String): Unit = {
    import spark.implicits._
    val base = tmpDir("ckpt-restart")
    val src = base.resolve("src")
    Files.createDirectories(src)
    var files = 0
    def addFile(rows: Seq[(String, Long)]): Unit = {
      files += 1
      val staged = base.resolve(s"stage-$files")
      rows.toDF("k", "v").coalesce(1).write.parquet(staged.toString)
      val part = Files.list(staged).filter(_.toString.endsWith(".parquet")).findFirst().get()
      val target = src.resolve(s"f$files.parquet")
      Files.move(part, target)
      // the source admits files oldest-first: pin the order
      Files.setLastModifiedTime(target, FileTime.fromMillis(1000000L * files))
    }
    val schema = Seq(("k", 1L)).toDF("k", "v").schema
    def session(manager: Option[String]): SparkSession = {
      val s = spark.newSession()
      manager match {
        case Some(m) => s.conf.set(LocalCheckpointFileManager.ConfKey, m)
        case None => Graft.configure(s)
      }
      s.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      s.conf.set("spark.sql.shuffle.partitions", "2")
      s
    }
    def run(s: SparkSession, ckpt: NioPath): Seq[Row] = {
      val last = new AtomicReference[Seq[Row]](Nil)
      val q = s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src.toString)
        .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("s"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) => last.set(batch.collect().toSeq) }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      last.get.sortBy(_.getString(0))
    }

    val ckpt = base.resolve("ckpt")
    addFile(Seq(("a", 1L), ("b", 2L)))
    addFile(Seq(("a", 10L), ("c", 3L)))
    run(session(Some(sparkManager)), ckpt)
    assert(hadoopCrc(ckpt.resolve("state")).nonEmpty,
      "Spark's manager must have left checksums for the resumed runs to meet")
    // crash after batch 1's state commit, before its commit-log entry
    Files.delete(ckpt.resolve("commits/1"))
    Files.delete(ckpt.resolve("commits/.1.crc"))
    val replayed = run(session(None), ckpt)
    assert(replayed === Seq(Row("a", 2L, 11L), Row("b", 1L, 2L), Row("c", 1L, 3L)),
      s"batch 1 replays onto the state of batch 0; got $replayed")
    // the replay rewrote state version 2, so the checksums Spark's manager
    // wrote for the replaced files must be gone
    val staleCrc = hadoopCrc(ckpt.resolve("state"))
      .filter(f => Set(".2.delta.crc", ".2.zip.crc")(f.getFileName.toString))
    assert(staleCrc.isEmpty, s"stale checksums of replaced state files: $staleCrc")
    addFile(Seq(("a", 100L), ("d", 4L)))
    val resumed = run(session(None), ckpt)
    val uninterrupted = run(session(None), base.resolve("ckpt-ref"))
    assert(resumed === uninterrupted, s"resumed $resumed vs uninterrupted $uninterrupted")
    assert(resumed === Seq(Row("a", 3L, 111L), Row("b", 1L, 2L), Row("c", 1L, 3L), Row("d", 1L, 4L)))
  }

  test("restart across managers: HDFS-backed state store resumes to the uninterrupted result") {
    restartAcrossManagers(hdfsStore)
  }

  test("restart across managers: RocksDB state store resumes to the uninterrupted result") {
    restartAcrossManagers(rocksDbStore)
  }
}
