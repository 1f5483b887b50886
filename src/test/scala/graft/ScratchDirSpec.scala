package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Runs the named entries into the noop sink, then exits: the child
  * process of [[ScratchDirSpec]]. Args: sfDir, then entry names.
  */
object ScratchDirChild {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("2")
    val failed = args.tail.filterNot { n =>
      try { SparkEntry.queries(n)(spark, args.head).write.mode("overwrite").format("noop").save(); true }
      catch { case e: Throwable => System.err.println(s"$n failed: $e"); false }
    }
    spark.stop()
    sys.exit(if (failed.isEmpty) 0 else 1)
  }
}

/** Every scratch dir the engine makes is gone once its JVM exits. The
  * entries are run in a child JVM with its own `java.io.tmpdir`, so the
  * check sees only what that JVM left behind.
  */
class ScratchDirSpec extends GraftTest {

  test("a JVM that ran entries with scratch dirs leaves no graft-* dir behind") {
    val root = Files.createTempDirectory("scratch-sweep")
    try {
      val tmp = Files.createDirectory(root.resolve("tmp"))
      val log = root.resolve("child.log").toFile
      // the parent's module opens and -D settings, minus its tmpdir and heap
      val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
        .filterNot(_.startsWith("-Djava.io.tmpdir"))
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ inherited ++
        Seq("-Xmx2g", "-Xss32m", s"-Djava.io.tmpdir=$tmp",
          "-cp", System.getProperty("java.class.path"),
          "graft.ScratchDirChild", sf,
          "s_arrow_roundtrip", "dd_lsh_resolve", "dd_stream_dedup_watermark")
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val exit = pb.start().waitFor()
      def logTail = Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n")
      assert(exit == 0, s"child JVM exited $exit:\n$logTail")
      val listing = Files.list(tmp)
      val left = try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-")).toSeq.sorted
      finally listing.close()
      assert(left.isEmpty, s"scratch dirs outlived the JVM: ${left.mkString(", ")}")
    } finally ProbeUtil.deleteRecursively(root)
  }
}
