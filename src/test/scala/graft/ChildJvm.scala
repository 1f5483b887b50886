package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Runs a main from the test class path in a fresh JVM with its own
  * `java.io.tmpdir`, so other suites' cached data and scratch state stay
  * out of what it sees.
  */
object ChildJvm {

  /** The child's exit code; its output goes to `log`. */
  def run(tmp: Path, log: Path, main: String, args: String*): Int = {
    // the parent's module opens and -D settings, minus its tmpdir and heap
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-D"))
      .filterNot(_.startsWith("-Djava.io.tmpdir"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ inherited ++
      Seq("-Xmx2g", "-Xss32m", s"-Djava.io.tmpdir=$tmp",
        "-cp", System.getProperty("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log.toFile)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.start().waitFor()
  }

  def logTail(log: Path): String =
    Files.readAllLines(log).asScala.takeRight(30).mkString("\n")
}
