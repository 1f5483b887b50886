package graft

/** Temp-directory plumbing shared by queries, ScaleCheck/StreamScale and
  * the tests: scratch dirs swept recursively at JVM exit, and recursive
  * delete. The one place `src/main` makes a temp dir (ContractSpec pins
  * it; ScaleCheck and StreamScale delete their own) — a fix to the
  * delete semantics must not need chasing through clones.
  */
object ProbeUtil {

  // dirs registered by scratchDir: swept recursively at JVM exit
  // (File.deleteOnExit is an empty-dir-only no-op once parquet lands
  // inside — the r11 review's artifact-leak finding)
  private val tracked = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    tracked.forEach(p => try deleteRecursively(p) catch { case _: Exception => () })
  }))

  /** A temp dir swept RECURSIVELY at JVM exit — for model artifacts and
    * other outputs that fill with files after creation.
    */
  def scratchDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    tracked.add(d)
    d.toAbsolutePath.toString
  }

  /** Recursive delete of a replicated-corpus temp dir — multi-GB
    * at large factors, must not outlive the run (including failed runs).
    */
  def deleteRecursively(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
  }
}
