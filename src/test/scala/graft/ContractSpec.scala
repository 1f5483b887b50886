package graft

/** Static driver-contract invariants — cheap checks that catch the
  * failure modes the round gate can only surface late and expensively:
  * an oracle keyed to a missing query (silently zero coverage), a
  * duplicate query name across the two registries (one silently wins),
  * or the flagship entry going empty.
  */
class ContractSpec extends GraftTest {

  test("every oracleSql key has a queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("core and pipeline query names never collide") {
    val dup = graft.queries.CoreQueries.all.keySet
      .intersect(graft.queries.PipelineQueries.all.keySet)
    assert(dup.isEmpty, s"duplicate query names (one registry shadows the other): $dup")
    val dupO = graft.queries.CoreQueries.oracles.keySet
      .intersect(graft.queries.PipelineQueries.oracles.keySet)
    assert(dupO.isEmpty, s"duplicate oracle names: $dupO")
  }

  test("bench headline names all resolve to queries") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"bench names without a query: $missing")
  }

  test("oracle SQL strings contain no control chars that survive JSON escaping badly") {
    // Verify.q() escapes them, but a stray vertical tab or null byte in
    // builder-authored SQL is always a mistake worth failing fast on
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(!sql.exists(c => c < ' ' && c != '\n' && c != '\t' && c != '\r'),
        s"$k oracle contains an exotic control character")
    }
  }

  test("src/main makes temp dirs only through ProbeUtil.scratchDir") {
    // and so does src/test: a temp dir made anywhere else is never swept
    // and outlives the JVM
    val allowed = Set("ProbeUtil.scala")
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala") && !allowed(f.getName)) {
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        if ("""createTemp(Directory|File)\s*\(""".r.findFirstIn(text).isDefined) offenders += f.getPath
      }
    walk(new java.io.File("src/main/scala"))
    walk(new java.io.File("src/test/scala"))
    assert(offenders.isEmpty,
      s"temp dir or file made outside ProbeUtil (use ProbeUtil.scratchDir): ${offenders.mkString(", ")}")
  }

  test("src/main names graft.<format>.skip metrics only in the shared recovery read") {
    // one permissive read (graft.sources.Recovery) observes every shard
    // format's drops; a hand-copied observe wrapper would bring back a
    // second recovery path
    val helper = "Recovery.scala"
    val named = scala.collection.mutable.ArrayBuffer[String]()
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala")) {
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        if (text.contains(".skip.$")) named += f.getName
      }
    walk(new java.io.File("src/main/scala"))
    assert(named.toSeq === Seq(helper), s"files naming a .skip metric: ${named.mkString(", ")}")
  }

  test("the queries layer opens no stream of its own") {
    // a streaming entry is its batch body over a stream source
    // (graft.queries.Twins, StreamingQueries, Sources.streamShards), so
    // no entry re-types a readStream chain or a binaryFile shard source
    val opens = """\.readStream\b(?!\s*\()|format\("binaryFile"\)""".r
    val sites = new java.io.File("src/main/scala/graft/queries").listFiles
      .filter(_.getName.endsWith(".scala")).sortBy(_.getName).toSeq.flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        lines.indices.filter(i => opens.findFirstIn(lines(i)).isDefined)
          .map(i => s"${f.getName}:${i + 1}")
      }
    assert(sites.isEmpty, s"stream sources opened in the queries layer: ${sites.mkString(", ")}")
  }

  test("src/main calls foreachBatch in exactly one place, the drain") {
    // every per-batch store driver runs through StreamingQueries' one
    // drain; a second foreachBatch loop would bring back a copied drain
    val call = """\.foreachBatch\s*[({]""".r
    val sites = scala.collection.mutable.ArrayBuffer[String]()
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.sortBy(_.getName).foreach(walk)
      else if (f.getName.endsWith(".scala")) {
        val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        lines.indices.filter(i => call.findFirstIn(lines(i)).isDefined)
          .foreach(i => sites += s"${f.getName}:${i + 1}")
      }
    walk(new java.io.File("src/main/scala"))
    assert(sites.size === 1 && sites.head.startsWith("StreamingQueries.scala:"),
      s"foreachBatch calls: ${sites.mkString(", ")}")
  }

  test("flagship entry returns rows (driver smoke-check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
