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
    // a temp dir made anywhere else is never swept and outlives the JVM;
    // ScaleCheck and StreamScale delete their own dirs
    val allowed = Set("ProbeUtil.scala", "ScaleCheck.scala", "StreamScale.scala")
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles.foreach(walk)
      else if (f.getName.endsWith(".scala") && !allowed(f.getName)) {
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        if ("""createTempDirectory\s*\(""".r.findFirstIn(text).isDefined) offenders += f.getPath
      }
    walk(new java.io.File("src/main/scala"))
    assert(offenders.isEmpty,
      s"Files.createTempDirectory outside ProbeUtil (use ProbeUtil.scratchDir): ${offenders.mkString(", ")}")
  }

  test("flagship entry returns rows (driver smoke-check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
