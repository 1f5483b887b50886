package graft

import graft.sources.Npy
import graft.crawl.Robots
import org.apache.spark.sql.functions._

/** Byte-level npy contract + RFC 9309 verdict edge cases. */
class NpyRobotsSpec extends GraftTest {

  test("npy: roundtrip header + data, 64-byte alignment, 1-tuple shape form") {
    val data = Array[Byte](1, 0, 0, 0, 0, 0, 0, 0, 2, 0, 0, 0, 0, 0, 0, 0)
    val b = Npy.encode("<i8", Seq(2L), data)
    val (h, off) = Npy.parseHeader(b)
    assert(h.descr === "<i8" && h.shape === Seq(2L) && !h.fortran)
    assert(off % 64 === 0, "data must start 64-byte aligned")
    assert(java.util.Arrays.equals(java.util.Arrays.copyOfRange(b, off, b.length), data))
    // the header dict uses the python 1-tuple spelling "(2,)"
    assert(new String(b, 10, off - 10, "US-ASCII").contains("(2,)"))
  }

  private def expectBad(b: Array[Byte], fragment: String): Unit = {
    val e = intercept[IllegalArgumentException](Npy.parseHeader(b))
    assert(e.getMessage.startsWith("npy:") && e.getMessage.contains(fragment), e.getMessage)
  }

  test("npy: strict validation failures") {
    val good = Npy.encode("<f4", Seq(1L, 2L), Array[Byte](0, 0, 0, 0, 0, 0, 0, 0))
    // bad magic
    val badMagic = good.clone(); badMagic(0) = 'X'
    expectBad(badMagic, "bad magic")
    // unsupported version
    val badVer = good.clone(); badVer(6) = 3
    expectBad(badVer, "unsupported version")
    // torn data (shape disagrees with remaining bytes)
    expectBad(java.util.Arrays.copyOf(good, good.length - 4), "shape")
    // fortran order rejected
    val f = new String(good, 10, good.length - 10 - 8, "US-ASCII")
      .replace("False", "True ")
    val fortran = java.util.Arrays.copyOf(good, good.length)
    System.arraycopy(f.getBytes("US-ASCII"), 0, fortran, 10, f.length)
    expectBad(fortran, "fortran_order")
  }

  test("npy shards: deterministic residue layout roundtrips; torn shard quarantines whole") {
    // the bare-.npy directory (r17): shard j = ids with id % 4 == j,
    // rows ascending by id — the mapping the s_npy oracle replays
    import spark.implicits._
    val df = (0L until 20L).map(i => (i, Array.tabulate(3)(j => (i * 10 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val out = ProbeUtil.scratchDir("npy-shards")
    Npy.writeNpyShards(df, out, "vec_id", "embedding", shards = 4)
    val got = Npy.readNpyShards(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toVector))
      .sortBy(t => (t._1, t._2))
    assert(got.length === 20)
    // shard 1, row_idx 2 must be vec_id 9 (ids 1,5,9,... ascending)
    val r12 = got.find(t => t._1 == 1 && t._2 == 2).get
    assert(r12._3 === Vector(90f, 91f, 92f))
    // every row's floats reconstruct its vec_id: id = shard + 4*row_idx
    got.foreach { case (s, ri, v) =>
      val id = s + 4 * ri
      assert(v === Vector.tabulate(3)(j => (id * 10 + j).toFloat), s"shard $s row $ri")
    }
    // torn tail: strict fails the task, permissive quarantines the WHOLE
    // shard (no record framing — no salvageable prefix)
    val victim = java.nio.file.Paths.get(s"$out/part-00002.npy")
    val vb = java.nio.file.Files.readAllBytes(victim)
    java.nio.file.Files.write(victim, java.util.Arrays.copyOf(vb, vb.length - 8))
    intercept[org.apache.spark.SparkException](Npy.readNpyShards(spark, out).collect())
    val surv = Npy.readNpyShardsPermissive(spark, out)
      .select("shard").distinct().collect().map(_.getLong(0)).sorted
    assert(surv === Array(0L, 1L, 3L), "torn shard 2 must quarantine whole")
    // rank-1 shard rejected by the vector decode
    val r1 = Npy.encode("<f4", Seq(2L), Array[Byte](0, 0, 0, 0, 0, 0, 0, 0))
    val e = intercept[IllegalArgumentException](Npy.decodeVectorShard(0L, r1).toVector)
    assert(e.getMessage.contains("rank-2"))
  }

  test("robots: longest match, equal-length Allow tie, no-match allowed, bare-host path is /") {
    import spark.implicits._
    val urls = Seq(
      "https://h.com/p1",        // Disallow /p1
      "https://h.com/p12",       // /p12 allow carve-out beats /p1
      "https://h.com/other",     // no matching rule -> allowed
      "https://h.com",           // bare host -> path "/", no rule on "/" for h.com
      "https://tie.com/x7",      // equal-length /x7 allow+disallow -> Allow wins
      "https://blanket.org/any"  // blanket Disallow /
    ).toDF("u")
    val rules = Seq(
      ("h.com", "/p1", false), ("h.com", "/p12", true),
      ("tie.com", "/x7", false), ("tie.com", "/x7", true),
      ("blanket.org", "/", false)).toDF("host", "prefix", "allow")
    val got = Robots.verdicts(urls, "u", rules)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(got("https://h.com/p1") === false)
    assert(got("https://h.com/p12") === true, "longer Allow must win")
    assert(got("https://h.com/other") === true)
    assert(got("https://h.com") === true, "bare host normalizes to path /")
    assert(got("https://tie.com/x7") === true, "RFC 9309: Allow wins equal-length ties")
    assert(got("https://blanket.org/any") === false)
    // filter form keeps exactly the allowed set
    val kept = Robots.filter(urls, "u", rules).collect().map(_.getString(0)).toSet
    assert(kept === got.filter(_._2).keySet)
  }
}
