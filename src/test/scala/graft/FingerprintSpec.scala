package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Fingerprints the named headline entries, one TSV row each, into the
  * file named first: the child process of [[FingerprintSpec]].
  */
object FingerprintChild {
  def main(args: Array[String]): Unit = {
    val spark = Graft.session("4")
    val rows = try args.tail.map(Explain.fingerprint(spark, _)) finally spark.stop()
    Files.writeString(Paths.get(args.head), rows.map(_.mkString("\t") + "\n").mkString)
  }
}

/** A fresh JVM reproduces the checked-in `plans/fingerprints.tsv` rows of
  * the entries whose canonical plans used to depend on object identity
  * (broadcast model handles, `MultiCommutativeOp`'s class hash), plus
  * three that never did. The whole file is regenerated by `graft.Explain`.
  */
class FingerprintSpec extends GraftTest {

  private val entries = Seq(
    "ann_ivf", "ann_pq", "ann_ivfpq", "ann_contrastive", "pp_ctx_windows",
    "pp_dsir", "pp_sample_weighted", "q_hybrid_retrieval",
    "txt_unigram_lp", "txt_bigram_lp", "txt_bm25", "txt_ppl_buckets",
    "q1_agg", "j4_st_inner", "dd_exact")

  test("a fresh JVM reproduces the checked-in plan fingerprints") {
    val root = Paths.get(ProbeUtil.scratchDir("fingerprints"))
    try {
      val tmp = Files.createDirectory(root.resolve("tmp"))
      val log = root.resolve("child.log")
      val out = root.resolve("fingerprints.tsv")
      val exit = ChildJvm.run(tmp, log, "graft.FingerprintChild", out.toString +: entries: _*)
      assert(exit == 0, s"child JVM exited $exit:\n${ChildJvm.logTail(log)}")
      val checkedIn = Files.readAllLines(Paths.get(Explain.out)).asScala
        .map(row => row.takeWhile(_ != '\t') -> row).toMap
      val got = Files.readAllLines(out).asScala.toSeq
      assert(got.map(_.takeWhile(_ != '\t')) === entries)
      val moved = got.filterNot(row => checkedIn.get(row.takeWhile(_ != '\t')).contains(row))
      assert(moved.isEmpty, s"fingerprints differ from ${Explain.out}: ${moved.mkString("; ")}")
    } finally ProbeUtil.deleteRecursively(root)
  }
}
