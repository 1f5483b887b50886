package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.regex.Pattern
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Writes `plans/fingerprints.tsv` under the working directory: per
  * headline entry, a hash of its optimized logical plan (plus its join
  * hints, which canonicalization drops) and of its pre-AQE physical plan,
  * both in Catalyst's canonical form (what `sameResult` and exchange
  * reuse compare), with scratch paths, lambda names and exchange ids
  * masked. Entries are built, never run, on the
  * fixture corpus at width 4, so any JVM writes the same file: rerun it
  * and `git diff --exit-code plans/fingerprints.tsv` lists the entries
  * whose plans moved (PlanSpec pins AQE's runtime choices). Throws,
  * naming the entry, on a cartesian product.
  */
object Explain {

  val out = "plans/fingerprints.tsv"

  def main(args: Array[String]): Unit = {
    val spark = Graft.session("4")
    val rows = try Bench.headline.map(fingerprint(spark, _)) finally spark.stop()
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), rows.map(_.mkString("\t") + "\n").mkString)
    println(s"wrote $out (${rows.size} entries)")
  }

  /** (entry, logical fingerprint, physical fingerprint). */
  def fingerprint(spark: SparkSession, name: String): Seq[String] = {
    // keep canonical commutative chains binary: Spark otherwise folds 3+
    // operands into a MultiCommutativeOp, whose hash includes a `Class`
    // (an identity hash), and sorts its parent's operands by that hash
    spark.conf.set("spark.sql.analyzer.canonicalization.multiCommutativeOpMemoryOptThreshold",
      Int.MaxValue.toString)
    // a frame an earlier entry cached would be substituted into this plan
    spark.catalog.clearCache()
    val qe = SparkEntry.queries(name)(spark, SparkEntry.fixtureDir).queryExecution
    val physical = qe.sparkPlan.canonicalized
    if (physical.exists(_.isInstanceOf[CartesianProductExec]))
      throw new IllegalStateException(s"$name plans a CartesianProduct")
    // on the small fixture tables a dropped broadcast hint plans the same
    val hints = qe.optimizedPlan.collect { case j: Join if j.hint != JoinHint.NONE => j.hint }
    Seq(name, hash(qe.optimizedPlan.canonicalized, hints.mkString("\n")), hash(physical))
  }

  private val tmpDir = Pattern.quote(Paths.get(System.getProperty("java.io.tmpdir")).toString)
  private val masks = Seq(
    // scratch dirs: random names under the temp dir
    Pattern.compile(tmpDir + "/[^/\\s,()\\[\\]]+") -> "<tmp>",
    // synthetic lambda classes: numbered in load order, hashed by identity
    Pattern.compile("\\$\\$Lambda[^\\s,()\\[\\]]*") -> "\\$\\$Lambda",
    // exchange ids: a JVM-wide counter
    Pattern.compile("plan_id=\\d+") -> "plan_id")

  private def hash(plan: QueryPlan[_], extra: String = ""): String = {
    val text = masks.foldLeft(plan.treeString(verbose = true, maxFields = Int.MaxValue) + extra) {
      case (t, (p, r)) => p.matcher(t).replaceAll(r)
    }
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
