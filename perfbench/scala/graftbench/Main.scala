package graftbench

import java.nio.file.{Files, Paths}

import graft.{Graft, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench process: `Main <spec.properties>`. Runs one workload and writes
  * its raw records (JSON lines) to the spec's `records` path; `run.py`
  * turns them into metrics and checks.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spec = new Spec(args(0))
    val out = new Recorder
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    out.rec("process", "jvm_start" -> jvmStart, "main_start" -> Clock.nowMs)
    try spec("workload") match {
      case "stream_open_loop" => StreamWorkload.run(spec, out)
      case _ => BatchWorkload.run(spec, out)
    } finally {
      out.rec("rss", "peak_mb" -> peakRssMb)
      out.write(spec("records"))
      SparkSession.getActiveSession.foreach(_.stop())
    }
  }

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** A fresh `Graft.session`, stopping the previous one first. */
  def freshSession(prev: Option[SparkSession], cores: String, out: Recorder,
                   round: Int): SparkSession = {
    prev.foreach(_.stop())
    val t0 = Clock.nowMs
    val spark = Graft.session(cores)
    out.rec("session", "round" -> round, "start" -> t0, "end" -> Clock.nowMs)
    spark
  }
}

/** `query_suite`: closed loop, one client. */
object BatchWorkload {
  def run(spec: Spec, out: Recorder): Unit = {
    val dir = spec("data")
    val entries = spec.list("entries")
    val cores = spec("cores")

    // set-up rounds: session plus every input table opened through graft's
    // loader (each open infers the table's schema)
    var spark: SparkSession = null
    for (r <- 0 until spec.int("setup_rounds")) {
      spark = Main.freshSession(Option(spark), cores, out, r)
      val t0 = Clock.nowMs
      Tag.set(spark.sparkContext, s"setup$r", "setup")
      Graft.tableNames.foreach(t => Graft.table(spark, dir, t))
      out.rec("setup_prep", "round" -> r, "start" -> t0, "end" -> Clock.nowMs)
    }
    def runEntry(name: String, qid: String, pass: Int, sink: DataFrame => Unit): Unit = {
      val sc = spark.sparkContext
      Tag.set(sc, qid, "construct")
      val a = Clock.nowMs
      try {
        val built = SparkEntry.queries(name)(spark, dir)
        val b = Clock.nowMs
        Tag.set(sc, qid, "action")
        sink(built)
        out.rec("query", "pass" -> pass, "entry" -> name, "qid" -> qid, "start" -> a,
          "construct_end" -> b, "end" -> Clock.nowMs, "ok" -> true)
      } catch {
        case e: Throwable =>
          out.rec("query", "pass" -> pass, "entry" -> name, "qid" -> qid, "start" -> a,
            "end" -> Clock.nowMs, "ok" -> false, "error" -> e.toString.take(400))
      }
    }
    val noop: DataFrame => Unit = _.write.mode("overwrite").format("noop").save()

    // two warm passes (untimed, passes -2 and -1): the JIT is still warming
    // through the first; the first also writes the oracle outputs
    val w0 = Clock.nowMs
    entries.foreach { name =>
      val sink: DataFrame => Unit =
        if (SparkEntry.oracleSql.contains(name))
          _.write.mode("overwrite").parquet(s"${spec("outputs")}/$name")
        else noop
      runEntry(name, s"warm:$name", -2, sink)
    }
    entries.foreach(name => runEntry(name, s"warm2:$name", -1, noop))
    out.rec("warm_pass", "start" -> w0, "end" -> Clock.nowMs)
    // some entries register their oracle while they are built
    val sql = new StringBuilder
    Recorder.value(sql, entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    Files.write(Paths.get(spec("outputs"), "oracle_sql.json"), sql.toString.getBytes("UTF-8"))

    // timed passes; in a traced run the odd passes are traced and the even
    // ones around them are not, so the run states its own tracing overhead
    val tracer = if (spec.flag("trace")) Some(new Tracer(spark, out, withProgress = true)) else None
    val windowMs = spec.double("seconds") * 1000
    val minPasses = spec.int("min_passes")
    val tStart = Clock.nowMs
    var pass = 0
    while (pass < minPasses || Clock.nowMs - tStart < windowMs) {
      val traced = tracer.isDefined && pass % 2 == 1
      if (traced) tracer.get.start()
      val ps = Clock.nowMs
      entries.foreach(name => runEntry(name, s"p$pass:$name", pass, noop))
      val pe = Clock.nowMs
      Tag.set(spark.sparkContext, "", "")
      if (traced) tracer.get.stop()
      out.rec("pass", "pass" -> pass, "start" -> ps, "end" -> pe, "traced" -> traced)
      pass += 1
    }
  }
}
