package graftbench

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Local properties that tag every Spark job with the query instance and
  * the part of it (construct / action / setup / ...) that started it.
  * Spark copies local properties into child threads, so jobs started by
  * streaming or broadcast threads carry the tag of the thread that
  * spawned them.
  */
object Tag {
  val Qid = "graftbench.qid"
  val Phase = "graftbench.phase"

  def set(sc: SparkContext, qid: String, phase: String): Unit = {
    sc.setLocalProperty(Qid, qid)
    sc.setLocalProperty(Phase, phase)
  }
}

/** Spark's own records of the work, copied into the recorder:
  *  - jobs (tag, times, stage ids, long call site of the result stage,
  *    SQL execution id) and the call sites of SQL executions,
  *  - stages (times plus summed task metrics),
  *  - query executions (tracker phases and executed-plan node counts),
  *  - optionally, streaming progress of every session.
  * Registered only while a traced pass runs; `stop` first waits until the
  * listener bus has delivered everything posted so far.
  */
final class Tracer(spark: SparkSession, out: Recorder, withProgress: Boolean) {
  private val sc = spark.sparkContext

  private final class StageAcc {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, inputRows, spill = 0L
  }
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      out.rec("job_start", "job" -> e.jobId, "t" -> e.time.toDouble,
        "qid" -> prop(Tag.Qid), "phase" -> prop(Tag.Phase),
        "sql" -> prop(SQLExecution.EXECUTION_ID_KEY),
        "stages" -> e.stageIds, "callsite" -> result.map(_.details).getOrElse(""))
    }
    // an SQL execution's call site is the action that started it; jobs
    // its adaptive stages submit from pool threads carry only pool frames
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        out.rec("sql_exec", "id" -> s.executionId.toString, "callsite" -> s.details)
      // progress of every session's streams (graft runs some in sessions
      // of its own) also passes through this bus
      case p: StreamingQueryListener.QueryProgressEvent if withProgress =>
        ProgressRecorder.record(out, p.progress)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      out.rec("job_end", "job" -> e.jobId, "t" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      acc.synchronized {
        acc.tasks += 1
        if (e.taskInfo != null && e.taskInfo.failed) acc.failed += 1
        val m = e.taskMetrics
        if (m != null) {
          acc.runMs += m.executorRunTime
          acc.cpuNs += m.executorCpuTime
          acc.gcMs += m.jvmGCTime
          acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          acc.inputRows += m.inputMetrics.recordsRead
          acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val acc = Option(stages.remove(i.stageId)).getOrElse(new StageAcc)
      out.rec("stage", "stage" -> i.stageId,
        "start" -> i.submissionTime.map(_.toDouble), "end" -> i.completionTime.map(_.toDouble),
        "tasks" -> acc.tasks, "failed_tasks" -> acc.failed, "run_ms" -> acc.runMs,
        "cpu_ms" -> acc.cpuNs / 1e6, "gc_ms" -> acc.gcMs,
        "shuffle_write_bytes" -> acc.shuffleWrite, "shuffle_read_bytes" -> acc.shuffleRead,
        "input_rows" -> acc.inputRows, "spill_bytes" -> acc.spill)
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Seq(p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
    val nodes = try Tracer.planNodes(qe.executedPlan) catch { case _: Throwable => Nil }
    out.rec("qe", "func" -> funcName, "ok" -> ok, "phases" -> phases,
      "scans" -> nodes.count(n => n.isInstanceOf[DataSourceScanExec] || n.isInstanceOf[BatchScanExec]),
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> nodes.count(_.isInstanceOf[BroadcastExchangeLike]))
  }

  private var on = false

  def start(): Unit = if (!on) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(executions)
    on = true
  }

  def stop(): Unit = if (on) {
    ListenerBusDrain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(executions)
    on = false
  }
}

object Tracer {
  /** Every node of an executed plan, descending into adaptive plans,
    * query stages and subqueries.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children.flatMap(planNodes) ++ other.subqueries.flatMap(planNodes))
  }
}

/** Records every micro-batch progress event: wall-clock trigger start,
  * the `durationMs` parts, the state-operator figures and the file
  * source's offset. The stream workload needs it untraced too, because
  * commit times give latency.
  */
final class ProgressRecorder(out: Recorder) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(event: QueryIdleEvent): Unit = ()
  override def onQueryProgress(event: QueryProgressEvent): Unit =
    ProgressRecorder.record(out, event.progress)
}

object ProgressRecorder {
  def record(out: Recorder, p: StreamingQueryProgress): Unit = {
    val dur = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    p.durationMs.forEach((k, v) => dur(k) = v.longValue)
    val ops = p.stateOperators.toSeq
    out.rec("progress", "query" -> Option(p.name).getOrElse(p.id.toString),
      "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "duration" -> dur, "input_rows" -> p.numInputRows,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
      "dropped_rows" -> ops.map(_.numRowsDroppedByWatermark).sum,
      "watermark" -> Option(p.eventTime.get("watermark")),
      "source_end" -> p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(o => "\\d+".r.findFirstIn(o)).map(_.toLong))
  }
}
