package graft.queries

import graft.Graft
import graft.ProbeUtil.scratchDir
import graft.sources.Sources
import graft.streaming.StreamingQueries
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Batch/streaming twins, declared once per pair. One topology runs over
  * a table or over a stream (the reference's KStream/KTable duality;
  * D-Streams' stream as a series of deterministic batch computations):
  * a twin gives ONE body, its batch entry applies the body to a batch
  * source and its `_streaming` entry applies it to the same source as a
  * stream, drains the stream and returns the converged table. The
  * converged table equals the batch result, so the streaming entry's
  * oracle is its batch entry's ([[shareOracles]]).
  */
object Twins {
  type Q = (SparkSession, String) => DataFrame

  /** How a table twin's stream runs to convergence. */
  sealed trait Sink
  /** Stateless: each micro-batch appends its rows to the memory sink. */
  case object Append extends Sink
  /** A streaming aggregation: complete mode, state partitions sized to
    * the table's bytes ([[StreamingQueries.runCompleteAggToMemory]]). */
  case object Complete extends Sink
  /** A table changelog: the canonical rows staged as micro-batches by
    * `batchOf`, each batch recomputing the body's snapshot over the
    * accumulated changelog ([[StreamingQueries.runUpsertSnapshots]]). */
  final case class Upsert(batchOf: Column) extends Sink

  /** A table-stream twin: `body` over the canonical read of `table`
    * ([[Graft.canonicalTable]] for the batch entry,
    * [[StreamingQueries.readStreamParquet]] for the streaming one).
    */
  final case class TableTwin(batch: String, stream: String, table: String, sink: Sink,
                             body: (SparkSession, String, DataFrame) => DataFrame)

  /** A container twin: `body` writes its shards and reads them back
    * through the given source ([[Sources.batchShards]] or
    * [[Sources.streamShards]]); `finish` is the stateful tail a stream
    * cannot append, run on the batch frame or on the converged stream.
    */
  final case class ShardTwin(batch: String, stream: String,
                             body: (SparkSession, String, Sources.ShardSource) => DataFrame,
                             finish: (SparkSession, String, DataFrame) => DataFrame =
                               (_, _, df) => df)

  /** Both entries of every twin. */
  def entries(tables: Seq[TableTwin], shards: Seq[ShardTwin]): Map[String, Q] =
    (tables.flatMap { t =>
      Seq[(String, Q)](
        t.batch -> ((s, d) => t.body(s, d, Graft.canonicalTable(s, d, t.table))),
        t.stream -> ((s, d) => t.sink match {
          case Append =>
            StreamingQueries.runAppendToMemory(s, t.stream,
              t.body(s, d, StreamingQueries.readStreamParquet(s, d, t.table)))
          case Complete =>
            StreamingQueries.runCompleteAggToMemory(s, d, t.table, t.stream, t.body(s, d, _))
          case Upsert(batchOf) =>
            StreamingQueries.runUpsertSnapshots(s, Graft.canonicalTable(s, d, t.table),
              batchOf, scratchDir(t.stream))(t.body(s, d, _))._1
        }))
    } ++ shards.flatMap { t =>
      Seq[(String, Q)](
        t.batch -> ((s, d) => t.finish(s, d, t.body(s, d, Sources.batchShards))),
        t.stream -> ((s, d) => t.finish(s, d, StreamingQueries.runAppendToMemory(s, t.stream,
          t.body(s, d, Sources.streamShards)))))
    }).toMap

  /** Declared twins: streaming entry → batch entry. */
  lazy val declared: Map[String, String] =
    ((CoreQueries.twins ++ PipelineQueries.twins).map(t => t.stream -> t.batch) ++
      (CoreQueries.shardTwins ++ PipelineQueries.shardTwins).map(t => t.stream -> t.batch)).toMap

  /** Streaming entry → the batch entry whose oracle it shares: the
    * declared twins, plus the streaming entries that keep a stateful body
    * of their own (stream-stream joins, foreachBatch state stores,
    * complete-mode partial state, a per-user processor) and converge to
    * their batch entry.
    */
  lazy val batchOf: Map[String, String] = declared ++ Map(
    "j1_streaming" -> "j1_ss_inner",
    "j2_streaming" -> "j2_ss_left",
    "j3_streaming" -> "j3_ss_outer",
    "pp_ingest_streaming" -> "pp_ingest",
    "txt_bm25_streaming" -> "txt_bm25",
    "pp_datacard_streaming" -> "pp_datacard",
    "q_outliers_streaming" -> "q_outliers",
    "q_retention_streaming" -> "q_retention",
    "q_dau_wau_streaming" -> "q_dau_wau",
    "q_funnel_steps_streaming" -> "q_funnel_steps")

  /** `oracles` plus, for each streaming twin, its batch entry's oracle. */
  def shareOracles(oracles: Map[String, String]): Map[String, String] =
    oracles ++ batchOf.flatMap { case (stream, batch) => oracles.get(batch).map(stream -> _) }
}
