package graft

import graft.queries.Twins
import graft.streaming.StreamingQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** End-to-end watermark semantics over the real file-stream source:
  * [[StreamingQueries.readStreamBatched]] admits one staged file per
  * micro-batch, so the watermark advances between batches and genuinely
  * late rows hit the engine's drop path (t3_streaming's oracle replays
  * the exact drop + emission arithmetic; this spec asserts the MECHANISM
  * — batch count, watermark movement, nonzero drop counter). Every
  * batch/streaming twin converges to its batch entry's rows.
  */
class WatermarkBatchSpec extends GraftTest {
  test("three-batch stream advances the watermark and drops late input") {
    val src = StreamingQueries
      .readStreamBatched(spark, sf, "events",
        when(pmod(col("event_id"), lit(2)) === 0, 0)
          .when(pmod(col("event_id"), lit(4)) === 1, 1).otherwise(2))
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "5 minutes"), col("event_type"))
      .count()
    val q = src.writeStream.format("memory").queryName("wm3b")
      .outputMode("append")
      .option("checkpointLocation", ProbeUtil.scratchDir("wm3b"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progress = q.recentProgress
    val dataBatches = progress.count(_.numInputRows > 0)
    assert(dataBatches === 3, s"expected 3 data micro-batches, saw $dataBatches")
    val watermarks = progress.map(_.eventTime.get("watermark")).distinct
    assert(watermarks.length >= 3, s"watermark must advance across batches: ${watermarks.toSeq}")
    val dropped = progress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped > 0, "batch-3 late rows must hit the real drop path")
  }

  /** `df`'s rows as a multiset, columns in `cols` order. */
  private def rows(df: DataFrame, cols: Seq[String]) =
    df.select(cols.map(col): _*).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }).groupBy(identity).view.mapValues(_.length).toMap

  /** Runs `streamingName` beside `batchName` on the fixture corpus and
    * asserts the converged stream holds exactly the batch entry's rows. */
  private def assertStreamingEqualsBatch(streamingName: String, batchName: String) = {
    val b = SparkEntry.queries(batchName)(spark, sf)
    val batch = rows(b, b.columns.toSeq)
    val streaming = rows(SparkEntry.queries(streamingName)(spark, sf), b.columns.toSeq)
    assert(streaming.nonEmpty)
    assert(streaming === batch,
      s"$streamingName must equal $batchName; only-in-streaming=${
        (streaming.keySet -- batch.keySet).take(5)}, only-in-batch=${
        (batch.keySet -- streaming.keySet).take(5)}")
    streaming
  }

  // every declared twin: the stream entry runs the batch entry's body
  Twins.declared.toSeq.sorted.foreach { case (streamingName, batchName) =>
    test(s"twin $streamingName converges to $batchName") {
      assertStreamingEqualsBatch(streamingName, batchName)
    }
  }

  test("j3_streaming (full-outer through the engine) equals the batch full-outer join") {
    // time-ordered batches (nothing late-dropped) + the watermark
    // sentinels (all outer state flushed) ⇒ the append-mode streaming
    // result must converge to exactly the batch join — including every
    // null-padded unmatched row
    val streaming = assertStreamingEqualsBatch("j3_streaming", "j3_ss_outer")
    // the outer semantics are real: both null-padded orientations exist
    assert(streaming.keys.exists(_(0) == null), "right-only rows must be null-padded")
    assert(streaming.keys.exists(_(1) == null), "left-only rows must be null-padded")
  }

  test("j2_streaming (left-outer through the engine) equals the batch left join") {
    val streaming = assertStreamingEqualsBatch("j2_streaming", "j2_ss_left")
    assert(streaming.keys.exists(_(1) == null), "left-only rows must be null-padded")
    assert(!streaming.keys.exists(_(0) == null), "a LEFT join emits no right-only rows")
  }

  test("j1_streaming (the outer joins' staging, inner) equals the batch inner join") {
    val streaming = assertStreamingEqualsBatch("j1_streaming", "j1_ss_inner")
    assert(!streaming.keys.exists(k => k(0) == null || k(1) == null),
      "an INNER join pads nothing")
  }

  test("a stream read of a corpus table has its batch read's canonical schema") {
    // a regenerated corpus that ships double vectors: both reads must
    // hand the kernels array<float>
    val dir = ProbeUtil.scratchDir("dbl-emb")
    Graft.table(spark, sf, "embeddings")
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .write.parquet(s"$dir/embeddings.parquet")
    def fields(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    val emb = StreamingQueries.readStreamParquet(spark, dir, "embeddings")
    assert(emb.schema("embedding").dataType.asInstanceOf[ArrayType].elementType === FloatType)
    assert(fields(emb) === fields(Graft.embeddings(spark, dir)))
    // events: nanos `ts` plus `ts_us`, as Graft.events gives them
    assert(fields(StreamingQueries.readStreamParquet(spark, sf, "events")) ===
      fields(Graft.events(spark, sf)))
  }
}
