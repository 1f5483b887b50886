package graft

import graft.streaming.StreamingQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end watermark semantics over the real file-stream source:
  * [[StreamingQueries.readStreamBatched]] admits one staged file per
  * micro-batch, so the watermark advances between batches and genuinely
  * late rows hit the engine's drop path (t3_streaming's oracle replays
  * the exact drop + emission arithmetic; this spec asserts the MECHANISM
  * — batch count, watermark movement, nonzero drop counter).
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

  private def norm(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
    (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))
  }.groupBy(identity).view.mapValues(_.length).toMap

  private def assertStreamingEqualsBatch(streamingName: String, batchName: String) = {
    // time-ordered batches (nothing late-dropped) + the watermark
    // sentinels (all outer state flushed) ⇒ the append-mode streaming
    // result must converge to exactly the batch join — including every
    // null-padded unmatched row
    val streaming = norm(SparkEntry.queries(streamingName)(spark, sf)
      .select("l_event_id", "r_event_id", "key", "combined"))
    val batch = norm(SparkEntry.queries(batchName)(spark, sf)
      .select("l_event_id", "r_event_id", "key", "combined"))
    assert(streaming.size > 0)
    assert(streaming === batch,
      s"$streamingName must equal $batchName; only-in-streaming=${
        (streaming.keySet -- batch.keySet).take(5)}, only-in-batch=${
        (batch.keySet -- streaming.keySet).take(5)}")
    streaming
  }

  test("j3_streaming (full-outer through the engine) equals the batch full-outer join") {
    val streaming = assertStreamingEqualsBatch("j3_streaming", "j3_ss_outer")
    // the outer semantics are real: both null-padded orientations exist
    assert(streaming.keys.exists(_._1.isEmpty), "right-only rows must be null-padded")
    assert(streaming.keys.exists(_._2.isEmpty), "left-only rows must be null-padded")
  }

  test("j2_streaming (left-outer through the engine) equals the batch left join") {
    val streaming = assertStreamingEqualsBatch("j2_streaming", "j2_ss_left")
    assert(streaming.keys.exists(_._2.isEmpty), "left-only rows must be null-padded")
    assert(!streaming.keys.exists(_._1.isEmpty), "a LEFT join emits no right-only rows")
  }
}
