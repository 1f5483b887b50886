package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Torn-tail recovery, the one permissive read every shard format uses
  * — the reference's log-and-continue handler (T2) applied to binary
  * shards. Each shard is walked by its format's STRICT walk; every
  * record the walk fully read and verified survives, and the first
  * framing/checksum failure (`IllegalArgumentException`) ends the shard
  * with one marker carrying the bytes it abandoned. A corrupted byte can
  * therefore only DROP records, never surface a wrong one, and every
  * drop is counted: the markers feed one `observe` metric per read,
  * `graft.<format>.skip.<n>` (`dropped_bytes`, `corrupt_shards`), before
  * they are filtered out. Names are sequence-suffixed (the
  * `Dedup.capBuckets` convention), so one query can combine two reads of
  * a format. A raw `IOException` is a genuine stream fault,
  * not a torn shard: it propagates and fails the task so Spark retries.
  */
private[graft] object Recovery {

  private val skipSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** The recovery walk over one shard: `Right(record)` for each record
    * the strict `walk` yields, then, only if the walk failed, one
    * `Left(shardLen - bytes consumed through the last record yielded)`.
    * `consumed` is read after each record. The walk is built lazily, so
    * a corrupted first header is caught here, not thrown at
    * construction (the whole shard is then dropped).
    */
  def recover[T](walk: => Iterator[T], shardLen: Long,
                 consumed: () => Long): Iterator[Either[Long, T]] =
    new Iterator[Either[Long, T]] {
      private lazy val inner = walk
      private var good = 0L
      private var pending: Option[Either[Long, T]] = None
      private var done = false
      private def fetch(): Unit =
        if (pending.isEmpty && !done) {
          try {
            if (inner.hasNext) {
              val r = inner.next()
              good = consumed()
              pending = Some(Right(r))
            } else done = true
          } catch {
            case _: IllegalArgumentException =>
              done = true
              pending = Some(Left(math.max(0L, shardLen - good)))
          }
        }
      override def hasNext: Boolean = { fetch(); pending.isDefined }
      override def next(): Either[Long, T] = {
        fetch()
        val r = pending.getOrElse(throw new NoSuchElementException)
        pending = None
        r
      }
    }

  /** [[recover]] for a walk that reads its stream exactly, with no
    * read-ahead: consumption is counted at the stream it reads.
    */
  def recoverCounted[T](in: java.io.InputStream, shardLen: Long)(
      walk: java.io.InputStream => Iterator[T]): Iterator[Either[Long, T]] = {
    val counted = new CountingStream(in)
    recover(walk(counted), shardLen, () => counted.count)
  }

  private final class CountingStream(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    var count = 0L
    override def read(): Int = { val b = in.read(); if (b >= 0) count += 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val k = in.read(b, off, len); if (k > 0) count += k; k
    }
    override def skip(n: Long): Long = { val k = in.skip(n); count += k; k }
    override def markSupported(): Boolean = false
  }

  /** The permissive read of every shard `glob` matches, one task per
    * shard ([[Sources.shardRecords]]): `shard` recovers one shard,
    * `row` turns a surviving record into a row of `schema` (records it
    * is not defined on were read whole and are skipped, not counted as
    * dropped). Records ride in a nullable `_rec` struct so a marker can
    * be a null record without loosening `schema`'s own nullability.
    */
  def read[T](spark: SparkSession, glob: String, format: String, schema: StructType)(
      shard: (String, Long, java.io.InputStream) => Iterator[Either[Long, T]])(
      row: PartialFunction[T, Row]): DataFrame = {
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(StructType(Seq(
        StructField("_rec", schema), StructField("_tail", LongType, nullable = false))))
    Sources.shardRecords(spark, glob) { (name, len, in) =>
      shard(name, len, in).flatMap {
        case Right(r) => row.lift(r).map(Row(_, 0L))
        case Left(dropped) => Some(Row(null, dropped))
      }
    }.toDF()
      .observe(s"graft.$format.skip.${skipSeq.incrementAndGet()}",
        sum(col("_tail")).as("dropped_bytes"),
        sum(when(col("_rec").isNull, 1L).otherwise(0L)).as("corrupt_shards"))
      .where(col("_rec").isNotNull)
      .select("_rec.*")
  }
}
