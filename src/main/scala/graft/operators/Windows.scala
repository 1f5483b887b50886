package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Windowed aggregation (SURVEY.md §2.4; reference:
  * src/main/scala/com/github/hosnimed/DSLStatefulTransformation.scala:79-86,
  * windowed-key flattening at :117-123).
  *
  * One form for a table and a stream: the w1/w2/w4 streaming entries
  * ([[graft.queries.Twins]]) run these same functions over a stream in
  * complete mode. They use Spark's native `window`/`session_window` — a
  * single hash aggregation keyed on (window, key): partial-aggregates
  * map-side, one shuffle, no sort. A stream that must bound its state
  * adds `withWatermark` (≡ the reference's grace period) before calling
  * them.
  */
object Windows {

  /** Epoch-micros long → TimestampType column (exact: micros is Spark's
    * native timestamp resolution).
    */
  def usToTimestamp(tsUs: Column): Column = timestamp_micros(tsUs)

  /** W1: tumbling window of `width` per extra key, counting records.
    * Output: key cols, `window_start_s` (epoch seconds), `cnt`.
    */
  def tumblingCount(df: DataFrame, tsUs: String, width: String, keys: Column*): DataFrame =
    df.groupBy(window(usToTimestamp(col(tsUs)), width) +: keys: _*)
      .count()
      .select(
        keys :+ unix_timestamp(col("window.start")).as("window_start_s") :+ col("count").as("cnt"): _*)

  /** W2: session windows with inactivity gap `gap` per key.
    * Output: key cols, `session_start_us`, `session_events`.
    * `session_window.end` = last event + gap (Kafka Streams reports last
    * event ts; we expose start + count which both models agree on).
    */
  def sessionCount(df: DataFrame, tsUs: String, gap: String, keys: Column*): DataFrame =
    df.groupBy(session_window(usToTimestamp(col(tsUs)), gap) +: keys: _*)
      .count()
      .select(
        keys :+ unix_micros(col("session_window.start")).as("session_start_us")
             :+ col("count").as("cnt"): _*)

  /** Batch-only gaps-and-islands alternative to [[sessionCount]]: lag +
    * running sum over one per-key time sort, then a plain groupBy — same
    * output granularity (key, session_start_us, cnt). MEASURED tradeoff
    * (ScaleCheck w2 A/B, round 9): the built-in `session_window` wins
    * through ~100× corpus density (1.17 vs 1.22 s) because its single
    * merge pass beats two window passes; at EXTREME per-key densities the
    * order flips (1000×: 10.75 vs 12.41 s, ~13% — the merge buffer's
    * per-session state outgrows the second window scan). Prefer
    * [[sessionCount]] by default — it is also the only streaming-capable
    * form; reach for this one for batch sessionization of corpora whose
    * `Profiling.histogram` shows ≥10⁵ events per key.
    */
  def sessionCountGaps(df: DataFrame, tsUs: String, gapUs: Long, keys: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col(tsUs))
    df.select(keys :+ col(tsUs): _*)
      .withColumn("_prev", lag(col(tsUs), 1).over(w))
      .withColumn("_new",
        // session_window merges an event landing exactly on the previous
        // window's end (prev + gap): only a STRICTLY larger gap starts a
        // new session (verified on Spark 4.1.2 — two events exactly gap
        // apart yield one session), so the split condition is >.
        when(col("_prev").isNull || col(tsUs) - col("_prev") > gapUs, 1).otherwise(0))
      .withColumn("_sid", sum("_new").over(w))
      .groupBy(keys :+ col("_sid"): _*)
      .agg(min(col(tsUs)).as("session_start_us"), count(lit(1)).as("cnt"))
      .drop("_sid", "_prev", "_new")
  }

  /** Density-dispatched batch sessionization (the measured w2 A/B,
    * SCALE.md round 9, turned into an entry point): the built-in
    * [[sessionCount]] wins through ~100× corpus density, the
    * gaps-and-islands form wins ~13% from ~10⁵ events per key — so this
    * probes the maximum per-key event count (one slim count-per-key
    * aggregation) and picks the form. The gap is given ONCE as the
    * interval string both forms must agree on — the microsecond value
    * the gaps form needs derives from it here (the earlier two-argument
    * shape let a mismatched pair silently flip session semantics with
    * data volume).
    *
    * The probe is a PLANNING-TIME aid, priced accordingly: since r12 it
    * runs on a deterministic 1/64 hash sample of (keys, ts) rows — a
    * pruned-column scan whose shuffle/agg volume is 64x below the old
    * full groupBy().count(), with the decision taken at HALF the
    * measured crossover so sampling noise can't flap it (both dispatch
    * targets are result-equal; a borderline mis-pick costs at most the
    * ~13% A/B delta). To skip even the sampled pass, supply the known
    * density via `maxPerKeyHint` (e.g. from a cached
    * [[graft.operators.Profiling]] run); for a one-shot query on a
    * corpus whose density is KNOWN, call the explicit form directly —
    * both stay primary API. Streaming always uses [[sessionCount]] (the
    * only streaming-capable form).
    */
  def sessionCountAuto(df: DataFrame, tsUs: String, gap: String,
                       keys: Column*): DataFrame =
    sessionCountAuto(df, tsUs, gap, None, keys: _*)

  /** [[sessionCountAuto]] with the probe amortized away: `maxPerKeyHint`
    * (when given) stands in for the probed maximum per-key event count.
    */
  def sessionCountAuto(df: DataFrame, tsUs: String, gap: String,
                       maxPerKeyHint: Option[Long], keys: Column*): DataFrame = {
    // the same parser session_window's duration string goes through;
    // calendar months have no fixed microsecond length → refuse loudly
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(iv.months == 0,
      s"sessionCountAuto: gap '$gap' uses calendar months — no fixed microsecond length")
    val gapUs = iv.days * 86400000000L + iv.microseconds
    val gapsFrom = 100000L // measured crossover: ScaleCheck w2 A/B, ~13% win at 1000x density
    val useGaps = maxPerKeyHint match {
      case Some(m) => m >= gapsFrom
      case None =>
        // (VERDICT r11 #5) hintless probe is now SAMPLED: a deterministic
        // 1/64 row sample by hashing (keys, ts) feeds the same
        // count-max aggregation, cutting the probe's shuffle/agg volume
        // 64x (the full-scan groupBy over billions of keys was the
        // hintless path's scale hazard). The scaled estimate is precise
        // exactly where the decision lives — a key at the 1e5 crossover
        // keeps ~1.5k sampled rows (rel std ~2.5%) — and the decision
        // uses HALF the crossover so estimator noise can't flap it;
        // near the crossover both forms are within ~13% (the measured
        // A/B) and they are result-equal (FunctionsSpec), so a borderline
        // mis-pick costs speed, never correctness. Hash sampling (not
        // df.sample) keeps the probe layout-invariant: same data → same
        // dispatch, whatever the partitioning.
        val k = 64L
        val probe = df
          .where(pmod(xxhash64(keys :+ col(tsUs): _*), lit(k)) === 0)
          .groupBy(keys: _*).count().agg(max("count")).collect()(0)
        val est = if (probe.isNullAt(0)) 0L else probe.getLong(0) * k
        est >= gapsFrom / 2
    }
    if (useGaps) sessionCountGaps(df, tsUs, gapUs, keys: _*)
    else sessionCount(df, tsUs, gap, keys: _*)
  }

  /** W3: windowed-key flattening — `key@[start : end]` string key, exactly
    * the reference's projection shape (DSLStatefulTransformation.scala:117-123)
    * with epoch seconds for the bounds.
    */
  def flattenWindowedKey(df: DataFrame, tsUs: String, width: String, key: Column): DataFrame =
    df.groupBy(window(usToTimestamp(col(tsUs)), width), key.as("k"))
      .count()
      .select(
        concat(
          col("k"), lit("@["),
          unix_timestamp(col("window.start")).cast("string"), lit(" : "),
          unix_timestamp(col("window.end")).cast("string"), lit("]")).as("key"),
        col("count").as("cnt"))

  /** W4: hopping/sliding window (free in Spark; unused by the reference). */
  def hoppingCount(df: DataFrame, tsUs: String, width: String, slide: String, keys: Column*): DataFrame =
    df.groupBy(window(usToTimestamp(col(tsUs)), width, slide) +: keys: _*)
      .count()
      .select(
        keys :+ unix_timestamp(col("window.start")).as("window_start_s") :+ col("count").as("cnt"): _*)
}
