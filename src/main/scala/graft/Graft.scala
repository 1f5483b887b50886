package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory + canonical table loaders for the graft engine.
  *
  * Conventions (see SURVEY.md §1): a "KStream" is a DataFrame with at least
  * `key` (string) and `value` columns plus an event-time column `ts_us`
  * (epoch microseconds, BIGINT). Epoch-micros longs are used instead of
  * TimestampType at the edges because integer time survives engine
  * roundtrips exactly. The corpus has shipped `events.ts` under two
  * physical types — timestamp[ns] (Spark reads a raw nanos LONG via
  * `nanosAsLong`) and timestamp[us] (Spark reads TimestampType) — so every
  * events read goes through [[Graft.normalizeEventTs]], which canonicalizes
  * `ts` to the epoch-nanos long the engine was built on.
  */
object Graft {

  /** Build a local session with the configs every graft query assumes.
    * `cpus` controls both parallelism and shuffle partitions — on a real
    * cluster shuffle partitions would instead be sized to data volume
    * (~128MB per task) and AQE coalesces the rest.
    */
  def session(cpus: String = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // reference-parity arithmetic: the JVM engine this reproduces wraps
      // on 64-bit overflow (Java semantics); ANSI overflow errors would
      // also forbid the multiply-add hash permutations in graft.dedup
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    // the in-memory catalog forgets its tables when the JVM exits, so
    // its warehouse goes too, unless the JVM names one: a swept scratch
    // dir, not spark-warehouse/ under the working directory, where a
    // managed table outlived its catalog entry and a rerun's table of the
    // same name failed on LOCATION_ALREADY_EXISTS
    if (!sys.props.contains("spark.sql.warehouse.dir"))
      b.config("spark.sql.warehouse.dir", warehouse)
    val spark = runtimeConfs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private lazy val warehouse = ProbeUtil.scratchDir("warehouse")

  /** The runtime-settable configs graft queries rely on: [[session]]
    * builds with them and [[configure]] applies them. Local streaming
    * checkpoints go through [[graft.streaming.LocalCheckpointFileManager]]
    * (one `chmod` fork less per checkpoint file); other file systems keep
    * Spark's manager.
    */
  private val runtimeConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    graft.streaming.LocalCheckpointFileManager.ConfKey ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName)

  /** Apply [[runtimeConfs]] to a session graft did not build (one an
    * application created itself). nanosAsLong must be set before the
    * first read of a nanos parquet file.
    */
  def configure(spark: SparkSession): SparkSession = {
    runtimeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }

  // ---- canonical tables ---------------------------------------------------

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    configure(spark).read.parquet(s"$dir/$name.parquet")

  /** Register every corpus table as a temp view (plus `events_stream`,
    * the canonical keyed form) so the entire engine is reachable from
    * pure `spark.sql` — the "switch your SQL over" story. S10's DDL
    * surface, catalog-wide.
    */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    tableNames.filterNot(_ == "events").foreach(n => table(spark, dir, n).createOrReplaceTempView(n))
    // events goes up in canonical form: raw nanos `ts` PLUS the engine's
    // epoch-micros `ts_us` — SQL users get the convention every other
    // surface (and the oracles' micros reads) uses
    events(spark, dir).createOrReplaceTempView("events")
    eventsStream(spark, dir).createOrReplaceTempView("events_stream")
  }

  /** Canonicalize an events-schema frame's `ts` to epoch-NANOS long,
    * whatever the physical parquet type: timestamp[us] corpora arrive as
    * TimestampType (→ `unix_micros * 1000`); timestamp[ns] corpora arrive
    * as a raw nanos long via `nanosAsLong` (→ unchanged). Pure projection,
    * so it is safe on streaming frames too; frames without a `ts` column
    * pass through untouched. Matches DuckDB's read of the same file
    * (micros precision either way).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType |
                org.apache.spark.sql.types.TimestampNTZType) =>
        // NTZ → TZ cast interprets the wall clock in the session timezone,
        // which the engine pins to UTC — exact, and the same reading DuckDB
        // gives the file
        df.withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
      case _ => df
    }

  /** The canonical form of corpus table `name`, for a batch read and a
    * stream read alike (`StreamingQueries.readStreamParquet` applies it
    * too): `events` gets its `ts` as a nanos long plus `ts_us` epoch
    * micros, `embeddings` its vectors as `array<float>`; the other
    * tables pass through.
    */
  def canonical(name: String, df: DataFrame): DataFrame = name match {
    case "events" =>
      normalizeEventTs(df)
        .withColumn("ts_us", expr("ts div 1000")) // integer div: double math loses µs at 1e18 ns
    case "embeddings" =>
      // the native kernels (`srp_bucket`, `cosine_sim`) type-check on
      // float vectors; a corpus regeneration that ships doubles (the class
      // of drift that hit `events.ts`) would otherwise fail analysis
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      df.schema.fields.find(_.name == "embedding").map(_.dataType) match {
        case Some(ArrayType(FloatType, _)) => df
        case Some(_: ArrayType) => df.withColumn("embedding", col("embedding").cast("array<float>"))
        case _ => df
      }
    case _ => df
  }

  /** Corpus table `name` read in its [[canonical]] form. */
  def canonicalTable(spark: SparkSession, dir: String, name: String): DataFrame =
    canonical(name, table(spark, dir, name))

  /** `events` with `ts` normalized: nanos long, plus `ts_us` epoch micros. */
  def events(spark: SparkSession, dir: String): DataFrame = canonicalTable(spark, dir, "events")

  /** `events` shaped as the canonical KStream[String,String]:
    * key = user_id, value = event_type, plus the numeric payload.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = keyed(events(spark, dir))

  /** Canonical `events` rows as the KStream shape of [[eventsStream]]. */
  def keyed(events: DataFrame): DataFrame =
    events.select(
      col("user_id").cast("string").as("key"),
      col("event_type").as("value"),
      col("value").as("amount"),
      col("ts_us"),
      col("event_id"),
      col("props"))

  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")

  /** `embeddings` with the vector column normalized to `array<float>` ([[canonical]]). */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    canonicalTable(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
}
