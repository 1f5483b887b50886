package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Layer-3 golden integration test against a LIVE Kafka broker — the
  * graft counterpart of the reference's embedded-cluster test
  * (reference: utils/StreamToTableJoinScalaIntegrationTestBase.scala:102-135,
  * golden data utils/StreamToTableJoinTestData.scala:33-60): user clicks
  * stream ⋈ latest-region-per-user table → clicks per region, expected
  * {americas: 101, europe: 109, asia: 124} with alice's asia→europe move
  * honored by table-upsert semantics.
  *
  * OPT-IN: this sandbox ships neither a broker nor the
  * spark-sql-kafka connector jar, so the test CANCELS (scalatest
  * `assume`) unless `SPARK_GRAFT_KAFKA_BOOTSTRAP` points at a reachable
  * broker on a Spark distribution that bundles the Kafka source — the
  * gap is environmental, not code (the file/memory-stream twin
  * `j4_streaming` certifies the identical semantics every round; this
  * spec exists so the kafka-wire path in `Sources.kafkaStream` /
  * `Sources.writeKafka` has a real end-to-end exercise wherever a broker
  * is available). Topics `graft-user-clicks` / `graft-user-regions` /
  * `graft-clicks-per-region` must be pre-created (or auto-create on).
  */
class KafkaIntegrationSpec extends GraftTest {

  private val bootstrapEnv = "SPARK_GRAFT_KAFKA_BOOTSTRAP"

  // the reference's golden fixture, verbatim
  private val userClicks = Seq(
    "alice" -> 13L, "bob" -> 4L, "chao" -> 25L, "bob" -> 19L,
    "dave" -> 56L, "eve" -> 78L, "alice" -> 40L, "fang" -> 99L)
  private val userRegions = Seq(
    "alice" -> "asia", "bob" -> "americas", "chao" -> "asia",
    "dave" -> "europe", "alice" -> "europe", "eve" -> "americas",
    "fang" -> "asia")
  private val expected = Map("americas" -> 101L, "europe" -> 109L, "asia" -> 124L)

  test("clicks-per-region golden join over a live Kafka broker (opt-in)") {
    assume(sys.env.contains(bootstrapEnv),
      s"set $bootstrapEnv=<host:port> (broker + spark-sql-kafka jars required) to run")
    val bootstrap = sys.env(bootstrapEnv)
    import spark.implicits._

    val clicksTopic = "graft-user-clicks"
    val regionsTopic = "graft-user-regions"
    val outTopic = "graft-clicks-per-region"

    // produce the two golden inputs through the kafka BATCH writer
    // (same sink path as Sources.writeKafka, minus the checkpoint)
    userClicks.toDF("key", "value")
      .select(col("key").cast("binary"), col("value").cast("string").cast("binary").as("value"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", clicksTopic).save()
    userRegions.toDF("key", "value")
      .select(col("key").cast("binary"), col("value").cast("binary"))
      .write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", regionsTopic).save()

    // table side: latest region per user from the regions topic (the
    // KTable view — kafka's per-partition order makes offset the
    // upsert tiebreak, so alice resolves to europe)
    val regionsRaw = spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", regionsTopic)
      .option("startingOffsets", "earliest").load()
      .select(col("key").cast("string").as("user"),
        col("value").cast("string").as("region"), col("offset"))
    val regionTable = operators.TableView.latestPerKey(
      regionsRaw, Seq("user"), col("offset"), col("offset"))
      .select("user", "region")

    // stream side: the S1 wire path under test
    val clicks = sources.Sources.kafkaStream(spark, bootstrap, clicksTopic)
      .select(col("key").cast("string").as("user"),
        col("value").cast("long").as("clicks"))

    val joined = operators.Joins.streamTableJoin(
      clicks, regionTable, "user", "user", "left")
      .select(coalesce(col("region"), lit("UNKNOWN")).as("key"),
        col("clicks"))
    val perRegion = joined.groupBy("key").agg(sum("clicks").as("value"))

    // S3 wire path: complete-mode changelog to the output topic —
    // latest value per key IS the KTable answer, exactly how the
    // reference reads its output (readKeyValuesToMap, latest wins)
    val ckpt = ProbeUtil.scratchDir("kafka-ckpt")
    sources.Sources.writeKafka(
        perRegion.select(col("key"), col("value").cast("string").as("value")),
        bootstrap, outTopic, ckpt)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination(120000L)

    val out = spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", outTopic)
      .option("startingOffsets", "earliest").load()
      .select(col("key").cast("string"), col("value").cast("string").cast("long").as("v"),
        col("offset"))
      .collect()
    val latest = out.groupBy(_.getString(0)).map { case (k, rows) =>
      k -> rows.maxBy(_.getLong(2)).getLong(1)
    }
    expected.foreach { case (region, clicks) =>
      assert(latest.get(region).contains(clicks), s"region $region: got ${latest.get(region)}")
    }
  }
}
