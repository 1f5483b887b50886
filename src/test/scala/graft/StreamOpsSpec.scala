package graft

import graft.operators.StreamOps._
import org.apache.spark.sql.functions._

/** Per-operator unit tests for the stateless suite, mirroring the
  * reference's per-operator KStream tests (reference:
  * src/test/scala/com/github/hosnimed/KStreamTest.scala:35-138): pipe a
  * small fixture through one operator, assert exact outputs.
  */
class StreamOpsSpec extends GraftTest {

  private def fixture = {
    import spark.implicits._
    Seq(("a", "value1"), ("b", "value2"), ("c", "value3"), ("d", "value2"))
      .toDF("key", "value")
  }

  test("P5 filter keeps only matching records") {
    val out = fixture.filterKV(col("value") =!= "value2").collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.toSet === Set(("a", "value1"), ("c", "value3")))
  }

  test("P6 filterNot is the exact complement of filter") {
    val out = fixture.filterNot(col("value") =!= "value2").collect().map(_.getString(0)).toSet
    assert(out === Set("b", "d"))
  }

  test("P1 mapValues transforms value and keeps key") {
    val out = fixture.mapValues(v => upper(v)).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("a", "VALUE1"), ("b", "VALUE2"), ("c", "VALUE3"), ("d", "VALUE2")))
  }

  test("P2 map re-keys and re-values") {
    val out = fixture.mapKV(col("value"), col("key")).collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("value1", "a"), ("value2", "b"), ("value3", "c"), ("value2", "d")))
  }

  test("P8 selectKey re-keys, value untouched") {
    val out = fixture.selectKey(substring(col("value"), 6, 1)).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("value"))).toSet
    assert(out === Set(("1", "value1"), ("2", "value2"), ("3", "value3"), ("2", "value2")))
  }

  test("P7 branch routes each record to FIRST matching predicate only") {
    val Seq(b0, b1, b2) = fixture.branch(
      col("key") === "a" || col("key") === "b", // first
      col("value") === "value2",                // second: b must NOT land here
      lit(true))                                 // catch-all
    assert(b0.collect().map(_.getString(0)).toSet === Set("a", "b"))
    assert(b1.collect().map(_.getString(0)).toSet === Set("d"))
    assert(b2.collect().map(_.getString(0)).toSet === Set("c"))
    // branches are disjoint and cover the input
    assert(b0.count() + b1.count() + b2.count() === fixture.count())
  }

  test("P7 branchTag single-pass variant agrees with branch") {
    val tagged = fixture.branchTag(2, col("key") === "a" || col("key") === "b", col("value") === "value2")
    val byTag = tagged.collect().groupBy(_.getAs[Int]("branch")).view.mapValues(_.map(_.getString(0)).toSet).toMap
    assert(byTag(0) === Set("a", "b"))
    assert(byTag(1) === Set("d"))
    assert(byTag(2) === Set("c"))
  }

  test("P3/P4 typed flatMap and flatMapValues") {
    import spark.implicits._
    val ks = KStream(Seq(("k1", "a b"), ("k2", "c")).toDS())
    val fmv = ks.flatMapValues(_.split(" ")).ds.collect().toSet
    assert(fmv === Set(("k1", "a"), ("k1", "b"), ("k2", "c")))
    val fm = ks.flatMap { case (k, v) => v.split(" ").map(w => (w, k)) }.ds.collect().toSet
    assert(fm === Set(("a", "k1"), ("b", "k1"), ("c", "k2")))
  }

  test("P9 peek passes records through unchanged") {
    val acc = spark.sparkContext.longAccumulator("peeked")
    val out = fixture.peek(_ => acc.add(1)).collect()
    assert(out.length === 4)
    assert(acc.value === 4)
  }

  test("P10 foreach visits every record") {
    val acc = spark.sparkContext.longAccumulator("visited")
    fixture.foreachKV(_ => acc.add(1))
    assert(acc.value === 4)
  }

  test("binary Array[Byte] keys work through the typed surface") {
    import spark.implicits._
    // the reference keys streams by raw bytes in its map example
    // (MapFunctionScalaExample.scala:114)
    val ks = KStream(Seq((Array[Byte](1, 2), "a"), (Array[Byte](3), "b")).toDS())
    val out = ks.mapValues(_.toUpperCase).ds.collect()
      .map { case (k, v) => (k.toSeq, v) }.toSet
    assert(out === Set((Seq[Byte](1, 2), "A"), (Seq[Byte](3), "B")))
  }

  test("branched partitioned sink writes disjoint branches in one pass") {
    val dir = ProbeUtil.scratchDir("branch-sink")
    fixture.toBranchedSink(dir, 2, col("key") === "a" || col("key") === "b", col("value") === "value2")
    val back = spark.read.parquet(dir)
    val byTag = back.collect().groupBy(_.getAs[Int]("branch"))
      .view.mapValues(_.map(_.getAs[String]("key")).toSet).toMap
    assert(byTag(0) === Set("a", "b") && byTag(1) === Set("d") && byTag(2) === Set("c"))
    // partition pruning: reading one branch touches only its directory
    val one = spark.read.parquet(dir).where(col("branch") === 1)
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("typed KStream mirrors reference lambda ergonomics end to end") {
    import spark.implicits._
    // the reference's word-count spine in typed form
    // (WordCountScalaExample.scala:113-117)
    val lines = KStream(Seq((null: String, "hello spark hello")).toDS())
    val counts = lines
      .flatMapValues(_.toLowerCase.split("\\W+"))
      .map((_, w) => (w, 1L))
      .ds.groupByKey(_._1).count()
      .collect().toMap
    assert(counts === Map("hello" -> 2L, "spark" -> 1L))
  }

  test("two-phase topKPerGroup equals the single-window rank on any partitioning") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rows = (1 to 500).map(i => (s"g${i % 4}", i.toLong, (i * 37 % 101).toLong))
    val df = rows.toDF("grp", "id", "score").repartition(13)
    val twoPhase = graft.operators.Aggregates
      .topKPerGroup(df, Seq("grp"), Seq(col("score").desc, col("id").asc), k = 3)
      .select("grp", "id", "score", "rnk").collect().map(_.toSeq).toSet
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("id").asc)
    val single = df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
      .select("grp", "id", "score", "rnk").collect().map(_.toSeq).toSet
    assert(twoPhase === single)
    assert(twoPhase.size === 4 * 3)
  }
}
