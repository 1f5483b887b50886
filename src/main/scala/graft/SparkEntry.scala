package graft

import graft.queries.{CoreQueries, PipelineQueries, Twins}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY.md §2
  * (ids s1..s10, p1..p10, a1..a8, w1..w4, j1..j9, d1..d2, x1..x10, t1..t5)
  * plus the LLM-pipeline operators (dd_, ann_, txt_, mm_, sk_ prefixes).
  * `oracleSql` holds the DuckDB-equivalent
  * SQL for every entry whose computation is engine-portable; LSH/sketch
  * outputs are hash-function-specific and are instead property-tested in
  * src/test/scala/graft/.
  */
object SparkEntry {

  /** The sf0.001 fixture corpus: the tests, [[entry]] and graft.Explain read it. */
  val fixtureDir: String = "/root/testdata/sf0.001"

  /** Flagship query on [[fixtureDir]]; the smoke check expects rows.
    * TPC-H-Q1-shaped aggregation: scan → filter (pushed to parquet) →
    * hash aggregate.
    */
  def entry(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$fixtureDir/lineitem.parquet")
      .where(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        count(lit(1)).as("count_order"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.all ++ PipelineQueries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; a streaming twin's is its batch entry's.
    * Omitted for non-SQL-expressible ops (LSH pair sets, sketches, plan
    * dumps) → driver records a weaker rows-only check; those are
    * covered by ScalaTest property tests.
    */
  def oracleSql: Map[String, String] =
    Twins.shareOracles(CoreQueries.oracles ++ PipelineQueries.oracles)
}
