package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the test suites (one JVM, forked by sbt). */
trait GraftTest extends AnyFunSuite {
  lazy val spark: SparkSession = Graft.session("4")
  lazy val sf: String = SparkEntry.fixtureDir
}
