package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single session for all suites (one JVM under Test/fork): the
  * engine's defaults from `GraftSession.builder`, sized for tests.
  */
object SparkSuite {
  lazy val session: SparkSession = GraftSession.builder("graft-test")
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSuite.session
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
