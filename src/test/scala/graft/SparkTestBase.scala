package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially in sbt's forked test JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[8]", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf001 = "/root/testdata/sf0.001"
}
