package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, reused), built by the
  * production factory so the suite runs under the engine's own config. */
object TestSpark {
  lazy val spark: SparkSession = Sessions("local[4]", 4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
