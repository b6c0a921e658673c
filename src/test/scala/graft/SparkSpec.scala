package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup dominates test wall-time otherwise): the harness session
  * Bench and Verify run on, at 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.harness(4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
