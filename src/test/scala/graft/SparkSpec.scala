package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared single local Spark session across all suites (JVM-wide; starting
  * one per suite would dominate test wall-clock). */
object SparkSpec {
  lazy val session: SparkSession = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      // kept for timestamp[ns]-generation testdata (reads as bigint nanos);
      // timestamp[us] generations read as TIMESTAMP_NTZ — Tables normalizes
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // INFO-level scheduler lines would bury the test report
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}
