package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per test JVM), built by the
  * mains' session factory on 4 cores. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session(4,
    // plan-guard specs assert on full PushedFilters/ReadSchema lists
    "spark.sql.maxMetadataStringLength" -> "2000")

  /** Tiny events frame with the production schema (ts/event_type/user_id/value). */
  def eventsDf(rows: Seq[(String, String, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("ts", "event_type", "user_id", "value")
      .withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp_ntz"))
  }

  def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
}
