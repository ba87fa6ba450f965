package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
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

  /** Delete a file tree. */
  def rmrf(p: Path): Unit =
    Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Run `f` in a fresh private temp directory, deleted afterwards. */
  def withTempDir[T](prefix: String)(f: Path => T): T = {
    val d = Files.createTempDirectory(prefix)
    try f(d) finally if (Files.exists(d)) rmrf(d)
  }

  /** Run `body` with session confs set, restoring their previous values. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark jobs `body` started, told apart from other threads' jobs by a
    * job group. A marker job after it flushes the asynchronous listener
    * bus: events arrive in order, so once the marker's start is seen
    * every earlier job's is too.
    */
  def jobsDuring(body: => Any): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def marker(id: String): Unit = {
      spark.sparkContext.setJobGroup(id, id)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(id) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(id), s"listener never saw marker job $id")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("graft-body", "graft-body")
      try body finally spark.sparkContext.clearJobGroup()
      marker("graft-marker")
      groups.asScala.count(_ == "graft-body")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Collect `df`, then sum the partitions its scans of a table
    * partitioned by `column` opened: what was read, not what the plan
    * text promises. */
  def partitionsRead(df: DataFrame, column: String): (Int, Long) = {
    val n = df.collect().length
    val parts = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec if s.relation.partitionSchema.fieldNames.contains(column) =>
        s.metrics("numPartitions").value
    }
    assert(parts.nonEmpty, s"no scan of a $column-partitioned table in the executed plan")
    (n, parts.sum)
  }
}
