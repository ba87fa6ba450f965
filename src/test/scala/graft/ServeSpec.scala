package graft

import org.apache.spark.sql.functions._

import graft.core.MetricStore

class ServeSpec extends SparkSpec {

  test("registerStores exposes stores as global temp views visible to NEW sessions") {
    import spark.implicits._
    withTempDir("serveroot") { d =>
      val root = d.toString
      val store = new MetricStore(spark, s"$root/metrics_a")
      store.track(Seq(("2024-01-01 10:05:00", "cpu", "h1", 10.0))
        .toDF("ts", "f1", "f2", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz")))

      val views = Serve.registerStores(spark, root)
      assert(views == Seq("metrics_a_points", "metrics_a_cascade"))

      // Spark Connect hands each remote client its own session in this app;
      // global_temp is the shared namespace — verify from a fresh session
      val clientSession = spark.newSession()
      val r = clientSession.sql(
        """SELECT total, cnt FROM global_temp.metrics_a_points
           WHERE f1 = 'cpu' AND f2 = 'h1' AND depth = 2""").collect()
      assert(r.length == 1 && r.head.getAs[Double]("total") == 10.0)
    }
  }
}
