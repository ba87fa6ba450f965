package graft

import org.apache.spark.sql.SparkSession

import graft.core.MetricStore

/** Remote-serving entry point — the Spark-native replacement for
  * kadiyadb's RPC layer. The reference is consumed over
  * kadiyadb-protocol (Track/Fetch RPCs returning protocol.Chunk arrays —
  * /root/reference/database.go:11,44,226-247); in the Spark ecosystem the
  * standard remote query surface is Spark Connect: a gRPC endpoint any
  * connect-enabled client (Scala / Python / Go / JDBC via Thrift) can run
  * DataFrame/SQL queries against, with full access to graft's registered
  * SQL functions (GraftExtensions) and every store this main registers.
  *
  * Start the server:
  * {{{
  *   sbt "runMain graft.Serve /data/metricstores 15002"
  * }}}
  *
  * Query it from any client process:
  * {{{
  *   val spark = SparkSession.builder().remote("sc://host:15002").getOrCreate()
  *   spark.sql("""SELECT f1, f2, bucket, total, cnt
  *                FROM global_temp.metrics_a_points
  *                WHERE epoch >= '2024-01-05' AND depth = 2""").show()
  * }}}
  *
  * Views are GLOBAL temp views: Spark Connect gives every client its own
  * SparkSession inside this application, and `global_temp` is the catalog
  * namespace shared across those sessions.
  */
object Serve {

  /** Register every store under `rootDir` (kadiyadb's directory-of-
    * databases layout) as cross-session views: `global_temp.<name>_points`
    * (the raw rollup tree) and `global_temp.<name>_cascade` (the
    * materialized 6h/24h continuous aggregates). Also pins
    * `spark.graft.fetch.root` so remote clients can call the
    * `graft_fetch(store, pattern, from, to)` table function instead of
    * hand-writing depth/field/epoch filters. Returns the view names.
    */
  def registerStores(spark: SparkSession, rootDir: String): Seq[String] = {
    spark.conf.set("spark.graft.fetch.root", rootDir)
    MetricStore.loadAll(spark, rootDir).toSeq.sortBy(_._1).flatMap { case (name, store) =>
      val points = s"${name}_points"
      store.points().createOrReplaceGlobalTempView(points)
      val cascade = s"${name}_cascade"
      store.cascade().createOrReplaceGlobalTempView(cascade)
      Seq(points, cascade)
    }
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft_stores")
    val port = args.lift(1).getOrElse("15002")
    // SPARK_MASTER points the server at a cluster; local[SPARK_GRAFT_CPUS] otherwise
    val master = sys.env.get("SPARK_MASTER").map("spark.master" -> _)
    val spark = Harness.session(master.toSeq ++ Seq(
      "spark.app.name" -> "graft-serve",
      "spark.plugins" -> "org.apache.spark.sql.connect.SparkConnectPlugin",
      "spark.connect.grpc.binding.port" -> port): _*)
    val views = registerStores(spark, root)
    println(s"graft Spark Connect server at sc://localhost:$port")
    println(views.map(v => s"  global_temp.$v").mkString("\n"))
    Thread.currentThread().join() // serve until the process is killed
  }
}
