package graft

import org.apache.spark.sql.functions._

import graft.core.MetricStore

/** The real wire path (the reference serves kadiyadb-protocol RPCs;
  * graft serves Spark Connect): an in-process Spark Connect gRPC server
  * started over the shared test context, queried by the REAL JVM connect
  * client (`spark-connect-client-jvm`). The client jar defines its own
  * org.apache.spark.sql.{SparkSession, Dataset, Row, ...} — client-side
  * twins that CLASH with the server classes on the test classpath — so it
  * loads in a child-first classloader and is driven reflectively; results
  * cross the loader boundary as boxed JDK primitives only.
  */
class ConnectRoundTripSpec extends SparkSpec {

  private val clientJarPath =
    "/opt/spark/jars/connect-repl/spark-connect-client-jvm_2.13-4.1.2.jar"

  /** Child-first URLClassLoader: JDK/scala/slf4j delegate up (the client
    * jar ships none of them), everything found in the jar resolves there
    * first (the sql-api twins, the org.sparkproject-shaded grpc/arrow).
    */
  private class ChildFirstLoader(url: java.net.URL, parent: ClassLoader)
      extends java.net.URLClassLoader(Array(url), parent) {
    override def loadClass(name: String, resolve: Boolean): Class[_] =
      getClassLoadingLock(name).synchronized {
        val seen = findLoadedClass(name)
        if (seen != null) seen
        else if (name.startsWith("java.") || name.startsWith("javax.") ||
          name.startsWith("jdk.") || name.startsWith("sun.") ||
          name.startsWith("scala.") || name.startsWith("org.slf4j."))
          super.loadClass(name, resolve)
        else
          try {
            val c = findClass(name)
            if (resolve) resolveClass(c)
            c
          } catch {
            case _: ClassNotFoundException => super.loadClass(name, resolve)
          }
      }
  }

  private def call(target: AnyRef, method: String, args: AnyRef*): AnyRef = {
    val m = target.getClass.getMethods.find(m =>
      m.getName == method && m.getParameterCount == args.length).getOrElse(
      fail(s"no method $method/${args.length} on ${target.getClass.getName}"))
    m.invoke(target, args: _*)
  }

  test("Spark Connect wire round-trip: remote client fetches the store and calls graft_dot") {
    assume(new java.io.File(clientJarPath).exists(),
      "connect client jar not present in this image")

    // --- server side: a real MetricStore registered the way Serve does,
    // plus the in-process gRPC endpoint on an ephemeral port.
    import spark.implicits._
    withTempDir("connectroot") { d =>
      val root = d.toString
      val store = new MetricStore(spark, s"$root/metrics_a")
      store.track(Seq(
        ("2024-01-01 10:05:00", "cpu", "h1", 10.0),
        ("2024-01-01 10:25:00", "cpu", "h1", 4.0),
        ("2024-01-01 11:05:00", "cpu", "h2", 7.0))
        .toDF("ts", "f1", "f2", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz")))
      Serve.registerStores(spark, root)

      import org.apache.spark.sql.connect.service.SparkConnectService
      import org.apache.spark.sql.connect.graftaccess.ConnectTestAccess
      ConnectTestAccess.setConf(spark.sparkContext,
        "spark.connect.grpc.binding.port", "0") // ephemeral: no port clashes
      SparkConnectService.start(spark.sparkContext)
      val port = ConnectTestAccess.localPort
      assert(ConnectTestAccess.started && port > 0, s"connect server not up (port $port)")

      val loader = new ChildFirstLoader(
        new java.io.File(clientJarPath).toURI.toURL, getClass.getClassLoader)
      val thread = Thread.currentThread()
      val oldTccl = thread.getContextClassLoader
      thread.setContextClassLoader(loader) // shaded-grpc provider discovery
      try {
        val companion = loader.loadClass("org.apache.spark.sql.connect.SparkSession$")
          .getField("MODULE$").get(null).asInstanceOf[AnyRef]
        val builder = call(companion, "builder")
        call(builder, "remote", s"sc://localhost:$port")
        val session = call(builder, "create")
        try {
          // 1. the store fetch over the wire: same global_temp view a
          // kadiyadb Fetch RPC maps to
          val fetched = call(call(session, "sql",
            """SELECT CAST(total AS DOUBLE) AS total, CAST(cnt AS BIGINT) AS cnt
               FROM global_temp.metrics_a_points
               WHERE f1 = 'cpu' AND f2 = 'h1' AND depth = 2"""),
            "collect").asInstanceOf[Array[AnyRef]]
          assert(fetched.length == 1, s"fetch returned ${fetched.length} rows")
          val row = fetched.head
          assert(call(row, "get", Integer.valueOf(0)) == java.lang.Double.valueOf(10.0 + 4.0))
          assert(call(row, "get", Integer.valueOf(1)) == java.lang.Long.valueOf(2L))

          // 2. a graft-native SQL function over the wire: the extension
          // must be live in the server-side session Connect created
          val dot = call(call(session, "sql",
            "SELECT graft_dot(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F)) AS d"),
            "collect").asInstanceOf[Array[AnyRef]]
          assert(dot.length == 1)
          assert(call(dot.head, "get", Integer.valueOf(0)) == java.lang.Float.valueOf(32.0f),
            s"graft_dot over the wire returned ${call(dot.head, "get", Integer.valueOf(0))}")

          // 3. the reference's Fetch as a table function: a WILDCARD
          // pattern fetch over the wire, no hand-written depth filter.
          // The client pins the stores root in ITS OWN connect session.
          call(call(session, "sql",
            s"SET spark.graft.fetch.root=$root"), "collect")
          val wildcard = call(call(session, "sql",
            """SELECT f2, CAST(total AS DOUBLE) AS total, CAST(cnt AS BIGINT) AS cnt
               FROM graft_fetch('metrics_a', 'cpu.*', '2024-01-01', '2024-01-02')
               ORDER BY f2"""),
            "collect").asInstanceOf[Array[AnyRef]]
          assert(wildcard.length == 2, s"wildcard fetch returned ${wildcard.length} rows")
          assert(call(wildcard(0), "get", Integer.valueOf(0)) == "h1" &&
            call(wildcard(0), "get", Integer.valueOf(1)) == java.lang.Double.valueOf(14.0) &&
            call(wildcard(0), "get", Integer.valueOf(2)) == java.lang.Long.valueOf(2L),
            "wildcard fetch h1 row wrong over the wire")
          assert(call(wildcard(1), "get", Integer.valueOf(0)) == "h2" &&
            call(wildcard(1), "get", Integer.valueOf(1)) == java.lang.Double.valueOf(7.0),
            "wildcard fetch h2 row wrong over the wire")

          // 4. the rollup-cascade view is served alongside points
          val casc = call(call(session, "sql",
            "SELECT count(*) FROM global_temp.metrics_a_cascade"),
            "collect").asInstanceOf[Array[AnyRef]]
          assert(casc.length == 1, "cascade view not queryable over the wire")
        } finally call(session, "close")
      } finally {
        thread.setContextClassLoader(oldTccl)
        SparkConnectService.stop(None, None)
      }
    }
  }
}
