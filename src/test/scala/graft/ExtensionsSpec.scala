package graft

import org.apache.spark.sql.functions._

import graft.core.{MetricStore, Skew}

class ExtensionsSpec extends SparkSpec {

  test("graft_dot is injectable and callable from SQL") {
    import spark.implicits._
    // same injection path as spark.sql.extensions=graft.GraftExtensions,
    // applied to the already-running test session via the registry
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
    // register directly for the live session (extensions apply at build time)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot",
      args => graft.functions.FloatDotProduct(args.head, args(1)),
      "built-in")
    Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b").createOrReplaceTempView("v")
    val r = spark.sql("SELECT graft_dot(a, b) AS d FROM v").head().getDouble(0)
    assert(r == 11.0)
  }

  test("graft_h60 / graft_rd4 / graft_rd2 are callable from SQL") {
    import spark.implicits._
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // exercises the injection wiring
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_h60", args => GraftExtensions.h60Expr(args.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_rd4", args => GraftExtensions.rdExpr(args.head, 10000.0), "built-in")
    Seq(("abc", 0.123456)).toDF("s", "x").createOrReplaceTempView("hv")
    val row = spark.sql("SELECT graft_h60(s) AS h, graft_rd4(x) AS r FROM hv").head()
    assert(row.getLong(0) == graft.functions.Hashing.h60jvm("abc"))
    assert(row.getDouble(1) == 0.1235)
  }

  test("graft_cosine is callable from SQL") {
    import spark.implicits._
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // exercises the injection wiring
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine",
      args => GraftExtensions.cosineExpr(args.head, args(1)), "built-in")
    Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 2.0f)))
      .toDF("a", "b", "c").createOrReplaceTempView("cv")
    val r = spark.sql(
      "SELECT graft_cosine(a, b) AS same, graft_cosine(a, c) AS orth FROM cv").head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("graft_fetch: a trailing '.' is one more (empty) segment, not the prefix rollup") {
    import spark.implicits._
    withTempDir("graftroot_dot") { tmp =>
      new MetricStore(spark, tmp.resolve("m").toString).track(Seq(
        ("2024-01-01 10:05:00", "host1", "cpu", 1.0), ("2024-01-01 10:10:00", "host1", "", 2.0))
        .toDF("ts", "f1", "f2", "value").withColumn("ts", col("ts").cast("timestamp_ntz")))
      withConf("spark.graft.fetch.root" -> tmp.toString) {
        def fetch(pattern: String) = spark.sql(s"SELECT depth, f2, total FROM " +
          s"graft_fetch('m', '$pattern', '2024-01-01', '2024-01-02')").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).sortBy(r => String.valueOf(r._2)).toSeq
        assert(fetch("host1") == Seq((1, null, 3.0)))
        assert(fetch("host1.") == Seq((2, "", 2.0)))
        assert(fetch("host1.*") == Seq((2, "", 2.0), (2, "cpu", 1.0)))
      }
    }
  }

  test("saltedJoin equals the plain join on a skewed key") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (if (i % 10 == 0) "cold" + i else "hot", i))
      .toDF("k", "v") // 90% of rows share one key
    val small = Seq(("hot", 1), ("cold10", 2)).toDF("k", "w")
    val plain = big.join(small, "k").agg(sum($"v" * $"w")).head().getLong(0)
    val salted = Skew.saltedJoin(big, small, "k", 8).agg(sum($"v" * $"w")).head().getLong(0)
    assert(plain == salted)
  }
}
