package graft

/** The session factory every main and spec builds through. */
class HarnessSpec extends SparkSpec {

  test("the factory's session runs in UTC with ANSI off and graft's SQL functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    val r = spark.sql("SELECT graft_rd2(1.234567D) AS v, 1 / 0 AS inf").head()
    assert(r.getDouble(0) == 1.23)
    assert(r.isNullAt(1), "ANSI off: division by zero yields NULL")
  }

  test("asking for a conflicting static conf throws, naming the key") {
    assert(spark.conf.get("spark.sql.globalTempDatabase") == "global_temp")
    val e = intercept[IllegalStateException](
      Harness.session(4, "spark.sql.globalTempDatabase" -> "elsewhere"))
    assert(e.getMessage.contains("spark.sql.globalTempDatabase"), e.getMessage)
  }
}
