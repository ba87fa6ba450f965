package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.{Tables, Tsdb}

class TablesSpec extends SparkSpec {

  test("csv and jsonl event feeds produce the parquet-path schema") {
    withTempDir("graft_src") { tmp =>
      val dir = tmp.toString
      Files.writeString(java.nio.file.Paths.get(dir, "ev.csv"),
        """event_id,ts,user_id,event_type,value,props
          |1,2024-01-01 10:05:00,7,purchase,10.5,"{""k"": 3}"
          |2,2024-01-01 10:50:00,7,purchase,2.5,"{""k"": 4}"
          |3,2024-01-01 11:10:00,8,error,1.0,"{""k"": 5}"
          |""".stripMargin)
      Files.writeString(java.nio.file.Paths.get(dir, "ev.jsonl"),
        """{"event_id":1,"ts":"2024-01-01 10:05:00","user_id":7,"event_type":"purchase","value":10.5,"props":"{\"k\": 3}"}
          |{"event_id":2,"ts":"2024-01-01 10:50:00","user_id":7,"event_type":"purchase","value":2.5,"props":"{\"k\": 4}"}
          |{"event_id":3,"ts":"2024-01-01 11:10:00","user_id":8,"event_type":"error","value":1.0,"props":"{\"k\": 5}"}
          |""".stripMargin)
      val csv = Tables.loadEventsText(spark, s"$dir/ev.csv", "csv")
      val jsonl = Tables.loadEventsText(spark, s"$dir/ev.jsonl", "jsonl")
      // identical rows from both formats
      assert(csv.schema == jsonl.schema)
      assert(csv.collect().map(_.toString).sorted.toSeq ==
        jsonl.collect().map(_.toString).sorted.toSeq)
      // downstream TSDB operators run unchanged: same rollup from either feed
      val pts = Tsdb.points(csv).collect()
      val p7 = pts.find(r => r.getAs[String]("f2") == "7").get
      assert(p7.getAs[Double]("total") == 13.0 && p7.getAs[Long]("cnt") == 2L)
      // ts_ns carries exact nanos for pushdown-style range predicates
      assert(csv.filter(col("ts_ns") === 1704103500000000000L).count() == 1L)
    }
  }

  test("loadEventsText keeps ts and ts_ns consistent for sub-second feeds") {
    withTempDir("graft_subsec") { tmp =>
      val dir = tmp.toString
      Files.writeString(java.nio.file.Paths.get(dir, "ev.csv"),
        """event_id,ts,user_id,event_type,value,props
          |1,2024-01-01 10:05:00.250,7,purchase,10.5,{}
          |2,2024-01-01 10:05:01.250,7,purchase,3.14159,{}
          |""".stripMargin)
      val df = Tables.loadEventsText(spark, s"$dir/ev.csv", "csv")
      // sub-cent feed values snap to the 2-dec grid at the load boundary
      // (the exact-LONG-cents aggregate invariant — see the events-grid test)
      assert(df.filter(col("event_id") === 2).head().getAs[Double]("value") == 3.14)
      val r = df.filter(col("event_id") === 1).head()
      // the fractional 250 ms survives in BOTH columns, so a range predicate
      // on ts_ns selects exactly the rows the same predicate on ts would
      assert(r.getAs[Long]("ts_ns") == 1704103500250000000L)
      assert(df.filter(expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000 = ts_ns")).count() == 2L)
    }
  }

  test("schema evolution: epochs written before a new column still fetch") {
    // a long-lived store gains a column mid-life; old epoch files lack it.
    // mergeSchema unions the file schemas and NULL-fills history — the
    // read-side contract that lets stores evolve without rewriting epochs
    import spark.implicits._
    withTempDir("graft_evolve") { tmp =>
      val dir = tmp.toString
      Seq(("cpu", "2024-01-01T10:00", 10.0))
        .toDF("f1", "bucket", "total")
        .write.parquet(s"$dir/epoch=2024-01-01")
      Seq(("cpu", "2024-01-02T10:00", 4.0, "us-east"))
        .toDF("f1", "bucket", "total", "region") // new column in the new epoch
        .write.parquet(s"$dir/epoch=2024-01-02")
      val all = spark.read.option("mergeSchema", "true").parquet(dir)
      assert(all.columns.toSet == Set("f1", "bucket", "total", "region", "epoch"))
      val rows = all.orderBy("bucket").collect()
      assert(rows.length == 2)
      assert(rows.head.isNullAt(rows.head.fieldIndex("region"))) // old epoch null-filled
      assert(rows.last.getAs[String]("region") == "us-east")
      // partition pruning still applies on the epoch column
      assert(all.filter(col("epoch") === "2024-01-02").count() == 1L)
    }
  }

  test("load adapts to both events timestamp encodings (nanos and micros)") {
    // The driver's generator has shipped events.ts as parquet
    // TIMESTAMP(NANOS) (rounds 1-5) AND TIMESTAMP(MICROS) (round 6) —
    // the live testdata only ever carries one, so the other branch is
    // pinned by a committed fixture. Both must yield the same contract:
    // ts as timestamp_ntz wall clock + ts_ns as wall-clock nanos.
    val fixtureDir = new java.io.File("src/test/resources").getAbsolutePath
    // the fixture files are named events_<enc>.parquet; load() expects
    // <dir>/events.parquet, so read each through a copied temp dir
    def loadFixture(enc: String)(check: org.apache.spark.sql.DataFrame => Unit): Unit =
      withTempDir(enc) { tmp =>
        Files.copy(java.nio.file.Paths.get(s"$fixtureDir/events_$enc.parquet"),
          tmp.resolve("events.parquet"))
        val df = Tables.load(spark, tmp.toString, "events")
        assert(df.schema("ts").dataType.typeName == "timestamp_ntz")
        assert(df.schema("ts_ns").dataType.typeName == "long")
        check(df)
      }
    loadFixture("nanos") { nanos =>
      // fixture row 1: 2024-01-05 01:00:00 wall clock
      val r = nanos.orderBy(col("event_id")).collect()(1)
      assert(r.getAs[java.time.LocalDateTime]("ts") ==
        java.time.LocalDateTime.of(2024, 1, 5, 1, 0, 0))
      assert(r.getAs[Long]("ts_ns") == 1704416400L * 1000000000L)
    }
    loadFixture("micros") { micros =>
      // ts_ns must be exactly the ntz wall clock in nanos
      val m = micros.select(col("ts"), col("ts_ns")).collect()
      assert(m.nonEmpty)
      m.foreach { row =>
        val ldt = row.getAs[java.time.LocalDateTime]("ts")
        assert(row.getAs[Long]("ts_ns") ==
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + ldt.getNano)
      }
    }
  }

  /** Every data dir the engine reads: the generated test tables and the benchmark's. */
  private val dataDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1", "graftbench/data/sf0.01")

  test("load starts no Spark job for any table, in a fresh session") {
    val fresh = spark.newSession()
    for (dir <- dataDirs; name <- Tables.all) {
      val jobs = jobsDuring(Tables.load(fresh, dir, name).schema)
      assert(jobs == 0, s"Tables.load($dir, $name) ran $jobs Spark job(s)")
    }
  }

  test("the declared schema is the inferred one for every table in every data dir") {
    for (dir <- dataDirs; name <- Tables.all) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(inferred == Tables.schemas(name), s"$dir/$name: inferred $inferred")
    }
  }

  test("load refuses an events.ts adjusted to UTC") {
    withTempDir("graft_ltz") { d =>
      withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
        eventsDf(Seq(("2024-01-01 10:05:00", "purchase", 7L, 1.0)))
          .withColumn("ts", col("ts").cast("timestamp"))
          .write.parquet(s"$d/events.parquet")
      }
      val e = intercept[IllegalStateException](Tables.load(spark, d.toString, "events"))
      assert(e.getMessage.contains("TIMESTAMP(MICROS,true)"), e.getMessage)
    }
  }

  test("events values sit on the 2-dec cent grid (the fused-aggregate invariant)") {
    // Tsdb.topkMoversFromEvents (and every exact-LONG-cents sum) assumes
    // event values are whole cents: round(v*100) is then lossless and the
    // per-event cent ladder equals the oracle's per-bucket round. A
    // text-feed or generator change breaking the grid would make Spark
    // and DuckDB silently diverge (r14 advice) — this pins the invariant
    // at the data-load boundary. loadEventsText enforces the same grid
    // for external feeds by snapping value to whole cents on load.
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val off = ev.filter(
      abs(col("value") * 100 - round(col("value") * 100)) > lit(1e-9)).count()
    assert(off == 0L, s"$off event values off the 2-dec grid — the exact-cents " +
      "fused aggregates (ts_topk_movers et al.) no longer match their oracles")
  }

  test("spread widens a narrow scan to the session width and no-ops otherwise") {
    import spark.implicits._
    val width = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val narrow = (1 to 100).map(i => (i.toLong, s"doc $i text")).toDF("doc_id", "text")
      .coalesce(1)
    val wide = Tables.spread(narrow)
    assert(wide.rdd.getNumPartitions == width, "sub-width input must widen")
    // identical content, only the layout changes
    assert(wide.except(narrow).isEmpty && narrow.except(wide).isEmpty)
    // an input already at (or above) the width is returned as-is: the
    // 100-TB path, where the scan has more splits than the session width
    val already = narrow.repartition(width)
    assert(Tables.spread(already) eq already, "at-width input must be untouched")
  }
}
