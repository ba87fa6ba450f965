package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.{MetricStore, StoreParams}
import graft.operators.CorpusArtifact

class MetricStoreSpec extends SparkSpec {

  private def mkEvents(rows: Seq[(String, String, String, Double)]) = {
    import spark.implicits._
    rows.toDF("ts", "f1", "f2", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  test("track → fetch roundtrip merges appended segments (RW+RO epoch read)") {
    withTempDir("graftstore") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir)
      store.track(mkEvents(Seq(
        ("2024-01-01 10:05:00", "cpu", "host1", 10.0),
        ("2024-01-01 10:20:00", "cpu", "host2", 4.0))))
      // second append hits the same (cpu, host1, 10:00) bucket — must merge
      store.track(mkEvents(Seq(("2024-01-01 10:45:00", "cpu", "host1", 7.0))))

      val exact = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), Some("host1"))).collect()
      assert(exact.length == 1)
      assert(exact.head.getAs[Double]("total") == 17.0 && exact.head.getAs[Long]("cnt") == 2L)

      val rollup = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"))).collect()
      assert(rollup.length == 1)
      assert(rollup.head.getAs[Double]("total") == 21.0 && rollup.head.getAs[Long]("cnt") == 3L)

      val wild = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), None)).collect()
      assert(wild.length == 2)
    }
  }

  test("fetch: exact, wildcard, prefix patterns with [from, to) range") {
    withTempDir("graftstore_fetch") { tmp =>
      val store = new MetricStore(spark, tmp.toString)
      store.track(mkEvents(Seq(
        ("2024-01-01 00:10:00", "purchase", "1", 10.0),
        ("2024-01-01 00:20:00", "purchase", "1", 5.0),
        ("2024-01-01 00:30:00", "purchase", "2", 1.0),
        ("2024-01-01 01:10:00", "error", "1", 2.0),
        ("2024-01-02 03:00:00", "error", "2", 4.0))))
      val exact = store.fetch("2024-01-01", "2024-01-02", Seq(Some("purchase"), Some("1"))).collect()
      assert(exact.length == 1 && exact.head.getAs[Double]("total") == 15.0)
      val wild = store.fetch("2024-01-01", "2024-01-03", Seq(None, Some("2"))).collect()
      assert(wild.map(_.getAs[String]("f1")).sorted.toSeq == Seq("error", "purchase"))
      val prefix = store.fetch("2024-01-01", "2024-01-02", Seq(Some("purchase"))).collect()
      assert(prefix.length == 1 && prefix.head.getAs[Long]("cnt") == 3L)
      // [from, to) excludes the 2024-01-02 point
      val day1 = store.fetch("2024-01-01", "2024-01-02", Seq(None, None)).collect()
      assert(day1.length == 3 &&
        day1.forall(_.getAs[java.time.LocalDateTime]("bucket").getDayOfMonth == 1))
    }
  }

  test("trackIncrements merges pre-aggregated (total, count) deltas") {
    import spark.implicits._
    withTempDir("graftstore_inc") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir)
      store.track(mkEvents(Seq(("2024-01-01 10:05:00", "cpu", "host1", 10.0))))
      // a client pushes an already-rolled-up delta: total 5.0 over 3 samples
      store.trackIncrements(Seq(("2024-01-01 10:30:00", "cpu", "host1", 5.0, 3L))
        .toDF("ts", "f1", "f2", "total", "cnt")
        .withColumn("ts", col("ts").cast("timestamp_ntz")))
      val r = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), Some("host1"))).collect()
      assert(r.length == 1)
      assert(r.head.getAs[Double]("total") == 15.0 && r.head.getAs[Long]("cnt") == 4L)
    }
  }

  test("integer ids and values are stored under the declared segment types") {
    import spark.implicits._
    withTempDir("graftstore_int") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir)
      store.track(Seq(("2024-01-01 10:05:00", 7, 3, 10), ("2024-01-01 10:20:00", 7, 4, 5))
        .toDF("ts", "f1", "f2", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz")))
      val r = store.fetch("2024-01-01", "2024-01-02", Seq(Some("7"))).collect()
      assert(r.length == 1 && r.head.getAs[String]("f1") == "7")
      assert(r.head.getAs[Double]("total") == 15.0 && r.head.getAs[Long]("cnt") == 2L)
    }
  }

  test("arbitrary-depth hierarchies: 3-level fields, fetch at every depth") {
    import spark.implicits._
    withTempDir("graftstore") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir,
        StoreParams(fields = Seq("dc", "host", "metric")))
      val ev = Seq(
        ("2024-01-01 10:05:00", "us", "h1", "cpu", 10.0),
        ("2024-01-01 10:20:00", "us", "h1", "mem", 4.0),
        ("2024-01-01 10:30:00", "us", "h2", "cpu", 2.0),
        ("2024-01-01 10:40:00", "eu", "h3", "cpu", 1.0))
        .toDF("ts", "dc", "host", "metric", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      store.track(ev)
      // depth 1: rollup across all us hosts+metrics
      val d1 = store.fetch("2024-01-01", "2024-01-02", Seq(Some("us"))).collect()
      assert(d1.length == 1 && d1.head.getAs[Double]("total") == 16.0)
      // depth 2 wildcard dc: all hosts named h1
      val d2 = store.fetch("2024-01-01", "2024-01-02", Seq(None, Some("h1"))).collect()
      assert(d2.length == 1 && d2.head.getAs[Long]("cnt") == 2L)
      // depth 3 exact
      val d3 = store.fetch("2024-01-01", "2024-01-02",
        Seq(Some("us"), Some("h2"), Some("cpu"))).collect()
      assert(d3.length == 1 && d3.head.getAs[Double]("total") == 2.0)
    }
  }

  test("loadAll opens every store with a params.json (kadiyadb LoadAll)") {
    import spark.implicits._
    withTempDir("graftroot") { tmp =>
      val root = tmp.toString
      val a = new MetricStore(spark, s"$root/metrics_a",
        StoreParams(fields = Seq("dc", "host", "metric")))
      a.track(Seq(("2024-01-01 10:05:00", "us", "h1", "cpu", 1.0))
        .toDF("ts", "dc", "host", "metric", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz")))
      val b = new MetricStore(spark, s"$root/metrics_b", StoreParams(retentionEpochs = 7))
      b.track(mkEvents(Seq(("2024-01-02 00:00:00", "cpu", "h", 1.0))))
      Files.createDirectory(java.nio.file.Paths.get(s"$root/not_a_store"))
      val stores = MetricStore.loadAll(spark, root)
      assert(stores.keySet == Set("metrics_a", "metrics_b"))
      val r = stores("metrics_a").fetch("2024-01-01", "2024-01-02",
        Seq(Some("us"), Some("h1"), Some("cpu"))).collect()
      assert(r.length == 1 && r.head.getAs[Double]("total") == 1.0)
    }
  }

  test("compact merges an epoch's append segments without changing results") {
    withTempDir("graftstore") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir)
      store.track(mkEvents(Seq(("2024-01-01 10:05:00", "cpu", "h1", 10.0))))
      store.track(mkEvents(Seq(("2024-01-01 10:45:00", "cpu", "h1", 7.0))))
      // a second epoch the compact must leave alone (a static overwrite would wipe it)
      store.track(mkEvents(Seq(("2024-01-02 03:15:00", "cpu", "h1", 5.0))))
      def files(epoch: String) = {
        val d = java.nio.file.Paths.get(dir, "points", s"epoch=$epoch")
        Files.list(d).iterator().asScala.filter(_.toString.endsWith(".parquet")).map(_.getFileName).toSet
      }
      def day2() = store.fetch("2024-01-02", "2024-01-03", Seq(Some("cpu"), Some("h1"))).collect().toSeq
      val before = files("2024-01-01")
      val (day2Files, day2Rows) = (files("2024-01-02"), day2())
      store.compact("2024-01-01")
      assert(files("2024-01-01").size < before.size)
      val r = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), Some("h1"))).collect()
      assert(r.length == 1 && r.head.getAs[Double]("total") == 17.0 && r.head.getAs[Long]("cnt") == 2L)
      assert(files("2024-01-02") == day2Files && day2() == day2Rows && day2Rows.length == 1)
    }
  }

  test("StoreParams rejects non-dividing unit combos (database.go Open parity)") {
    intercept[IllegalArgumentException](StoreParams(resolution = "week", epochDuration = "day"))
    intercept[IllegalArgumentException](StoreParams(resolution = "hour", epochDuration = "minute"))
    intercept[IllegalArgumentException](StoreParams(retentionEpochs = 0))
    intercept[IllegalArgumentException](StoreParams(resolution = "fortnight"))
    intercept[IllegalArgumentException](
      StoreParams(resolution = "minute", epochDuration = "hour", retentionEpochs = 5))
    // valid combos construct fine
    StoreParams()
    StoreParams(resolution = "day", epochDuration = "week", retentionEpochs = 5)
  }

  test("loadAll skips a store whose params.json has invalid units") {
    import spark.implicits._
    withTempDir("graftroot2") { tmp =>
      val root = tmp.toString
      val good = new MetricStore(spark, s"$root/good")
      good.track(mkEvents(Seq(("2024-01-01 00:00:00", "cpu", "h", 1.0))))
      val badDir = java.nio.file.Paths.get(s"$root/bad")
      Files.createDirectories(badDir)
      Files.writeString(badDir.resolve(CorpusArtifact.ParamFile),
        """{"resolution":"week","epochDuration":"day","retentionEpochs":3,"fields":["f1"]}""")
      assert(MetricStore.loadAll(spark, root).keySet == Set("good"))
    }
  }

  test("compact range-partitions an epoch into bounded multi-file output") {
    withTempDir("graftstore") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir)
      // three separate appends, three buckets -> >=3 segment files in the epoch
      store.track(mkEvents(Seq(("2024-01-01 08:05:00", "cpu", "h1", 1.0))))
      store.track(mkEvents(Seq(("2024-01-01 12:05:00", "cpu", "h1", 2.0))))
      store.track(mkEvents(Seq(("2024-01-01 20:05:00", "cpu", "h1", 4.0))))
      def files() = {
        val d = java.nio.file.Paths.get(dir, "points", "epoch=2024-01-01")
        Files.list(d).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      }
      assert(files().size >= 3)
      // half the epoch's bytes per file -> the epoch's size calls for two files
      val half = (files().map(Files.size).sum + 1) / 2
      val plans = withConf("spark.sql.files.maxPartitionBytes" -> half.toString) {
        plansDuring(store.compact("2024-01-01"))
      }
      assert(files().size == 2) // bounded, but NOT forced through one task/file
      // the range exchange on bucket already clusters the merge's groups
      assert(plans.map(shuffles).sum == 1, plans.mkString("\n"))
      val ranges = files().map { f =>
        val r = spark.read.parquet(f.toString).agg(min("bucket"), max("bucket")).head()
        (r.getAs[java.time.LocalDateTime](0), r.getAs[java.time.LocalDateTime](1))
      }.sortBy(_._1)
      assert(ranges.zip(ranges.tail).forall { case ((_, hi), (lo, _)) => hi.isBefore(lo) },
        s"compacted files overlap in bucket: $ranges")
      val r = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), Some("h1"))).collect()
      assert(r.map(_.getAs[Double]("total")).sum == 7.0)
    }
  }

  test("building a fetch starts no Spark job; compact runs through one shuffle") {
    withTempDir("graftstore_plan") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir)
      store.track(mkEvents(Seq(("2024-01-01 08:05:00", "cpu", "h1", 1.0))))
      store.track(mkEvents(Seq(("2024-01-01 12:05:00", "cpu", "h2", 2.0))))

      val jobs = jobsDuring {
        store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), None))
      }
      assert(jobs == 0, s"building the fetch frame ran $jobs Spark job(s)")

      val plans = plansDuring(store.compact("2024-01-01"))
      assert(plans.nonEmpty, "compact ran no query")
      val nShuffles = plans.map(shuffles).sum
      assert(nShuffles == 1, s"compact ran $nShuffles shuffle exchanges:\n${plans.mkString("\n")}")
      val r = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"))).collect()
      assert(r.map(_.getAs[Double]("total")).sum == 3.0)
    }
  }

  test("a fetch over a new range reuses the compiled code and keeps both bounds pushed") {
    withTempDir("graftstore_codegen") { d =>
      val store = new MetricStore(spark, d.toString)
      store.track(mkEvents(Seq(
        ("2024-01-01 10:05:00", "cpu", "h1", 1.0), ("2024-01-01 20:05:00", "cpu", "h2", 2.0),
        ("2024-01-02 08:05:00", "cpu", "h1", 4.0), ("2024-01-02 13:05:00", "mem", "h1", 8.0))))
      val helper = new AdaptiveSparkPlanHelper {}
      def fetch(from: String, to: String) = store.fetch(from, to, Seq(Some("cpu"), None))
      // CodeGenerator caches compiled classes by source text, so equal
      // whole-stage sources mean the second range compiles nothing.
      def sources(df: DataFrame) = helper.collect(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w.doCodeGen()._2.body
      }
      val warm = fetch("2024-01-01", "2024-01-02")
      assert(warm.collect().map(_.getAs[Double]("total")).sorted.toSeq == Seq(1.0, 2.0))
      val df = fetch("2024-01-01 12:00:00", "2024-01-02 12:00:00")
      val rows = df.collect()
      assert(rows.map(_.getAs[Double]("total")).sorted.toSeq == Seq(2.0, 4.0))
      val (warmCode, code) = (sources(warm), sources(df))
      assert(warmCode.nonEmpty, "the fetch ran no whole-stage code")
      val same = code == warmCode
      assert(same, "a fetch over a new range generated different code")
      val pushed = helper.collect(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec => s.metadata("PushedFilters")
      }
      assert(pushed.length == 1 && pushed.head.contains("GreaterThanOrEqual(bucket,") &&
        pushed.head.contains("LessThan(bucket,"), s"bucket bounds not pushed: $pushed")
    }
  }

  test("a one-split fetch merges without a shuffle; a larger one shuffles, same rows") {
    withTempDir("graftstore_split") { d =>
      val store = new MetricStore(spark, d.toString)
      store.track(mkEvents(Seq(("2024-01-01 10:05:00", "cpu", "h1", 1.0))))
      store.track(mkEvents(Seq(
        ("2024-01-01 10:35:00", "cpu", "h1", 2.0), ("2024-01-01 11:05:00", "cpu", "h2", 4.0))))
      def fetched() = {
        val df = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), None))
        val rows = df.collect().map(_.toString).sorted.toSeq
        (rows, shuffles(df.queryExecution.executedPlan))
      }
      val (small, smallShuffles) = fetched()
      assert(smallShuffles == 0, s"a one-split fetch ran $smallShuffles shuffle exchange(s)")
      assert(small.length == 2)
      val (large, largeShuffles) = withConf("spark.sql.files.maxPartitionBytes" -> "1k")(fetched())
      assert(largeShuffles == 1, s"a fetch above one split ran $largeShuffles shuffle exchange(s)")
      assert(large == small)
    }
  }

  test("a fetch above OneTaskFetchBytes keeps the parallel scan and shuffle merge") {
    withTempDir("graftstore_wide") { d =>
      val store = new MetricStore(spark, d.toString)
      // two appends of 300 hosts x 144 ten-minute ticks of random values: ~0.8 MB
      val hosts = 300
      val tick = (col("id") / hosts).cast("long") * 600L
      for (a <- 0 until 2) store.track(spark.range(0L, hosts * 144L).select(
        (lit(1704067200L) + tick + a).cast("timestamp").cast("timestamp_ntz").as("ts"),
        concat(lit("m"), (col("id") % 7).cast("string")).as("f1"),
        concat(lit("h"), (col("id") % hosts).cast("string")).as("f2"),
        rand(a).as("value")))
      val bytes = Files.walk(d).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
      assert(bytes > MetricStore.OneTaskFetchBytes, s"the store holds only $bytes bytes")
      val df = store.fetch("2024-01-01", "2024-01-02", Seq(None, None))
      assert(df.agg(sum("cnt")).head().getLong(0) == 2L * hosts * 144)
      df.collect()
      val n = shuffles(df.queryExecution.executedPlan)
      assert(n == 1, s"a fetch of $bytes bytes ran $n shuffle exchange(s)")
    }
  }

  test("fetch on a store with no data returns no rows with the store's schema") {
    val fetchSchema = Seq("epoch", "depth", "f1", "f2", "bucket", "total", "cnt")
    withTempDir("graftstore_none") { tmp =>
      val never = new MetricStore(spark, tmp.resolve("graftstore_none").toString)
      val none = never.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu")))
      assert(none.schema.fieldNames.toSeq == fetchSchema)
      assert(none.collect().isEmpty)
      assert(never.cascade().collect().isEmpty)

      // every epoch emptied by deleteSeries: points/ exists but holds no partition
      val dir = tmp.resolve("graftstore_emptied").toString
      val emptied = new MetricStore(spark, dir)
      emptied.track(mkEvents(Seq(
        ("2024-01-01 10:05:00", "cpu", "alice", 1.0),
        ("2024-01-02 10:05:00", "mem", "alice", 2.0))))
      assert(emptied.deleteSeries(Seq(None, Some("alice"))) == 2L)
      assert(Files.isDirectory(java.nio.file.Paths.get(dir, "points")))
      val gone = emptied.fetch("2024-01-01", "2024-01-03", Seq(None, None))
      assert(gone.schema.fieldNames.toSeq == fetchSchema)
      assert(gone.collect().isEmpty)
    }
  }

  test("graft_fetch opens the store with its own params.json (3-level fields)") {
    import spark.implicits._
    withTempDir("graftroot_sql") { tmp =>
      val root = tmp.toString
      val store = new MetricStore(spark, s"$root/infra",
        StoreParams(fields = Seq("dc", "host", "metric")))
      store.track(Seq(
        ("2024-01-01 10:05:00", "us", "h1", "cpu", 10.0),
        ("2024-01-01 10:20:00", "us", "h1", "cpu", 4.0),
        ("2024-01-01 10:30:00", "us", "h1", "mem", 2.0))
        .toDF("ts", "dc", "host", "metric", "value")
        .withColumn("ts", col("ts").cast("timestamp_ntz")))
      withConf("spark.graft.fetch.root" -> root) {
        val r = spark.sql("SELECT * FROM graft_fetch('infra', 'us.h1.cpu', " +
          "'2024-01-01', '2024-01-02')").collect()
        assert(r.length == 1 && r.head.getAs[Int]("depth") == 3)
        assert(r.head.getAs[Double]("total") == 14.0 && r.head.getAs[Long]("cnt") == 2L)
        // a directory without params.json is refused, naming the store
        Files.createDirectories(java.nio.file.Paths.get(root, "bare"))
        val e = intercept[Exception](spark.sql(
          "SELECT * FROM graft_fetch('bare', 'us', '2024-01-01', '2024-01-02')").collect())
        assert(e.getMessage.contains("bare") && e.getMessage.contains(CorpusArtifact.ParamFile))
      }
    }
  }

  /** Executed plans of the queries `body` ran. */
  private def plansDuring(body: => Any): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 30000000000L
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** Shuffle exchanges in an executed plan, through its adaptive stages. */
  private def shuffles(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case q: QueryStageExec => shuffles(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(shuffles).sum
    case other => (other.children ++ other.subqueries).map(shuffles).sum
  }

  test("expire drops epoch partitions beyond retention (cache.Expire)") {
    withTempDir("graftstore") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir, StoreParams(retentionEpochs = 2))
      store.track(mkEvents(Seq(
        ("2024-01-01 00:00:00", "cpu", "h", 1.0),
        ("2024-01-02 00:00:00", "cpu", "h", 1.0),
        ("2024-01-03 00:00:00", "cpu", "h", 1.0))))
      val dropped = store.expire()
      assert(dropped == Seq("2024-01-01"))
      val left = store.points().select(col("epoch")).distinct().collect()
        .map(_.getString(0)).sorted.toSeq
      assert(left == Seq("2024-01-02", "2024-01-03"))
    }
  }

  test("expire counts retention in epochs: a week store with retention 2 keeps both weeks") {
    withTempDir("graftstore_week") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir, StoreParams("day", "week", retentionEpochs = 2))
      store.track(mkEvents(Seq(
        ("2023-12-27 09:00:00", "cpu", "h", 1.0), // week of Mon 2023-12-25
        ("2024-01-03 09:00:00", "cpu", "h", 1.0), // week of Mon 2024-01-01
        ("2024-01-08 09:00:00", "cpu", "h", 1.0)))) // week of Mon 2024-01-08
      assert(store.expire() == Seq("2023-12-25"))
      val left = store.points().select(col("epoch")).distinct().collect()
        .map(_.getString(0)).sorted.toSeq
      assert(left == Seq("2024-01-01", "2024-01-08"))
    }
  }

  test("deleteSeries removes a user's leaves and decrements ancestor rollups") {
    withTempDir("graftstore_del") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir)
      store.track(mkEvents(Seq(
        ("2024-01-01 10:05:00", "cpu", "alice", 10.0),
        ("2024-01-01 10:10:00", "cpu", "bob", 4.0),
        ("2024-01-02 09:00:00", "cpu", "alice", 2.0),
        ("2024-01-02 09:30:00", "mem", "alice", 6.0),
        ("2024-01-03 08:00:00", "cpu", "bob", 1.0))))
      // right-to-be-forgotten: every series whose second field is "alice"
      val n = store.deleteSeries(Seq(None, Some("alice")))
      assert(n == 3L)
      // alice's leaf rows are gone at every depth-2 fetch
      assert(store.fetch("2024-01-01", "2024-01-04", Seq(None, Some("alice")))
        .collect().isEmpty)
      // depth-1 rollups decremented, not rebuilt: cpu keeps only bob's data
      val cpu = store.fetch("2024-01-01", "2024-01-04", Seq(Some("cpu"))).collect()
      assert(cpu.map(_.getAs[Double]("total")).sum == 5.0)
      assert(cpu.map(_.getAs[Long]("cnt")).sum == 2L)
      // a prefix whose data was entirely alice's disappears
      assert(store.fetch("2024-01-01", "2024-01-04", Seq(Some("mem"))).collect().isEmpty)
      // untouched epoch (only bob) still intact
      val d3 = store.fetch("2024-01-03", "2024-01-04", Seq(Some("cpu"), Some("bob"))).collect()
      assert(d3.length == 1 && d3.head.getAs[Double]("total") == 1.0)
      // deleting again is a no-op
      assert(store.deleteSeries(Seq(None, Some("alice"))) == 0L)
    }
  }

  test("deleteSeries keeps NULL-valued series and decrements their NULL ancestors") {
    withTempDir("graftstore_del_null") { tmp =>
      val store = new MetricStore(spark, tmp.toString)
      store.track(mkEvents(Seq(
        ("2024-01-01 10:05:00", "a", "x", 1.0),
        ("2024-01-01 10:10:00", "a", null, 2.0),
        ("2024-01-01 10:15:00", null, "x", 4.0),
        ("2024-01-01 10:20:00", null, "y", 8.0),
        ("2024-01-01 10:25:00", "a", "y", 16.0))))
      def series(): Seq[(Int, String, String, Double, Long)] =
        store.points().collect().toSeq.map(r => (r.getAs[Int]("depth"), r.getAs[String]("f1"),
          r.getAs[String]("f2"), r.getAs[Double]("total"), r.getAs[Long]("cnt"))).sortBy(_.toString)
      assert(store.deleteSeries(Seq(None, Some("y"))) == 2L)
      // (a, NULL) is not a match of (*, y); the (NULL) rollup loses (NULL, y)
      assert(series() == Seq(
        (1, "a", null, 3.0, 2L), (1, null, null, 4.0, 1L),
        (2, "a", "x", 1.0, 1L), (2, "a", null, 2.0, 1L), (2, null, "x", 4.0, 1L)).sortBy(_.toString))
      assert(store.deleteSeries(Seq(Some("a"), None)) == 2L)
      assert(series() == Seq((1, null, null, 4.0, 1L), (2, null, "x", 4.0, 1L)).sortBy(_.toString))
    }
  }

  test("refreshCascade incrementally maintains 6h/24h continuous aggregates") {
    withTempDir("graftstore_casc") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir)
      store.track(mkEvents(Seq(
        ("2024-01-01 01:05:00", "cpu", "h1", 10.0),
        ("2024-01-01 05:10:00", "cpu", "h1", 4.0),   // same 6h slot as 01:05
        ("2024-01-01 13:00:00", "cpu", "h1", 2.0),
        ("2024-01-02 03:00:00", "cpu", "h1", 7.0))))
      store.refreshCascade(Seq("2024-01-01"))
      // only the refreshed epoch is materialized
      val c1 = store.cascade().collect()
      assert(c1.map(_.getAs[String]("epoch")).forall(_ == "2024-01-01"))
      def slot6(rows: Array[org.apache.spark.sql.Row]) = rows
        .filter(r => r.getAs[Int]("res_hours") == 6 && r.getAs[Int]("depth") == 2)
        .map(r => r.getAs[java.time.LocalDateTime]("bucket").toString -> r.getAs[Double]("total"))
        .toMap
      assert(slot6(c1)("2024-01-01T00:00") == 14.0)
      assert(slot6(c1)("2024-01-01T12:00") == 2.0)

      // new appends into BOTH epochs; refreshing them updates in place —
      // no duplicate rows, day totals follow the appends
      store.track(mkEvents(Seq(
        ("2024-01-01 02:00:00", "cpu", "h1", 1.0),
        ("2024-01-02 04:00:00", "cpu", "h1", 3.0))))
      store.refreshCascade(Seq("2024-01-01", "2024-01-02"))
      val c2 = store.cascade().collect()
      assert(slot6(c2)("2024-01-01T00:00") == 15.0)
      val days = c2.filter(r => r.getAs[Int]("res_hours") == 24 && r.getAs[Int]("depth") == 2)
        .map(r => r.getAs[String]("epoch") -> r.getAs[Double]("total")).toMap
      assert(days == Map("2024-01-01" -> 17.0, "2024-01-02" -> 10.0))

      // a slot that crosses the epoch/day boundary is rejected
      intercept[IllegalArgumentException](store.refreshCascade(Seq("2024-01-01"), Seq(7)))
    }
  }

  test("expire and deleteSeries invalidate the cascade materialization") {
    withTempDir("graftstore_casc_inv") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir, StoreParams(retentionEpochs = 2))
      store.track(mkEvents(Seq(
        ("2024-01-01 01:00:00", "cpu", "alice", 8.0),
        ("2024-01-02 02:00:00", "cpu", "alice", 2.0),
        ("2024-01-02 03:00:00", "cpu", "bob", 5.0),
        ("2024-01-03 04:00:00", "mem", "alice", 1.0))))
      store.refreshCascade(Seq("2024-01-01", "2024-01-02", "2024-01-03"))

      // expire drops 2024-01-01 from points AND from the cascade
      assert(store.expire() == Seq("2024-01-01"))
      assert(store.cascade().filter(col("epoch") === "2024-01-01").isEmpty)

      // deleting alice refreshes the partially-affected epoch (bob's rows
      // survive with recomputed totals) and DROPS the epoch the delete
      // emptied (2024-01-03 was alice-only) instead of leaving it stale
      assert(store.deleteSeries(Seq(None, Some("alice"))) == 2L)
      val day2 = store.cascade().filter(col("epoch") === "2024-01-02"
        && col("res_hours") === 24 && col("depth") === 1).collect()
      assert(day2.map(_.getAs[Double]("total")).toSeq == Seq(5.0))
      assert(store.cascade().filter(col("epoch") === "2024-01-03").isEmpty)
    }
  }

  test("deleteSeries survives a cascade emptied by expire") {
    withTempDir("graftstore_casc_empty") { tmp =>
      val dir = tmp.toString
      val store = new MetricStore(spark, dir, StoreParams(retentionEpochs = 1))
      store.track(mkEvents(Seq(
        ("2024-01-01 01:00:00", "cpu", "alice", 8.0),
        ("2024-01-03 02:00:00", "cpu", "alice", 2.0),
        ("2024-01-03 03:00:00", "cpu", "bob", 5.0))))
      // cascade built only for the epoch expire() is about to drop — after
      // expire the cascade dir still exists but holds no epoch partitions
      store.refreshCascade(Seq("2024-01-01"))
      assert(store.expire() == Seq("2024-01-01"))
      // must not throw "unable to infer schema" reading the emptied cascade
      assert(store.deleteSeries(Seq(None, Some("alice"))) == 1L)
      val left = store.fetch("2024-01-03", "2024-01-04", Seq(Some("cpu"), None))
        .collect()
      assert(left.map(_.getAs[String]("f2")).toSeq == Seq("bob"))
    }
  }
}
