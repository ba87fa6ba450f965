package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.core.{MetricStore, StoreParams}
import graft.streaming.StreamingTracker
import graft.streaming.StreamingTracker.{Latest, Point}

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("streaming track: windowed rollup aggregation over a memory stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Point]
    val agg = StreamingTracker.trackStream(input.toDF(), "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("tracked")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(
        Point("cpu", "h1", ts("2024-01-01 10:05:00"), 10.0),
        Point("cpu", "h1", ts("2024-01-01 10:50:00"), 5.0),
        Point("cpu", "h2", ts("2024-01-01 11:10:00"), 2.0))
      q.processAllAvailable()
      val rows = spark.table("tracked").collect()
      assert(rows.length == 2)
      val h1 = rows.find(_.getAs[String]("f2") == "h1").get
      assert(h1.getAs[Double]("total") == 15.0 && h1.getAs[Long]("cnt") == 2L)
      assert(h1.getAs[Timestamp]("bucket") == ts("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("streaming sessionization: gap closes a session, watermark emits it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Point]
    val events = input.toDF().selectExpr("f2 AS ignore", "f1", "ts", "value")
      .withColumn("user_id", org.apache.spark.sql.functions.lit(7L))
    val sess = StreamingTracker.sessionStream(events, "30 minutes", "0 seconds")
    val q = sess.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Point("e", "x", ts("2024-01-01 10:00:00"), 1.0),
        Point("e", "x", ts("2024-01-01 10:20:00"), 2.0), // same session (gap 20m)
        Point("e", "x", ts("2024-01-01 11:30:00"), 4.0)) // new session (gap 70m)
      q.processAllAvailable()
      // push the watermark far past both sessions so they emit
      input.addData(Point("e", "x", ts("2024-01-01 15:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
      assert(rows.length == 2)
      val first = rows.minBy(_.getAs[Timestamp]("session_start").getTime)
      assert(first.getAs[Long]("n_events") == 2L
        && first.getAs[Double]("total_value") == 3.0
        && first.getAs[Timestamp]("session_end") == ts("2024-01-01 10:50:00"))
    } finally q.stop()
  }

  test("sliding alert fires only for windows crossing the threshold") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Point]
    val alerts = StreamingTracker.slidingAlert(input.toDF(),
      "1 hour", "30 minutes", "0 seconds", threshold = 10.0)
    val q = alerts.writeStream.format("memory").queryName("alerts")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Point("cpu", "h1", ts("2024-01-01 10:05:00"), 8.0),
        Point("cpu", "h1", ts("2024-01-01 10:40:00"), 4.0), // 09:30+10:00 windows reach 12
        Point("net", "h1", ts("2024-01-01 10:10:00"), 1.0)) // never crosses
      q.processAllAvailable()
      input.addData(Point("cpu", "h1", ts("2024-01-01 14:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("alerts").collect()
      assert(rows.nonEmpty && rows.forall(_.getAs[String]("f1") == "cpu"))
      assert(rows.forall(_.getAs[Double]("total") >= 10.0))
      // the sliding windows covering BOTH events fired (10:05 and 10:40
      // share the 09:45/10:00/10:15/10:30 starts only where len covers)
      assert(rows.exists(_.getAs[Timestamp]("win_start") == ts("2024-01-01 10:00:00")))
    } finally q.stop()
  }

  test("startIntoStore: streamed windows are fetchable through MetricStore") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("streamstore").toString
    val chk = java.nio.file.Files.createTempDirectory("streamchk").toString
    val input = MemoryStream[Point]
    val qs = StreamingTracker.startIntoStore(input.toDF(), new MetricStore(spark, root), chk,
      watermark = "0 seconds")
    try {
      input.addData(
        Point("cpu", "h1", ts("2024-01-01 10:05:00"), 10.0),
        Point("cpu", "h1", ts("2024-01-01 10:50:00"), 5.0),
        Point("cpu", "h2", ts("2024-01-01 11:10:00"), 2.0))
      qs.foreach(_.processAllAvailable())
      // advance the watermark so the 10:00/11:00 windows close and flush
      input.addData(Point("cpu", "h9", ts("2024-01-01 13:00:00"), 0.0))
      qs.foreach(_.processAllAvailable())
      val store = new MetricStore(spark, root)
      val exact = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), Some("h1"))).collect()
      assert(exact.length == 1 && exact.head.getAs[Double]("total") == 15.0)
      val rollup = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"))).collect()
      assert(rollup.map(_.getAs[Long]("cnt")).sum == 3L)
    } finally qs.foreach(_.stop())
  }

  test("startIntoStore writes what batch track writes: 3-field parity at every depth") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // binary-exact values: the stream and the batch sum them in different orders
    val feed = Seq(
      (ts("2024-01-01 23:58:10"), "us", "h1", "cpu", 0.5),
      (ts("2024-01-01 23:58:40"), "us", "h1", "cpu", 1.25),
      (ts("2024-01-01 23:58:50"), "us", "h1", "mem", 8.0),
      (ts("2024-01-01 23:59:30"), "us", "h2", "cpu", 2.75),
      (ts("2024-01-02 00:00:05"), "eu", "h3", "cpu", 4.5),
      (ts("2024-01-02 00:00:55"), "eu", "h3", "cpu", 0.25),
      (ts("2024-01-02 00:01:20"), "us", "h1", "cpu", 16.0))
    def parity(params: StoreParams): Unit = {
      val root = java.nio.file.Files.createTempDirectory("streamparity").toString
      val chk = java.nio.file.Files.createTempDirectory("streamparitychk").toString
      val input = MemoryStream[(Timestamp, String, String, String, Double)]
      val qs = StreamingTracker.startIntoStore(
        input.toDF().toDF("ts", "dc", "host", "metric", "value"),
        new MetricStore(spark, s"$root/streamed", params), chk, watermark = "0 seconds")
      try {
        input.addData(feed)
        qs.foreach(_.processAllAvailable())
        // a later point advances the watermark past every feed window; its own never closes
        input.addData((ts("2024-01-20 00:30:00"), "zz", "zz", "zz", 0.0))
        qs.foreach(_.processAllAvailable())
      } finally qs.foreach(_.stop())
      val batch = new MetricStore(spark, s"$root/batch", params)
      batch.track(feed.toDF("ts", "dc", "host", "metric", "value"))

      assert(MetricStore.loadAll(spark, root).keySet == Set("streamed", "batch"))
      val streamed = MetricStore.open(spark, s"$root/streamed")
      def rows(s: MetricStore, depth: Int) = s.fetch("2023-12-01", "2024-01-08",
        Seq.fill(depth)(None)).collect().map(_.toString).sorted.toSeq
      (1 to 3).foreach { d =>
        val want = rows(batch, d)
        assert(want.nonEmpty && rows(streamed, d) == want, s"$params depth $d")
      }
    }
    parity(StoreParams("minute", "day", 30, Seq("dc", "host", "metric")))
    // window() tiles weeks from Thursday 1970-01-01; the store's weeks start on Monday
    parity(StoreParams("week", "week", 30, Seq("dc", "host", "metric")))
  }

  test("commitBatch is exactly-once under micro-batch replay") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("commitstore").toString
    val batch = Seq(("cpu", "h1", "2024-01-01 10:00:00", 15.0, 2L, 2))
      .toDF("f1", "f2", "bucket", "total", "cnt", "depth")
      .withColumn("bucket", org.apache.spark.sql.functions.col("bucket").cast("timestamp_ntz"))
      .withColumn("epoch", org.apache.spark.sql.functions.lit("2024-01-01"))
    StreamingTracker.commitBatch(root)(batch, 7L)
    StreamingTracker.commitBatch(root)(batch, 7L) // replay of the same batch
    val store = new graft.core.MetricStore(spark, root)
    val r = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), Some("h1"))).collect()
    assert(r.length == 1 && r.head.getAs[Double]("total") == 15.0
      && r.head.getAs[Long]("cnt") == 2L) // not doubled
  }

  test("commitBatch writes multiple part files; partial-move replay stays exactly-once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("commitstore2").toString
    val batch = (0 until 8).map(h => ("cpu", s"h$h", f"2024-01-01 $h%02d:00:00", 1.0, 1L, 2))
      .toDF("f1", "f2", "bucket", "total", "cnt", "depth")
      .withColumn("bucket", org.apache.spark.sql.functions.col("bucket").cast("timestamp_ntz"))
      .withColumn("epoch", org.apache.spark.sql.functions.lit("2024-01-01"))
      .repartition(3) // a large micro-batch is NOT squeezed through one task
    StreamingTracker.commitBatch(root)(batch, 9L)
    val epochDir = java.nio.file.Paths.get(root, "points", "epoch=2024-01-01")
    def parts() = java.nio.file.Files.list(epochDir).filter(
      _.getFileName.toString.matches("batch-9-\\d+\\.parquet")).count()
    assert(parts() > 1)
    // simulate a crash after the move but before the marker: replay must
    // clear this batch's files and re-move, never double the data
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "_commits", "9"))
    StreamingTracker.commitBatch(root)(batch, 9L)
    val store = new graft.core.MetricStore(spark, root)
    val r = store.fetch("2024-01-01", "2024-01-02", Seq(Some("cpu"), None)).collect()
    assert(r.length == 8 && r.map(_.getAs[Long]("cnt")).sum == 8L)
  }

  test("latestPerSeries keeps the newest point via mapGroupsWithState") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Point]
    val latest = StreamingTracker.latestPerSeries(spark, input.toDS())
    val q = latest.writeStream.format("memory").queryName("latest")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(Point("cpu", "h1", ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      // older point arrives late — state must not regress
      input.addData(Point("cpu", "h1", ts("2024-01-01 09:00:00"), 99.0))
      q.processAllAvailable()
      val rows = spark.table("latest").as[Latest].collect()
      val last = rows.maxBy(_.ts.getTime)
      assert(last.value == 1.0 && last.ts == ts("2024-01-01 10:00:00"))
    } finally q.stop()
  }

  test("asofStream joins each probe to the latest prior build value per key") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingTracker.{AsofMatch, TaggedPoint}
    val input = MemoryStream[TaggedPoint]
    val joined = StreamingTracker.asofStream(spark, input.toDS())
    val q = joined.writeStream.format("memory").queryName("asof_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        TaggedPoint("u1", 0, ts("2024-01-01 10:00:00"), 2.0), // build
        TaggedPoint("u1", 1, ts("2024-01-01 10:30:00"), 9.0), // probe → 2.0
        TaggedPoint("u2", 1, ts("2024-01-01 10:10:00"), 5.0)) // probe, no build
      q.processAllAvailable()
      // next micro-batch: state carries the build point forward
      input.addData(
        TaggedPoint("u1", 0, ts("2024-01-01 11:00:00"), 3.0),
        TaggedPoint("u1", 1, ts("2024-01-01 11:05:00"), 7.0)) // probe → 3.0
      q.processAllAvailable()
      val rows = spark.table("asof_stream").as[AsofMatch].collect()
      assert(rows.length == 3)
      assert(rows.find(r => r.f2 == "u1" && r.value == 9.0).get.b_value.contains(2.0))
      assert(rows.find(r => r.f2 == "u1" && r.value == 7.0).get.b_value.contains(3.0))
      assert(rows.find(_.f2 == "u2").get.b_value.isEmpty)
    } finally q.stop()
  }

  test("asofStream: late cross-batch build inside the horizon matches like batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingTracker.{AsofMatch, TaggedPoint}
    val input = MemoryStream[TaggedPoint]
    val joined = StreamingTracker.asofStream(spark, input.toDS())
    val q = joined.writeStream.format("memory").queryName("asof_late")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: a NEWER build is applied first
      input.addData(TaggedPoint("u1", 0, ts("2024-01-01 10:50:00"), 5.0))
      q.processAllAvailable()
      // batch 2: an OLDER build arrives late (within the 1h horizon) —
      // the old latest-build-only state would have discarded it
      input.addData(TaggedPoint("u1", 0, ts("2024-01-01 10:20:00"), 2.0))
      q.processAllAvailable()
      // batch 3: a probe BETWEEN the two builds must match the late one
      // (batch parity), and a probe after both still gets the newest
      input.addData(
        TaggedPoint("u1", 1, ts("2024-01-01 10:30:00"), 9.0),  // → 2.0
        TaggedPoint("u1", 1, ts("2024-01-01 10:55:00"), 7.0))  // → 5.0
      q.processAllAvailable()
      val rows = spark.table("asof_late").as[AsofMatch].collect()
      assert(rows.find(_.value == 9.0).get.b_value.contains(2.0))
      assert(rows.find(_.value == 7.0).get.b_value.contains(5.0))
    } finally q.stop()
  }

  test("asofStream: builds beyond the horizon are evicted to a single floor entry") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingTracker.{AsofMatch, TaggedPoint}
    val input = MemoryStream[TaggedPoint]
    val joined = StreamingTracker.asofStream(spark, input.toDS(), horizonMs = 600000L)
    val q = joined.writeStream.format("memory").queryName("asof_evict")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        TaggedPoint("u1", 0, ts("2024-01-01 08:00:00"), 1.0),
        TaggedPoint("u1", 0, ts("2024-01-01 08:01:00"), 2.0))
      q.processAllAvailable()
      // a build far past the 10-min horizon compacts the old entries to
      // one floor (2.0) — a probe before the new build still matches it
      input.addData(TaggedPoint("u1", 0, ts("2024-01-01 10:00:00"), 9.0))
      q.processAllAvailable()
      input.addData(TaggedPoint("u1", 1, ts("2024-01-01 09:00:00"), 4.0))
      q.processAllAvailable()
      val rows = spark.table("asof_evict").as[AsofMatch].collect()
      assert(rows.find(_.value == 4.0).get.b_value.contains(2.0))
    } finally q.stop()
  }

  test("asofStream: a foreign state-format version fails loudly") {
    // the gate every state read applies: a checkpoint written by a
    // different format version must abort with the upgrade instruction,
    // never silently mis-interpret the buffer
    val err = intercept[IllegalStateException] {
      StreamingTracker.requireAsofStateVersion(1)
    }
    assert(err.getMessage.contains("v1") &&
      err.getMessage.contains(s"v${StreamingTracker.AsofStateVersion}") &&
      err.getMessage.contains("fresh checkpoint"))
    StreamingTracker.requireAsofStateVersion(StreamingTracker.AsofStateVersion)
  }

  test("dedupStream drops repeated content within the watermark horizon") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String, Timestamp)]
    val deduped = StreamingTracker.dedupStream(
      input.toDS().toDF("doc_id", "text", "ts"), "1 hour")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData((1L, "alpha", ts("2024-01-01 10:00:00")),
        (2L, "beta", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // same content again in a later micro-batch, inside the horizon
      input.addData((3L, "alpha", ts("2024-01-01 10:30:00")),
        (4L, "gamma", ts("2024-01-01 10:31:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect()
        .map(_.getAs[Long]("doc_id")).sorted.toSeq
      assert(ids == Seq(1L, 2L, 4L)) // doc 3 ("alpha" again) dropped
    } finally q.stop()
  }

  test("rateStream emits reset-aware increases with O(keys) state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingTracker.RateOut
    val input = MemoryStream[Point]
    val rates = StreamingTracker.rateStream(spark, input.toDS())
    val q = rates.writeStream.format("memory").queryName("rate_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Point("cpu", "h1", ts("2024-01-01 10:00:00"), 10.0),
        Point("cpu", "h1", ts("2024-01-01 11:00:00"), 14.0))
      q.processAllAvailable()
      // next batch: normal growth then a counter reset (14 → 25 → 3)
      input.addData(
        Point("cpu", "h1", ts("2024-01-01 12:00:00"), 25.0),
        Point("cpu", "h1", ts("2024-01-01 13:00:00"), 3.0))
      q.processAllAvailable()
      val rows = spark.table("rate_stream").as[RateOut].collect()
        .sortBy(_.ts.getTime).toSeq
      assert(rows.map(_.increase) ==
        Seq(None, Some(4.0), Some(11.0), Some(3.0)))
    } finally q.stop()
  }

  test("burnRateStream: closed hour windows report burn and alert") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Point]
    val burns = StreamingTracker.burnRateStream(input.toDF(), "0 seconds", 0.25)
    val q = burns.writeStream.format("memory").queryName("burn_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        Point("error", "h1", ts("2024-01-01 10:05:00"), 1.0),
        Point("error", "h1", ts("2024-01-01 10:15:00"), 1.0),
        Point("view", "h1", ts("2024-01-01 10:25:00"), 1.0),
        Point("view", "h1", ts("2024-01-01 10:35:00"), 1.0),
        Point("view", "h1", ts("2024-01-01 11:10:00"), 1.0),
        Point("view", "h1", ts("2024-01-01 11:20:00"), 1.0))
      q.processAllAvailable()
      // advance the watermark past both hours so they close and emit
      input.addData(Point("view", "h1", ts("2024-01-01 14:00:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("burn_stream").collect()
        .map(r => r.getAs[Timestamp]("bucket") ->
          (r.getAs[Double]("burn"), r.getAs[Boolean]("alert"))).toMap
      // hour 10: 2/4 errors → burn 0.5/0.25 = 2.0, alert; hour 11: 0/2
      assert(rows(ts("2024-01-01 10:00:00")) == (2.0, true))
      assert(rows(ts("2024-01-01 11:00:00")) == (0.0, false))
    } finally q.stop()
  }

  test("cusumStream accumulates drift across micro-batches and alarms") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingTracker.CusumOut
    val input = MemoryStream[Point]
    val cs = StreamingTracker.cusumStream(spark, input.toDS(), target = 10.0, h = 5.0)
    val q = cs.writeStream.format("memory").queryName("cusum_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: 12, 13 → c = 2, then 5 (no alarm: 5 is not > 5)
      input.addData(
        Point("cpu", "h1", ts("2024-01-01 10:00:00"), 12.0),
        Point("cpu", "h1", ts("2024-01-01 11:00:00"), 13.0))
      q.processAllAvailable()
      // batch 2: state carries c=5 → 14 pushes to 9 (alarm), 2 drains to 1
      input.addData(
        Point("cpu", "h1", ts("2024-01-01 12:00:00"), 14.0),
        Point("cpu", "h1", ts("2024-01-01 13:00:00"), 2.0))
      q.processAllAvailable()
      val rows = spark.table("cusum_stream").as[CusumOut].collect()
        .sortBy(_.ts.getTime).toSeq
      assert(rows.map(_.cusum) == Seq(2.0, 5.0, 9.0, 1.0))
      assert(rows.map(_.alarm) == Seq(false, false, true, false))
    } finally q.stop()
  }

  test("holtWintersStream reproduces the batch fold across a micro-batch split") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingTracker.HwOut
    val pts = Seq(
      ("2024-01-01 10:10:00", 10.0), ("2024-01-01 11:10:00", 25.0),
      ("2024-01-01 12:10:00", 13.0), ("2024-01-01 13:10:00", 40.0),
      ("2024-01-01 14:10:00", 11.0), ("2024-01-01 15:10:00", 26.0))
    val input = MemoryStream[Point]
    val hw = StreamingTracker.holtWintersStream(spark, input.toDS(),
      0.5, 0.3, 0.2, 3)
    val q = hw.writeStream.format("memory").queryName("hw_stream")
      .outputMode(OutputMode.Append).start()
    try {
      val (b1, b2) = pts.splitAt(3)
      input.addData(b1.map { case (t, v) => Point("purchase", "", ts(t), v) }: _*)
      q.processAllAvailable()
      input.addData(b2.map { case (t, v) => Point("purchase", "", ts(t), v) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("hw_stream").as[HwOut].collect()
        .sortBy(_.ts.getTime).map(_.forecast).toSeq
      val batch = graft.core.Tsdb.holtWinters(
        graft.core.Tsdb.points1(eventsDf(pts.map { case (t, v) => (t, "purchase", 1L, v) })),
        0.5, 0.3, 0.2, 3)
        .collect()
        .sortBy(_.getAs[java.time.LocalDateTime]("bucket").toString)
        .map(_.getAs[Double]("forecast")).toSeq
      assert(streamed == batch,
        s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("streaming quality gate: batch curation projections run on streams unchanged") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // withQuality/withLangId are pure projections (no shuffle, no state),
    // so the BATCH operators gate a stream as-is — one code path for both
    val input = MemoryStream[(Long, String)]
    val gated = graft.operators.TextAnalysis
      .withQuality(input.toDF().toDF("doc_id", "text"))
      .filter(org.apache.spark.sql.functions.col("quality") >= 0.3)
      .select("doc_id", "quality")
    val q = gated.writeStream.format("memory").queryName("quality_gate")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (1L, "the cat sat on the mat at the end of a story"),
        (2L, "!!!! ???? ...."))  // low quality, filtered out
      q.processAllAvailable()
      val kept = spark.table("quality_gate").collect().map(_.getAs[Long]("doc_id"))
      assert(kept.toSeq == Seq(1L))
    } finally q.stop()
  }

  test("gopher rules gate a stream with the unchanged batch operator") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // gopherRules is array expressions over one projection — zero shuffle,
    // zero state — so the batch screens run on arriving micro-batches as-is
    val input = MemoryStream[(Long, String)]
    val gated = graft.operators.TextAnalysis
      .gopherRules(input.toDF().toDF("doc_id", "text"))
      .filter(org.apache.spark.sql.functions.col("pass"))
      .select("doc_id", "n_tokens")
    val q = gated.writeStream.format("memory").queryName("gopher_gate")
      .outputMode(OutputMode.Append).start()
    try {
      val good = (Seq.fill(10)("the quick brown fox jumps") ++ Seq("of a to in is"))
        .mkString(" ")
      input.addData((1L, good), (2L, "too short"))
      q.processAllAvailable()
      val kept = spark.table("gopher_gate").collect().map(_.getAs[Long]("doc_id"))
      assert(kept.toSeq == Seq(1L))
    } finally q.stop()
  }

  test("attributionStream carries first/last touch across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingTracker.AttrOut
    val input = MemoryStream[Point]
    val at = StreamingTracker.attributionStream(spark, input.toDS())
    val q = at.writeStream.format("memory").queryName("attr_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: u1 view → click → purchase(10); u2 purchase(7) untouched
      input.addData(
        Point("view", "u1", ts("2024-01-01 10:00:00"), 0.0),
        Point("click", "u1", ts("2024-01-01 11:00:00"), 0.0),
        Point("purchase", "u1", ts("2024-01-01 12:00:00"), 10.0),
        Point("purchase", "u2", ts("2024-01-01 09:00:00"), 7.0))
      q.processAllAvailable()
      // batch 2: u1 purchases again with NO new touch — state must still
      // say first=view, last=click
      input.addData(Point("purchase", "u1", ts("2024-01-01 13:00:00"), 5.0))
      q.processAllAvailable()
      val rows = spark.table("attr_stream").as[AttrOut].collect()
        .map(r => (r.f2, r.ts.toString) -> ((r.revenue, r.first_touch, r.last_touch)))
        .toMap
      assert(rows == Map(
        ("u1", "2024-01-01 12:00:00.0") -> ((10.0, "view", "click")),
        ("u1", "2024-01-01 13:00:00.0") -> ((5.0, "view", "click")),
        ("u2", "2024-01-01 09:00:00.0") -> ((7.0, "none", "none"))), s"got $rows")
    } finally q.stop()
  }

  test("topkStream: SpaceSaving bounds hold and the dominant key surfaces") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingTracker.TopkOut
    def pts(user: String, n: Int, base: Int): Seq[Point] =
      (0 until n).map(i => Point("view", user,
        ts(f"2024-01-01 ${(base + i) / 60}%02d:${(base + i) % 60}%02d:00"), 1.0))
    val input = MemoryStream[Point]
    // m=2 counters, 4 distinct keys: u1 dominates with 8 hits
    val hh = StreamingTracker.topkStream(spark, input.toDS(), m = 2, k = 2)
    val q = hh.writeStream.format("memory").queryName("topk_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(pts("u1", 5, 0) ++ pts("u2", 2, 10): _*)
      q.processAllAvailable()
      input.addData(pts("u1", 3, 20) ++ pts("u3", 1, 30) ++ pts("u4", 1, 40): _*)
      q.processAllAvailable()
      val snaps = spark.table("topk_stream").as[TopkOut].collect()
      // final snapshot = second batch's emission (8 u1 hits + churn)
      val fin = snaps.groupBy(_.f2).map { case (u, rows) => u -> rows.maxBy(_.est) }
      val top = snaps.filter(_.rank == 1).maxBy(_.est)
      assert(top.f2 == "u1", s"dominant key lost: $top")
      // SpaceSaving guarantee for the tracked dominant key:
      // est >= true (8) >= est - err
      assert(top.est >= 8L && top.est - top.err <= 8L, s"bounds broken: $top")
      // state stayed capped: never more than m=2 distinct keys per snapshot
      assert(fin.size <= 4)
    } finally q.stop()
  }
}
