package graft

import org.apache.spark.sql.functions._

import graft.core.Tsdb

class TsdbSpec extends SparkSpec {

  private def ev = eventsDf(Seq(
    ("2024-01-01 00:10:00", "purchase", 1L, 10.0),
    ("2024-01-01 00:20:00", "purchase", 1L, 5.0),
    ("2024-01-01 00:30:00", "purchase", 2L, 1.0),
    ("2024-01-01 01:10:00", "error", 1L, 2.0),
    ("2024-01-02 03:00:00", "error", 2L, 4.0)))

  test("trackRollup materializes every prefix (kadiyadb Track semantics)") {
    val r = Tsdb.trackRollup(ev).collect()
    // depth2: (purchase,1,h0) (purchase,2,h0) (error,1,h1) (error,2,d2h3)
    // depth1: (purchase,h0) (error,h1) (error,d2h3)
    assert(r.count(_.getAs[Int]("depth") == 2) == 4)
    assert(r.count(_.getAs[Int]("depth") == 1) == 3)
    val p1h0 = r.find(x => x.getAs[Int]("depth") == 2 &&
      x.getAs[String]("f1") == "purchase" && x.getAs[String]("f2") == "1").get
    assert(p1h0.getAs[Double]("total") == 15.0 && p1h0.getAs[Long]("cnt") == 2L)
    val rollup = r.find(x => x.getAs[Int]("depth") == 1 &&
      x.getAs[String]("f1") == "purchase").get
    assert(rollup.getAs[Double]("total") == 16.0 && rollup.getAs[Long]("cnt") == 3L)
  }

  test("epochChunks clips chunk bounds to the query range") {
    val chunks = Tsdb.epochChunks(Tsdb.points(ev),
      lit("2024-01-01 00:30:00"), lit("2024-01-02 12:00:00")).collect()
    assert(chunks.length == 2)
    val d1 = chunks.find(_.getAs[java.time.LocalDateTime]("epoch").getDayOfMonth == 1).get
    assert(d1.getAs[java.time.LocalDateTime]("chunk_from").getHour == 0) // bucket-floored range
  }

  test("retentionExpire keeps only epochs within retention of the max") {
    val wide = eventsDf((1 to 10).map(d =>
      (f"2024-01-$d%02d 00:00:00", "purchase", 1L, 1.0)))
    val kept = Tsdb.retentionExpire(Tsdb.points(wide), 3).collect()
    assert(kept.map(_.getAs[java.time.LocalDateTime]("epoch").getDayOfMonth).sorted.toSeq
      == Seq(8, 9, 10))
  }

  test("downsample re-buckets into coarser slots") {
    val r = Tsdb.downsample(Tsdb.points(ev), 6).collect()
    val slot = r.find(x => x.getAs[String]("f1") == "purchase" &&
      x.getAs[String]("f2") == "1").get
    assert(slot.getAs[Double]("total") == 15.0 && slot.getAs[Long]("cnt") == 2L)
    assert(slot.getAs[java.time.LocalDateTime]("bucket6").getHour == 0)
  }

  test("gapfill zero-fills missing buckets") {
    val r = Tsdb.gapfill(Tsdb.points1(ev), lit("2024-01-01 00:00:00"),
      lit("2024-01-01 03:00:00"), Seq("purchase", "error")).collect()
    assert(r.length == 6) // 2 series x 3 hours
    val zero = r.filter(x => x.getAs[String]("f1") == "purchase" &&
      x.getAs[java.time.LocalDateTime]("bucket").getHour == 2)
    assert(zero.length == 1 && zero.head.getAs[Double]("total") == 0.0)
  }

  test("sessionize splits on inactivity gaps; funnel counts conversions; histogram bins") {
    import spark.implicits._
    val ev2 = Seq(
      (1L, 7L, "signup", 1000000000L, 1.0),
      (2L, 7L, "purchase", 1000000000L + 300e9.toLong, 60.0), // +5 min, same session
      (3L, 7L, "purchase", 1000000000L + 7200e9.toLong, 10.0), // +2h, new session
      (4L, 8L, "purchase", 1000000000L, 5.0)) // purchase with no signup
      .toDF("event_id", "user_id", "event_type", "ts_ns", "value")
    val sessions = graft.core.Tsdb.sessionize(ev2, 30).collect()
    assert(sessions.count(_.getAs[Long]("user_id") == 7L) == 2)
    val s1 = sessions.find(r => r.getAs[Long]("user_id") == 7L &&
      r.getAs[Long]("session_id") == 1L).get
    assert(s1.getAs[Long]("n_events") == 2L && s1.getAs[Double]("total_value") == 61.0)
    val f = graft.core.Tsdb.funnel(ev2).head()
    assert(f.getAs[Long]("n_signup") == 1L && f.getAs[Long]("n_purchase") == 2L &&
      f.getAs[Long]("n_converted") == 1L)
    val h = graft.core.Tsdb.histogram(ev2, 50.0).collect()
    assert(h.find(r => r.getAs[String]("f1") == "purchase" && r.getAs[Long]("bin") == 1L)
      .get.getAs[Long]("cnt") == 1L)
  }

  test("latest / rate / movingAvg / topk / avgValue") {
    val pts = Tsdb.points(ev)
    val last = Tsdb.latest(pts).collect()
      .find(x => x.getAs[String]("f1") == "error" && x.getAs[String]("f2") == "2").get
    assert(last.getAs[java.time.LocalDateTime]("last_bucket").getDayOfMonth == 2)
    val rates = Tsdb.rate(pts).collect()
    assert(rates.count(_.isNullAt(rates.head.fieldIndex("rate"))) == 4) // first bucket per series
    val top = Tsdb.topkSeries(pts, 1).collect()
    assert(top.head.getAs[String]("f1") == "purchase" && top.head.getAs[String]("f2") == "1")
    val avg = Tsdb.avgValue(pts).collect()
      .find(x => x.getAs[String]("f1") == "purchase" && x.getAs[String]("f2") == "1").get
    assert(avg.getAs[Double]("avg_value") == 7.5)
    val mavg = Tsdb.movingAvg(pts, 3).collect()
    assert(mavg.nonEmpty)
  }

  test("asofJoin: last build value at or before each probe bucket, per key") {
    val pts = Tsdb.points(eventsDf(Seq(
      ("2024-01-01 00:05:00", "error", 1L, 2.0),
      ("2024-01-01 01:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 02:15:00", "error", 1L, 3.0),
      ("2024-01-01 02:40:00", "purchase", 1L, 4.0),
      ("2024-01-01 00:30:00", "purchase", 2L, 1.0))))
    val r = Tsdb.asofJoin(pts, "purchase", "error").collect()
    assert(r.length == 3)
    val u1h1 = r.find(x => x.getAs[String]("f2") == "1" &&
      x.getAs[java.time.LocalDateTime]("bucket").getHour == 1).get
    assert(u1h1.getAs[Double]("b_total") == 2.0 &&
      u1h1.getAs[java.time.LocalDateTime]("b_bucket").getHour == 0)
    // build row in the SAME bucket as the probe matches (inclusive ≥)
    val u1h2 = r.find(x => x.getAs[String]("f2") == "1" &&
      x.getAs[java.time.LocalDateTime]("bucket").getHour == 2).get
    assert(u1h2.getAs[Double]("b_total") == 3.0 &&
      u1h2.getAs[java.time.LocalDateTime]("b_bucket").getHour == 2)
    // probe with no prior build → left semantics, nulls
    val u2 = r.find(_.getAs[String]("f2") == "2").get
    assert(u2.isNullAt(u2.fieldIndex("b_total")))
  }

  test("interpolate: line between observed points, nearest-value at edges") {
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 03:20:00", "purchase", 1L, 4.0),
      ("2024-01-01 01:30:00", "error", 1L, 2.0))))
    val r = Tsdb.interpolate(pts1,
      lit("2024-01-01"), lit("2024-01-01 04:00:00"), Seq("purchase", "error"))
      .collect()
    def at(f1: String, h: Int) = r.find(x => x.getAs[String]("f1") == f1 &&
      x.getAs[java.time.LocalDateTime]("bucket").getHour == h).get
    assert(at("purchase", 1).getAs[Double]("value") == 8.0) // 10 + (4-10)/3
    assert(at("purchase", 2).getAs[Double]("value") == 6.0)
    assert(at("purchase", 0).getAs[Int]("observed") == 1 &&
      at("purchase", 1).getAs[Int]("observed") == 0)
    assert(at("error", 0).getAs[Double]("value") == 2.0) // leading → next
    assert(at("error", 3).getAs[Double]("value") == 2.0) // trailing → prev
  }

  test("gapfillLocf: leading hours stay NULL, gaps carry the last value, filled marks the synthesized hours") {
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 01:10:00", "purchase", 1L, 5.0),
      ("2024-01-01 03:20:00", "purchase", 2L, 7.0),
      ("2024-01-01 00:30:00", "error", 1L, 2.0))))
    val r = Tsdb.gapfillLocf(pts1,
      lit("2024-01-01"), lit("2024-01-01 05:00:00"), Seq("purchase", "error"))
      .collect()
    assert(r.length == 10) // 2 series x 5 hours
    val byHour = r.map { x =>
      (x.getAs[String]("f1"), x.getAs[java.time.LocalDateTime]("bucket").getHour) ->
        (Option(x.get(x.fieldIndex("total_locf"))), x.getAs[Boolean]("filled"))
    }.toMap
    assert(byHour(("purchase", 0)) == ((None, true)), "before the first point: NULL")
    assert((1 to 4).map(h => byHour(("purchase", h))) ==
      Seq((Some(5.0), false), (Some(5.0), true), (Some(7.0), false), (Some(7.0), true)))
    assert((0 to 4).map(h => byHour(("error", h))) ==
      (Some(2.0), false) +: Seq.fill(4)((Some(2.0), true)))
  }

  test("approxDistinctKMV: exact below k, deterministic estimate above") {
    val r = Tsdb.approxDistinctKMV(ev, k = 64).collect()
    // 2 distinct users per series here — below k, estimate is exact
    assert(r.forall(_.getAs[Double]("est") == r.head.getAs[Long]("k_used").toDouble))
    val r2 = Tsdb.approxDistinctKMV(ev, k = 1).collect()
    assert(r2.forall(x => x.getAs[Long]("k_used") == 1L)) // capped at k
  }

  test("activityWindows + intervalJoin: islands merge, events counted in range") {
    val evs = eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 01:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 02:10:00", "purchase", 1L, 1.0),
      ("2024-01-01 04:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 00:30:00", "error", 1L, 5.0),
      ("2024-01-01 01:15:00", "error", 2L, 7.0),
      ("2024-01-01 03:00:00", "error", 1L, 100.0),
      ("2024-01-01 04:30:00", "error", 2L, 1.0)))
    val win = Tsdb.activityWindows(Tsdb.points1(evs), "purchase", 1.0)
    val w = win.collect().sortBy(_.getAs[java.time.LocalDateTime]("win_start").getHour)
    assert(w.length == 2) // [00,02) merged from two hours; [04,05)
    assert(w(0).getAs[java.time.LocalDateTime]("win_end").getHour == 2)
    val j = Tsdb.intervalJoin(evs, win, "error").collect()
      .sortBy(_.getAs[java.time.LocalDateTime]("win_start").getHour)
    assert(j.length == 2)
    assert(j(0).getAs[Long]("n_events") == 2L && j(0).getAs[Double]("value_total") == 12.0)
    assert(j(1).getAs[Long]("n_events") == 1L && j(1).getAs[Double]("value_total") == 1.0)
    // the fused hour-bucket plan is value-identical to the generic
    // day-explode interval join over the same windows
    val fused = Tsdb.activityIntervalJoin(evs, Tsdb.points1(evs), "purchase", 1.0, "error")
    val generic = Tsdb.intervalJoin(evs, win, "error")
    assert(fused.except(generic).isEmpty && generic.except(fused).isEmpty,
      "fused activityIntervalJoin differs from activityWindows ∘ intervalJoin")
    // the driver-side islands fold is bounded by the TIME RANGE, not the
    // data volume — a pathological window/resolution combination must
    // fail loudly (require) instead of OOMing the driver
    val boom = intercept[IllegalArgumentException] {
      Tsdb.activityIntervalJoin(evs, Tsdb.points1(evs), "purchase", 1.0, "error",
        maxWindowHours = 1L)
    }
    assert(boom.getMessage.contains("maxWindowHours"))
  }

  test("anomalyMad flags the outlier a variance-based score would dilute") {
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 01:10:00", "purchase", 1L, 12.0),
      ("2024-01-01 02:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 03:10:00", "purchase", 1L, 12.0),
      ("2024-01-01 04:10:00", "purchase", 1L, 100.0))))
    val r = Tsdb.anomalyMad(pts1, 3.0).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Double]("total") == 100.0)
    assert(r.head.getAs[Double]("mad_score") == 44.0) // |100-12| / mad(2)
  }

  test("capacityForecast: exact trend and time-to-limit on a linear series") {
    // totals 10, 20, 30 → slope exactly 10/bucket, last 30; limit 100 is
    // 7 buckets of growth away
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 01:10:00", "purchase", 1L, 20.0),
      ("2024-01-01 02:10:00", "purchase", 1L, 30.0),
      ("2024-01-01 00:20:00", "error", 1L, 50.0),
      ("2024-01-01 01:20:00", "error", 1L, 40.0),
      ("2024-01-01 02:20:00", "error", 1L, 30.0))))
    val r = Tsdb.capacityForecast(pts1, 100.0).collect()
      .map(x => x.getAs[String]("f1") -> x).toMap
    assert(r("purchase").getAs[Double]("slope_per_bucket") == 10.0)
    assert(r("purchase").getAs[Double]("buckets_to_limit") == 7.0)
    // shrinking series: no projection
    assert(r("error").getAs[Double]("slope_per_bucket") == -10.0)
    assert(r("error").isNullAt(r("error").fieldIndex("buckets_to_limit")))
  }

  test("holtWinters: alpha=1,beta=0,gamma=0 degenerates to naive-last-value") {
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 01:10:00", "purchase", 1L, 25.0),
      ("2024-01-01 02:10:00", "purchase", 1L, 13.0),
      ("2024-01-01 03:10:00", "purchase", 1L, 40.0))))
    val r = Tsdb.holtWinters(pts1, 1.0, 0.0, 0.0, 3).collect()
      .sortBy(_.getAs[java.time.LocalDateTime]("bucket").toString)
    assert(r.map(_.getAs[Double]("forecast")).toSeq == Seq(10.0, 10.0, 25.0, 13.0))
  }

  test("holtWinters learns a pure seasonal cycle: late errors shrink") {
    val cycle = Seq(10.0, 20.0, 30.0)
    val rows = (0 until 24).map { t =>
      (f"2024-01-0${t / 24 + 1}%s ${t % 24}%02d:10:00", "purchase", 1L, cycle(t % 3))
    }
    val pts1 = Tsdb.points1(eventsDf(rows))
    val r = Tsdb.holtWinters(pts1, 0.3, 0.1, 0.5, 3).collect()
      .sortBy(_.getAs[java.time.LocalDateTime]("bucket").toString)
    def mae(xs: Array[org.apache.spark.sql.Row]) = xs.map(x =>
      math.abs(x.getAs[Double]("forecast") - x.getAs[Double]("total"))).sum / xs.length
    val early = mae(r.slice(3, 9))
    val late = mae(r.slice(18, 24))
    assert(late < early / 2.0,
      s"seasonal fold did not converge: early MAE $early, late MAE $late")
  }

  test("forecastEvalHw: naive degeneration gives the mean step size as MAE") {
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 10.0),
      ("2024-01-01 01:10:00", "purchase", 1L, 25.0),
      ("2024-01-01 02:10:00", "purchase", 1L, 13.0),
      ("2024-01-01 03:10:00", "purchase", 1L, 40.0))))
    val r = Tsdb.forecastEvalHw(pts1, 1.0, 0.0, 0.0, 3).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_evals") == 3L)
    assert(r.head.getAs[Double]("mae") == 18.0) // (15 + 12 + 27) / 3
  }

  test("seasonalBaseline compares each point to its (dow,hour) slot") {
    // three Mondays, same hour slot: 5, 5, 30 → baseline 13.33, only the
    // 30 exceeds 2x
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 5.0),
      ("2024-01-08 00:10:00", "purchase", 1L, 5.0),
      ("2024-01-15 00:10:00", "purchase", 1L, 30.0))))
    val r = Tsdb.seasonalBaseline(pts1, 2.0).collect()
    assert(r.length == 1 && r.head.getAs[Double]("total") == 30.0)
    assert(r.head.getAs[Double]("ratio") == 2.25)
  }

  test("topkMovers ranks series by period-over-period change") {
    val pts = Tsdb.points(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 10.0), // u1: 10 → 50, delta +40
      ("2024-01-20 00:10:00", "purchase", 1L, 50.0),
      ("2024-01-01 01:10:00", "purchase", 2L, 30.0), // u2: 30 → 25, delta -5
      ("2024-01-20 01:10:00", "purchase", 2L, 25.0))))
    val r = Tsdb.topkMovers(pts, "2024-01-15", 1).collect()
    assert(r.length == 1 && r.head.getAs[String]("f2") == "1")
    assert(r.head.getAs[Double]("delta") == 40.0)
  }

  test("rollupCascade: 6h level sums hours, day level sums 6h slots") {
    val pts = Tsdb.points(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 1.0),
      ("2024-01-01 05:10:00", "purchase", 1L, 2.0),  // same 0-6h slot
      ("2024-01-01 07:10:00", "purchase", 1L, 4.0),  // 6-12h slot
      ("2024-01-02 00:10:00", "purchase", 1L, 8.0)))) // next day
    val r = Tsdb.rollupCascade(pts).collect()
    def level(res: Int) = r.filter(_.getAs[Int]("res_hours") == res)
    assert(level(1).length == 4)
    assert(level(6).map(_.getAs[Double]("total")).sorted.toSeq == Seq(3.0, 4.0, 8.0))
    val days = level(24).map(x =>
      x.getAs[java.time.LocalDateTime]("bucket").toString -> x.getAs[Double]("total")).toMap
    assert(days == Map("2024-01-01T00:00" -> 7.0, "2024-01-02T00:00" -> 8.0))
    assert(level(24).map(_.getAs[Long]("cnt")).sum == 4L)
  }

  test("funnelOrdered: steps must be in order and inside the window") {
    import spark.implicits._
    val ev = Seq(
      // user 1: view → click → purchase, all within 72h → full funnel
      ("2024-01-01 00:00:00", "view", 1L),
      ("2024-01-01 01:00:00", "click", 1L),
      ("2024-01-01 02:00:00", "purchase", 1L),
      // user 2: click BEFORE view → step 2 not reached
      ("2024-01-02 01:00:00", "click", 2L),
      ("2024-01-02 02:00:00", "view", 2L),
      // user 3: click 100h after view → outside the 72h window
      ("2024-01-03 00:00:00", "view", 3L),
      ("2024-01-07 04:00:00", "click", 3L),
      // user 4: never viewed → not in the funnel at all
      ("2024-01-04 00:00:00", "purchase", 4L))
      .toDF("ts", "event_type", "user_id")
      .withColumn("ts_ns",
        org.apache.spark.sql.functions.expr("CAST(unix_timestamp(ts) AS BIGINT) * 1000000000"))
    val r = Tsdb.funnelOrdered(ev, "view", "click", "purchase", 72).head()
    assert(r.getAs[Long]("n_step1") == 3L) // users 1, 2, 3 viewed
    assert(r.getAs[Long]("n_step2") == 1L) // only user 1
    assert(r.getAs[Long]("n_step3") == 1L)
  }

  test("distinctOverlapKMV: exact below k, inclusion-exclusion intersect") {
    // purchase users {1,2,3}, error users {2,3,4}: all sketches exact
    // (< k hashes) → est_a=3, est_b=3, union=4, intersect=2, jaccard=0.5
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 1.0),
      ("2024-01-01 00:11:00", "purchase", 2L, 1.0),
      ("2024-01-01 00:12:00", "purchase", 3L, 1.0),
      ("2024-01-01 00:13:00", "purchase", 3L, 1.0), // dup user
      ("2024-01-01 00:14:00", "error", 2L, 1.0),
      ("2024-01-01 00:15:00", "error", 3L, 1.0),
      ("2024-01-01 00:16:00", "error", 4L, 1.0),
      ("2024-01-01 00:17:00", "signup", 9L, 1.0))) // other type ignored
    val r = Tsdb.distinctOverlapKMV(ev, "purchase", "error").head()
    assert(r.getAs[Double]("est_a") == 3.0 && r.getAs[Double]("est_b") == 3.0)
    assert(r.getAs[Double]("est_union") == 4.0)
    assert(r.getAs[Double]("est_intersect") == 2.0)
    assert(r.getAs[Double]("jaccard_est") == 0.5)
  }

  test("histogramQuantile: interpolated quantiles from the bucket ladder") {
    // 8 purchase values in bucket (4,8] (idx 5) and 2 in (64,128] (idx 9):
    // p50 target=5 falls in the first bucket → 4 + (8-4)*5/8 = 6.5;
    // p95 target=9.5 falls in the top bucket → 64 + (128-64)*1.5/2 = 112
    val vals = Seq.fill(8)(6.0) ++ Seq(100.0, 100.0)
    val ev = eventsDf(vals.zipWithIndex.map { case (v, i) =>
      (f"2024-01-01 00:${i}%02d:00", "purchase", i.toLong, v)
    })
    val r = Tsdb.histogramQuantile(ev, Seq(0.5, 0.95))
      .collect().map(x => (x.getAs[Double]("q"), x.getAs[Double]("est"))).toMap
    assert(r(0.5) == 6.5)
    assert(r(0.95) == 112.0)
  }

  test("histogramSketch merges by summing counts") {
    val evA = eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 3.0),
      ("2024-01-01 00:11:00", "purchase", 2L, 6.0)))
    val evB = eventsDf(Seq(
      ("2024-01-02 00:10:00", "purchase", 3L, 7.0),
      ("2024-01-02 00:11:00", "error", 4L, 600.0))) // overflow bucket
    val merged = Tsdb.histogramSketch(evA).union(Tsdb.histogramSketch(evB))
      .groupBy("f1", "le_idx")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    val whole = Tsdb.histogramSketch(evA.union(evB))
    assert(merged.collect().map(_.toString).sorted.toSeq ==
      whole.collect().map(_.toString).sorted.toSeq)
    // values above the top bound land in the +Inf bucket (idx = 12)
    assert(whole.filter(org.apache.spark.sql.functions.col("le_idx") === 12)
      .head().getAs[Long]("cnt") == 1L)
  }

  test("distinctOverlapKMV: absent type → one row with NULL estimate") {
    // Matches the oracle's scalar-subquery shape: the row always exists;
    // a type with no events contributes NULL, never an empty result set.
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 1.0),
      ("2024-01-01 00:11:00", "purchase", 2L, 1.0)))
    val rows = Tsdb.distinctOverlapKMV(ev, "purchase", "error").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Double]("est_a") == 2.0)
    assert(r.isNullAt(r.fieldIndex("est_b")))
    assert(r.getAs[Double]("est_union") == 2.0)
  }

  test("correlation: perfectly linear series → pearson 1") {
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 1.0),
      ("2024-01-01 01:10:00", "purchase", 1L, 2.0),
      ("2024-01-01 02:10:00", "purchase", 1L, 3.0),
      ("2024-01-01 00:20:00", "error", 1L, 2.0),
      ("2024-01-01 01:20:00", "error", 1L, 4.0),
      ("2024-01-01 02:20:00", "error", 1L, 6.0))))
    val r = Tsdb.correlation(pts1, "purchase", "error").head()
    assert(r.getAs[Long]("n_buckets") == 3L)
    assert(r.getAs[Double]("pearson") == 1.0)
  }

  test("levelShift: step change flagged only where both windows are full") {
    // hourly totals 1,1,1,10,10,10 with w=2: emitted buckets are idx 2..4
    // (both windows full); the cleanest contrast is at the step (idx 3):
    // before=(1+1)/2=1, after=(10+10)/2=10 → shift 9 ≥ threshold 5
    val pts1 = Tsdb.points1(eventsDf((0 to 5).map { i =>
      (f"2024-01-01 0$i%d:10:00", "purchase", 1L, if (i < 3) 1.0 else 10.0)
    }))
    val rows = Tsdb.levelShift(pts1, w = 2, threshold = 5.0)
      .orderBy("bucket").collect()
    assert(rows.length == 3) // edges with half windows are never emitted
    assert(rows.map(_.getAs[Double]("shift")).toSeq == Seq(4.5, 9.0, 4.5))
    assert(rows.map(_.getAs[Boolean]("is_shift")).toSeq ==
      Seq(false, true, false))
  }

  test("burnRate: alert only when short AND long windows exceed budget") {
    // budget 0.5, longW 2. h0: 1/2 errors → short burn 1.0, long 1.0 (alert);
    // h1: 2/2 → short 2.0, long (1+2)/(2+2)/0.5 = 1.5 (alert);
    // h2: 0/2 → short 0 (no alert despite long window still hot)
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "error", 1L, 1.0),
      ("2024-01-01 00:20:00", "view", 2L, 1.0),
      ("2024-01-01 01:10:00", "error", 3L, 1.0),
      ("2024-01-01 01:20:00", "error", 4L, 1.0),
      ("2024-01-01 02:10:00", "view", 5L, 1.0),
      ("2024-01-01 02:20:00", "view", 6L, 1.0)))
    val rows = Tsdb.burnRate(ev, budget = 0.5, longW = 2)
      .orderBy("bucket").collect()
    assert(rows.map(_.getAs[Double]("burn_short")).toSeq == Seq(1.0, 2.0, 0.0))
    assert(rows.map(_.getAs[Double]("burn_long")).toSeq == Seq(1.0, 1.5, 1.0))
    assert(rows.map(_.getAs[Boolean]("alert")).toSeq == Seq(true, true, false))
  }

  test("apdex: (satisfied + tolerating/2) / all with t=50") {
    // one hour bucket: 10 (satisfied), 100 (tolerating), 300 (frustrated)
    // → (1 + 0.5) / 3 = 0.5
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "view", 1L, 10.0),
      ("2024-01-01 00:20:00", "view", 2L, 100.0),
      ("2024-01-01 00:30:00", "view", 3L, 300.0)))
    val r = Tsdb.apdex(ev, 50.0).head()
    assert(r.getAs[Long]("n_sat") == 1L && r.getAs[Long]("n_tol") == 1L)
    assert(r.getAs[Long]("n_all") == 3L)
    assert(r.getAs[Double]("apdex") == 0.5)
  }

  test("autocorr: alternating series → acf(1) = -1, acf(2) = +1") {
    val pts1 = Tsdb.points1(eventsDf((0 to 5).map { i =>
      (f"2024-01-01 0$i%d:10:00", "view", 1L, if (i % 2 == 0) 1.0 else 3.0)
    }))
    val r = Tsdb.autocorr(pts1, 2).collect()
      .map(x => x.getAs[Long]("lag") -> (x.getAs[Long]("n_pairs"), x.getAs[Double]("acf")))
      .toMap
    assert(r(1L) == (5L, -1.0))
    assert(r(2L) == (4L, 1.0))
  }

  test("cusum: accumulates above target, drains to zero, alarms past h") {
    // totals 100,100,700,100 with target 200, h 400:
    // c = [0, 0, 500, 400]; only 500 > 400 alarms (400 is not >)
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "view", 1L, 100.0),
      ("2024-01-01 01:10:00", "view", 1L, 100.0),
      ("2024-01-01 02:10:00", "view", 1L, 700.0),
      ("2024-01-01 03:10:00", "view", 1L, 100.0))))
    val rows = Tsdb.cusum(pts1, 200.0, 400.0).orderBy("bucket").collect()
    assert(rows.map(_.getAs[Double]("cusum")).toSeq == Seq(0.0, 0.0, 500.0, 400.0))
    assert(rows.map(_.getAs[Boolean]("alarm")).toSeq ==
      Seq(false, false, true, false))
  }

  test("sax: segment means z-normalize and discretize in time order") {
    // four 6h segments with means 10, 20, 30, 1000: mu=265, sigma≈424.4
    // → z ≈ [-0.60, -0.58, -0.55, 1.73] → symbols b, b, b, d
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "view", 1L, 10.0),
      ("2024-01-01 06:10:00", "view", 1L, 20.0),
      ("2024-01-01 12:10:00", "view", 1L, 30.0),
      ("2024-01-01 18:10:00", "view", 1L, 1000.0)))
    val r = Tsdb.sax(Tsdb.points1(ev), 6).head()
    assert(r.getAs[Long]("n_segments") == 4L)
    assert(r.getAs[String]("sax_word") == "bbbd")
  }

  test("sloAvailability: inactive hours don't count, bad hours do") {
    // hour 0: 2 errors / 4 events (0.5 > 0.25 → bad); hour 1: 0/2 (good);
    // the empty hours between are NOT counted → 2 active, 1 bad, 0.5 avail
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "error", 1L, 1.0),
      ("2024-01-01 00:20:00", "error", 2L, 1.0),
      ("2024-01-01 00:30:00", "view", 3L, 1.0),
      ("2024-01-01 00:40:00", "view", 4L, 1.0),
      ("2024-01-01 01:10:00", "view", 5L, 1.0),
      ("2024-01-01 01:20:00", "view", 6L, 1.0)))
    val r = Tsdb.sloAvailability(ev, 0.25).head()
    assert(r.getAs[Long]("n_hours") == 2L && r.getAs[Long]("n_bad") == 1L)
    assert(r.getAs[Double]("availability") == 0.5)
  }

  test("typeOverlap: exact pairwise distinct-user Jaccard") {
    // purchase users {1,2,3}, error users {2,3,4} → both=2, jaccard=0.5
    // (the exact twin of the KMV sketch test above)
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "purchase", 1L, 1.0),
      ("2024-01-01 00:11:00", "purchase", 2L, 1.0),
      ("2024-01-01 00:12:00", "purchase", 3L, 1.0),
      ("2024-01-01 00:13:00", "purchase", 3L, 1.0), // dup user
      ("2024-01-01 00:14:00", "error", 2L, 1.0),
      ("2024-01-01 00:15:00", "error", 3L, 1.0),
      ("2024-01-01 00:16:00", "error", 4L, 1.0)))
    val r = Tsdb.typeOverlap(ev).head()
    assert(r.getAs[String]("type_a") == "error" && r.getAs[String]("type_b") == "purchase")
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Long]("n_both") == 2L)
    assert(r.getAs[Double]("jaccard") == 0.5)
  }

  test("forecastEval: constant series forecasts perfectly (mae = mape = 0)") {
    val pts1 = Tsdb.points1(eventsDf((0 to 4).map { i =>
      (f"2024-01-01 0$i%d:10:00", "view", 1L, 50.0)
    }))
    val r = Tsdb.forecastEval(pts1, 0.3).head()
    // 5 buckets → forecasts at t=0..3 score against actuals at t=1..4
    assert(r.getAs[Long]("n_evals") == 4L)
    assert(r.getAs[Double]("mae") == 0.0 && r.getAs[Double]("mape") == 0.0)
  }

  test("lttb: first/last kept, the spike survives, short series pass through") {
    // 12 hourly buckets, flat at 10 except a spike at hour 7; k=6 → 4
    // middle buckets. The spike forms the largest triangle in its bucket
    // and MUST be among the kept points — the property LTTB exists for.
    val rows = (0 to 11).map { i =>
      (f"2024-01-01 $i%02d:10:00", "view", 1L, if (i == 7) 900.0 else 10.0)
    }
    val r = Tsdb.lttb(Tsdb.points1(eventsDf(rows)), 6).collect()
    assert(r.length == 6, s"k=6 points expected, got ${r.length}")
    val hours = r.map(_.getAs[java.time.LocalDateTime]("bucket").getHour).sorted
    assert(hours.head == 0 && hours.last == 11, "first/last buckets must be kept")
    assert(r.exists(_.getAs[Double]("total") == 900.0), "spike lost by downsampling")
    // n <= k: untouched passthrough
    val all = Tsdb.lttb(Tsdb.points1(eventsDf(rows)), 12).collect()
    assert(all.length == 12)
  }

  test("ohlc: open/close by bucket order, high/low keep the spike") {
    // one 6h slot, hourly totals 10, 500, 3: open=10, high=500, low=3, close=3
    val pts1 = Tsdb.points1(eventsDf(Seq(
      ("2024-01-01 00:10:00", "view", 1L, 10.0),
      ("2024-01-01 01:10:00", "view", 1L, 500.0),
      ("2024-01-01 02:10:00", "view", 1L, 3.0))))
    val r = Tsdb.ohlc(pts1, 6).head()
    assert(r.getAs[Double]("open") == 10.0 && r.getAs[Double]("close") == 3.0)
    assert(r.getAs[Double]("high") == 500.0 && r.getAs[Double]("low") == 3.0)
    assert(r.getAs[Long]("n_buckets") == 3L)
  }

  test("seasonalityStrength: pure slot pattern → 1, flat series has no variance ratio") {
    // two weeks, same (dow, hour) slots carry identical values 10/20 →
    // all variance lives between slots → strength 1.0
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "view", 1L, 10.0),
      ("2024-01-01 01:10:00", "view", 1L, 20.0),
      ("2024-01-08 00:10:00", "view", 1L, 10.0),
      ("2024-01-08 01:10:00", "view", 1L, 20.0)))
    val r = Tsdb.seasonalityStrength(Tsdb.points1(ev)).head()
    assert(r.getAs[Long]("n_buckets") == 4L)
    assert(r.getAs[Double]("strength") == 1.0)
    // same slots but week 2 doubled → within-slot variance appears
    val noisy = eventsDf(Seq(
      ("2024-01-01 00:10:00", "view", 1L, 10.0),
      ("2024-01-01 01:10:00", "view", 1L, 20.0),
      ("2024-01-08 00:10:00", "view", 1L, 20.0),
      ("2024-01-08 01:10:00", "view", 1L, 40.0)))
    val s2 = Tsdb.seasonalityStrength(Tsdb.points1(noisy)).head().getAs[Double]("strength")
    assert(s2 < 1.0 && s2 > 0.0)
  }

  test("sloStreaks: consecutive bad hours merge into one incident") {
    // hours 0,1 bad (2 errors / 2 events), hour 2 good, hour 4 bad →
    // incidents [00-01] (2h) and [04] (1h)
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "error", 1L, 1.0),
      ("2024-01-01 01:10:00", "error", 2L, 1.0),
      ("2024-01-01 02:10:00", "view", 3L, 1.0),
      ("2024-01-01 04:10:00", "error", 4L, 1.0)))
    val r = Tsdb.sloStreaks(ev, 0.25).orderBy("incident_start").collect()
    assert(r.length == 2)
    assert(r.head.getAs[Long]("n_hours") == 2L)
    assert(r.last.getAs[Long]("n_hours") == 1L)
  }

  test("mttr: mean incident length and mean start-to-start gap") {
    // incidents [00-01] (2h) and [04] (1h) → mttr 1.5h, mtbf 4h
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "error", 1L, 1.0),
      ("2024-01-01 01:10:00", "error", 2L, 1.0),
      ("2024-01-01 02:10:00", "view", 3L, 1.0),
      ("2024-01-01 04:10:00", "error", 4L, 1.0)))
    val r = Tsdb.mttr(ev, 0.25).head()
    assert(r.getAs[Long]("n_incidents") == 2L)
    assert(r.getAs[Long]("total_bad_hours") == 3L)
    assert(r.getAs[Double]("mttr_hours") == 1.5)
    assert(r.getAs[Double]("mtbf_hours") == 4.0)
  }

  test("mttr: single-incident store yields NULL mtbf (no ANSI divide-by-zero)") {
    // exactly one incident → mtbf denominator n-1 = 0; must be NULL like
    // the oracle's empty avg(lead()), not a DIVIDE_BY_ZERO crash. Run
    // under a forced-ANSI session config to prove the guard holds even
    // when a library user keeps Spark 4.x's ansi.enabled=true default.
    val ev = eventsDf(Seq(
      ("2024-01-01 00:10:00", "error", 1L, 1.0),
      ("2024-01-01 02:10:00", "view", 2L, 1.0)))
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val r = Tsdb.mttr(ev, 0.25).head()
      assert(r.getAs[Long]("n_incidents") == 1L)
      assert(r.getAs[Double]("mttr_hours") == 1.0)
      assert(r.isNullAt(r.fieldIndex("mtbf_hours")))
      // zero incidents: every aggregate except the count is NULL
      val r0 = Tsdb.mttr(eventsDf(Seq(("2024-01-01 00:10:00", "view", 1L, 1.0))), 0.25).head()
      assert(r0.getAs[Long]("n_incidents") == 0L)
      assert(r0.isNullAt(r0.fieldIndex("mttr_hours")))
      assert(r0.isNullAt(r0.fieldIndex("mtbf_hours")))
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("propsFunnel: conversion split by the FIRST event's prop segment") {
    import spark.implicits._
    // u1: first event k=80 (high), signup→purchase converts
    // u2: first event k=10 (low), signup only
    val ev = Seq(
      (1L, 100000000L, 1L, "signup", """{"k": 80}"""),
      (2L, 200000000L, 1L, "purchase", """{"k": 5}"""), // later k ignored
      (3L, 100000000L, 2L, "signup", """{"k": 10}"""))
      .toDF("event_id", "ts_ns", "user_id", "event_type", "props")
      .withColumn("ts", org.apache.spark.sql.functions.expr(
        "CAST(timestamp_micros(ts_ns div 1000) AS timestamp_ntz)"))
    val r = Tsdb.propsFunnel(ev, 50L).collect()
      .map(x => x.getAs[String]("segment") ->
        (x.getAs[Long]("n_signup"), x.getAs[Long]("n_converted"),
         x.getAs[Double]("conversion"))).toMap
    assert(r("high") == (1L, 1L, 1.0))
    assert(r("low") == (1L, 0L, 0.0))
  }

  test("topkApprox: merged per-day top-k brackets the true count") {
    // k=1. day1: u1×3 ranks (kth=3), u2×2 misses; day2: u2×4 ranks
    // (kth=4), u1×1 misses. tot_kth=7 → u1 est 3 upper 7 (true 4),
    // u2 est 4 upper 7 (true 6) — est ≤ true ≤ upper for both
    def ev(day: Int, user: Long, n: Int) = (1 to n).map(i =>
      (f"2024-01-0$day%d 0$i%d:10:00", "view", user, 1.0))
    val events = eventsDf(ev(1, 1L, 3) ++ ev(1, 2L, 2) ++ ev(2, 2L, 4) ++ ev(2, 1L, 1))
    val r = Tsdb.topkApprox(events, k = 1, topN = 5).collect()
      .map(x => x.getAs[Long]("user_id") ->
        (x.getAs[Long]("est_count"), x.getAs[Long]("upper_bound"))).toMap
    assert(r == Map(1L -> (3L, 7L), 2L -> (4L, 7L)))
  }

  test("attribution: first/last-touch models split planted revenue correctly") {
    // production schema includes event_id (the ts tie-break)
    val ev = eventsDf(Seq(
      ("2024-01-01 10:00:00", "view", 1L, 0.0),
      ("2024-01-01 11:00:00", "click", 1L, 0.0),
      ("2024-01-01 12:00:00", "purchase", 1L, 10.0),
      ("2024-01-01 13:00:00", "purchase", 1L, 5.0), // still last-touched by the click
      ("2024-01-01 09:00:00", "purchase", 2L, 7.0))) // converted untouched
      .withColumn("event_id",
        org.apache.spark.sql.functions.expr("CAST(hour(ts) AS BIGINT)"))
    val r = Tsdb.attribution(ev).collect()
      .map(x => (x.getAs[String]("model"), x.getAs[String]("touch_type")) ->
        ((x.getAs[Long]("n_purchases"), x.getAs[Double]("revenue")))).toMap
    assert(r == Map(
      ("last_touch", "click") -> ((2L, 15.0)),
      ("last_touch", "none") -> ((1L, 7.0)),
      ("first_touch", "view") -> ((2L, 15.0)),
      ("first_touch", "none") -> ((1L, 7.0))), s"got $r")
  }

  test("gorillaBits: regular cadence costs 1 bit/point, deltas climb the ladder") {
    // series A: 48 hourly points, constant 42.0 — head 64+27, then dod=0
    // (1 bit each); values head 64, then dv=0 (1 bit each)
    val a = (0 until 48).map(i =>
      (f"2024-01-0${1 + i / 24}%d ${i % 24}%02d:05:00", "view", 1L, 42.0))
    // series B: 4 hourly points 1.0, 1.0, 4.0, 1.0 — dv cents 0, +300, -300
    // (both inside the 16-bit window: 2+16 bits)
    val b = Seq(0 -> 1.0, 1 -> 1.0, 2 -> 4.0, 3 -> 1.0).map { case (i, v) =>
      (f"2024-01-01 0$i%d:10:00", "click", 2L, v) }
    val r = Tsdb.gorillaBits(Tsdb.points1(eventsDf(a ++ b))).collect()
      .map(x => x.getAs[String]("f1") -> x).toMap
    val va = r("view")
    assert(va.getAs[Long]("n_points") == 48L)
    assert(va.getAs[Long]("ts_bits") == 64L + 27L + 46L)
    assert(va.getAs[Long]("val_bits") == 64L + 47L)
    assert(va.getAs[Double]("ratio") ==
      math.floor(48 * 128.0 / (137 + 111) * 10000.0 + 0.5) / 10000.0)
    val vb = r("click")
    assert(vb.getAs[Long]("ts_bits") == 64L + 27L + 2L)
    assert(vb.getAs[Long]("val_bits") == 64L + 1L + 18L + 18L)
  }

  test("stlDecompose: constant series is pure trend; series stay independent") {
    // series A constant 42/h over 72h, series B constant 10/h — interior
    // rows (full 25-bucket window) decompose to trend-only, per series
    val rows = (0 until 72).flatMap(i => Seq(
      (f"2024-01-0${1 + i / 24}%d ${i % 24}%02d:05:00", "view", 1L, 42.0),
      (f"2024-01-0${1 + i / 24}%d ${i % 24}%02d:07:00", "click", 2L, 10.0)))
    val r = Tsdb.stlDecompose(Tsdb.points1(eventsDf(rows)), 12).collect()
    assert(r.length == 2 * (72 - 24), "12 edge buckets trimmed per side per series")
    for (x <- r) {
      val want = if (x.getAs[String]("f1") == "view") 42.0 else 10.0
      assert(x.getAs[Double]("trend") == want &&
        x.getAs[Double]("seasonal") == 0.0 && x.getAs[Double]("remainder") == 0.0,
        s"non-trivial decomposition of a constant series: $x")
    }
  }

  test("saxMotifs: identical-shape days share a word; odd day stands alone") {
    // one series, 4 full days, hourly points: low-then-high shape on
    // days 1/2/4, inverted on day 3
    val rows = for (d <- 1 to 4; h <- 0 until 24) yield {
      val hi = h >= 12
      val inverted = d == 3
      val v = if (hi ^ inverted) 100.0 else 0.0
      (f"2024-01-0$d%d $h%02d:15:00", "view", 1L, v)
    }
    val r = Tsdb.saxMotifs(Tsdb.points1(eventsDf(rows)), 6).collect()
      .map(x => x.getAs[String]("sax_word") ->
        ((x.getAs[Long]("n_days"),
          x.getAs[java.sql.Date]("first_day").toString,
          x.getAs[java.sql.Date]("last_day").toString))).toMap
    assert(r.size == 2, s"want exactly two motifs, got $r")
    val (main, odd) = (r.maxBy(_._2._1), r.minBy(_._2._1))
    assert(main._2 == ((3L, "2024-01-01", "2024-01-04")), s"got $r")
    assert(odd._2 == ((1L, "2024-01-03", "2024-01-03")), s"got $r")
    assert(main._1.length == 4 && main._1 == odd._1.reverse,
      s"inverted day must carry the reversed word: $r")
  }

  test("seriesChurn: active/new/churned per day, day one all-new") {
    // day1: series (view,1), (view,2); day2: (view,2), (click,1); day3: (view,2)
    val ev = eventsDf(Seq(
      ("2024-01-01 10:00:00", "view", 1L, 1.0),
      ("2024-01-01 11:00:00", "view", 2L, 1.0),
      ("2024-01-01 11:30:00", "view", 2L, 1.0), // dup presence must not double-count
      ("2024-01-02 09:00:00", "view", 2L, 1.0),
      ("2024-01-02 09:30:00", "click", 1L, 1.0),
      ("2024-01-03 08:00:00", "view", 2L, 1.0)))
    val r = Tsdb.seriesChurn(ev, "2024-01-01", "2024-01-30").collect()
      .map(x => x.getAs[java.sql.Date]("day").toString ->
        (x.getAs[Long]("n_active"), x.getAs[Long]("n_new"), x.getAs[Long]("n_churned")))
      .toMap
    assert(r("2024-01-01") == ((2L, 2L, 0L)))
    assert(r("2024-01-02") == ((2L, 1L, 1L)), "click/1 new, view/1 churned")
    assert(r("2024-01-03") == ((1L, 0L, 1L)), "click/1 churned, view/2 retained")
    assert(r("2024-01-04") == ((0L, 0L, 1L)), "trailing churn-only day reported")
    assert(r.size == 4, "quiet days with no activity and no churn yield no rows")
  }

  test("stickiness: trailing-7d WAU and the DAU ratio") {
    // one user active every day 01-01..01-10, another only on 01-08
    val ev = eventsDf(
      (1 to 10).map(d => (f"2024-01-$d%02d 10:00:00", "view", 1L, 1.0)) ++
        Seq(("2024-01-08 10:00:00", "view", 2L, 1.0)))
    val r = Tsdb.stickiness(ev, "2024-01-07", "2024-01-30").collect()
      .map(x => x.getAs[java.sql.Date]("day").toString ->
        (x.getAs[Long]("dau"), x.getAs[Long]("wau"), x.getAs[Double]("stickiness")))
      .toMap
    assert(r("2024-01-07") == ((1L, 1L, 1.0)))
    assert(r("2024-01-08") == ((2L, 2L, 1.0)), "both users active on the 8th")
    assert(r("2024-01-09") == ((1L, 2L, 0.5)), "user 2 still inside the trailing week")
    assert(r("2024-01-10") == ((1L, 2L, 0.5)))
    // days with zero DAU have no presence row -> reported table ends at
    // the last active day (the DAU side anchors the join)
    assert(!r.contains("2024-01-11") && !r.contains("2024-01-14"))
    assert(r.size == 4)
  }
}
