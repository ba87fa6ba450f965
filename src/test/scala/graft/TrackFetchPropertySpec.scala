package graft

import java.sql.Timestamp
import java.time.{DayOfWeek, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.{ChronoUnit, TemporalAdjusters}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.core.{MetricStore, StoreParams, Tsdb}
import graft.streaming.StreamingTracker

/** One Track/Fetch semantics, pinned differentially. Seeded random feeds
  * (1–3 fields over small alphabets with NULLs, integer values so every
  * sum is exact, minute/hour/day/week buckets in day and week epochs)
  * are tracked and fetched (wildcards at any depth, ranges on and off
  * bucket boundaries) through each implementation, and every one must
  * return the rows of [[TrackFetchModel]], a plain-Scala model of
  * kadiyadb's Track/Fetch:
  *  - `MetricStore.track`, then its stored points and `fetch`;
  *  - `MetricStore.deleteSeries` of a full-depth pattern, after which
  *    the store must hold the model's Track of the feed without the
  *    deleted leaves;
  *  - for `Tsdb.Layout` (2 fields, hour buckets, day epochs),
  *    `Tsdb.trackRollup`, `Tsdb.fetchEvents` and `Tsdb.fetchDense` over
  *    an events frame;
  *  - on fixed seeds, `StreamingTracker.startIntoStore`, then `fetch`.
  */
class TrackFetchPropertySpec extends SparkSpec {
  import TrackFetchModel._

  private val Trials = 25
  private val DeleteTrials = 12

  /** Store rows (epoch, depth, fields, bucket, total, cnt) of `df`. */
  private def storeRows(p: StoreParams, df: DataFrame): Seq[Cell] =
    df.collect().toSeq.map(r => Cell(Option(r.getAs[String]("epoch")), r.getAs[Int]("depth"),
      p.fields.map(f => Option(r.getAs[String](f))), r.getAs[LocalDateTime]("bucket"),
      r.getAs[Double]("total"), r.getAs[Long]("cnt")))

  /** Rows of `Tsdb`'s event family (f1, f2, bucket, total, cnt, depth; no epoch). */
  private def eventRows(df: DataFrame): Seq[Cell] =
    df.collect().toSeq.map((r: Row) => Cell(None, r.getAs[Int]("depth"),
      Seq(Option(r.getAs[String]("f1")), Option(r.getAs[String]("f2"))),
      r.getAs[LocalDateTime]("bucket"), r.getAs[Double]("total"), r.getAs[Long]("cnt")))

  /** (ts, c0, c1, c2, value) → (ts, the store's fields…, value). */
  private def layout(p: StoreParams, df: DataFrame): DataFrame =
    df.toDF("ts", "c0", "c1", "c2", "value")
      .select(col("ts") +: p.fields.zipWithIndex.map { case (f, i) => col(s"c$i").as(f) } :+ col("value"): _*)

  private def feedFrame(c: Case): DataFrame = {
    import spark.implicits._
    layout(c.params, c.feed.map(pt => (wall(pt.ts), pt.field(0), pt.field(1), pt.field(2), pt.value.toDouble))
      .toDF().withColumn("_1", col("_1").cast("timestamp_ntz")))
  }

  /** The feed as an events-table frame: event_type, a long user_id, ts_ns. */
  private def eventsFrame(c: Case): DataFrame = {
    import spark.implicits._
    c.feed.map(pt => (wall(pt.ts), pt.field(0), pt.field(1).map(_.toLong), pt.value.toDouble))
      .toDF("ts", "event_type", "user_id", "value")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * 1000L)
  }

  /** Row sets compared per path, and how many of them were non-empty. */
  private val compared = scala.collection.mutable.Map.empty[String, (Int, Int)].withDefaultValue((0, 0))

  /** Labelled equality of the rows `path` returned for `what` and the model's. */
  private def same(path: String, what: Any, got: Seq[Cell], want: Seq[Cell]): Prop = {
    val (n, full) = compared(path)
    compared(path) = (n + 1, full + (if (want.nonEmpty) 1 else 0))
    val (g, w) = (got.sortBy(_.toString), want.sortBy(_.toString))
    Prop(g == w) :| s"$path $what: got ${g.mkString("[", "; ", "]")}, want ${w.mkString("[", "; ", "]")}"
  }

  /** Fetch `c`'s queries from `store` and compare each with the model. */
  private def fetches(path: String, c: Case, store: MetricStore): Prop = {
    val tracked = track(c.params, c.feed)
    Prop.all(c.queries.map { q =>
      same(path, s"${c.params} fetch $q",
        storeRows(c.params, store.fetch(wall(q.from), wall(q.to), q.pattern)), fetch(c.params, tracked, q))
    }: _*)
  }

  private def check(c: Case, dir: String): Prop = {
    val store = new MetricStore(spark, dir, c.params)
    store.track(feedFrame(c))
    val tracked = track(c.params, c.feed)
    val batch =
      same("MetricStore", "points", storeRows(c.params, store.points()), cells(c.params, tracked)) &&
        fetches("MetricStore", c, store)
    if (c.params != Tsdb.Layout) batch
    else {
      val events = eventsFrame(c)
      val rollup = same("Tsdb.trackRollup", "", eventRows(Tsdb.trackRollup(events)),
        cells(c.params, tracked).map(_.copy(epoch = None)))
      // fetchEvents filters raw ts, so its contract needs bucket-aligned bounds
      val aligned = c.queries.filter(q => Seq(q.from, q.to).forall(t => bucket(t, "hour") == t))
      val eventFetches = aligned.flatMap { q =>
        val (from, to) = (wall(q.from), wall(q.to))
        Seq(same("Tsdb.fetchEvents", q, eventRows(Tsdb.fetchEvents(events, from, to, q.pattern)),
            fetch(c.params, tracked, q).map(_.copy(epoch = None))),
          same("Tsdb.fetchDense", q, eventRows(Tsdb.fetchDense(events, from, to, q.pattern)),
            fetchDense(c.params, c.feed, tracked, q)))
      }
      Prop.all(batch +: rollup +: eventFetches: _*)
    }
  }

  test("Track/Fetch: MetricStore and Tsdb's event family equal the model on random feeds") {
    withTempDir("trackfetch") { tmp =>
      var trial = 0
      val prop = Prop.forAllNoShrink(genCase) { c =>
        trial += 1
        check(c, tmp.resolve(s"s$trial").toString)
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(Trials)
        .withInitialSeed(Seed(20240101L)).withWorkers(1), prop)
      assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
      val summary = compared.toSeq.sorted
      info(summary.map { case (path, (n, full)) => s"$path $n ($full non-empty)" }.mkString(", "))
      // every path was compared, on non-empty answers too
      val paths = Seq("MetricStore", "Tsdb.fetchDense", "Tsdb.fetchEvents", "Tsdb.trackRollup")
      assert(summary.map(_._1) == paths && summary.forall(_._2._2 > 0), summary)
    }
  }

  test("deleteSeries leaves the model's Track of the feed without the deleted leaves") {
    withTempDir("trackfetch_delete") { tmp =>
      var (trial, withVictims) = (0, 0)
      val prop = Prop.forAllNoShrink(genCase) { c =>
        trial += 1
        val store = new MetricStore(spark, tmp.resolve(s"s$trial").toString, c.params)
        store.track(feedFrame(c))
        val tracked = track(c.params, c.feed)
        val victims = tracked.keys.count { case (prefix, _) => hit(c.delete, prefix) }
        if (victims > 0) withVictims += 1
        val deleted = store.deleteSeries(c.delete)
        val kept = track(c.params, c.feed.filterNot(pt => hit(c.delete, pt.fields)))
        (Prop(deleted == victims) :| s"${c.params} deleteSeries ${c.delete}: deleted $deleted, want $victims") &&
          same("MetricStore.deleteSeries", s"${c.params} ${c.delete}",
            storeRows(c.params, store.points()), cells(c.params, kept))
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(DeleteTrials)
        .withInitialSeed(Seed(20240102L)).withWorkers(1), prop)
      assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
      val (n, full) = compared("MetricStore.deleteSeries")
      info(s"$n stores compared after a delete ($full non-empty, $withVictims with deleted leaves)")
      assert(n == DeleteTrials && full > 0 && withVictims > 0)
    }
  }

  test("Track/Fetch: startIntoStore then fetch equals the model on fixed seeds") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    withTempDir("trackfetch_stream") { tmp =>
      // seeds whose cases stream 19-28 points with NULLs: week/week, minute/week, 3-field hour/week
      Seq(1L, 4L, 21L).foreach { s =>
        val c = genCase.pureApply(Gen.Parameters.default, Seed(s))
        info(s"seed $s: ${c.params}, ${c.feed.size} points")
        val input = MemoryStream[(Timestamp, Option[String], Option[String], Option[String], Double)]
        val dir = tmp.resolve(s"s$s").toString
        val qs = StreamingTracker.startIntoStore(
          layout(c.params, input.toDF()),
          new MetricStore(spark, dir, c.params), tmp.resolve(s"chk$s").toString, watermark = "0 seconds")
        try {
          def instant(t: LocalDateTime) = Timestamp.from(t.toInstant(ZoneOffset.UTC))
          input.addData(c.feed.map(pt => (instant(pt.ts), pt.field(0), pt.field(1), pt.field(2),
            pt.value.toDouble)))
          qs.foreach(_.processAllAvailable())
          // a point past every feed window advances the watermark; its own window never closes
          input.addData((instant(Base.plusDays(60)), Some("zz"), Some("zz"), Some("zz"), 0.0))
          qs.foreach(_.processAllAvailable())
        } finally qs.foreach(_.stop())
        val r = fetches(s"startIntoStore (seed $s)", c, MetricStore.open(spark, dir))(Gen.Parameters.default)
        assert(r.success, r.labels.mkString("\n"))
      }
    }
  }
}

/** Plain-Scala model of kadiyadb's Track/Fetch (database.go:153-255):
  * Track adds (total, count) to the resolution bucket of EVERY prefix
  * of a point's fields; Fetch returns the prefixes at exactly the
  * pattern's depth whose fields equal each `Some` value (`None` is the
  * wildcard), with buckets in [from, to). A NULL field value is a value
  * like any other. The epoch of a bucket is its epoch-duration floor.
  */
object TrackFetchModel {

  /** A Monday, so day and week epochs both start on it. */
  val Base: LocalDateTime = LocalDateTime.of(2024, 1, 1, 0, 0)

  final case class Pt(ts: LocalDateTime, fields: Seq[Option[String]], value: Int) {
    def field(i: Int): Option[String] = if (i < fields.length) fields(i) else None
  }
  final case class Query(from: LocalDateTime, to: LocalDateTime, pattern: Seq[Option[String]])
  /** `delete` is a full-depth deleteSeries pattern. */
  final case class Case(params: StoreParams, feed: Seq[Pt], queries: Seq[Query], delete: Seq[Option[String]])
  /** One fetched or stored row; `epoch` is None where a path has no epoch. */
  final case class Cell(epoch: Option[String], depth: Int, fields: Seq[Option[String]],
      bucket: LocalDateTime, total: Double, cnt: Long)

  private val Wall = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  def wall(t: LocalDateTime): String = t.format(Wall)

  def bucket(t: LocalDateTime, unit: String): LocalDateTime = unit match {
    case "minute" => t.truncatedTo(ChronoUnit.MINUTES)
    case "hour"   => t.truncatedTo(ChronoUnit.HOURS)
    case "day"    => t.truncatedTo(ChronoUnit.DAYS)
    case "week"   => t.truncatedTo(ChronoUnit.DAYS).`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
  }

  type Tracked = Map[(Seq[Option[String]], LocalDateTime), (Long, Long)]

  /** Track: every point adds (value, 1) to each of its prefixes' bucket. */
  def track(p: StoreParams, feed: Seq[Pt]): Tracked =
    feed.flatMap(pt => (1 to p.fields.length).map(d => (pt.fields.take(d), bucket(pt.ts, p.resolution)) -> pt))
      .groupMapReduce(_._1)(kv => (kv._2.value.toLong, 1L)) {
        case ((t1, c1), (t2, c2)) => (t1 + t2, c1 + c2)
      }

  private def cell(p: StoreParams)(kv: ((Seq[Option[String]], LocalDateTime), (Long, Long))): Cell = {
    val ((prefix, b), (total, cnt)) = kv
    Cell(Some(bucket(b, p.epochDuration).toLocalDate.toString), prefix.length,
      prefix ++ Seq.fill(p.fields.length - prefix.length)(None), b, total.toDouble, cnt)
  }

  /** Every tracked row. */
  def cells(p: StoreParams, tracked: Tracked): Seq[Cell] = tracked.toSeq.map(cell(p))

  /** One `unit` after `t`. */
  def next(t: LocalDateTime, unit: String): LocalDateTime =
    t.plus(1, Map("minute" -> ChronoUnit.MINUTES, "hour" -> ChronoUnit.HOURS,
      "day" -> ChronoUnit.DAYS, "week" -> ChronoUnit.WEEKS)(unit))

  /** A series prefix matches a pattern at its exact depth; a NULL value matches only `None`. */
  def hit(pattern: Seq[Option[String]], prefix: Seq[Option[String]]): Boolean =
    prefix.length == pattern.length &&
      pattern.zip(prefix).forall { case (want, v) => want.forall(w => v.contains(w)) }

  /** Fetch: the tracked rows at exactly the pattern's depth that match it, in [from, to). */
  def fetch(p: StoreParams, tracked: Tracked, q: Query): Seq[Cell] =
    tracked.toSeq.filter { case ((prefix, b), _) =>
      hit(q.pattern, prefix) && !b.isBefore(q.from) && b.isBefore(q.to)
    }.map(cell(p))

  /** Dense fetch (kadiyadb epoch.Fetch): every resolution slot in
    * [from, to) of every matching series that has a point in the epochs
    * the range touches, zero where nothing was tracked.
    */
  def fetchDense(p: StoreParams, feed: Seq[Pt], tracked: Tracked, q: Query): Seq[Cell] = {
    val (lo, last) = (bucket(q.from, p.epochDuration), bucket(q.to, p.epochDuration))
    val hi = if (last == q.to) last else next(last, p.epochDuration)
    val series = feed.filter(pt => !pt.ts.isBefore(lo) && pt.ts.isBefore(hi))
      .map(_.fields.take(q.pattern.length)).distinct.filter(hit(q.pattern, _))
    val slots = Iterator.iterate(q.from)(next(_, p.resolution)).takeWhile(_.isBefore(q.to)).toSeq
    for (s <- series; b <- slots)
      yield cell(p)((s, b) -> tracked.getOrElse((s, b), (0L, 0L))).copy(epoch = None)
  }

  private val genLayout: Gen[StoreParams] = Gen.frequency(
    1 -> Gen.const(Tsdb.Layout),
    1 -> (for {
      n <- Gen.choose(1, 3)
      (res, epoch) <- Gen.oneOf(("minute", "day"), ("minute", "week"), ("hour", "day"),
        ("hour", "week"), ("day", "day"), ("day", "week"), ("week", "week"))
    } yield StoreParams(res, epoch, 30, Seq("dc", "host", "metric").take(n))))

  /** Digits, so a value doubles as the events table's long user_id; NULL too. */
  private val genValue: Gen[Option[String]] =
    Gen.frequency(4 -> Some("1"), 4 -> Some("2"), 2 -> Some("3"), 1 -> None)

  /** Minute-aligned instants over three weeks, at hours and minutes that
    * sit on and next to hour and day boundaries.
    */
  private val genAnchor: Gen[LocalDateTime] = for {
    day <- Gen.choose(0, 20)
    hour <- Gen.oneOf(0, 1, 12, 23)
    minute <- Gen.oneOf(0, 1, 59)
  } yield Base.plusDays(day).plusHours(hour).plusMinutes(minute)

  /** A range bound on an hour (often a day or week) boundary, or anywhere. */
  private val genBound: Gen[LocalDateTime] = for {
    day <- Gen.choose(-1, 22)
    aligned <- Gen.frequency(3 -> true, 1 -> false)
    hour <- Gen.oneOf(0, 0, 1, 12)
    sec <- Gen.choose(1, 86399)
  } yield Base.plusDays(day).plusSeconds(if (aligned) hour * 3600L else sec)

  val genCase: Gen[Case] = for {
    p <- genLayout
    n = p.fields.length
    anchors <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, genAnchor))
    size <- Gen.choose(1, 30)
    feed <- Gen.listOfN(size, for {
      t <- Gen.oneOf(anchors)
      sec <- Gen.choose(0, 59)
      fs <- Gen.listOfN(n, genValue)
      v <- Gen.choose(0, 9)
    } yield Pt(t.plusSeconds(sec), fs, v))
    // half the bounds fall within a day of a feed instant, so most ranges hold points
    near = Gen.frequency(1 -> genBound,
      1 -> Gen.zip(Gen.oneOf(anchors), Gen.choose(-30, 30))
        .map { case (t, h) => bucket(t, "hour").plusHours(h) })
    queries <- Gen.sequence[Seq[Query], Query]((1 to n).map { d =>
      for {
        a <- near
        b <- near
        pattern <- Gen.listOfN(d, Gen.frequency(1 -> None, 1 -> Gen.oneOf("1", "2", "3").map(Some(_))))
      } yield Query(if (a.isBefore(b)) a else b, if (a.isBefore(b)) b else a.plusHours(1), pattern)
    })
    delete <- Gen.listOfN(n, Gen.frequency(1 -> None, 1 -> Gen.oneOf("1", "2", "3").map(Some(_))))
  } yield Case(p, feed, queries, delete)
}
