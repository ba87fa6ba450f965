package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types._

import graft.core.{MetricStore, StoreParams}
import graft.streaming.StreamingTracker

/** The paper's own workload and the rest of the metric engine — every
  * layer but the kernels and the stores.
  *
  * A seeded, time-ordered feed over kadiyadb's `[host, metric, submetric]`
  * hierarchy (fields f1, f2, f3; 40 × 25 × 10 = 10k depth-3 series) at
  * minute resolution, daily epochs and a one-epoch retention is pushed
  * through `MetricStore.track` in batches. One pass is one day of feed
  * (8000 points) in two Track calls of twelve hours each, every call
  * followed by a fixed mix of Fetch calls — exact full depth, leading
  * `*`, depth-1 prefix and mid-pattern `*` — over narrow (hours) and
  * wide (every retained epoch) ranges, so fetches read the day's growing
  * set of append segments; the last mix of the day adds a `graft_fetch`
  * SQL call over the wide range. Then the day's feed
  * goes through the streaming twin ([[StreamTwin]]) as one batch,
  * `compact` merges the closed day, `expire` drops the epoch past
  * retention, and a small `core.Tsdb`/`Analytics` query mix runs over the
  * event and TPC-H tables ([[QueryMix.Analytics]]).
  *
  * Every Fetch result is checked against the feed (rows = occupied
  * (prefix, bucket) cells, conserved totals and counts, and never empty:
  * each mix is built around a point tracked in its narrowest window), and
  * so is the whole store at the end; the streaming twin and the queries
  * check their own outputs.
  */
final class TsdbTrackFetch(spark: SparkSession, ctx: Ctx, o: Opts) extends Workload {
  private val hosts = if (o.tiny) 4 else 40
  private val metrics = if (o.tiny) 5 else 25
  private val subs = if (o.tiny) 4 else 10
  private val pointsPerDay = if (o.tiny) 400 else 8000
  private val tracksPerDay = 2
  // with one epoch retained, a day's fetches see the closed previous
  // day and the open current one from the first timed pass on
  private val retention = 1
  private val day0 = LocalDateTime.of(2026, 1, 1, 0, 0)
  private val day0Millis = day0.toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  private val stream = new StreamTwin(spark, ctx, o)
  private val analytics = QueryMix.analytics(spark, ctx, o)

  private val storeRoot: Path = o.runDir.resolve("stores")
  private val storePath: Path = storeRoot.resolve("tsdb")
  private val params = StoreParams("minute", "day", retention, Seq("f1", "f2", "f3"))
  private var store: MetricStore = _

  /** One feed point: series (h, m, s), absolute minute, integral value
    * (so totals are exact in any summation order).
    */
  private final case class Pt(h: Int, m: Int, s: Int, minute: Int, v: Int)

  /** Retained feed, by day — the model every check compares against. */
  private val feed = mutable.SortedMap.empty[Int, mutable.ArrayBuffer[Pt]]

  // per-pass accounting for the per-layer figures
  private val tracked = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val rowsOut = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val rowsScanned = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val filesRead = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val rewritten = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val segments = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  /** One day of feed, time-ordered. */
  private def batch(day: Int): Array[Pt] = {
    val r = new scala.util.Random(o.seed * 1000003L + day)
    Array.fill(pointsPerDay)(Pt(r.nextInt(hosts), r.nextInt(metrics), r.nextInt(subs),
      day * 1440 + r.nextInt(1440), r.nextInt(100))).sortBy(_.minute)
  }

  private def ts(minute: Int): LocalDateTime = day0.plusMinutes(minute.toLong)
  private val wall = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def str(minute: Int): String = ts(minute).format(wall)
  private def epoch(day: Int): String = day0.plusDays(day.toLong).toLocalDate.toString

  private val schema = StructType(Seq(
    StructField("ts", TimestampNTZType), StructField("f1", StringType),
    StructField("f2", StringType), StructField("f3", StringType),
    StructField("value", DoubleType)))

  private def frame(pts: Array[Pt]): DataFrame =
    spark.createDataFrame(pts.toSeq.map(p =>
      Row(ts(p.minute), s"host${p.h}", s"metric${p.m}", s"sub${p.s}", p.v.toDouble)).asJava, schema)

  private def points(pts: Array[Pt]): Seq[StreamingTracker.Point] =
    pts.toSeq.map(p => StreamingTracker.Point(s"host${p.h}", s"metric${p.m}.sub${p.s}",
      new java.sql.Timestamp(day0Millis + p.minute * 60000L), p.v.toDouble))

  /** One day's feed cut into its Track calls: (end minute, points). */
  private def chunks(d: Int): Seq[(Int, Array[Pt])] = {
    val pts = batch(d)
    val len = 1440 / tracksPerDay
    (1 to tracksPerDay).map { k =>
      val end = d * 1440 + k * len
      (end, pts.filter(p => p.minute >= end - len && p.minute < end))
    }
  }

  /** Track one batch into the store. */
  private def track(day: Int, pts: Array[Pt]): Unit = {
    val df = ctx.untimed(frame(pts))
    ctx.op("track", "core.track")(store.track(df)).foreach { _ =>
      ctx.untimed {
        feed.getOrElseUpdate(day, mutable.ArrayBuffer.empty) ++= pts
        if (ctx.inTimedPass) tracked(ctx.currentPass) += pts.length
      }
    }
  }

  /** Open the store (in the run's freshly wiped directory), start the
    * streaming twin and open the query mix's tables.
    */
  def setUp(): Unit = {
    spark.conf.set("spark.graft.fetch.root", storeRoot.toString)
    store = new MetricStore(spark, storePath.toString, params)
    stream.setUp()
    analytics.setUp()
  }

  /** The warm-up day: the same op sequence as a timed pass, which also
    * leaves the closed day every timed pass fetches across; the query
    * mix checks its outputs against the reference.
    */
  def checkPass(): Unit = {
    day(0)
    analytics.checkPass()
  }

  def pass(index: Int): Unit = {
    day(1 + index)
    analytics.pass(index)
  }

  private def day(d: Int): Unit = {
    val cs = chunks(d)
    cs.foreach { case (end, pts) =>
      track(d, pts)
      fetchMix(d, end, withSql = end == cs.last._1)
    }
    stream.push(ctx.untimed(points(cs.flatMap(_._2).toArray)))
    ctx.untimed { if (ctx.inTimedPass) segments(ctx.currentPass) += dataFiles(epochDir(d)).size }
    ctx.op("compact", "core.compact")(store.compact(epoch(d))).foreach { _ =>
      ctx.untimed { if (ctx.inTimedPass) rewritten(ctx.currentPass) += bytes(epochDir(d)) }
    }
    ctx.op("expire", "core.expire")(store.expire()).foreach { dropped =>
      ctx.untimed {
        val expect = feed.keys.filter(_ <= d - retention).toSeq.sorted
        ctx.check("expire", dropped == expect.map(epoch),
          s"dropped ${dropped.mkString(",")}, expected ${expect.map(epoch).mkString(",")}")
        expect.foreach(feed.remove)
      }
    }
  }

  /** The fetch mix after the Track call that ended at minute `now`,
    * around a point tracked in the last two hours.
    */
  private def fetchMix(d: Int, now: Int, withSql: Boolean): Unit = {
    val (h, m, s, oldest) = ctx.untimed {
      val recent = feed(d).filter(p => p.minute >= now - 120 && p.minute < now)
      require(recent.nonEmpty, s"no point tracked in the two hours before minute $now")
      val p = recent(new scala.util.Random(o.seed * 7919L + now).nextInt(recent.size))
      (p.h, p.m, p.s, feed.keys.min * 1440)
    }
    fetch("fetch_exact_narrow", Seq(Some(h), Some(m), Some(s)), now - 120, now)
    fetch("fetch_leading_star_narrow", Seq(None, Some(m), Some(s)), now - 360, now)
    fetch("fetch_prefix_narrow", Seq(Some(h)), now - 360, now)
    fetch("fetch_mid_star_wide", Seq(Some(h), None, Some(s)), oldest, now)
    val q = s"SELECT * FROM graft_fetch('tsdb', 'host$h.*', '${str(oldest)}', '${str(now)}')"
    if (withSql) ctx.op("graft_fetch_prefix_wide", "serve.graft_fetch")(spark.sql(q).collect()).foreach { rows =>
      ctx.untimed(verify("graft_fetch_prefix_wide", Seq(Some(h), None), oldest, now, rows))
    }
  }

  private def fetch(name: String, pattern: Seq[Option[Int]], from: Int, to: Int): Unit = {
    val names = Seq("host", "metric", "sub")
    val pat = pattern.zip(names).map { case (v, p) => v.map(p + _) }
    ctx.op(name, "core.fetch") {
      val df = store.fetch(str(from), str(to), pat)
      (df, df.collect())
    }.foreach { case (df, rows) =>
      ctx.untimed {
        verify(name, pattern, from, to, rows)
        if (ctx.inTimedPass) {
          val p = ctx.currentPass
          rowsOut(p) += rows.length
          scans(df.queryExecution.executedPlan).foreach { sc =>
            rowsScanned(p) += sc.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
            filesRead(p) += sc.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }
        }
      }
    }
  }

  private def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other =>
      (if (other.metrics.contains("numFiles")) Seq(other) else Nil) ++
        other.children.flatMap(scans)
  }

  /** A fetch returns one row per occupied (prefix, bucket) cell of the
    * matching points, with their count and total.
    */
  private def verify(name: String, pattern: Seq[Option[Int]], from: Int, to: Int,
      rows: Array[Row]): Unit = {
    val hit = feed.valuesIterator.flatten.filter { p =>
      p.minute >= from && p.minute < to &&
        pattern.zip(Seq(p.h, p.m, p.s)).forall { case (v, x) => v.forall(_ == x) }
    }.toSeq
    val cells = hit.map(p => (Seq(p.h, p.m, p.s).take(pattern.size), p.minute)).distinct.size
    val cnt = rows.map(_.getAs[Long]("cnt")).sum
    val total = rows.map(_.getAs[Double]("total")).sum
    ctx.check(name, cells > 0 && rows.length == cells && cnt == hit.size &&
      total == hit.map(_.v.toLong).sum,
      s"rows ${rows.length}/$cells cnt $cnt/${hit.size} total $total/${hit.map(_.v.toLong).sum}")
  }

  /** Closed forms over the whole retained store: one row per occupied
    * (prefix, bucket) cell at every depth, and a full-range depth-1 fetch
    * that conserves every retained point's count and total.
    */
  def finalCheck(): Unit = {
    val all = feed.valuesIterator.flatten.toSeq
    val cells = (1 to 3).map(k => all.map(p => (Seq(p.h, p.m, p.s).take(k), p.minute)).distinct.size)
    val stored = store.points().count()
    ctx.check("store_cells", stored == cells.sum, s"store rows $stored, occupied cells ${cells.sum}")
    val from = feed.keys.min * 1440
    val to = (feed.keys.max + 1) * 1440
    ctx.op("fetch_full_range", "core.fetch")(store.fetch(str(from), str(to), Seq(None)).collect())
      .foreach(rows => verify("fetch_full_range", Seq(None), from, to, rows))
    val epochs = listDirs(storePath.resolve("points")).map(_.getFileName.toString.stripPrefix("epoch="))
    ctx.check("retention", epochs.sorted == feed.keys.toSeq.map(epoch),
      s"epochs on disk ${epochs.sorted.mkString(",")}")
    stream.finalCheck()
  }

  private def epochDir(d: Int): Path = storePath.resolve("points").resolve(s"epoch=${epoch(d)}")
  private def listDirs(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.list(p).iterator().asScala.filter(Files.isDirectory(_)).toSeq
  private def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
  private def bytes(p: Path): Long = dataFiles(p).map(Files.size).sum

  def details(untraced: Set[Int]): Seq[Metric] = {
    val trackMs = ctx.latencies(untraced, _ == "core.track")
    val fetchMs = ctx.latencies(untraced, _ == "core.fetch")
    val points = untraced.toSeq.map(tracked).sum
    val retained = feed.valuesIterator.map(_.size).sum
    Seq(
      Metric("track_points_per_s", points / (trackMs.sum / 1000.0), "points/s", trackMs.size),
      Metric("store_bytes_per_point", bytes(storePath.resolve("points")).toDouble / retained,
        "B/point", retained)) ++
      Stats.supported(trackMs, "track", "ms") ++ Stats.supported(fetchMs, "fetch", "ms") ++
      stream.details(untraced, pointsPerDay) ++ analytics.details(untraced)
  }

  def bypassed: Seq[String] = Seq("operators.dedup", "operators.text", "operators.similarity",
    "operators.contamination", "operators.sample", "stores.")

  def layerMetrics(traced: Set[Int]): Seq[Metric] = {
    val k = math.max(1, traced.size).toDouble
    val n = traced.size
    def per(m: mutable.Map[Int, Long]) = traced.toSeq.map(m).sum / k
    val files = dataFiles(storePath.resolve("points")).size
    val scanned = per(rowsScanned)
    val out = per(rowsOut)
    Seq(
      Metric("core.track.calls", ctx.calls(traced, "core.track") / k, "count", n),
      Metric("core.track.busy_pct", ctx.busyPct(traced, "core.track"), "%", n),
      Metric("core.track.points", per(tracked), "count", n),
      Metric("core.compact.calls", ctx.calls(traced, "core.compact") / k, "count", n),
      Metric("core.compact.busy_pct", ctx.busyPct(traced, "core.compact"), "%", n),
      Metric("core.compact.bytes_rewritten", per(rewritten), "B", n),
      Metric("core.expire.busy_pct", ctx.busyPct(traced, "core.expire"), "%", n),
      Metric("core.store.files", files.toDouble, "count"),
      Metric("core.store.bytes", bytes(storePath.resolve("points")).toDouble, "B"),
      Metric("core.store.segments_per_epoch", per(segments), "count", n),
      Metric("core.fetch.calls", ctx.calls(traced, "core.fetch") / k, "count", n),
      Metric("core.fetch.busy_pct", ctx.busyPct(traced, "core.fetch"), "%", n),
      Metric("core.fetch.rows_out", out, "count", n),
      Metric("core.fetch.rows_scanned", scanned, "count", n),
      Metric("core.fetch.files_read", per(filesRead), "count", n),
      Metric("core.fetch.scanned_per_row_out", if (out > 0) scanned / out else 0.0, "ratio", n),
      Metric("serve.graft_fetch.busy_pct", ctx.busyPct(traced, "serve.graft_fetch"), "%", n)) ++
      stream.layerMetrics(traced) ++ analytics.layerMetrics(traced)
  }
}
