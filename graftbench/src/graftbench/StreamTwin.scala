package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.StreamingTracker
import graft.streaming.StreamingTracker.Point

/** The streaming twin of Track: every feed batch the Tsdb workload
  * tracks is also pushed, as one micro-batch, through three
  * `StreamingTracker` queries with the default trigger, each fed by its
  * own `MemoryStream`:
  *
  *  - `trackStream` (watermarked one-minute windowed Track) into the
  *    memory sink, whose rows the final check reconciles with the feed;
  *  - `rateStream` and `topkStream` into the `noop` sink.
  *
  * One op is one batch through the three queries: `addData` on every
  * input, then `processAllAvailable` on every query, so the queries'
  * micro-batches run side by side, as they would on a live feed; the
  * traced run takes each query's own busy time from its progress
  * events. `startIntoStore` is left out: its hard-coded
  * 5 s `ProcessingTime` trigger would make batch latency measure that
  * clock, not graft.
  */
final class StreamTwin(spark: SparkSession, ctx: Ctx, o: Opts) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private final class Running(val name: String, val input: MemoryStream[Point],
      val query: StreamingQuery)
  private var running: Seq[Running] = Nil

  // the fed points, as the checks need them
  private var fedPoints = 0L
  private var fedTotal = 0.0
  private val cells = mutable.HashSet.empty[(String, String, Long)]
  private val series = mutable.HashSet.empty[(String, String)]
  private val hosts = mutable.HashSet.empty[String]
  private var lastMillis = 0L

  private def start(name: String): Running = {
    val input = MemoryStream[Point]
    val checkpoint = o.runDir.resolve("streams").resolve(name).toString
    val out = name match {
      case "track" => StreamingTracker.trackStream(input.toDF(), "1 minute", "2 minutes")
      case "rate" => StreamingTracker.rateStream(spark, input.toDS()).toDF()
      case "topk" => StreamingTracker.topkStream(spark, input.toDS()).toDF()
    }
    val q = out.writeStream.format(if (name == "track") "memory" else "noop")
      .queryName(name).outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint).start()
    new Running(name, input, q)
  }

  /** Start the three queries on fresh checkpoints. */
  def setUp(): Unit = running = Seq("track", "rate", "topk").map(start)

  /** Push one time-ordered batch through the three queries: one op. */
  def push(pts: Seq[Point]): Unit = {
    ctx.op("stream_batch", "streaming") {
      running.foreach(_.input.addData(pts))
      running.foreach(_.query.processAllAvailable())
    }
    ctx.untimed {
      pts.foreach { p =>
        fedPoints += 1
        fedTotal += p.value
        cells += ((p.f1, p.f2, p.ts.getTime / 60000L))
        series += ((p.f1, p.f2))
        hosts += p.f1
        lastMillis = math.max(lastMillis, p.ts.getTime)
      }
    }
  }

  /** Conservation against the feed: once a point far past the feed has
    * closed every window, the track sink holds one row per occupied
    * (f1, f2, minute) with the feed's totals and counts; every query
    * consumed every point; the rate and top-k state hold one row per
    * series and per host seen.
    */
  def finalCheck(): Unit = {
    val track = running.find(_.name == "track").get
    val flush = Point("flush", "flush", new Timestamp(lastMillis + 86400000L), 0.0)
    // twice: the first batch moves the watermark, the second emits with it
    (1 to 2).foreach { _ =>
      ctx.op("stream_track_flush", "streaming") {
        track.input.addData(flush)
        track.query.processAllAvailable()
      }
    }
    val out = spark.table("track").filter(col("f1") =!= "flush")
      .agg(count(lit(1)), coalesce(sum(col("total")), lit(0.0)), coalesce(sum(col("cnt")), lit(0L)))
      .head()
    ctx.check("stream_track_conservation",
      out.getLong(0) == cells.size && out.getDouble(1) == fedTotal && out.getLong(2) == fedPoints,
      s"rows ${out.getLong(0)}/${cells.size} total ${out.getDouble(1)}/$fedTotal " +
        s"cnt ${out.getLong(2)}/$fedPoints")
    running.foreach { r =>
      val rows = r.query.recentProgress.map(_.numInputRows).sum
      val expect = fedPoints + (if (r.name == "track") 2 else 0)
      ctx.check(s"stream_${r.name}_input", rows == expect, s"consumed $rows of $expect points")
    }
    Seq("rate" -> series.size.toLong, "topk" -> hosts.size.toLong).foreach { case (name, keys) =>
      val q = running.find(_.name == name).get.query
      val state = Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum)
        .getOrElse(-1L)
      ctx.check(s"stream_${name}_state", state == keys, s"state rows $state, keys $keys")
    }
    running.foreach(_.query.stop())
  }

  def details(untraced: Set[Int], pointsPerPass: Long): Seq[Metric] = {
    val ms = ctx.latencies(untraced, _ == "streaming")
    val points = untraced.size * pointsPerPass
    Metric("stream_points_per_s", points / (ms.sum / 1000.0), "points/s", ms.size) +:
      Stats.supported(ms, "batch", "ms")
  }

  def layerMetrics(traced: Set[Int]): Seq[Metric] = {
    val k = math.max(1, traced.size).toDouble
    ctx.trace.toSeq.flatMap { tr =>
      Seq("track", "rate", "topk").flatMap { name =>
        val a = tr.stream(name)
        val n = a.batches.toInt
        Seq(
          Metric(s"streaming.$name.batches", a.batches / k, "count", traced.size),
          Metric(s"streaming.$name.busy_pct", 100.0 * a.busyMs / 1000.0 / ctx.passSeconds(traced),
            "%", n),
          Metric(s"streaming.$name.input_rows_per_s",
            if (a.busyMs > 0) a.rows * 1000.0 / a.busyMs else 0.0, "rows/s", n),
          Metric(s"streaming.$name.state_rows", a.stateRows.toDouble, "count"),
          Metric(s"streaming.$name.state_memory_bytes", a.stateMem.toDouble, "B"))
      }
    }
  }
}
