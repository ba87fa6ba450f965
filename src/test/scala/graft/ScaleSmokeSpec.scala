package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import org.scalatest.{BeforeAndAfterAllConfigMap, ConfigMap}

import graft.core.{MetricStore, Ranking, Skew, StoreParams, Tsdb}
import graft.operators.{AnnIndexStore, Dedup, Similarity, TextAnalysis}
import graft.streaming.StreamingTracker
import graft.streaming.StreamingTracker.Point

/** The scale suite: graft's operators keep their plan shapes, closed
  * forms and recall at ~3 orders of magnitude above the test tables.
  * Seven checks — two-phase ranking, hot-key salting, the Tsdb store,
  * streaming into a store, text curation, the near-dup pipeline and the
  * ANN path — each one planted generator plus phases whose gates the
  * generator makes exact or analytic.
  *
  * Every size is its recorded full size times ONE setting, the config
  * map value `scale` (default 0.01, the `sbt test` size). `scale=1`
  * reproduces the full-size runs (50M rows / 2M docs / 1M vectors /
  * 50M events, SURVEY.md §9) and needs a 32 GiB heap:
  *
  * {{{
  * SPARK_DRIVER_MEM=32g sbt "testOnly graft.ScaleSmokeSpec -- -oD -Dscale=1"
  * }}}
  *
  * Gates are the full-size ones at every scale, except two that widen
  * below full size for small-sample noise only, each stated where it is
  * used: the mixture-share envelope and IVF-PQ vs flat PQ.
  */
class ScaleSmokeSpec extends SparkSpec with BeforeAndAfterAllConfigMap {

  private var scale = 0.01

  override def beforeAll(cm: ConfigMap): Unit = {
    cm.getOptional[String]("scale").foreach(s => scale = s.toDouble)
    require(scale > 0, s"scale must be positive, got $scale")
  }

  override def afterAll(cm: ConfigMap): Unit = spark.catalog.clearCache()

  /** A full-size count at the configured scale (at least 1). */
  private def sized(full: Long): Long = math.max(1L, math.round(full * scale))

  /** Run `f` and report its wall time. */
  private def timed[T](what: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    info(f"$what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  private def frozen(df: DataFrame): DataFrame = {
    val p = df.persist(MEMORY_AND_DISK); p.count(); p
  }

  private def hitsOf(truth: DataFrame, got: DataFrame): Long =
    truth.join(got.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id")).count()

  // ---------------------------------------------------------------- ranking

  test("two-phase ranking: rank, running sum/max and NTILE are exact at width") {
    val rows = sized(50000000L)
    // skewed synthetic revenue: xxhash noise, heavy-ish tail via square
    val df = spark.range(rows).select(col("id"),
      (pmod(xxhash64(col("id")), lit(1000000L)) *
        pmod(xxhash64(col("id"), lit(1)), lit(1000L))).cast("double").as("revenue"))
    val order = Seq(col("revenue").desc, col("id"))

    val rank = timed(s"withGlobalRank over $rows rows") {
      Ranking.withGlobalRank(df, order, "rnk", Some("tot"))
        .agg(min(col("rnk")), max(col("rnk")), max(col("tot"))).head()
    }
    assert(rank.getLong(0) == 1L && rank.getLong(1) == rows && rank.getLong(2) == rows,
      s"rank bounds $rank, expected [1, $rows] of $rows")

    // the last-ranked row's running sum must equal the total
    val cum = timed(s"withRunningSum over $rows rows") {
      Ranking.withRunningSum(df, None, order, col("revenue"), "cum", Some("tot"))
        .agg(max(col("cum")), max(col("tot"))).head()
    }
    assert(math.abs(cum.getDouble(0) - cum.getDouble(1)) <= 1e-9 * cum.getDouble(1),
      s"running sum ends at ${cum.getDouble(0)}, total ${cum.getDouble(1)}")

    // NTILE semantics vs the window version on a 2% sample (1M rows at full size)
    val sample = df.filter(pmod(col("id"), lit(50L)) === 0)
    val twoPhase = Ranking.withGlobalRank(sample, order, "rnk", Some("tot"))
      .select(col("id"), Ranking.ntileOfRank(10, col("rnk"), col("tot")).as("d"))
    val windowed = sample.select(col("id"),
      ntile(10).over(Window.orderBy(order: _*)).cast("long").as("d"))
    val diff = twoPhase.join(windowed, "id").filter(twoPhase("d") =!= windowed("d")).count()
    assert(diff == 0L, s"two-phase NTILE diverged from the windowed version on $diff rows")

    // withRunningMax (the skyline sweep primitive) with a CLOSED-FORM
    // oracle: v(id) = id % 97 over id-order has exclusive prefix max
    // min(id, 97) - 1 (and NULL at id = 0) — every row is checked. `ok`
    // is never NULL and the row count is asserted too, so a dropped row
    // or an unexpected NULL cannot pass the three-valued filter.
    val agg = timed(s"withRunningMax over $rows rows (closed form)") {
      val vm = Ranking.withRunningMax(
        spark.range(rows).select(col("id"), pmod(col("id"), lit(97L)).as("v")),
        Seq(col("id")), col("v"), "pmax")
      val ok = when(col("id") === 0L, col("pmax").isNull)
        .otherwise(coalesce(col("pmax") === least(col("id"), lit(97L)) - 1L, lit(false)))
      vm.agg(count(lit(1)), sum(when(ok, 1L).otherwise(0L))).head()
    }
    assert(agg.getLong(0) == rows && agg.getLong(1) == rows,
      s"running max diverged from closed form: ${agg.getLong(1)} of ${agg.getLong(0)} rows ok")
  }

  // ------------------------------------------------------------------- skew

  test("skew salting: a 20% hot key spreads over salt buckets, result unchanged") {
    // the regime salting is for: a dimension too large to broadcast
    // (broadcast off), AQE off so partition shapes are the raw hash-
    // partitioned truth (AQE's skew split is the runtime fallback), and
    // 32 shuffle partitions so one hot partition can stand out
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "32")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val nRows = sized(50000000L)
      val nKeys = 100000L // dimension rows, fixed: the fact table grows, keys do not
      // key 0 takes 20% of rows; the rest spread uniformly
      val big = spark.range(nRows).select(
        when(pmod(col("id"), lit(5L)) === 0, 0L)
          .otherwise(pmod(xxhash64(col("id")), lit(nKeys))).as("k"),
        (col("id") % 1000L).as("v"))
      val small = spark.range(nKeys).select(col("id").as("k"), (col("id") * 7L).as("w"))

      /** (rows, payload checksum, max partition / mean non-empty partition). */
      def profile(df: DataFrame): (Long, Long, Double) = {
        val parts = df.select((col("v") + col("w")).as("p")).rdd.mapPartitions { it =>
          var n = 0L; var s = 0L
          it.foreach { r => n += 1; s += r.getLong(0) }
          Iterator((n, s))
        }.collect().toSeq
        val n = parts.map(_._1).sum
        (n, parts.map(_._2).sum, parts.map(_._1).max / (n.toDouble / parts.count(_._1 > 0)))
      }

      val (plainRows, plainSum, plainSkew) =
        timed(s"plain shuffle join over $nRows rows") { profile(big.join(small, "k")) }
      info(f"plain: max partition $plainSkew%.1f× mean")
      assert(plainSkew >= 5.0,
        f"hot key did not skew the plain join ($plainSkew%.1f× mean) — the premise is broken")
      val (saltRows, saltSum, saltSkew) = timed("saltedJoin (32 buckets)") {
        profile(Skew.saltedJoin(big, small, "k", buckets = 32))
      }
      info(f"salted: max partition $saltSkew%.1f× mean")
      assert(saltSkew <= 2.0, f"salted join still skewed: max partition $saltSkew%.1f× mean")
      assert(saltRows == plainRows, s"salted join returned $saltRows rows, plain $plainRows")
      assert(saltSum == plainSum, s"salted join checksum $saltSum != plain $plainSum")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // ------------------------------------------------------------------- tsdb

  test("tsdb store: Track/Fetch/Expire/compact and the fold family reconcile to closed forms") {
    val nEvents = sized(50000000L)
    val metrics = 20
    val hosts = sized(500L).toInt // 10k series at full size: ~26 events per hourly cell
    val series = hosts.toLong * metrics
    val days = 8 // epochs; hourly buckets → 192 buckets
    val t0 = "TIMESTAMP_NTZ'2026-01-01 00:00:00'"

    // deterministic synthetic feed: round-robin over series, uniform over the 8-day span
    val events = spark.range(nEvents)
      .withColumn("off", pmod(xxhash64(col("id"), lit(1)), lit(days * 86400L)))
      .withColumn("ts", expr(s"timestampadd(SECOND, off, $t0)"))
      .withColumn("f1", concat(lit("host"), pmod(col("id"), lit(hosts.toLong))))
      .withColumn("f2", concat(lit("m"), expr(s"(id div $hosts) % $metrics")))
      .withColumn("value", pmod(xxhash64(col("id"), lit(2)), lit(1000L)) / 100.0)
      .select(col("ts"), col("f1"), col("f2"), col("value"))

    withTempDir("graft_tsdb_scale") { root =>
      val store = new MetricStore(spark, root.toString,
        StoreParams("hour", "day", retentionEpochs = 5, fields = Seq("f1", "f2")))

      // --- 1. ingest: exactly one row per occupied (prefix, bucket) cell,
      // and at this occupancy every series × bucket cell is occupied
      timed(s"track $nEvents events") { store.track(events) }
      val cells = events.withColumn("bucket", date_trunc("hour", col("ts")))
        .agg(countDistinct(col("f1"), col("bucket")), countDistinct(col("f1"), col("f2"),
          col("bucket")), sum(col("value"))).head()
      val (c1, c2, rawTotal) = (cells.getLong(0), cells.getLong(1), cells.getDouble(2))
      val stored = store.points().count()
      assert(stored == c1 + c2,
        s"store holds $stored rows, expected ${c1 + c2} — rollup dropped or duplicated cells")
      assert(c2 == days * 24L * series,
        s"depth-2 cells $c2 != ${days * 24L * series} — series×bucket grid not covered")

      // --- 2. conservation: a full-range depth-1 fetch re-sums to the raw feed
      val full = timed("fetch full range, depth 1 (all hosts)") {
        store.fetch("2026-01-01", s"2026-01-0${days + 1}", Seq(None))
          .agg(count(lit(1)), sum(col("total")), sum(col("cnt"))).head()
      }
      assert(full.getLong(0) == c1, s"depth-1 fetch rows ${full.getLong(0)} != $c1")
      assert(full.getLong(2) == nEvents, s"fetched cnt ${full.getLong(2)} != $nEvents")
      val drift = math.abs(full.getDouble(1) - rawTotal) / rawTotal
      assert(drift < 1e-9, s"fetched total drifted by $drift from the raw feed")

      // --- 3. pruned narrow fetch, one host × one day: exact rows, and the
      // scan opens only the epochs of the inclusive [from, to] epoch range,
      // 2 of the 8 (O(1 epoch), not O(corpus))
      val narrow = store.fetch("2026-01-03", "2026-01-04", Seq(Some(s"host${42 % hosts}"), None))
      val (nNarrow, epochsRead) = timed("fetch 1 host × 1 day, depth 2") {
        partitionsRead(narrow, "epoch")
      }
      assert(nNarrow == 24L * metrics, s"narrow fetch rows $nNarrow != ${24 * metrics}")
      assert(epochsRead == 2L, s"narrow fetch read $epochsRead epoch partitions of $days, " +
        "expected 2 — fetch is not pruning epochs")

      // --- 4. expire: retention 5 of 8 epochs → the 3 oldest drop
      val dropped = timed("expire to 5 epochs") { store.expire() }
      assert(dropped == Seq("2026-01-01", "2026-01-02", "2026-01-03"),
        s"expire dropped ${dropped.mkString(",")}, expected the 3 oldest epochs")
      val survivors = store.points().agg(count(lit(1)), sum(col("cnt"))).head()
      val expCells = events.filter(col("ts") >= lit("2026-01-04").cast("timestamp_ntz"))
        .withColumn("bucket", date_trunc("hour", col("ts")))
        .agg(countDistinct(col("f1"), col("bucket")) +
          countDistinct(col("f1"), col("f2"), col("bucket")), count(lit(1))).head()
      assert(survivors.getLong(0) == expCells.getLong(0),
        s"post-expire rows ${survivors.getLong(0)} != ${expCells.getLong(0)}")
      assert(survivors.getLong(1) == 2 * expCells.getLong(1),
        s"post-expire cnt ${survivors.getLong(1)} != ${2 * expCells.getLong(1)} " +
          "(each observation counts once at each surviving depth)")

      // --- 5. compact one epoch: one file per maxPartitionBytes of its
      // segments, aggregates unchanged
      val ep = "2026-01-05"
      def epochAgg() = store.points().filter(col("epoch") === ep)
        .agg(count(lit(1)), sum(col("total")), sum(col("cnt"))).head()
      def segmentFiles() = Files.list(root.resolve(s"points/epoch=$ep")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      val before = epochAgg()
      val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
      val expFiles = math.max(1L, (segmentFiles().map(Files.size).sum + maxBytes - 1) / maxBytes)
      timed(s"compact epoch $ep to $expFiles file(s)") { store.compact(ep) }
      assert(segmentFiles().size == expFiles,
        s"epoch has ${segmentFiles().size} files after compact, expected $expFiles")
      val after = epochAgg()
      assert(after.getLong(0) == before.getLong(0) && after.getLong(2) == before.getLong(2) &&
        math.abs(after.getDouble(1) - before.getDouble(1)) <= math.abs(before.getDouble(1)) * 1e-12,
        s"compact changed the epoch aggregate: $before -> $after")
    }

    // --- 6. sequential folds at year-at-minute range (1M buckets in 4
    // series at full size) run in O(n) per series. Closed forms: a
    // constant series' EWMA is the constant, its CUSUM at target stays
    // 0, Holt-Winters' forecast sits on it (level = first point, trend
    // and seasonals 0) over the last eighth of each series.
    val perSeries = sized(250000L)
    val nBuckets = 4 * perSeries
    val seriesPts = spark.range(nBuckets).select(
      concat(lit("s"), pmod(col("id"), lit(4L))).as("f1"),
      expr(s"timestampadd(MINUTE, CAST(id div 4 AS INT), $t0)").as("bucket"),
      lit(42.5).as("total"), lit(1L).as("cnt"))
    val ew = timed(s"ewma over 4 series x $perSeries buckets") {
      Tsdb.ewma(seriesPts, 0.3)
        .agg(count(lit(1)), sum(when(col("ewma") === 42.5, 1L).otherwise(0L))).head()
    }
    assert(ew.getLong(0) == nBuckets && ew.getLong(1) == nBuckets,
      s"constant-series EWMA drifted: ${ew.getLong(1)} of ${ew.getLong(0)} rows at 42.5")
    val cu = timed("cusum over the same series") {
      Tsdb.cusum(seriesPts, 42.5, 10.0).agg(count(lit(1)),
        sum(when(col("cusum") === 0.0 && !col("alarm"), 1L).otherwise(0L))).head()
    }
    assert(cu.getLong(0) == nBuckets && cu.getLong(1) == nBuckets,
      "constant-series CUSUM at target drifted off zero")
    val hw = timed("holt-winters over the same series") {
      Tsdb.holtWinters(seriesPts, 0.5, 0.3, 0.2, 6)
        .filter(col("bucket") >= expr(s"timestampadd(MINUTE, ${perSeries * 7 / 8}, $t0)"))
        .agg(count(lit(1)), sum(when(abs(col("forecast") - 42.5) < 0.01, 1L).otherwise(0L)))
        .head()
    }
    assert(hw.getLong(0) > 0L && hw.getLong(0) == hw.getLong(1),
      s"holt-winters off the constant: ${hw.getLong(1)} of ${hw.getLong(0)} late forecasts near 42.5")

    // --- 6b. the worst-case fold shape: ONE series of 10M buckets at full
    // size (19 years of minutes), folded as one sorted array in one task —
    // pins foldSeries's documented memory ceiling (MaxFoldBucketsPerSeries
    // fails loudly past it instead of opaquely OOM-ing)
    val nMono = sized(10000000L)
    val monoPts = spark.range(nMono).select(lit("mono").as("f1"),
      expr(s"timestampadd(MINUTE, CAST(id AS INT), $t0)").as("bucket"),
      lit(42.5).as("total"), lit(1L).as("cnt"))
    val ewMono = timed(s"ewma over ONE series x $nMono buckets (single-task fold)") {
      Tsdb.ewma(monoPts, 0.3)
        .agg(count(lit(1)), sum(when(col("ewma") === 42.5, 1L).otherwise(0L))).head()
    }
    assert(ewMono.getLong(0) == nMono && ewMono.getLong(1) == nMono,
      s"single-series EWMA drifted: ${ewMono.getLong(1)} of ${ewMono.getLong(0)}")

    // --- 7. per-series window family: STL decomposes a constant to pure
    // trend (zero seasonal/remainder on every interior row), and the
    // Gorilla bit audit hits its closed-form cost for a regular cadence
    val stl = timed("stlDecompose over the same series") {
      Tsdb.stlDecompose(seriesPts, 12).agg(count(lit(1)), sum(when(col("trend") === 42.5 &&
        col("seasonal") === 0.0 && col("remainder") === 0.0, 1L).otherwise(0L))).head()
    }
    assert(stl.getLong(0) == nBuckets - 4 * 24 && stl.getLong(1) == stl.getLong(0),
      s"constant-series STL drifted: ${stl.getLong(1)} of ${stl.getLong(0)} rows clean " +
        s"(expected ${nBuckets - 4 * 24})")
    val go = timed("gorillaBits over the same series") {
      Tsdb.gorillaBits(seriesPts)
        .agg(sum(col("ts_bits")), sum(col("val_bits")), sum(col("n_points"))).head()
    }
    assert(go.getLong(2) == nBuckets &&
      go.getLong(0) == 4 * (64L + 27L + (perSeries - 2)) &&
      go.getLong(1) == 4 * (64L + (perSeries - 1)),
      s"regular-cadence Gorilla bits off closed form: $go")

    // --- 8. attribution at the full event volume: revenue is CONSERVED
    // through both models (every purchase lands in exactly one touch
    // bucket per model) — the per-user window + (user, index) equi-join
    val nUsers = sized(1000000L)
    val att = spark.range(nEvents)
      .withColumn("user_id", pmod(col("id"), lit(nUsers)))
      .withColumn("off", pmod(xxhash64(col("id"), lit(7)), lit(days * 86400L)))
      .withColumn("ts", expr(s"timestampadd(SECOND, CAST(off AS INT), $t0)"))
      .withColumn("h", pmod(xxhash64(col("id"), lit(8)), lit(10L)))
      .withColumn("event_type", when(col("h") === 0L, "purchase")
        .when(col("h") <= 5L, "view").otherwise("click"))
      .withColumn("value", pmod(xxhash64(col("id"), lit(9)), lit(10000L)) / 100.0)
      .select(col("id").as("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val trueCents = att.filter(col("event_type") === "purchase")
      .agg(count(lit(1)), sum(floor(col("value") * 100.0 + 0.5).cast("long"))).head()
    val attOut = timed(s"attribution over $nEvents events / $nUsers users") {
      Tsdb.attribution(att).groupBy(col("model"))
        .agg(sum(col("n_purchases")).as("np"),
          sum(floor(col("revenue") * 100.0 + 0.5).cast("long")).as("cents"))
        .collect()
    }
    assert(attOut.length == 2 && attOut.forall(r =>
      r.getAs[Long]("np") == trueCents.getLong(0) &&
        r.getAs[Long]("cents") == trueCents.getLong(1)),
      s"attribution leaked revenue: true $trueCents vs ${attOut.mkString(";")}")

    // --- 9. census family: the churn/stickiness shuffles are bounded by
    // DISTINCT presence, not raw events. Both feeds cover every cell
    // deterministically, so the closed forms are exact: every series
    // active every day (new only on day 1, churned only on the trailing
    // day), every user active every day (stickiness ≡ 1).
    val census = spark.range(nEvents)
      .withColumn("user_id", expr(s"(id div 8) % $nUsers"))
      .withColumn("ts", expr(s"timestampadd(SECOND, CAST((id % 8) * 86400 + (id % 86399) AS INT), $t0)"))
      .select(col("ts"), col("user_id"))
    val churnFeed = spark.range(nEvents)
      .withColumn("event_type", concat(lit("host"), expr(s"id % $hosts")))
      .withColumn("user_id", expr(s"(id % $series) div $hosts"))
      .withColumn("ts", expr(s"timestampadd(SECOND, " +
        s"CAST(((id div $series) % 8) * 86400 + (id % 86399) AS INT), $t0)"))
      .select(col("event_type"), col("user_id"), col("ts"))
    val churn = timed(s"seriesChurn over $nEvents events / ${series * days} series-days") {
      Tsdb.seriesChurn(churnFeed, "2026-01-01", "2026-01-09").collect()
    }
    assert(churn.length == days + 1, s"want ${days + 1} churn days, got ${churn.length}")
    churn.foreach { r =>
      val want = r.getAs[java.sql.Date]("day").toString match {
        case "2026-01-01" => (series, series, 0L)
        case "2026-01-09" => (0L, 0L, series)
        case _ => (series, 0L, 0L)
      }
      assert((r.getAs[Long]("n_active"), r.getAs[Long]("n_new"), r.getAs[Long]("n_churned")) ==
        want, s"churn closed form broke: $r")
    }
    val stick = timed(s"stickiness over $nEvents events / $nUsers users") {
      Tsdb.stickiness(census, "2026-01-07", "2026-01-08").collect()
    }
    assert(stick.length == 2 && stick.forall(r =>
      r.getAs[Long]("dau") == nUsers && r.getAs[Long]("wau") == nUsers &&
        r.getAs[Double]("stickiness") == 1.0),
      s"stickiness closed form broke: ${stick.mkString(";")}")
  }

  // -------------------------------------------------------------- streaming

  test("streaming into a store: exactly-once ingest, watermark-bounded state") {
    import spark.implicits._
    implicit val sq: SQLContext = spark.sqlContext
    val nPoints = sized(2000000L)
    val nStream = sized(4000000L)
    val users = sized(1000000L)
    val metrics = 20
    val hosts = sized(500L).toInt // 10k series at full size
    val chunks = 2
    val chunkHours = 24 // 2 time-ordered chunks × 24h = 48 hourly buckets
    val baseSec = java.time.LocalDateTime.parse("2026-01-01T00:00:00")
      .toEpochSecond(java.time.ZoneOffset.UTC)

    def mix(i: Long): Long = { // splitmix-style deterministic offset
      val h = (i + 1) * 0x9E3779B97F4A7C15L
      ((h ^ (h >>> 31)) & Long.MaxValue) % (chunkHours * 3600L)
    }
    // chunk = i mod chunks and the series from i div chunks, so every chunk
    // sees every series (a metric index of i mod 20 would pin each metric
    // to one chunk: one chunk of cells per series, fewer than the state bound)
    def pointAt(i: Long): Point = {
      val off = (i % chunks) * chunkHours * 3600L + mix(i)
      val s = i / chunks
      Point(s"m${s % metrics}", s"h${(s / metrics) % hosts}",
        new Timestamp((baseSec + off) * 1000L), (i % 1000) / 100.0)
    }

    // driver-side closed forms over the identical feed
    val cells1 = scala.collection.mutable.HashSet.empty[(String, Long)]
    val cells2 = scala.collection.mutable.HashSet.empty[(String, String, Long)]
    val m7Cells = scala.collection.mutable.HashSet.empty[(String, Long)]
    var rawTotal = 0.0
    var m7Count = 0L
    (0L until nPoints).foreach { i =>
      val p = pointAt(i)
      val bucketSec = p.ts.getTime / 1000L / 3600L * 3600L
      cells1.add((p.f1, bucketSec))
      cells2.add((p.f1, p.f2, bucketSec))
      rawTotal += p.value
      if (p.f1 == "m7") { m7Count += 1; m7Cells.add((p.f2, bucketSec)) }
    }

    // (name, points, secs, note): the sustained-ingest throughput record
    val measured = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, String)]

    withTempDir("graft_stream_scale") { tmp =>
      val root = tmp.resolve("store").toString
      val input = MemoryStream[Point]
      val t0 = System.nanoTime()
      val qs = StreamingTracker.startIntoStore(input.toDF(),
        new MetricStore(spark, root, StoreParams("hour", "day", 30, Seq("f1", "f2"))),
        tmp.resolve("chk").toString, watermark = "1 hour")
      try {
        // arrival follows event time (each chunk one 24h tranche, shuffled
        // inside) — what keeps the 1h watermark from marking tranches late.
        // The last tranche carries a flush sentinel 2h past the end: it
        // closes every real window, and its own window must never emit.
        // Two tranches are the fewest that still let the state gate bite.
        val endSec = baseSec + chunks * chunkHours * 3600L
        val sentinel = Point("zz", "zz", new Timestamp((endSec + 2L * 3600L) * 1000L), 0.0)
        (0 until chunks).foreach { c =>
          val tranche = (0L until nPoints).filter(_ % chunks == c).map(pointAt)
          input.addData(if (c == chunks - 1) tranche :+ sentinel else tranche)
          qs.foreach(_.processAllAvailable())
        }
        val secs = (System.nanoTime() - t0) / 1e9
        measured += (("streaming_track_ingest", nPoints, secs,
          s"exactly-once store ingest, ${hosts * metrics} series, state bounded by live horizon"))

        val peakState = qs.flatMap(_.recentProgress).map(_.stateOperators.map(_.numRowsTotal).sum).max
        // live windows: one tranche plus the 2h the 1h watermark keeps
        // open behind it, for every (depth-1 + depth-2) key; the sentinel
        // riding the last tranche adds its own 2 keys
        val horizon = (chunkHours + 2) * (metrics * hosts + metrics) + 2
        info(s"peak streaming state $peakState rows (live-horizon bound $horizon; unbounded " +
          s"would reach ${(chunkHours * chunks + 1) * (metrics * hosts + metrics)})")
        assert(peakState <= horizon, s"peak state $peakState exceeds the live-window horizon " +
          s"$horizon — watermark eviction is not bounding state")

        val store = MetricStore.open(spark, root)
        val got = store.points().agg(count(lit(1)), sum(col("cnt")),
          sum(when(col("depth") === 2, col("total"))),
          sum(when(col("f1") === "zz", 1L).otherwise(0L))).head()
        assert(got.getLong(3) == 0L, "sentinel's unclosed window leaked into the store")
        assert(got.getLong(0) == cells1.size + cells2.size,
          s"store rows ${got.getLong(0)} != ${cells1.size + cells2.size} occupied cells")
        assert(got.getLong(1) == 2L * nPoints,
          s"store cnt ${got.getLong(1)} != ${2L * nPoints} (each point once per depth)")
        val drift = math.abs(got.getDouble(2) - rawTotal) / rawTotal
        assert(drift < 1e-9, s"streamed depth-2 total drifted by $drift from the feed")
        val m7 = store.fetch("2026-01-01", "2026-01-03", Seq(Some("m7"), None))
          .agg(count(lit(1)), sum(col("cnt"))).head()
        assert(m7.getLong(0) == m7Cells.size && m7.getLong(1) == m7Count,
          s"m7 fetch (${m7.getLong(0)} rows, cnt ${m7.getLong(1)}) != " +
            s"closed form (${m7Cells.size}, $m7Count)")
      } finally qs.foreach(_.stop())

      // --- 2. sustained throughput of the bounded-state operators at
      // `users`-series key cardinality: `nStream` points in 4 tranches,
      // timed end to end (planning + shuffle + state store)
      def runStream[T](name: String, ds: Dataset[T], in: MemoryStream[Point],
          feed: Long => Point, stateBound: Long, boundDesc: String): Unit = {
        val q = ds.writeStream.format("noop")
          .option("checkpointLocation", tmp.resolve(s"${name}_chk").toString)
          .outputMode("append").start()
        try {
          val tranches = 4
          val t0s = System.nanoTime()
          (0 until tranches).foreach { c =>
            in.addData((c.toLong until nStream by tranches).map(feed))
            q.processAllAvailable()
          }
          val secs = (System.nanoTime() - t0s) / 1e9
          val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
          assert(stateRows <= stateBound, s"$name state $stateRows exceeds its bound $stateBound")
          measured += ((name, nStream, secs,
            s"$users-series cardinality, state $stateRows rows ($boundDesc)"))
        } finally q.stop()
      }
      def at(i: Long) = new Timestamp((baseSec + i / 1000) * 1000L)

      // topk: `users` distinct f2 keys over 100 f1 groups; state is 100
      // SpaceSaving sketches of m=8 counters — independent of key
      // cardinality AND stream length
      val topkIn = MemoryStream[Point]
      runStream("streaming_topk", StreamingTracker.topkStream(spark, topkIn.toDS(), m = 8, k = 3),
        topkIn, i => Point(s"g${i % 100}", s"u${i % users}", at(i), 1.0),
        stateBound = 100L, "bound: 100 groups x 8 counters")
      // attribution: state is one (first, last) pair per user — O(users),
      // independent of stream length (4x more events than users)
      val kinds = Array("view", "click", "view", "purchase")
      val attrIn = MemoryStream[Point]
      runStream("streaming_attribution", StreamingTracker.attributionStream(spark, attrIn.toDS()),
        attrIn, i => Point(kinds(((i / users) % 4).toInt), s"u${i % users}", at(i),
          (i % 100) / 10.0), stateBound = users, s"bound: $users users x (first, last)")
    }

    info(measured.map { case (name, pts, secs, note) =>
      f"""  "$name": {"points": $pts, "sec": $secs%.1f, """ +
        f""""points_per_sec": ${(pts / secs).toLong}, "note": "$note"}"""
    }.mkString("{\n", ",\n", "\n}"))
  }

  // ------------------------------------------------------------------- text

  test("text curation: shuffle, budgets, entropy, mixture and screens hold at width") {
    val nDocs = sized(5000000L)
    val nSources = 200
    val v = 200000L // vocabulary for synthetic token draws
    // a source skewed enough to matter (source 0 gets ~10x the docs of
    // the uniform tail — the shape that serialized seq_packing pre-r4),
    // and text whose token count varies 20..219 deterministically
    def corpus(n: Long) = spark.range(n)
      .withColumn("source", concat(lit("src"), when(pmod(col("id"), lit(10L)) < 3, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(nSources - 1L)) + 1)))
      .withColumn("n_tok", pmod(xxhash64(col("id"), lit(2)), lit(200L)) + 20L)
      .withColumn("text", expr(
        s"array_join(transform(sequence(1, n_tok), i -> concat('w', pmod(xxhash64(id, i), $v))), ' ')"))
      .select(col("id").as("doc_id"), col("source"), col("text"), col("n_tok"))
    val docs = frozen(corpus(nDocs))
    // the per-doc operators that explode every token run on a fifth
    val nSlice = math.max(nDocs / 5, 1000L)
    val slice = frozen(corpus(nSlice))

    // ---- 1. trainingShuffle: exact permutation + round-robin shards
    val nShards = 64
    timed("trainingShuffle") {
      val sh = frozen(TextAnalysis.trainingShuffle(docs, nShards, "scale"))
      val pos = col("shard") + col("pos_in_shard") * nShards
      val agg = sh.agg(count(lit(1)), sum(pos), max(pos), min(pos)).head()
      assert(agg.getLong(0) == nDocs, "row count changed")
      assert(agg.getLong(3) == 0L && agg.getLong(2) == nDocs - 1, "global positions not [0, n)")
      assert(agg.getLong(1) == nDocs * (nDocs - 1) / 2,
        "global positions are not an exact permutation")
      val sizes = sh.groupBy(col("shard")).count().agg(min(col("count")), max(col("count"))).head()
      assert(sizes.getLong(1) - sizes.getLong(0) <= 1,
        s"shard sizes spread ${sizes.getLong(0)}..${sizes.getLong(1)} — round-robin broken")
      sh.unpersist()
    }

    // ---- 2. sampleTokenBudget: every source has far more inventory than
    // the budget, so the greedy fill stops within one max-size doc (219
    // tokens) of the cap and never past it
    val budget = sized(100000L)
    timed("sampleTokenBudget") {
      val perSrc = frozen(TextAnalysis.sampleTokenBudget(docs, budget, "scale")
        .groupBy(col("source")).agg(max(col("cum_tokens")).as("filled")))
      assert(perSrc.count() == nSources, s"expected $nSources sources, got ${perSrc.count()}")
      val over = perSrc.filter(col("filled") > budget).count()
      assert(over == 0, s"$over sources exceed the budget")
      val under = perSrc.filter(col("filled") <= budget - 220).count()
      assert(under == 0, s"$under sources under-filled (gap > one doc)")
    }

    // ---- 3. tokenEntropy: H = ln(n) on every all-distinct doc, H <= ln(n_types) on all
    timed(s"tokenEntropy($nSlice docs)") {
      val ent = frozen(TextAnalysis.tokenEntropy(slice))
      assert(ent.count() == nSlice, s"entropy rows ${ent.count()} != $nSlice")
      val distinctViol = ent.filter(col("n_types") === col("n_tokens"))
        .filter(abs(col("entropy") - log(col("n_tokens"))) > 0.001).count()
      assert(distinctViol == 0, s"$distinctViol all-distinct docs off ln(n)")
      val boundViol = ent.filter(col("entropy") > log(col("n_types")) + 0.001).count()
      assert(boundViol == 0, s"$boundViol docs exceed the ln(n_types) bound")
      ent.unpersist()
    }

    // ---- 4. mixture accounting: the applied repetition factors land every
    // source's token share on the equal 1/k target within a 20% hash-
    // sampling envelope. Source 0 carries ~30% of raw tokens: a 60x down-
    // weight realized doc-by-doc, so its share is a binomial draw of about
    // nDocs/k docs. Below ~180k docs (scale 0.036) 6 SD of that draw
    // exceeds 20%, and the envelope widens to 6/sqrt(nDocs/k).
    timed("mixtureTokenShare") {
      val ms = frozen(TextAnalysis.mixtureTokenShare(docs, "scale"))
      assert(ms.count() == nSources, s"expected $nSources sources, got ${ms.count()}")
      val target = 1.0 / nSources
      val tol = math.max(0.2, 6 / math.sqrt(nDocs.toDouble / nSources))
      val offTarget = ms.filter(abs(col("mixed_share") - target) > target * tol).collect()
      assert(offTarget.isEmpty, f"sources miss the 1/$nSources token share by > ${tol * 100}%.0f%%: " +
        offTarget.mkString(", "))
      val shareSum = ms.agg(sum(col("mixed_share"))).head().getDouble(0)
      assert(math.abs(shareSum - 1.0) < 0.01, s"share sum $shareSum != 1")
    }

    // ---- 5. tokenizer fertility: per-source integer accounting reconciles
    // exactly with the corpus totals
    timed("tokenizerFertility") {
      val tf = frozen(TextAnalysis.tokenizerFertility(docs))
      assert(tf.count() == nSources, s"expected $nSources sources")
      val row = tf.agg(sum(col("n_docs")), sum(col("n_ws_tokens"))).head()
      val expectTok = docs.agg(sum(col("n_tok"))).head().getLong(0)
      assert(row.getLong(0) == nDocs, s"fertility doc total ${row.getLong(0)} != $nDocs")
      assert(row.getLong(1) == expectTok, s"fertility ws-token total ${row.getLong(1)} != $expectTok")
      val badRatio = tf.filter(col("fertility") < 1.0).count()
      assert(badRatio == 0, s"$badRatio sources report fertility < 1 (every ws token holds " +
        ">= 1 sub-token)")
    }

    // ---- 6. gopherRules: tokens are 'w<digits>' — all alphabetic, no
    // punctuation, no stopwords — and the word-count flag flips EXACTLY on
    // the n_tok >= 50 boundary the generator controls
    timed("gopherRules") {
      val g = TextAnalysis.gopherRules(docs).agg(count(lit(1)),
        sum(when(col("flag_alpha"), 0L).otherwise(1L)),
        sum(when(col("flag_symbol"), 0L).otherwise(1L)),
        sum(when(col("flag_stops"), 1L).otherwise(0L)),
        sum(when(col("flag_word_count"), 1L).otherwise(0L))).head()
      assert(g.getLong(0) == nDocs, "gopher row count changed")
      assert(g.getLong(1) == 0L, "alphabetic flag misfired")
      assert(g.getLong(2) == 0L, "symbol flag misfired")
      assert(g.getLong(3) == 0L, "stopword flag fired on a stopword-free corpus")
      val expectLong = docs.filter(col("n_tok") >= 50).count()
      assert(g.getLong(4) == expectLong, s"word-count flag ${g.getLong(4)} != generator's $expectLong")
    }

    // ---- 7. dsirWeights: every token is drawn from the SAME uniform
    // vocabulary regardless of quality, so target and raw distributions
    // coincide and importance weights vanish within hash-bucket noise;
    // the per-doc integer token accounting reconciles exactly
    timed(s"dsirWeights($nSlice docs)") {
      val w = frozen(TextAnalysis.dsirWeights(slice))
      assert(w.count() == nSlice, s"dsir rows ${w.count()} != $nSlice")
      val tokTotal = w.agg(sum(col("n_tokens"))).head().getLong(0)
      val expectTok = slice.agg(sum(col("n_tok"))).head().getLong(0)
      assert(tokTotal == expectTok, s"dsir token total $tokTotal != $expectTok")
      val worst = w.agg(max(abs(col("avg_log_ratio")))).head().getDouble(0)
      assert(worst < 0.01, f"identical target/raw distributions but avg log-ratio reaches $worst%.5f")
      w.unpersist()
    }

    // ---- 8. bpePairStats: the pair explode runs over the VOCABULARY, not
    // the raw token stream; the ranking comes back ordered
    timed(s"bpePairStats($nSlice docs)") {
      val top = TextAnalysis.bpePairStats(slice, 20).collect()
      assert(top.length == 20, s"expected 20 pairs, got ${top.length}")
      val occs = top.map(_.getAs[Long]("occurrences"))
      assert(occs.sameElements(occs.sorted.reverse), "pairs not rank-ordered")
      // every type is 'w<digits>', so every top pair is w+digit or digit+digit
      assert(top.forall(_.getAs[String]("pair").matches("[w0-9][0-9]")), "unexpected pair alphabet")
    }

    // ---- 9. corpus diagnostics with generator-derived closed forms: (a) a
    // Zipf fit over a UNIFORM vocabulary reads ~flat; (b) a boilerplate
    // 8-gram planted into 1% of docs tops the report with its exact df;
    // (c) the filter-agreement matrix puts every doc in the cell its
    // token count dictates (no stopwords ⇒ rules reject; the model and
    // composite cuts flip at exactly 23 and 63 tokens)
    timed("zipf + boilerplate + agreement") {
      val z = TextAnalysis.zipfSlope(slice, 100).head()
      assert(z.getAs[Long]("n_points") == 100L, "zipf point count")
      val slope = z.getAs[Double]("slope")
      assert(slope > -0.2 && slope <= 0.05, f"uniform vocabulary should read flat, slope = $slope%.4f")
      val prefix = "pb1 pb2 pb3 pb4 pb5 pb6 pb7 pb8"
      val planted = slice.withColumn("text", when(pmod(col("doc_id"), lit(100L)) === 0,
        concat(lit(prefix + " "), col("text"))).otherwise(col("text")))
      val top = Dedup.topBoilerplateOf(planted, Dedup.shingles(planted, 8), 8, 3).collect()
      val nPlanted = (nSlice + 99) / 100
      assert(top.head.getAs[String]("gram") == prefix,
        s"planted boilerplate not on top: '${top.head.getAs[String]("gram")}'")
      assert(top.head.getAs[Long]("df") == nPlanted,
        s"boilerplate df ${top.head.getAs[Long]("df")} != planted $nPlanted")
      val cells = TextAnalysis.filterAgreement(slice, 0.55).collect()
        .map(r => (r.getAs[Boolean]("rules_pass"), r.getAs[Boolean]("model_keep"),
          r.getAs[Boolean]("quality_keep")) -> r.getAs[Long]("n_docs")).toMap
      def cnt(lo: Long, hi: Long) = slice.filter(col("n_tok") >= lo && col("n_tok") <= hi).count()
      assert(cells.keys.forall(!_._1), "rules passed on a stopword-free corpus")
      assert(cells((false, false, false)) == cnt(20, 22), "reject-all cell off the 23-token boundary")
      assert(cells((false, true, false)) == cnt(23, 62), "model-only cell off the [23, 62] window")
      assert(cells((false, true, true)) == cnt(63, 219), "model+quality cell off the 63-token boundary")
    }
    docs.unpersist(); slice.unpersist()
  }

  // ------------------------------------------------------------------ dedup
  //
  // Planted layout, one group per 50 ids: a base doc (variant 0), a
  // tail-mutated copy (variant 1) and a head-mutated copy (variant 2). With
  // 40 tokens/doc and 2 mutated tokens J(base, v1) = J(base, v2) = 36/40 =
  // 0.9 ≥ the 0.85 threshold, while J(v1, v2) = 34/42 ≈ 0.81 — so v1 and v2
  // join one cluster only through the base edge. Planted pairs collide in
  // some band at the analytic 1-(1-J^4)^4 ≈ 0.986.

  private val L = 40      // tokens per doc → 38 distinct 3-gram shingles
  private val V = 50000L  // vocabulary; 3-gram space V^3 → disjoint random docs
  private val threshold = 0.85
  private def words(seed: String) =
    s"transform(sequence(1, $L), i -> concat('w', pmod(xxhash64($seed, i), $V)))"

  /** The planted-group corpus over ids [0, n): variants reuse the base
    * doc's seed and mutate 2 tokens with doc-unique markers. */
  private def dedupCorpus(n: Long): DataFrame = spark.range(n)
    .withColumn("variant", when(pmod(col("id"), lit(50L)) <= 2, pmod(col("id"), lit(50L)))
      .otherwise(lit(0L)))
    .withColumn("tk", expr(words("id - variant")))
    .withColumn("tk", expr(
      s"""CASE WHEN variant = 1 THEN concat(slice(tk, 1, ${L - 2}),
                                             array(concat('m1_', id), concat('m2_', id)))
              WHEN variant = 2 THEN concat(array(concat('m1_', id), concat('m2_', id)),
                                             slice(tk, 3, ${L - 2}))
              ELSE tk END"""))
    .select(col("id").as("doc_id"), array_join(col("tk"), " ").as("text"))

  /** Planted edges in [0, n): base→v1 exists iff an id ≡ 1 (mod 50) < n,
    * base→v2 iff an id ≡ 2 (mod 50) < n. */
  private def plantedEdges(n: Long) = ((n + 48) / 50, (n + 47) / 50)

  private lazy val nDedup = sized(2000000L)

  test("dedup pipeline: LSH blocking stays linear, recall and transitive clusters hold") {
    val nDocs = nDedup
    val docs = dedupCorpus(nDocs)

    // --- 1. candidate volume: Σ c(c-1)/2 over band buckets IS the pair
    // mass and must stay O(n). Planted groups fill buckets of ≤ 3; the
    // rest is the chance-collision tail, a rounding error next to the
    // planted signal (analytic total ≈ groups × 6.97).
    val bstats = timed(s"band-bucket histogram over $nDocs docs") {
      Dedup.lshBands(Dedup.minhashSignatures(docs)).groupBy(col("band"), col("key"))
        .agg(count(lit(1)).as("c"))
        .agg(max(col("c")), sum(expr("c * (c - 1) div 2")),
          sum(expr("CASE WHEN c > 3 THEN c * (c - 1) div 2 ELSE 0 END"))).head()
    }
    val (maxBucket, candPairs, tailPairs) = (bstats.getLong(0), bstats.getLong(1), bstats.getLong(2))
    info(s"max bucket $maxBucket, candidate pairs $candPairs, chance-collision tail $tailPairs")
    assert(maxBucket <= 256L, s"hot LSH bucket ($maxBucket docs) — candidate generation not O(n)")
    assert(candPairs <= nDocs, s"candidate pairs ($candPairs) super-linear in corpus size ($nDocs)")
    assert(tailPairs * 100L <= candPairs, s"chance-collision buckets contribute $tailPairs of " +
      s"$candPairs candidate pairs (> 1%) — LSH precision collapsing")

    // --- 2. pair recovery: only planted base→variant edges at J = 0.9
    // (never v1-v2 at 0.81, never cross-group)
    val pairs = timed(s"minhashLsh over $nDocs docs") { frozen(Dedup.minhashLsh(docs, threshold)) }
    val bad = pairs.filter(pmod(col("doc_a"), lit(50L)) =!= 0 ||
      (col("doc_b") - col("doc_a")) > 2 || col("jaccard") < 0.85 || col("jaccard") > 0.95).count()
    assert(bad == 0L, s"$bad non-planted or out-of-band pairs emitted")
    val (e1, e2) = plantedEdges(nDocs)
    val recall = pairs.count().toDouble / (e1 + e2)
    info(f"planted-edge recall $recall%.4f (analytic ≈ 0.986)")
    assert(recall >= 0.95, f"recall $recall%.4f below 0.95 — LSH bands lost signal")

    // --- 3. transitive clustering: cluster_id = component min, no group
    // bleeds, and full groups triple up through the base edge
    val clusters = timed("clustersFromPairs over recovered edges") {
      frozen(Dedup.clustersFromPairs(pairs.select(col("doc_a"), col("doc_b"))))
    }
    val badLabel = clusters.groupBy(col("cluster_id")).agg(min(col("doc_id")).as("m"))
      .filter(col("m") =!= col("cluster_id")).count()
    assert(badLabel == 0L, s"$badLabel clusters where cluster_id != component min")
    val maxSize = clusters.agg(max(col("csize"))).head().getLong(0)
    assert(maxSize <= 3L, s"cluster of size $maxSize — groups bled together")
    val tripleRate = clusters.filter(col("csize") === 3).count() / 3 / e2.toDouble
    info(f"full 3-doc clusters $tripleRate%.4f (analytic ≈ 0.986² = 0.972)")
    assert(tripleRate >= 0.90, f"triple rate $tripleRate%.4f below 0.90 — transitive merge failing")

    // --- 4. incremental ingestion of a 1% batch against the standing
    // corpus: EVEN batch ids are tail-mutated J = 0.9 copies of a plain
    // corpus doc `src` (id ≡ 3 mod 50, never a planted variant) and must
    // come back dup_of = src; ODD ids are novel and must come back NULL
    val arr = frozen(spark.range(nDocs, nDocs + nDocs / 100)
      .withColumn("src", expr(s"(pmod(xxhash64(id, 7), ${nDocs / 50 * 50}) div 50) * 50 + 3"))
      .withColumn("tk", expr(words("CASE WHEN id % 2 = 0 THEN src ELSE id END")))
      .withColumn("tk", expr(s"""CASE WHEN id % 2 = 0 THEN concat(slice(tk, 1, ${L - 2}),
          array(concat('mb1_', id), concat('mb2_', id))) ELSE tk END"""))
      .select(col("id").as("doc_id"), array_join(col("tk"), " ").as("text"), col("src")))
    val decided = timed(s"incrementalDedupAgainst (${nDocs / 100} new vs $nDocs corpus)") {
      frozen(Dedup.incrementalDedupAgainst(docs, arr.select(col("doc_id"), col("text")), threshold)
        .join(arr.select(col("doc_id"), col("src")), "doc_id"))
    }
    // legitimate partners: the planted src, or a batch SIBLING that
    // near-dup'ed the same src (two copies of one doc are J = 0.9 apart)
    val wrongPartner = decided.as("d")
      .join(arr.select(col("doc_id").as("dup_of"), col("src").as("dup_src")), Seq("dup_of"), "left")
      .filter(pmod(col("d.doc_id"), lit(2L)) === 0 && col("dup_of").isNotNull &&
        col("dup_of") =!= col("d.src") && (col("dup_src").isNull || col("dup_src") =!= col("d.src")))
      .count()
    assert(wrongPartner == 0L, s"$wrongPartner batch docs matched the wrong corpus doc")
    val novelFp = decided.filter(pmod(col("doc_id"), lit(2L)) === 1 && col("dup_of").isNotNull)
      .count()
    assert(novelFp == 0L, s"$novelFp novel batch docs falsely flagged as dups")
    val evens = decided.filter(pmod(col("doc_id"), lit(2L)) === 0)
    val incRecall = evens.filter(col("dup_of").isNotNull).count().toDouble / evens.count()
    info(f"incremental dup_of recall $incRecall%.4f (analytic ≈ 0.986)")
    assert(incRecall >= 0.95, f"incremental recall $incRecall%.4f below 0.95")

    // --- 6. ingest-novelty curve over a corpus whose second half repeats
    // the first verbatim: deciles 0-4 are all first-seen (novelty ≈ 1),
    // deciles 5-9 all seen in their mirror (novelty = 0), and mirrored
    // deciles agree EXACTLY on n_types
    val half = dedupCorpus(nDocs / 2)
    val novDocs = half.union(half.select((col("doc_id") + nDocs / 2).as("doc_id"), col("text")))
    val byBucket = timed(s"ngramNovelty over $nDocs docs (half repeated)") {
      Dedup.ngramNoveltyOf(novDocs, Dedup.shingles(novDocs, 8)).collect()
    }.map(r => r.getAs[Long]("bucket") -> r).toMap
    assert(byBucket.size == 10, s"expected 10 deciles, got ${byBucket.size}")
    (0L to 4L).foreach { b =>
      val (fresh, rep) = (byBucket(b), byBucket(b + 5))
      assert(fresh.getAs[Double]("novelty") >= 0.999, s"decile $b novelty " +
        s"${fresh.getAs[Double]("novelty")} < 0.999 on fresh content")
      assert(rep.getAs[Double]("novelty") <= 0.001, s"decile ${b + 5} novelty " +
        s"${rep.getAs[Double]("novelty")} > 0.001 on repeated content")
      assert(fresh.getAs[Long]("n_types") == rep.getAs[Long]("n_types"),
        s"mirrored deciles $b/${b + 5} disagree on n_types")
    }

    // --- 7. cluster-aware downsampling over the phase-3 components: every
    // unclustered doc survives, and 3-doc clusters keep 1 doc each in
    // expectation (binomial n = members, p = 1/3; 6 SD envelope)
    val dw = timed(s"clusterDownweight over $nDocs docs") {
      frozen(Dedup.clusterDownweightOf(docs, clusters, "scale"))
    }
    val keptSingles = dw.filter(col("csize") === 1).count()
    assert(keptSingles == nDocs - clusters.count(), s"$keptSingles unclustered docs kept of " +
      s"${nDocs - clusters.count()} — csize-1 admission must be unconditional")
    val tripleMembers = clusters.filter(col("csize") === 3).count()
    val keptTriples = dw.filter(col("csize") === 3).count()
    val sd = math.sqrt(tripleMembers * (1.0 / 3) * (2.0 / 3))
    assert(math.abs(keptTriples - tripleMembers / 3.0) <= 6 * sd,
      f"3-doc clusters kept $keptTriples docs vs expected ${tripleMembers / 3.0}%.0f ± ${6 * sd}%.0f")
    Seq(pairs, clusters, arr, decided, dw).foreach(_.unpersist())
  }

  // Phase 5: `floodN` byte-identical docs (the degenerate case LSH dedup
  // exists for) share ONE key per band. Past the bucket cap they add ZERO
  // candidates (exact dups are the cheaper hash-groupBy pass's job), while
  // the planted signal in the mixed-in corpus stays intact. At full size
  // this is 150k flood docs against the production BandBucketCap. The
  // mixed-in corpus keeps at least 2,000 docs (80 planted edges), so the
  // recall gate has a sample to bite on at smoke size.
  test("flood smoke: bucket cap bounds candidate mass, planted signal survives") {
    val floodN = sized(150000L)
    val cap = sized(Dedup.BandBucketCap)
    val normalN = math.max(sized(100000L), 2000L)
    assert(floodN > cap, "flood must exceed the cap for this phase to bind")
    val floodBase = 10L * normalN
    val flood = spark.range(floodBase, floodBase + floodN).select(col("id").as("doc_id"),
      expr(s"array_join(transform(sequence(1, $L), i -> concat('bp', i)), ' ')").as("text"))
    val mixed = dedupCorpus(normalN).union(flood)
    val cand = timed(s"candFromBands over $floodN-doc flood + $normalN normal") {
      frozen(Dedup.candFromBands(Dedup.lshBands(Dedup.minhashSignatures(mixed)), cap))
    }
    // an uncapped flood bucket alone would emit floodN²/2 × 4 pairs
    assert(cand.count() <= 4L * normalN,
      s"${cand.count()} candidates from flood-mixed corpus — bucket cap not binding")
    val floodTouch = cand.filter(col("doc_a") >= floodBase || col("doc_b") >= floodBase).count()
    assert(floodTouch == 0L, s"$floodTouch candidates touch flood docs — capped bucket leaked")
    val found = timed("minhashLsh over flood-mixed corpus") {
      Dedup.minhashLsh(mixed, threshold, cap).count()
    }
    val (e1, e2) = plantedEdges(normalN)
    val recall = found.toDouble / (e1 + e2)
    info(f"flood-mixed planted recall $recall%.4f")
    assert(recall >= 0.95, f"recall $recall%.4f below 0.95 with flood present — cap ate real signal")
    cand.unpersist()
  }

  // Phase 5b, the TEMPLATED flood: pairs of docs sharing 90 boilerplate
  // tokens + 8 pair tokens + 2 doc-unique tokens, so q = P(a perm's min is
  // boilerplate) = 88/98, J within a pair 0.96, across pairs 0.81. Each
  // band's boilerplate bucket holds ≈ q⁴·n docs — far over the cap — so
  // under drop semantics a pair is found only via a band whose key is not
  // all-boilerplate (analytic recall ≈ 0.68). Sub-blocking adds the
  // flood-bucket path: analytic ≈ 0.89. The 0.8 gate separates the two
  // only with enough pairs: 1,000 pairs at least (≈ 8 SD apart), and the
  // cap stays a tenth of the corpus, as at full size.
  test("templated-flood smoke: sub-blocking recovers pairs without going quadratic") {
    val tplN = 2 * math.max(sized(10000L), 1000L)
    val cap = tplN / 10
    val tpl = spark.range(tplN).select(col("id").as("doc_id"), expr(
      """array_join(concat(
           transform(sequence(1, 90), i -> concat('bp', i)),
           transform(sequence(1, 8), i -> concat('p', CAST(id div 2 AS STRING), '_', i)),
           transform(sequence(1, 2), i -> concat('d', CAST(id AS STRING), '_', i))), ' ')""")
      .as("text"))
    val bands = frozen(Dedup.lshBands(Dedup.minhashSignatures(tpl)))
    val fat = bands.groupBy(col("band"), col("key")).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap).count()
    assert(fat >= 4L, s"only $fat oversized buckets — template flood not flooding")
    val cand = timed(s"sub-blocked candFromBands over $tplN templated docs") {
      frozen(Dedup.candFromBands(bands, cap))
    }
    assert(cand.count() <= 8L * tplN,
      s"${cand.count()} candidates from templated flood — sub-blocking went quadratic")
    val found = cand.filter(col("doc_a") % 2 === 0 && col("doc_b") === col("doc_a") + 1).count()
    val recall = found.toDouble / (tplN / 2)
    info(f"templated-flood planted-pair recall $recall%.4f (sub-block ≈ 0.89; drop ≈ 0.68)")
    assert(recall >= 0.8, f"recall $recall%.4f below 0.8 — oversized-bucket sub-blocking regressed")
    cand.unpersist(); bands.unpersist()
  }

  // Phase 8, the simhash candidate audit: the pair mass the 3-of-6 block-
  // combination keys generate (Σ c(c-1)/2 over distinct-fp buckets under
  // simhashPairs' bucket cap) must stay linear — the old 4 × 15-bit split
  // generated 308M candidates for 15k true pairs at 2M docs — and the
  // banded pairs must equal brute-force hamming on a 2000-doc slice.
  test("simhash smoke: fp-level combo-key candidate mass stays linear") {
    val nDocs = nDedup
    val docs = dedupCorpus(nDocs)
    val fps = timed(s"simhash fingerprints over $nDocs docs") {
      frozen(Dedup.simhashFingerprints(docs))
    }
    val bandCols = Dedup.simhashComboKeys(3).map { case (ci, keyExpr) =>
      struct(lit(ci).as("band"), expr(keyExpr).as("key"))
    }
    val candTotal = fps.select(col("fp")).distinct()
      .select(explode(array(bandCols: _*)).as("bk"))
      .groupBy(col("bk.band"), col("bk.key")).agg(count(lit(1)).as("c"))
      .agg(sum(expr("CASE WHEN c <= 100000 THEN c * (c - 1) div 2 ELSE 0 END"))).head().getLong(0)
    val verified = timed(s"simhashPairs over $nDocs docs") { Dedup.simhashPairs(docs, 3).count() }
    info(s"fp-level candidates $candTotal for $verified verified pairs")
    assert(candTotal <= 8L * nDocs,
      s"simhash fp-level candidate mass ($candTotal) super-linear in corpus size ($nDocs)")
    val slice = fps.filter(col("doc_id") < 2000)
    val brute = slice.as("x").join(slice.as("y"),
        col("x.doc_id") < col("y.doc_id") && expr("bit_count(x.fp ^ y.fp)") <= 3)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.fp ^ y.fp)").as("hamming"))
    val banded = Dedup.simhashPairs(docs.filter(col("doc_id") < 2000), 3)
    assert(banded.except(brute).isEmpty && brute.except(banded).isEmpty,
      "banded simhash pairs differ from brute-force hamming on the slice")
    fps.unpersist()
  }

  // -------------------------------------------------------------------- ann
  //
  // Planted layout: C ground-truth clusters; vector i belongs to cluster
  // src % C and is its center (±1.0 uniform per component — far apart in
  // 64-dim) plus ±0.15 noise drawn from `src`, plus ±0.01 drawn from its
  // own id. src = id, except that ids [nQueries, nQueries·(k+1)) take
  // src = id % nQueries: each query (a corpus member, vec_id < nQueries)
  // has k NEAR-COPIES, the ground-truth top-k every index should recover.

  private val dim = 64
  private val C = 64        // planted clusters
  private val nQueries = 32
  private val k = 10
  private val nCent = 16    // learned coarse cells (each ~C/nCent planted clusters)
  private val nProbe = 4
  private def nearCopy(id: org.apache.spark.sql.Column) =
    id >= nQueries && id < nQueries.toLong * (k + 1)

  private def embeddings(from: Long, until: Long): DataFrame = spark.range(from, until)
    .withColumn("src", when(nearCopy(col("id")), pmod(col("id"), lit(nQueries.toLong)))
      .otherwise(col("id")))
    .withColumn("embedding", expr(
      s"""transform(sequence(1, $dim), j -> CAST(
            (pmod(xxhash64(pmod(src, $C) + 1000003, j), 2000) - 1000) / 1000.0 +
            (pmod(xxhash64(src, j + 100), 2000) - 1000) / 1000.0 * 0.15 +
            (pmod(xxhash64(id, j + 200), 2000) - 1000) / 1000.0 * 0.01
          AS FLOAT))"""))
    .select(col("id").as("vec_id"), col("embedding"))

  private lazy val nVec = sized(1000000L)
  private lazy val emb = frozen(embeddings(0, nVec))
  private lazy val truth = timed(s"bruteForceTopK over $nVec vectors × $nQueries queries") {
    frozen(Similarity.bruteForceTopK(emb, nQueries, k).select(col("query_id"), col("neighbor_id")))
  }
  /** IVF-PQ top-k hits against the brute-force truth. */
  private lazy val ivfPqHits = timed(s"ivfPqTopK (nCent=$nCent, nProbe=$nProbe, nSub=4, nCode=8)") {
    hitsOf(truth, Similarity.ivfPqTopK(emb, nQueries, k, nCent, 2, nProbe))
  }
  private def recallOf(hits: Long) = hits.toDouble / (nQueries * k)

  // Phases 2-3: recall@k vs exact brute force on clustered data, and IVF-PQ
  // (residuals after the coarse quantizer) at least as good as flat PQ at
  // the same code budget (nSub=4, nCode=8) while scoring only probed cells.
  test("ann smoke: IVF probing recovers brute-force neighbors; IVF-PQ holds flat PQ") {
    val ivf = timed(s"kmeansIvfTopK (nCent=$nCent, nProbe=$nProbe)") {
      recallOf(hitsOf(truth, Similarity.kmeansIvfTopK(emb, nQueries, k, nCent, 2, nProbe)))
    }
    info(f"IVF recall@$k $ivf%.4f")
    assert(ivf >= 0.95, f"IVF recall $ivf%.4f below 0.95 on planted clusters — probing lost signal")
    val pqHits = timed(s"pqTopK (flat, nSub=4, nCode=8) over $nVec vectors") {
      hitsOf(truth, Similarity.pqTopK(emb, nQueries, k))
    }
    info(f"flat-PQ recall@$k ${recallOf(pqHits)}%.4f, IVF-PQ ${recallOf(ivfPqHits)}%.4f")
    // below full size, slack of 5% of the truth pairs: at ~150 vectors per
    // planted cluster both recalls sit near 0.65 and trade a few hits
    // either way, while a residual-quantization regression drops far more
    val slack = if (scale >= 1) 0L else math.ceil(0.05 * nQueries * k).toLong
    assert(ivfPqHits >= pqHits - slack,
      s"IVF-PQ hits $ivfPqHits fell below flat PQ $pqHits (slack $slack) at equal code budget")
  }

  test("ann pipeline: balanced cells, persisted store, contamination gate, analytics") {
    // --- 1. coarse-cell balance: the probe-cost bound is only real if no
    // learned cell degenerates into most of the corpus
    val e = Similarity.withNorm(emb)
    val cent = timed(s"k-means coarse quantizer over $nVec vectors") {
      Similarity.kmeansCentroids(e, nCent, 2)
    }
    val cells = Similarity.assignToCentroids(e, cent).groupBy(col("cid")).count().collect()
    val maxCell = cells.map(_.getLong(1)).max
    info(s"${cells.length} non-empty cells, max cell ${100.0 * maxCell / nVec}% of corpus")
    assert(cells.length >= nCent / 2,
      s"only ${cells.length} of $nCent cells survived training — quantizer collapsed")
    assert(maxCell <= nVec / 2, s"one cell holds $maxCell of $nVec vectors — IVF degenerated")

    // --- 4. persisted IVF-PQ store: build once, append a batch against the
    // FROZEN quantizers, search from parquet state touching only the code
    // table; the probe set is pushed as a cid partition filter
    withTempDir("annstore_scale") { dir =>
      val store = new AnnIndexStore(spark, dir.toString)
      timed(s"AnnIndexStore.build over $nVec vectors") { store.build(emb, nCent, 2) }
      val nBatch = sized(10000L)
      timed(s"AnnIndexStore.append of a $nBatch batch (no retraining)") {
        store.append(embeddings(nVec, nVec + nBatch))
      }
      assert(store.codes.count() == nVec + nBatch, "append must grow the code table by the batch")
      val queries = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val storeRec = timed(s"store.search ($nQueries queries, k=$k)") {
        recallOf(hitsOf(truth, store.search(queries, k, nProbe)))
      }
      info(f"store-search recall@$k $storeRec%.4f (in-memory IVF-PQ ${recallOf(ivfPqHits)}%.4f)")
      // the store indexed the batch too, so its top-k may differ; recall
      // against the original truth must not collapse
      assert(storeRec >= recallOf(ivfPqHits) - 0.05,
        f"persisted-store recall $storeRec%.4f fell below the in-memory path")
      // what search reads: one query probes nProbe cells, so the executed
      // scan of the cid-partitioned codes/ may open only those partitions
      val (_, cellsRead) = timed(s"store.search (1 query, nProbe=$nProbe)") {
        partitionsRead(store.search(queries.filter(col("query_id") === 0), k, nProbe), "cid")
      }
      val cidParts = store.codes.select(col("cid")).distinct().count()
      info(s"search read $cellsRead of $cidParts cid partitions")
      assert(cellsRead >= 1 && cellsRead <= nProbe && cellsRead < cidParts,
        s"search read $cellsRead of $cidParts cid partitions for $nProbe probes — " +
          "the probe does not prune the index")
    }

    // --- 5. semantic contamination gate: the queries are the held-out test
    // set. Their planted near-copies (cos ≈ 0.9999) MUST flag; nothing
    // outside the test clusters may flag (that would mean the banding
    // degenerated). Same-cluster mass at cos ≈ 0.978 may graze 0.995.
    val cont = timed(s"contaminationSemantic ($nQueries-query test set vs $nVec train)") {
      frozen(Similarity.contaminationSemantic(emb, col("vec_id") < nQueries, 0.995,
        bands = 2, rowsPerBand = 4))
    }
    val trainCluster = pmod(when(nearCopy(col("train_id")),
      pmod(col("train_id"), lit(nQueries.toLong))).otherwise(col("train_id")), lit(C.toLong))
    val crossCluster = cont.filter(trainCluster =!= pmod(col("test_id"), lit(C.toLong))).count()
    assert(crossCluster == 0L, s"$crossCluster cross-cluster contamination flags")
    val plantedFlagged = cont.filter(nearCopy(col("train_id")) &&
      pmod(col("train_id"), lit(nQueries.toLong)) === col("test_id")).count()
    val contRecall = recallOf(plantedFlagged)
    info(f"contamination: planted near-copies flagged $contRecall%.4f, 0 cross-cluster")
    assert(contRecall >= 0.99, f"contamination recall $contRecall%.4f below 0.99")
    cont.unpersist()

    // --- 6. embedding analytics against a planted dominant direction (dim
    // 1 scaled 4x) and one far out-of-distribution vector (all 5.0s):
    // dimStats ranks dim 1 first, the Mahalanobis screen ranks the OOD
    // vector first, and 2 power-iteration rounds align PC1 with e1
    val embA = frozen(emb.select(col("vec_id"), expr(
        "transform(embedding, (x, i) -> CASE WHEN i = 0 THEN CAST(x * 4.0 AS FLOAT) ELSE x END)")
        .as("embedding"))
      .unionAll(spark.range(1).select(lit(nVec).as("vec_id"),
        expr(s"transform(sequence(1, $dim), j -> CAST(5.0 AS FLOAT))").as("embedding"))))
    timed(s"dimStats + outliers + pcaPower over $nVec vectors") {
      val ds = Similarity.dimStats(embA).collect()
      val v1 = ds.find(_.getAs[Int]("dim") == 1).get
      assert(v1.getAs[Long]("var_rank") == 1L,
        s"planted 4x dimension ranks ${v1.getAs[Long]("var_rank")}, not 1")
      val medVar = ds.map(_.getAs[Double]("var_v")).sorted.apply(dim / 2)
      assert(v1.getAs[Double]("var_v") > 10.0 * medVar,
        f"dim-1 variance ${v1.getAs[Double]("var_v")}%.4f not dominant over median $medVar%.4f")
      val out = Similarity.embeddingOutliers(embA, 10).collect()
      assert(out.head.getAs[Long]("vec_id") == nVec,
        s"planted OOD vector ranks behind ${out.head.getAs[Long]("vec_id")}")
      val pca = Similarity.pcaPower(embA, iters = 2).collect()
      val l1 = math.abs(pca.find(_.getAs[Int]("dim") == 1).get.getAs[Double]("loading"))
      assert(l1 > 0.95, f"principal loading on the planted dominant dim is $l1%.4f < 0.95")
    }
    embA.unpersist()

    // --- 7. tuning curve: label each vector with its learned cell and
    // sweep nProbe — recall is monotone in the probe count and ≥ 0.9 by 4
    val recalls = timed("ivfTuningCurve (nProbe 1/2/4)") {
      val labeled = emb.join(Similarity.assignToCentroids(e, cent)
        .select(col("vec_id"), col("cid").cast("int").as("label")), "vec_id")
      Similarity.ivfTuningCurve(labeled, nQueries, k, Seq(1, 2, 4)).collect()
        .sortBy(_.getAs[Int]("n_probe")).map(_.getAs[Double]("mean_recall"))
    }
    info(s"recall@$k by nProbe 1/2/4: ${recalls.map(r => f"$r%.4f").mkString(", ")}")
    assert(recalls.sliding(2).forall(p => p(1) >= p(0)),
      s"recall not monotone in nProbe: ${recalls.mkString(", ")}")
    assert(recalls.last >= 0.9, f"recall at nProbe=4 is ${recalls.last}%.4f < 0.9")
  }
}
