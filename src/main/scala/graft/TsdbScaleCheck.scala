package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.{MetricStore, StoreParams}

/** Scale sanity harness for the TSDB store path — the reference's core
  * workload (kadiyadb Track/Fetch/Expire) at ~3 orders of magnitude
  * above the sf0.1 events table (default 50M observations, 10k series,
  * 8 daily epochs at hourly resolution). Asserts the properties the
  * store's 100-TB layout claims:
  *
  *   - Track's grouping-sets rollup lands EXACTLY one row per occupied
  *     (prefix, bucket) cell — row counts match the closed form, and
  *     totals/counts are conserved from raw events through the store;
  *   - Fetch prunes by epoch partition (the plan carries a
  *     PartitionFilters entry on the epoch range) and a narrow
  *     one-host/one-day fetch returns its exact closed-form row count
  *     fast, independent of corpus size;
  *   - Expire physically drops whole epoch directories and the
  *     surviving store still reconciles exactly;
  *   - compact() bounds per-epoch file counts without changing any
  *     aggregate.
  *
  * `runMain graft.TsdbScaleCheck [nEvents]`.
  */
object TsdbScaleCheck {
  def main(args: Array[String]): Unit = {
    val nEvents = args.headOption.map(_.toLong).getOrElse(50000000L)
    // UTC pinned: phase 7's gorillaBits closed form reads
    // unix_timestamp over TIMESTAMP_NTZ buckets, and a DST-bearing
    // default timezone would inject a spurious 3600 s delta jump
    val spark = Harness.session("spark.sql.session.timeZone" -> "UTC")

    val hosts = 500
    val metrics = 20 // 10k (host, metric) series
    val days = 8     // epochs; hourly buckets → 192 buckets
    val dir = "/tmp/graft_tsdb_scale"
    deleteRec(dir)

    // Deterministic synthetic feed: uniform over series × the 8-day span.
    val events = spark.range(nEvents)
      .withColumn("off", pmod(xxhash64(col("id"), lit(1)), lit(days * 86400L)))
      .withColumn("ts", expr("timestampadd(SECOND, off, TIMESTAMP_NTZ'2026-01-01 00:00:00')"))
      .withColumn("f1", concat(lit("host"), pmod(col("id"), lit(hosts.toLong))))
      .withColumn("f2", concat(lit("m"), expr(s"(id div $hosts) % $metrics")))
      .withColumn("value", pmod(xxhash64(col("id"), lit(2)), lit(1000L)) / 100.0)
      .select(col("ts"), col("f1"), col("f2"), col("value"))

    import Harness.timed

    val store = new MetricStore(spark, dir,
      StoreParams("hour", "day", retentionEpochs = 5, fields = Seq("f1", "f2")))

    // --- 1. ingest + closed-form reconciliation.
    timed(s"track $nEvents events into $dir") { store.track(events) }
    val cells = events
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .agg(countDistinct(col("f1"), col("bucket")).as("c1"),
        countDistinct(col("f1"), col("f2"), col("bucket")).as("c2"),
        sum(col("value")).as("tot"))
      .collect().head
    val (c1, c2, rawTotal) = (cells.getLong(0), cells.getLong(1), cells.getDouble(2))
    val stored = store.points().count()
    println(s"  store rows = $stored (depth-1 cells $c1 + depth-2 cells $c2)")
    require(stored == c1 + c2,
      s"store holds $stored rows, expected ${c1 + c2} — rollup dropped or duplicated cells")
    if (nEvents >= 20000000L) {
      // full occupancy at this rate → the pure closed form must hold too
      require(c2 == days * 24L * hosts * metrics,
        s"depth-2 cells $c2 != ${days * 24 * hosts * metrics} — series×bucket grid not covered")
    }

    // --- 2. conservation through the store: a full-range depth-1 fetch
    // re-sums segments back to exactly the raw feed's mass.
    val full = timed("fetch full range, depth 1 (all hosts)") {
      store.fetch("2026-01-01", s"2026-01-0${days + 1}", Seq(None))
        .agg(count(lit(1)).as("rows"), sum(col("total")).as("tot"),
          sum(col("cnt")).as("cnt"))
        .collect().head
    }
    require(full.getLong(0) == c1, s"depth-1 fetch rows ${full.getLong(0)} != $c1")
    require(full.getLong(2) == nEvents,
      s"fetched cnt ${full.getLong(2)} != $nEvents — observations lost")
    val drift = math.abs(full.getDouble(1) - rawTotal) / rawTotal
    require(drift < 1e-9, s"fetched total drifted by $drift from the raw feed")

    // --- 3. pruned narrow fetch: one host, one day. Exact closed-form
    // rows, and the scan must carry an epoch PartitionFilters entry (the
    // pruning that makes this O(1 epoch), not O(corpus)).
    val narrow = store.fetch("2026-01-03", "2026-01-04", Seq(Some("host42"), None))
    val plan = narrow.queryExecution.executedPlan.toString
    require(plan.contains("PartitionFilters") && !plan.contains("PartitionFilters: []"),
      "narrow fetch plan has no epoch partition filter — fetch would scan every epoch")
    val nNarrow = timed("fetch 1 host × 1 day, depth 2") { narrow.count() }
    println(s"  narrow fetch rows = $nNarrow")
    if (nEvents >= 20000000L)
      require(nNarrow == 24L * metrics,
        s"narrow fetch rows $nNarrow != ${24 * metrics}")

    // --- 4. expire: retention 5 of 8 epochs → the 3 oldest drop.
    val dropped = timed("expire to 5 epochs") { store.expire() }
    println(s"  dropped: ${dropped.mkString(", ")}")
    require(dropped == Seq("2026-01-01", "2026-01-02", "2026-01-03"),
      s"expire dropped ${dropped.mkString(",")}, expected the 3 oldest epochs")
    val survivors = store.points()
      .agg(count(lit(1)).as("rows"), sum(col("cnt")).as("cnt")).collect().head
    val expCells = events.filter(col("ts") >= lit("2026-01-04").cast("timestamp_ntz"))
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .agg(countDistinct(col("f1"), col("bucket")) +
        countDistinct(col("f1"), col("f2"), col("bucket")), count(lit(1)))
      .collect().head
    require(survivors.getLong(0) == expCells.getLong(0),
      s"post-expire rows ${survivors.getLong(0)} != ${expCells.getLong(0)}")
    require(survivors.getLong(1) == 2 * expCells.getLong(1),
      s"post-expire cnt ${survivors.getLong(1)} != ${2 * expCells.getLong(1)} " +
        "(each observation counts once at each surviving depth)")

    // --- 5. compact one epoch: one file per maxPartitionBytes of the
    // epoch's segments, aggregates unchanged.
    val ep = "2026-01-05"
    def epochAgg() = store.points().filter(col("epoch") === ep)
      .agg(count(lit(1)), sum(col("total")), sum(col("cnt"))).collect().head
    def segmentFiles() = Files.list(Paths.get(s"$dir/points/epoch=$ep")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    val before = epochAgg()
    val maxBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val expFiles = math.max(1L, (segmentFiles().map(Files.size).sum + maxBytes - 1) / maxBytes)
    timed(s"compact epoch $ep to $expFiles file(s)") { store.compact(ep) }
    val nFiles = segmentFiles().size
    println(s"  files after compact = $nFiles")
    require(nFiles == expFiles, s"epoch has $nFiles files after compact, expected $expFiles")
    val after = epochAgg()
    require(after.getLong(0) == before.getLong(0) && after.getLong(2) == before.getLong(2) &&
      math.abs(after.getDouble(1) - before.getDouble(1)) <= math.abs(before.getDouble(1)) * 1e-12,
      s"compact changed the epoch aggregate: $before -> $after")

    // --- 6. sequential-fold family at year-at-minute range: 1M-bucket
    // series must fold in seconds (the old per-position prefix refolds
    // were O(n²) — ~1.4e11 lambda evaluations in ONE task at this n, an
    // effective hang; the foldSeries rewrite is O(n) per series).
    // Closed-form checks: a constant series' EWMA is the constant itself
    // at every bucket, its CUSUM at target==value stays 0, and
    // Holt-Winters' one-step forecast converges onto the constant.
    val nBuckets = 1000000L
    val seriesPts = spark.range(nBuckets)
      .select(
        concat(lit("s"), pmod(col("id"), lit(4L))).as("f1"),
        expr("timestampadd(MINUTE, CAST(id div 4 AS INT), TIMESTAMP_NTZ'2026-01-01 00:00:00')")
          .as("bucket"),
        lit(42.5).as("total"), lit(1L).as("cnt"))
    val ew = timed(s"ewma over 4 series x ${nBuckets / 4} buckets") {
      graft.core.Tsdb.ewma(seriesPts, 0.3)
        .agg(count(lit(1)), sum(when(col("ewma") === 42.5, 1L).otherwise(0L)))
        .collect().head
    }
    require(ew.getLong(0) == nBuckets && ew.getLong(1) == nBuckets,
      s"constant-series EWMA drifted: ${ew.getLong(1)} of ${ew.getLong(0)} rows at 42.5")
    val cu = timed("cusum over the same series") {
      graft.core.Tsdb.cusum(seriesPts, 42.5, 10.0)
        .agg(count(lit(1)), sum(when(col("cusum") === 0.0 && !col("alarm"), 1L)
          .otherwise(0L))).collect().head
    }
    require(cu.getLong(0) == nBuckets && cu.getLong(1) == nBuckets,
      s"constant-series CUSUM at target drifted off zero")
    val hw = timed("holt-winters over the same series") {
      graft.core.Tsdb.holtWinters(seriesPts, 0.5, 0.3, 0.2, 6)
        .filter(col("bucket") >= lit("2026-06-01").cast("timestamp_ntz"))
        .agg(count(lit(1)), sum(when(abs(col("forecast") - 42.5) < 0.01, 1L)
          .otherwise(0L))).collect().head
    }
    require(hw.getLong(0) == hw.getLong(1),
      s"holt-winters failed to converge on the constant: " +
        s"${hw.getLong(1)} of ${hw.getLong(0)} late-range forecasts near 42.5")

    // --- 6b. the worst-case fold shape: ONE series holding 10M buckets
    // (19 years of minutely data — far past the store's retention, so
    // this bounds every real fetch). The whole series lands in a single
    // task as one sorted array (~1.5 GB of SeriesPt at the measured
    // ~150 B/bucket); proving it folds clean here pins foldSeries's
    // documented memory ceiling — past MaxFoldBucketsPerSeries (32M,
    // ~5 GB/task) the guard fails loudly instead of opaquely OOM-ing.
    val nMono = 10000000L
    val monoPts = spark.range(nMono)
      .select(lit("mono").as("f1"),
        expr("timestampadd(MINUTE, CAST(id AS INT), TIMESTAMP_NTZ'2026-01-01 00:00:00')")
          .as("bucket"),
        lit(42.5).as("total"), lit(1L).as("cnt"))
    val ewMono = timed(s"ewma over ONE series x $nMono buckets (single-task fold)") {
      graft.core.Tsdb.ewma(monoPts, 0.3)
        .agg(count(lit(1)), sum(when(col("ewma") === 42.5, 1L).otherwise(0L)))
        .collect().head
    }
    require(ewMono.getLong(0) == nMono && ewMono.getLong(1) == nMono,
      s"single-series 10M-bucket EWMA drifted: ${ewMono.getLong(1)} of ${ewMono.getLong(0)}")

    // --- 7. the newer per-series window family on the same 1M-bucket
    // series: STL decomposes a constant to pure trend (exact cents
    // arithmetic — zero seasonal/remainder on EVERY interior row), and
    // the Gorilla bit audit hits its closed-form cost for a perfectly
    // regular cadence (1 bit/point past the head). Both are per-series
    // lag/window shapes — series count is the parallelism unit.
    val stl = timed("stlDecompose over the 1M-bucket series") {
      graft.core.Tsdb.stlDecompose(seriesPts, 12)
        .agg(count(lit(1)), sum(when(col("trend") === 42.5 &&
          col("seasonal") === 0.0 && col("remainder") === 0.0, 1L).otherwise(0L)))
        .collect().head
    }
    require(stl.getLong(0) == nBuckets - 4 * 24 && stl.getLong(1) == stl.getLong(0),
      s"constant-series STL drifted: ${stl.getLong(1)} of ${stl.getLong(0)} rows clean " +
        s"(expected ${nBuckets - 4 * 24})")
    val go = timed("gorillaBits over the same series") {
      graft.core.Tsdb.gorillaBits(seriesPts)
        .agg(sum(col("ts_bits")), sum(col("val_bits")), sum(col("n_points")))
        .collect().head
    }
    val perSeries = nBuckets / 4
    require(go.getLong(2) == nBuckets &&
      go.getLong(0) == 4 * (64L + 27L + (perSeries - 2)) &&
      go.getLong(1) == 4 * (64L + (perSeries - 1)),
      s"regular-cadence Gorilla bits off closed form: $go")

    // --- 8. attribution at the full event volume: revenue is CONSERVED
    // exactly through both models (every purchase lands in exactly one
    // touch bucket per model) — the per-user window + (user, index)
    // equi-join shape at 50M events / 1M users.
    val att = spark.range(nEvents)
      .withColumn("user_id", pmod(col("id"), lit(1000000L)))
      .withColumn("off", pmod(xxhash64(col("id"), lit(7)), lit(days * 86400L)))
      .withColumn("ts", expr("timestampadd(SECOND, CAST(off AS INT), TIMESTAMP_NTZ'2026-01-01 00:00:00')"))
      .withColumn("h", pmod(xxhash64(col("id"), lit(8)), lit(10L)))
      .withColumn("event_type", when(col("h") === 0L, "purchase")
        .when(col("h") <= 5L, "view").otherwise("click"))
      .withColumn("value", pmod(xxhash64(col("id"), lit(9)), lit(10000L)) / 100.0)
      .select(col("id").as("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val trueCents = att.filter(col("event_type") === "purchase")
      .agg(count(lit(1)), sum(floor(col("value") * 100.0 + 0.5).cast("long")))
      .collect().head
    val attOut = timed(s"attribution over $nEvents events / 1M users") {
      graft.core.Tsdb.attribution(att)
        .groupBy(col("model"))
        .agg(sum(col("n_purchases")).as("np"),
          sum(floor(col("revenue") * 100.0 + 0.5).cast("long")).as("cents"))
        .collect()
    }
    require(attOut.length == 2 && attOut.forall(r =>
      r.getAs[Long]("np") == trueCents.getLong(0) &&
        r.getAs[Long]("cents") == trueCents.getLong(1)),
      s"attribution leaked revenue: true $trueCents vs ${attOut.mkString(";")}")

    // --- 9. census family at full volume: the churn/stickiness shuffles
    // are bounded by DISTINCT presence (series×days / users×days), not
    // raw events — at 50M events over 10k series × 8 days the uniform
    // feed saturates every cell, so the closed forms are exact: all
    // series active every day (new only on day 1, churn only on the
    // trailing day), every user active every day (stickiness ≡ 1 on
    // full-window days).
    // deterministically COMPLETE (user, day) coverage: day = id mod 8,
    // user = (id div 8) mod 1M — every user hits every day ~6 times, so
    // the exact closed form holds (a hash-random feed leaves ~0.1% of
    // the 8M cells empty and has no closed form)
    val nUsers = math.min(1000000L, math.max(1L, nEvents / 8))
    val census = spark.range(nEvents)
      .withColumn("user_id", expr(s"(id div 8) % $nUsers"))
      .withColumn("ts", expr(
        "timestampadd(SECOND, CAST((id % 8) * 86400 + (id % 86399) AS INT), " +
          "TIMESTAMP_NTZ'2026-01-01 00:00:00')"))
      .select(col("ts"), col("user_id"))
    val churnFeed = spark.range(nEvents)
      .withColumn("event_type", concat(lit("host"), expr("id % 500")))
      .withColumn("user_id", expr("(id % 10000) div 500"))
      .withColumn("ts", expr(
        "timestampadd(SECOND, CAST(((id div 10000) % 8) * 86400 + (id % 86399) AS INT), " +
          "TIMESTAMP_NTZ'2026-01-01 00:00:00')"))
      .select(col("event_type"), col("user_id"), col("ts"))
    val churn = timed(s"seriesChurn over $nEvents events / 80k series-days") {
      graft.core.Tsdb.seriesChurn(churnFeed, "2026-01-01", "2026-01-09").collect()
    }
    require(churn.length == days + 1, s"want ${days + 1} churn days, got ${churn.length}")
    churn.foreach { r =>
      val d = r.getAs[java.sql.Date]("day").toString
      val want =
        if (d == "2026-01-01") (hosts.toLong * metrics, hosts.toLong * metrics, 0L)
        else if (d == "2026-01-09") (0L, 0L, hosts.toLong * metrics)
        else (hosts.toLong * metrics, 0L, 0L)
      require((r.getAs[Long]("n_active"), r.getAs[Long]("n_new"),
        r.getAs[Long]("n_churned")) == want, s"churn closed form broke on $d: $r")
    }
    val stick = timed(s"stickiness over $nEvents events / $nUsers users") {
      graft.core.Tsdb.stickiness(census, "2026-01-07", "2026-01-08").collect()
    }
    require(stick.length == 2 && stick.forall(r =>
      r.getAs[Long]("dau") == nUsers && r.getAs[Long]("wau") == nUsers &&
        r.getAs[Double]("stickiness") == 1.0),
      s"stickiness closed form broke: ${stick.mkString(";")}")

    println(s"TsdbScaleCheck OK at $nEvents events")
    deleteRec(dir)
    spark.stop()
  }

  private def deleteRec(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
    }
  }
}
