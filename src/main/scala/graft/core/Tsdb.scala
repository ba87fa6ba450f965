package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native re-expression of kadiyadb's query semantics.
  *
  * Reference behavior (studied, not copied):
  *  - Track accumulates (total, count) into a resolution-sized bucket for
  *    EVERY prefix of the series field list (/root/reference/epoch/epoch.go:66-80,
  *    /root/reference/database.go:153-171).
  *  - Fetch returns matching series' points in [from, to), where the field
  *    pattern supports `*` wildcards (/root/reference/database.go:175-255,
  *    /root/reference/index/node.go:126-198).
  *  - Data is partitioned into duration-sized epochs; results are chunked
  *    per epoch; retention expires old epochs
  *    (/root/reference/database.go:267-277, /root/reference/epoch/cache.go:136-156).
  *
  * Here the "database" is the `events` fact table and a series is identified
  * by fields = [event_type, user_id]. All transformations are declarative
  * DataFrame ops: aggregation is map-side-partial (shuffle volume is
  * |series x buckets|, not |events|), pattern matching is a pushed-down
  * predicate, and epochs map to time-partitioning — so the same plan holds
  * on a 1000-executor cluster at 100 TB.
  */
object Tsdb {

  /** Resolution bucket of a timestamp. Spark's date_trunc promotes ntz
    * inputs back to session-tz timestamps; cast back so wall-clock (ntz)
    * semantics survive to the parquet output (matches the tz-naive source).
    */
  def bucket(ts: Column, resolution: String): Column =
    date_trunc(resolution, ts).cast("timestamp_ntz")

  /** Wall-clock 'yyyy-MM-dd[ HH:mm:ss]' → nanos since epoch (UTC). */
  private def wallNanos(s: String): Long = {
    val ldt =
      if (s.contains(" "))
        java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      else java.time.LocalDate.parse(s).atStartOfDay()
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
  }

  /** [floor(from), ceil(to)) over `duration`-sized epochs — the epoch span
    * a [from, to) window touches (database.go:267 split()).
    */
  private[graft] def epochBounds(from: String, to: String, duration: String): (String, String) = {
    def parse(s: String) =
      if (s.length > 10) java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      else java.time.LocalDate.parse(s).atStartOfDay()
    val unit = duration match {
      case "day"  => java.time.temporal.ChronoUnit.DAYS
      case "hour" => java.time.temporal.ChronoUnit.HOURS
      case d      => throw new IllegalArgumentException(s"unsupported epoch duration: $d")
    }
    val lo = parse(from).truncatedTo(unit)
    val hiRaw = parse(to)
    val hiFloor = hiRaw.truncatedTo(unit)
    val hi = if (hiFloor == hiRaw) hiFloor else hiFloor.plus(1, unit)
    def fmt(t: java.time.LocalDateTime) =
      t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    (fmt(lo), fmt(hi))
  }

  /** Canonical materialized store: one row per (series-prefix, bucket).
    * Equivalent of Track()'s write amplification, done as ONE aggregation
    * with grouping sets (depth-1 and depth-2 prefixes), not two passes.
    * Output: f1 (event_type), f2 (user_id as string; NULL at depth 1),
    *         depth, bucket, total, cnt.
    */
  def trackRollup(events: DataFrame, resolution: String = "hour"): DataFrame = {
    val base = events
      .withColumn("f1", col("event_type"))
      .withColumn("f2", col("user_id").cast("string"))
      .withColumn("bucket", bucket(col("ts"), resolution))
    base
      .groupingSets(
        Seq(Seq(col("f1"), col("bucket")), Seq(col("f1"), col("f2"), col("bucket"))),
        col("f1"), col("f2"), col("bucket"))
      .agg(
        round(sum(col("value")), 2).as("total"),
        count(lit(1)).as("cnt"))
      .withColumn("depth", when(col("f2").isNull, 1).otherwise(2))
  }

  /** Fetch: field-pattern + time-range scan over the canonical store.
    * `pattern` entries: Some(v) = exact match, None = `*` wildcard.
    * Pattern length selects the prefix depth (kadiyadb returns the node at
    * exactly the queried depth — index/node.go:126). Bounds are [from, to).
    */
  def fetch(points: DataFrame, from: Column, to: Column, pattern: Seq[Option[String]]): DataFrame = {
    val depthMatch = col("depth") === lit(pattern.length)
    val fieldCols = Seq(col("f1"), col("f2"))
    val fieldMatch = pattern.zip(fieldCols).foldLeft(depthMatch) {
      case (acc, (Some(v), c)) => acc && c === lit(v)
      case (acc, (None, _))    => acc // wildcard
    }
    points.filter(fieldMatch && col("bucket") >= from && col("bucket") < to)
  }

  /** ntz bucket → epoch seconds (session tz is UTC in every entrypoint,
    * so the ntz→ltz hop is identity; ntz has no direct long cast).
    */
  private def epochSec(c: Column): Column = c.cast("timestamp").cast("long")

  /** Epoch id for a bucket: duration-floor (database.go:267 split()). */
  def epochOf(bucket: Column, duration: String = "day"): Column =
    date_trunc(duration, bucket).cast("timestamp_ntz")

  /** Fetch evaluated directly against the raw events table: the pattern
    * and time range become plain predicates on scan columns (pushed into
    * the parquet reader — verified `PushedFilters`), and only the queried
    * prefix depth is aggregated (no Expand of unused grouping sets).
    * This is the plan shape that survives 100 TB: filter → partial agg →
    * one shuffle of |matching series × buckets| rows.
    *
    * `from`/`to` must be resolution-aligned (bucket predicate ≡ ts
    * predicate), which kadiyadb's integer split() also assumes
    * (/root/reference/database.go:267).
    */
  def fetchEvents(events: DataFrame, from: String, to: String,
      pattern: Seq[Option[String]], resolution: String = "hour"): DataFrame = {
    val fieldCols = Seq(col("event_type"), col("user_id").cast("string"))
    // range predicate on the raw nanos column (pushable into the parquet
    // scan; row-group stats prune whole epochs) + on the derived ts
    val ranged = events.filter(
      (if (events.columns.contains("ts_ns"))
         col("ts_ns") >= wallNanos(from) && col("ts_ns") < wallNanos(to)
       else lit(true)) &&
        col("ts") >= lit(from).cast("timestamp_ntz") && col("ts") < lit(to).cast("timestamp_ntz"))
    val filtered = pattern.zip(fieldCols).foldLeft(ranged) {
      case (df, (Some(v), c)) => df.filter(c === lit(v))
      case (df, (None, _))    => df
    }
    val agg = Seq(round(sum(col("value")), 2).as("total"), count(lit(1)).as("cnt"))
    if (pattern.length == 1)
      filtered
        .groupBy(col("event_type").as("f1"), bucket(col("ts"), resolution).as("bucket"))
        .agg(agg.head, agg.tail: _*)
        .select(col("f1"), lit(null).cast("string").as("f2"), col("bucket"),
          col("total"), col("cnt"), lit(1).as("depth"))
    else
      filtered
        .groupBy(col("event_type").as("f1"), col("user_id").cast("string").as("f2"),
          bucket(col("ts"), resolution).as("bucket"))
        .agg(agg.head, agg.tail: _*)
        .select(col("f1"), col("f2"), col("bucket"),
          col("total"), col("cnt"), lit(2).as("depth"))
  }

  /** Dense fetch — kadiyadb parity: one point for EVERY resolution slot in
    * [from, to) for every matched series, zero-filled where no data exists
    * (epoch.Fetch returns dense per-position point arrays,
    * /root/reference/epoch/epoch.go:86-101, assembled into protocol.Chunk
    * results in /root/reference/database.go:226-247 — a client porting
    * from the reference sees no missing buckets). Sparse fetch + a
    * per-series time-axis left join; the axis (|series| × |slots| rows) is
    * generated distributed via explode-of-sequence, never on the driver.
    *
    * The series axis is the pattern match over every TOUCHED EPOCH,
    * deliberately ignoring the [from, to) bucket filter: the reference
    * returns dense all-zero arrays for each series present in the epoch
    * index even when its points fall outside the requested window, so a
    * series with epoch data only before `from` still emits zero rows.
    */
  def fetchDense(events: DataFrame, from: String, to: String,
      pattern: Seq[Option[String]], resolution: String = "hour",
      epochDuration: String = "day"): DataFrame = {
    val pts = fetchEvents(events, from, to, pattern, resolution)
    val step = expr(s"INTERVAL 1 $resolution")
    val (eFrom, eTo) = epochBounds(from, to, epochDuration)
    val fieldCols = Seq(col("event_type"), col("user_id").cast("string"))
    val inEpochs = events.filter(
      (if (events.columns.contains("ts_ns"))
         col("ts_ns") >= wallNanos(eFrom) && col("ts_ns") < wallNanos(eTo)
       else lit(true)) &&
        col("ts") >= lit(eFrom).cast("timestamp_ntz") &&
        col("ts") < lit(eTo).cast("timestamp_ntz"))
    val matched = pattern.zip(fieldCols).foldLeft(inEpochs) {
      case (df, (Some(v), c)) => df.filter(c === lit(v))
      case (df, (None, _))    => df
    }
    val srs = matched.select(col("event_type").as("f1"),
      (if (pattern.length == 1) lit(null).cast("string")
       else col("user_id").cast("string")).as("f2")).distinct()
    val axis = srs
      .select(col("f1"), col("f2"), explode(sequence(
        lit(from).cast("timestamp_ntz"),
        lit(to).cast("timestamp_ntz") - step, step)).as("bucket"))
      .filter(col("bucket") < lit(to).cast("timestamp_ntz"))
    val joined =
      if (pattern.length == 1)
        // depth-1 rows carry a NULL f2, which never equi-joins: key on f1
        axis.drop("f2").join(pts.drop("f2", "depth"), Seq("f1", "bucket"), "left")
          .select(col("f1"), lit(null).cast("string").as("f2"), col("bucket"),
            col("total"), col("cnt"))
      else
        axis.join(pts.drop("depth"), Seq("f1", "f2", "bucket"), "left")
          .select(col("f1"), col("f2"), col("bucket"), col("total"), col("cnt"))
    joined.select(col("f1"), col("f2"), col("bucket"),
      coalesce(col("total"), lit(0.0)).as("total"),
      coalesce(col("cnt"), lit(0L)).as("cnt"),
      lit(pattern.length).as("depth"))
  }

  /** Depth-2 series points only (no rollup expand): one row per
    * (f1, f2, bucket). Cheaper than trackRollup when a single depth is
    * queried — no Expand node, one map-side-partial aggregation.
    */
  def points(events: DataFrame, resolution: String = "hour"): DataFrame =
    events
      .groupBy(
        col("event_type").as("f1"),
        col("user_id").cast("string").as("f2"),
        bucket(col("ts"), resolution).as("bucket"))
      .agg(round(sum(col("value")), 2).as("total"), count(lit(1)).as("cnt"))

  /** Depth-1 (rollup) series points: one row per (f1, bucket). */
  def points1(events: DataFrame, resolution: String = "hour"): DataFrame =
    events
      .groupBy(col("event_type").as("f1"), bucket(col("ts"), resolution).as("bucket"))
      .agg(round(sum(col("value")), 2).as("total"), count(lit(1)).as("cnt"))

  /** Fetch result chunked per epoch, kadiyadb's protocol.Chunk shape
    * (database.go:201-251): per epoch, [From, To) clipped to the query
    * range + series/point counts.
    */
  def epochChunks(pts: DataFrame, from: Column, to: Column): DataFrame =
    pts
      .filter(col("bucket") >= from && col("bucket") < to)
      .withColumn("epoch", epochOf(col("bucket")))
      .groupBy(col("epoch"))
      .agg(
        countDistinct(col("f1"), col("f2")).as("n_series"),
        count(lit(1)).as("n_points"),
        round(sum(col("total")), 2).as("total"))
      .withColumn("chunk_from", greatest(col("epoch"), from.cast("timestamp_ntz")))
      .withColumn("chunk_to",
        least(col("epoch") + expr("INTERVAL 1 DAY"), to.cast("timestamp_ntz")))

  /** Expire (epoch/cache.go:136): drop epochs older than the retention
    * window, measured from the newest epoch. The max-epoch scalar is a
    * 1-row aggregate broadcast into the filter — no global window, scales.
    */
  def retentionExpire(pts: DataFrame, retentionDays: Int): DataFrame = {
    val maxEpoch = pts.agg(max(epochOf(col("bucket"))).as("max_epoch"))
    pts
      .withColumn("epoch", epochOf(col("bucket")))
      .crossJoin(broadcast(maxEpoch))
      .filter(col("epoch") > col("max_epoch") - expr(s"INTERVAL $retentionDays DAYS"))
      .drop("max_epoch")
  }

  /** Re-aggregate hourly points to a coarser resolution (slotHours-sized slots). */
  def downsample(pts: DataFrame, slotHours: Int): DataFrame =
    pts
      .withColumn("bucket6",
        expr(s"timestampadd(HOUR, CAST(floor(hour(bucket) / $slotHours) * $slotHours AS INT), date_trunc('DAY', bucket))")
          .cast("timestamp_ntz"))
      .groupBy(col("f1"), col("f2"), col("bucket6"))
      .agg(round(sum(col("total")), 2).as("total"), sum(col("cnt")).as("cnt"))

  /** Multi-resolution continuous aggregate (hour → 6h → day), the TSDB
    * rollup-cascade pattern: each coarser level aggregates THE PREVIOUS
    * LEVEL, so the day rollup reads 4 six-hour rows per series-day
    * instead of 24 hourly ones — at scale each level's input is the
    * previous (already reduced) level, and Spark's exchange reuse
    * evaluates the shared 6-hour aggregation once for both its union
    * branch and the day level. Totals stay on the 0.01 grid at every
    * level, so per-level round(…, 2) is engine-stable.
    */
  def rollupCascade(pts: DataFrame): DataFrame = {
    def slot(hrs: Int) = expr(
      s"timestampadd(HOUR, CAST(floor(hour(bucket) / $hrs) * $hrs AS INT), date_trunc('DAY', bucket))")
      .cast("timestamp_ntz")
    val l1 = pts.select(col("f1"), col("f2"), lit(1).as("res_hours"),
      col("bucket"), col("total"), col("cnt"))
    val l6 = pts
      .groupBy(col("f1"), col("f2"), slot(6).as("bucket"))
      .agg(round(sum(col("total")), 2).as("total"), sum(col("cnt")).as("cnt"))
    val l24 = l6
      .groupBy(col("f1"), col("f2"), date_trunc("DAY", col("bucket")).cast("timestamp_ntz").as("bucket"))
      .agg(round(sum(col("total")), 2).as("total"), sum(col("cnt")).as("cnt"))
    def tag(df: DataFrame, res: Int) = df.select(col("f1"), col("f2"),
      lit(res).as("res_hours"), col("bucket"), col("total"), col("cnt"))
    l1.union(tag(l6, 6)).union(tag(l24, 24))
  }

  /** Dense time axis per series with zero-filled gaps. */
  def gapfill(pts1: DataFrame, from: Column, to: Column, series: Seq[String]): DataFrame = {
    val axis = pts1
      .filter(col("f1").isin(series: _*))
      .select(col("f1")).distinct()
      .select(col("f1"), explode(sequence(
        from.cast("timestamp_ntz"),
        to.cast("timestamp_ntz") - expr("INTERVAL 1 HOUR"),
        expr("INTERVAL 1 HOUR"))).as("bucket"))
    axis.join(
        pts1.filter(col("f1").isin(series: _*) &&
          col("bucket") >= from && col("bucket") < to),
        Seq("f1", "bucket"), "left")
      .select(col("f1"), col("bucket"),
        coalesce(col("total"), lit(0.0)).as("total"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** As-of join: align each point of the `probeF1` series with the most
    * recent (bucket ≤ probe bucket, inclusive) point of the `buildF1`
    * series for the same f2 key — the canonical "last known value"
    * alignment of two metric streams sampled on different/sparse grids.
    *
    * Spark has no native as-of join; the scalable re-expression is a
    * union-merge: tag both sides, ONE shuffle partitioned by series key,
    * sort by (bucket, side) within partitions, and carry the build side
    * forward with `last(_, ignoreNulls)`. No per-key explosion, no range
    * self-join — at 100 TB this is a single keyed sort-merge pass, the
    * same shape as a stream-stream merge. Build rows sort before probe
    * rows in the same bucket, making the match inclusive (≥), matching
    * DuckDB's ASOF JOIN.
    */
  def asofJoin(pts: DataFrame, probeF1: String, buildF1: String): DataFrame = {
    val tagged = pts
      .filter(col("f1") === probeF1 || col("f1") === buildF1)
      .select(
        col("f2"), col("bucket"),
        (col("f1") === probeF1).cast("int").as("side"),
        when(col("f1") === probeF1, col("total")).as("a_val"),
        when(col("f1") === buildF1, col("total")).as("b_val"),
        when(col("f1") === buildF1, col("bucket")).as("b_bkt"))
    val w = Window.partitionBy(col("f2")).orderBy(col("bucket"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("b_total", last(col("b_val"), ignoreNulls = true).over(w))
      .withColumn("b_bucket", last(col("b_bkt"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("f2"), col("bucket"), col("a_val").as("a_total"),
        col("b_bucket"), col("b_total"))
  }

  /** Linear-interpolation gapfill: dense hourly axis like [[gapfill]],
    * but missing buckets take the line between the neighboring observed
    * points (fraction of the time gap); leading/trailing gaps fall back
    * to the nearest observed value. Windows are partitioned per series —
    * the per-partition work is |series axis|, not |events|.
    */
  def interpolate(pts1: DataFrame, from: Column, to: Column, series: Seq[String]): DataFrame = {
    val inRange = pts1.filter(col("f1").isin(series: _*) &&
      col("bucket") >= from && col("bucket") < to)
    val axis = pts1
      .filter(col("f1").isin(series: _*))
      .select(col("f1")).distinct()
      .select(col("f1"), explode(sequence(
        from.cast("timestamp_ntz"),
        to.cast("timestamp_ntz") - expr("INTERVAL 1 HOUR"),
        expr("INTERVAL 1 HOUR"))).as("bucket"))
    val joined = axis.join(inRange.select(col("f1"), col("bucket"), col("total")),
      Seq("f1", "bucket"), "left")
    val ord = Window.partitionBy(col("f1")).orderBy(col("bucket"))
    val wPrev = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prevV = last(col("total"), ignoreNulls = true).over(wPrev)
    val prevB = last(when(col("total").isNotNull, col("bucket")), ignoreNulls = true).over(wPrev)
    val nextV = first(col("total"), ignoreNulls = true).over(wNext)
    val nextB = first(when(col("total").isNotNull, col("bucket")), ignoreNulls = true).over(wNext)
    val frac = (epochSec(col("bucket")) - epochSec(prevB)).cast("double") /
      (epochSec(nextB) - epochSec(prevB)).cast("double")
    val interp = when(col("total").isNotNull, col("total"))
      .when(prevV.isNull, nextV)
      .when(nextV.isNull, prevV)
      .otherwise(prevV + (nextV - prevV) * frac)
    joined.select(col("f1"), col("bucket"),
      graft.functions.Hashing.rd4(interp).as("value"),
      col("total").isNotNull.cast("int").as("observed"))
  }

  /** KMV estimator from a sketch's order statistics: exact count below
    * capacity, else (k−1)·2⁶⁰/kth. Shared by every KMV-based operator so
    * the estimator (bias form, hash width) has exactly one definition.
    */
  private def kmvEst(k: Int)(kUsed: Column, kth: Column): Column =
    when(kUsed < k, kUsed.cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
        / kth.cast("double"))

  /** Approximate distinct users per series via a K-Minimum-Values sketch:
    * keep the k smallest h60 hashes per group; estimate = (k−1)·2⁶⁰/kth.
    * Unlike HLL (`approx_count_distinct`), KMV over the shared
    * [[graft.functions.Hashing.h60]] hash is fully deterministic — any
    * engine computing the same hash produces the bit-identical estimate,
    * so the sketch is mergeable AND oracle-checkable. At 100 TB this is
    * one distinct-shuffle of (group, hash) followed by a per-group top-k;
    * state per group is k longs, independent of cardinality.
    */
  def approxDistinctKMV(events: DataFrame, k: Int = 64): DataFrame = {
    val hashed = events
      .select(col("event_type").as("f1"),
        graft.functions.Hashing.h60(col("user_id").cast("string")).as("hv"))
      .distinct()
    val w = Window.partitionBy(col("f1")).orderBy(col("hv"))
    hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("f1"))
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth"))
      .select(col("f1"), col("k_used"),
        graft.functions.Hashing.rd4(
          kmvEst(k)(col("k_used"), col("kth"))).as("est"))
  }

  /** Distinct-set OVERLAP estimation between two event types via KMV
    * sketch algebra: |A∩B| ≈ est(A) + est(B) − est(A∪B) (inclusion–
    * exclusion), where the union sketch is just the k smallest hashes of
    * the merged hash sets — the mergeability that makes KMV sketches
    * composable across partitions, epochs, or stores at any scale. All
    * estimates come from h60 order statistics, so the DuckDB oracle
    * replays them exactly; each sketch is ≤ k rows of metadata.
    */
  def distinctOverlapKMV(events: DataFrame, typeA: String, typeB: String,
      k: Int = 64): DataFrame = {
    val hashed = events
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type").as("f1"),
        graft.functions.Hashing.h60(col("user_id").cast("string")).as("hv"))
      .distinct()
    val w = Window.partitionBy(col("f1")).orderBy(col("hv"))
    // Per-type sketches: the k smallest hashes of each type. Everything
    // downstream derives from these ≤2k rows — never from the full hash set.
    val topk = hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
    val perType = topk
      .groupBy(col("f1"))
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth"))
      .select(col("f1"), kmvEst(k)(col("k_used"), col("kth")).as("est"))
    // Sketch merge: the k smallest of A∪B are a subset of topk(A)∪topk(B)
    // (any hash ranking ≤k in the union ranks ≤k within its own type), so
    // the union sketch is computed from the ≤2k sketch rows — the
    // mergeability that makes KMV composable at any scale; no global sort
    // over the raw hash sets.
    val union = topk.select(col("hv")).distinct()
      .orderBy(col("hv")).limit(k)
      .agg(count(lit(1)).as("k_used"), max(col("hv")).as("kth"))
      .select(kmvEst(k)(col("k_used"), col("kth")).as("est_union"))
    // Conditional aggregation ⇒ always exactly one row, with NULL for an
    // absent type — same shape as the oracle's scalar subqueries.
    val ab = perType.agg(
      max(when(col("f1") === typeA, col("est"))).as("est_a"),
      max(when(col("f1") === typeB, col("est"))).as("est_b"))
    val rd4 = graft.functions.Hashing.rd4 _
    ab.crossJoin(union)
      .select(
        rd4(col("est_a")).as("est_a"),
        rd4(col("est_b")).as("est_b"),
        rd4(col("est_union")).as("est_union"),
        rd4(greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0)))
          .as("est_intersect"),
        rd4(greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0))
          / col("est_union")).as("jaccard_est"))
  }

  /** Contiguous runs of hourly buckets whose series total exceeds
    * `mult`×(series mean), merged into [win_start, win_end) intervals via
    * islands-and-gaps. The threshold is a 1-row broadcast; the island id
    * comes from a [[graft.core.Ranking.withGlobalRank]] consecutive rank
    * (the qualifying-bucket list grows with retained history — no
    * single-task ordered window).
    */
  def activityWindows(pts1: DataFrame, f1: String, mult: Double): DataFrame = {
    val ser = pts1.filter(col("f1") === f1)
    val thr = ser.agg((lit(mult) * avg(col("total"))).as("thr"))
    val qualifying = ser.crossJoin(broadcast(thr))
      .filter(col("total") > col("thr"))
      .select(col("bucket"))
    graft.core.Ranking.withGlobalRank(qualifying, Seq(col("bucket")), "rn")
      .withColumn("island", (epochSec(col("bucket")) / 3600L).cast("long") - col("rn"))
      .groupBy(col("island"))
      .agg(min(col("bucket")).as("win_start"), max(col("bucket")).as("win_max"))
      .select(col("win_start"),
        (col("win_max") + expr("INTERVAL 1 HOUR")).cast("timestamp_ntz").as("win_end"))
  }

  /** Interval join: aggregate raw probe events inside each [start, end)
    * window WITHOUT a nested-loop/cartesian plan: intervals explode to
    * the days they cover, events carry their day — an equi-join on `day`
    * plus a residual range filter. The huge probe side shuffles (or
    * stays put under an AQE broadcast of the small interval side) on an
    * equi-key, so the plan survives a 100 TB probe table.
    */
  def intervalJoin(events: DataFrame, windows: DataFrame, probeType: String): DataFrame = {
    val win = windows.withColumn("day",
      explode(sequence(
        date_trunc("day", col("win_start")).cast("timestamp_ntz"),
        date_trunc("day", col("win_end") - expr("INTERVAL 1 SECOND")).cast("timestamp_ntz"),
        expr("INTERVAL 1 DAY"))))
    val ev = events.filter(col("event_type") === probeType)
      .select(col("ts"), col("value"),
        date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
    win.join(ev, Seq("day"))
      .filter(col("ts") >= col("win_start") && col("ts") < col("win_end"))
      .groupBy(col("win_start"), col("win_end"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_total"))
  }

  /** [[activityWindows]] ∘ [[intervalJoin]], fused: because an activity
    * window is by construction a maximal run of CONSECUTIVE qualifying
    * hourly buckets, "event inside [win_start, win_end)" is EXACTLY
    * "event's hour bucket is a qualifying bucket" — so the probe side
    * equi-joins on the hour bucket against the (tiny, broadcast)
    * qualifying-bucket table carrying its window bounds, and one
    * window-keyed aggregate finishes. The generic day-explode +
    * residual-range plan of [[intervalJoin]] (for arbitrary,
    * non-hour-aligned intervals) costs one more exchange and a
    * post-join filter; here the probe table never shuffles before its
    * final map-side-combined aggregate, which is the shape that
    * survives a 100 TB probe side. Results are identical (TsdbSpec
    * pins fused == generic).
    */
  def activityIntervalJoin(events: DataFrame, pts1: DataFrame, f1: String,
      mult: Double, probeType: String,
      maxWindowHours: Long = 200000L): DataFrame = {
    val spark = events.sparkSession
    val ser = pts1.filter(col("f1") === f1)
    val thr = ser.agg((lit(mult) * avg(col("total"))).as("thr"))
    // The qualifying-hour list of ONE series is metadata-bounded — at
    // most (retention window / 1 hour) rows, ~88k hours even for a
    // 10-year window — so it rides to the driver like the epoch lists
    // and centroid tables do, and the islands merge is a plain sorted
    // fold there (MLlib keeps k-means centers on the driver for the
    // same reason). This replaces the two-phase global-rank machinery +
    // island aggregate + bounds join (three exchanges and two extra
    // jobs on a tiny table) with one collect; the probe side — the only
    // corpus-sized input — still never shuffles before its final
    // map-side-combined aggregate.
    val qualifying = ser.crossJoin(broadcast(thr))
      .filter(col("total") > col("thr"))
      .select(col("bucket"))
      .collect().map(_.getAs[java.time.LocalDateTime](0))
      .sorted(Ordering.fromLessThan[java.time.LocalDateTime](_ isBefore _))
    // the collect's bound is the TIME RANGE, not data volume — make a
    // pathological window/resolution combination (e.g. a century-wide
    // window at 1-minute resolution, ~50M rows) fail loudly instead of
    // silently OOMing the driver. 200k hours ≈ 22 years of hourly
    // buckets; callers with coarser needs pass their own cap.
    require(qualifying.length <= maxWindowHours,
      s"activityIntervalJoin: ${qualifying.length} qualifying buckets exceed " +
        s"maxWindowHours=$maxWindowHours — the driver-side islands fold is " +
        "sized for bounded time ranges; raise the cap only with driver memory to match")
    val islands = scala.collection.mutable.ArrayBuffer.empty[
      scala.collection.mutable.ArrayBuffer[java.time.LocalDateTime]]
    qualifying.foreach { b =>
      if (islands.nonEmpty && islands.last.last.plusHours(1) == b) islands.last += b
      else islands += scala.collection.mutable.ArrayBuffer(b)
    }
    val qualWinRows = islands.flatMap { isl =>
      val winStart = isl.head
      val winEnd = isl.last.plusHours(1)
      isl.map(b => org.apache.spark.sql.Row(b, winStart, winEnd))
    }.toSeq
    val tsType = org.apache.spark.sql.types.TimestampNTZType
    val qualWin = spark.createDataFrame(
      java.util.Arrays.asList(qualWinRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket", tsType),
        org.apache.spark.sql.types.StructField("win_start", tsType),
        org.apache.spark.sql.types.StructField("win_end", tsType))))
    events.filter(col("event_type") === probeType)
      .select(bucket(col("ts"), "hour").as("bucket"), col("value"))
      .join(broadcast(qualWin), Seq("bucket"))
      .groupBy(col("win_start"), col("win_end"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_total"))
  }

  /** Robust anomaly detection via Median Absolute Deviation: flag points
    * whose |total − median| exceeds k·MAD of their series. Unlike the
    * mean/stddev z-score (ts_zscore), a few huge outliers cannot inflate
    * the threshold and mask each other. Two per-series aggregations
    * (median, then MAD) joined back — the per-series stats rows are tiny
    * relative to the points, so both joins AQE-broadcast; exact
    * `percentile` matches DuckDB's quantile_cont interpolation.
    */
  def anomalyMad(pts1: DataFrame, k: Double = 3.0): DataFrame = {
    val med = pts1.groupBy(col("f1"))
      .agg(expr("percentile(total, 0.5)").as("med"))
    val dev = pts1.join(med, "f1")
      .withColumn("absdev", abs(col("total") - col("med")))
    val mad = dev.groupBy(col("f1"))
      .agg(expr("percentile(absdev, 0.5)").as("mad"))
    dev.join(mad, "f1")
      .filter(col("mad") > 0 && col("absdev") > lit(k) * col("mad"))
      .select(col("f1"), col("bucket"), col("total"),
        graft.functions.Hashing.rd4(col("absdev") / col("mad")).as("mad_score"))
  }

  /** Seasonal-baseline deviation: expected value per (series, day-of-week,
    * hour-of-day) slot learned from the whole window, then points at
    * ratio ≥ `minRatio` of their slot baseline. The baseline table is
    * |series|×168 rows — broadcast — and spark dayofweek (Sun=1) is
    * shifted to DuckDB's Sun=0 convention.
    */
  def seasonalBaseline(pts1: DataFrame, minRatio: Double = 2.0): DataFrame = {
    val slotted = pts1.withColumn("dow", dayofweek(col("bucket")) - 1)
      .withColumn("hod", hour(col("bucket")))
    val base = slotted.groupBy(col("f1"), col("dow"), col("hod"))
      .agg(avg(col("total")).as("baseline"))
    slotted.join(base, Seq("f1", "dow", "hod"))
      .filter(col("baseline") > 0 && col("total") >= lit(minRatio) * col("baseline"))
      .select(col("f1"), col("bucket"), col("total"),
        graft.functions.Hashing.rd4(col("total") / col("baseline")).as("ratio"))
  }

  /** Pearson correlation between two depth-1 series on their common
    * buckets, from explicit sums (n, Σx, Σy, Σxy, Σx², Σy²) so the
    * arithmetic shape is identical on any engine — a built-in corr()
    * differs per implementation in co-moment accumulation. One bucket
    * equi-join + one 1-row aggregate: no window, no second pass.
    */
  def correlation(pts1: DataFrame, f1a: String, f1b: String): DataFrame = {
    val a = pts1.filter(col("f1") === f1a).select(col("bucket"), col("total").as("x"))
    val b = pts1.filter(col("f1") === f1b).select(col("bucket"), col("total").as("y"))
    a.join(b, "bucket")
      .agg(count(lit(1)).cast("double").as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      .select(col("n").cast("long").as("n_buckets"),
        graft.functions.Hashing.rd4(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("pearson"))
  }

  /** Top-k movers: the series whose total changed most between the two
    * halves of the range split at `split`. One map-side-combinable
    * aggregation, then TakeOrdered(k) — no global sort materialization.
    * Period sums are rounded to the 2-dec grid BEFORE ordering so the
    * ranking compares exact grid values, not ulp-noisy raw sums.
    */
  def topkMovers(pts: DataFrame, split: String, k: Int): DataFrame =
    pts.groupBy(col("f1"), col("f2"))
      .agg(
        round(sum(when(col("bucket") < lit(split), col("total")).otherwise(0.0)), 2)
          .as("p1_total"),
        round(sum(when(col("bucket") >= lit(split), col("total")).otherwise(0.0)), 2)
          .as("p2_total"))
      .withColumn("delta", graft.functions.Hashing.rd2(col("p2_total") - col("p1_total")))
      .orderBy(abs(col("delta")).desc, col("f1"), col("f2"))
      .limit(k)

  /** [[topkMovers]] fused over raw events: ONE (f1, f2) aggregation of
    * exact cent LONGS per period instead of points() → re-aggregate —
    * halves the shuffles and never materializes the (series, bucket)
    * grid. Value-identical to the two-level form when values sit on the
    * 2-dec grid: each bucket total is then a whole number of cents (the
    * per-bucket round is an identity), so period sums of bucket totals
    * equal the direct cent sums, and a period total can never land on a
    * .005 rounding knife edge. `split` must be bucket-aligned (midnight
    * is hour-aligned), making the raw-ts comparison equal to the
    * bucket comparison.
    */
  def topkMoversFromEvents(events: DataFrame, split: String, k: Int): DataFrame =
    events
      .groupBy(col("event_type").as("f1"), col("user_id").cast("string").as("f2"))
      .agg(
        sum(when(col("ts") < lit(split).cast("timestamp_ntz"),
          round(col("value") * 100).cast("long")).otherwise(0L)).as("c1"),
        sum(when(col("ts") >= lit(split).cast("timestamp_ntz"),
          round(col("value") * 100).cast("long")).otherwise(0L)).as("c2"))
      .select(col("f1"), col("f2"),
        (col("c1") / 100.0).as("p1_total"), (col("c2") / 100.0).as("p2_total"),
        ((col("c2") - col("c1")) / 100.0).as("delta"))
      .orderBy(abs(col("delta")).desc, col("f1"), col("f2"))
      .limit(k)

  /** Latest point per series (arg-max on bucket). */
  def latest(pts: DataFrame): DataFrame =
    pts.groupBy(col("f1"), col("f2"))
      .agg(
        max(col("bucket")).as("last_bucket"),
        max_by(col("total"), col("bucket")).as("total"),
        max_by(col("cnt"), col("bucket")).as("cnt"))

  /** Per-bucket delta vs the series' previous bucket (counter rate). */
  def rate(pts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("f1"), col("f2")).orderBy(col("bucket"))
    pts.select(col("f1"), col("f2"), col("bucket"),
      round(col("total") - lag(col("total"), 1).over(w), 2).as("rate"))
  }

  /** Prometheus-style reset-aware increase: per-bucket delta vs the
    * previous sample, except a DROP in value is a counter reset — the
    * post-reset sample itself is the increase (PromQL increase()
    * semantics on scrape samples). First sample per series is NULL
    * (no baseline), matching [[rate]].
    */
  def rateCounter(pts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("f1"), col("f2")).orderBy(col("bucket"))
    val prev = lag(col("total"), 1).over(w)
    pts.select(col("f1"), col("f2"), col("bucket"),
      round(when(prev.isNull, lit(null).cast("double"))
        .when(col("total") >= prev, col("total") - prev)
        .otherwise(col("total")), 2).as("increase"))
  }

  /** PromQL-style binary math between two series families: align the
    * `aF1` and `bF1` series on (f2, bucket) with a single full-outer
    * shuffle join and emit zero-filled sum plus a/b ratio (NULL where the
    * divisor side is absent or zero — no NaN/Inf rows). One keyed
    * shuffle; both sides come from the same store scan.
    */
  def seriesMath(pts: DataFrame, aF1: String, bF1: String): DataFrame = {
    val a = pts.filter(col("f1") === aF1)
      .select(col("f2"), col("bucket"), col("total").as("a_total"))
    val b = pts.filter(col("f1") === bF1)
      .select(col("f2"), col("bucket"), col("total").as("b_total"))
    a.join(b, Seq("f2", "bucket"), "full_outer")
      .select(col("f2"), col("bucket"),
        coalesce(col("a_total"), lit(0.0)).as("a_total"),
        coalesce(col("b_total"), lit(0.0)).as("b_total"),
        round(coalesce(col("a_total"), lit(0.0)) + coalesce(col("b_total"), lit(0.0)), 2)
          .as("sum_total"),
        when(col("b_total").isNotNull && col("b_total") =!= 0.0,
          graft.functions.Hashing.rd4(col("a_total") / col("b_total"))).as("ratio"))
  }

  /** Last-observation-carried-forward gapfill: dense axis per series with
    * missing buckets filled by the most recent real point (staircase
    * fill — the "current value persists" reading of a metric store,
    * vs [[gapfill]]'s zero-fill and [[interpolate]]'s line fill).
    * Leading buckets before the first real point stay NULL.
    */
  def gapfillLocf(pts1: DataFrame, from: Column, to: Column, series: Seq[String]): DataFrame = {
    val axis = pts1
      .filter(col("f1").isin(series: _*))
      .select(col("f1")).distinct()
      .select(col("f1"), explode(sequence(
        from.cast("timestamp_ntz"),
        to.cast("timestamp_ntz") - expr("INTERVAL 1 HOUR"),
        expr("INTERVAL 1 HOUR"))).as("bucket"))
    val joined = axis.join(
      pts1.filter(col("f1").isin(series: _*) &&
        col("bucket") >= from && col("bucket") < to)
        .select(col("f1"), col("bucket"), col("total")),
      Seq("f1", "bucket"), "left")
    val w = Window.partitionBy(col("f1")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.select(col("f1"), col("bucket"),
      last(col("total"), ignoreNulls = true).over(w).as("total_locf"),
      col("total").isNull.as("filled"))
  }

  /** One (bucket, total) point of a series, the input row shape every
    * sequential per-series fold consumes. bucket is timestamp_ntz
    * (LocalDateTime) — the store's wall-clock contract.
    */
  private[graft] case class SeriesPt(
      f1: String, bucket: java.time.LocalDateTime, total: Double)

  private[graft] case class EwmaRow(
      f1: String, bucket: java.time.LocalDateTime, ewma: Double)
  private[graft] case class BrownRow(
      f1: String, bucket: java.time.LocalDateTime,
      level: Double, trend: Double, forecast: Double)
  private[graft] case class CusumRow(
      f1: String, bucket: java.time.LocalDateTime,
      cusum: Double, alarm: Boolean)
  private[graft] case class HwRow(
      f1: String, bucket: java.time.LocalDateTime,
      total: Double, forecast: Double)

  import org.apache.spark.sql.{Encoder, Encoders}
  private implicit val seriesPtEnc: Encoder[SeriesPt] = Encoders.product[SeriesPt]
  private implicit val ewmaEnc: Encoder[EwmaRow] = Encoders.product[EwmaRow]
  private implicit val brownEnc: Encoder[BrownRow] = Encoders.product[BrownRow]
  private implicit val cusumEnc: Encoder[CusumRow] = Encoders.product[CusumRow]
  private implicit val hwEnc: Encoder[HwRow] = Encoders.product[HwRow]

  /** Scala twin of [[graft.functions.Hashing.rd4]]: floor(x·1e4+0.5)/1e4
    * as the identical IEEE op sequence (SQL floor on double yields an
    * integer-valued double; values here are far below 2^53 so the long
    * round-trip is exact).
    */
  @inline private def rd4d(x: Double): Double =
    math.floor(x * 10000.0 + 0.5) / 10000.0

  /** Hard per-series ceiling for [[foldSeries]]'s in-task array: 32M
    * buckets ≈ 61 years of minutely (or ~1 year of secondly) data in ONE
    * series — far past any retention the store supports, and ~5 GB of
    * SeriesPt objects in the folding task (measured ~150 B/bucket), the
    * most a healthy executor heap absorbs. A series beyond it fails
    * LOUDLY here instead of opaquely OOM-ing the executor; the fix at
    * that scale is downsampling before the fold (the rollup cascade
    * exists for exactly this), not a bigger heap. The single-10M-bucket
    * case is proven in TsdbScaleCheck phase 6b.
    */
  private[graft] val MaxFoldBucketsPerSeries: Int = 32 << 20

  /** Run an O(n) sequential fold per series: one shuffle groups each
    * series, the group iterator is materialized and sorted by bucket in
    * that task (same memory shape as the previous collect_list array, n =
    * buckets in the fetched range), and `emit` folds it left-to-right
    * ONCE. Replaces the O(n²) per-position prefix refolds — a year of
    * 1-minute buckets (n ≈ 526k) folds in milliseconds instead of
    * effectively hanging the task. The fold arithmetic inside `emit`
    * preserves the exact left-to-right IEEE order of the previous SQL
    * `aggregate` folds, so results — and the DuckDB oracle replays — are
    * bit-identical. Per-series memory is bounded by
    * [[MaxFoldBucketsPerSeries]] with a loud failure past it.
    */
  private def foldSeries[T: org.apache.spark.sql.Encoder](pts1: DataFrame)(
      emit: (String, Array[SeriesPt]) => Iterator[T]): DataFrame = {
    val spark = pts1.sparkSession
    import spark.implicits._
    implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
      Ordering.by(d => (d.toEpochSecond(java.time.ZoneOffset.UTC), d.getNano))
    val cap = MaxFoldBucketsPerSeries
    pts1.select(col("f1"), col("bucket"), col("total")).as[SeriesPt]
      .groupByKey(_.f1)
      .flatMapGroups { (k: String, it: Iterator[SeriesPt]) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[SeriesPt]
        while (it.hasNext) {
          if (buf.length >= cap)
            throw new IllegalStateException(
              s"foldSeries: series '$k' exceeds $cap buckets — the " +
                "sequential fold materializes one series per task; " +
                "downsample (rollup cascade) before folding at this range")
          buf += it.next()
        }
        emit(k, buf.toArray.sortBy(_.bucket))
      }
      .toDF()
  }

  /** Exponentially-weighted moving average per series (s_0 = x_0,
    * s_i = s_{i-1}·(1-α) + x_i·α). EWMA is inherently a sequential fold,
    * so it runs as ONE O(n) left-to-right fold per series ([[foldSeries]])
    * with the identical operation order replayed in the DuckDB oracle
    * (list_reduce), making the smoothed values bit-identical. One shuffle
    * groups each series; n is the post-aggregation bucket count of the
    * fetched range, and the fold is linear in it.
    */
  def ewma(pts1: DataFrame, alpha: Double): DataFrame = {
    val a = alpha; val b = 1.0 - alpha
    foldSeries[EwmaRow](pts1) { (f1, v) =>
      var s = v(0).total
      val out = new Array[EwmaRow](v.length)
      out(0) = EwmaRow(f1, v(0).bucket, rd4d(s))
      var i = 1
      while (i < v.length) {
        s = s * b + v(i).total * a
        out(i) = EwmaRow(f1, v(i).bucket, rd4d(s))
        i += 1
      }
      out.iterator
    }
  }

  /** Rollup-invariant audit: per depth-1 series, compare the materialized
    * parent rollup against the re-summed depth-2 children — count
    * (total, cnt) buckets that disagree and report the worst rounding
    * gap. cnt must match EXACTLY (integer path); total legitimately
    * drifts by per-child rounding, so the gap is reported, not asserted.
    * The consistency check a store owner runs after compaction/deletes.
    */
  def rollupAudit(events: DataFrame): DataFrame = {
    val pts = trackRollup(events)
    val d1 = pts.filter(col("depth") === 1)
      .select(col("f1"), col("bucket"), col("total").as("t1"), col("cnt").as("c1"))
    val d2 = pts.filter(col("depth") === 2)
      .groupBy(col("f1"), col("bucket"))
      .agg(round(sum(col("total")), 2).as("t2"), sum(col("cnt")).as("c2"))
    d1.join(d2, Seq("f1", "bucket"))
      .groupBy(col("f1"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("c1") =!= col("c2"), 1L).otherwise(0L)).as("cnt_mismatch"),
        graft.functions.Hashing.rd4(max(abs(col("t1") - col("t2")))).as("max_gap"))
  }

  /** Brown's double exponential smoothing per series: two INDEPENDENT
    * scalar EWMA folds (s' over the data, s'' over s'), from which
    * level = 2s'−s'', trend = α/(1−α)·(s'−s''), forecast = level+trend.
    * Trend-capable forecasting (capacity planning over the rollup store)
    * without a coupled two-variable recursion: a struct-accumulator fold
    * evaluates its fields sequentially in DuckDB (acc.s is already
    * updated when the b field computes) but simultaneously in Spark, so
    * Holt's coupled form is NOT cross-engine portable — Brown's two
    * scalar folds are, bit-for-bit (same [[ewma]] fold shape).
    */
  def doubleSmooth(pts1: DataFrame, alpha: Double): DataFrame = {
    val a = alpha; val b = 1.0 - alpha
    val c = a / (1.0 - a)
    foldSeries[BrownRow](pts1) { (f1, v) =>
      val n = v.length
      val e1 = new Array[Double](n)
      e1(0) = v(0).total
      var i = 1
      while (i < n) { e1(i) = e1(i - 1) * b + v(i).total * a; i += 1 }
      val out = new Array[BrownRow](n)
      var e2 = e1(0)
      i = 0
      while (i < n) {
        if (i > 0) e2 = e2 * b + e1(i) * a
        val lvl = e1(i) + e1(i) - e2
        val tr = (e1(i) - e2) * c
        out(i) = BrownRow(f1, v(i).bucket, rd4d(lvl), rd4d(tr), rd4d(lvl + tr))
        i += 1
      }
      out.iterator
    }
  }

  /** Wide pivot: one row per bucket, one column per series (Grafana-table
    * shape). The column set is the EXPLICIT `types` list — never inferred
    * from the data (an inferred pivot is a driver-side distinct scan and a
    * nondeterministic schema). One shuffle on bucket.
    */
  def pivotWide(pts1: DataFrame, types: Seq[String]): DataFrame =
    pts1.groupBy(col("bucket"))
      .pivot("f1", types)
      .agg(round(sum(col("total")), 2))

  /** Sliding moving average over the trailing `n` buckets per series. */
  def movingAvg(pts: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("f1"), col("f2")).orderBy(col("bucket"))
      .rowsBetween(-(n - 1), Window.currentRow)
    pts.select(col("f1"), col("f2"), col("bucket"),
      graft.functions.Hashing.rd4(avg(col("total")).over(w)).as("mavg"))
  }

  /** Top-k series by grand total (deterministic tie-break on series id). */
  def topkSeries(pts: DataFrame, k: Int): DataFrame =
    pts.groupBy(col("f1"), col("f2"))
      .agg(round(sum(col("total")), 2).as("grand_total"), sum(col("cnt")).as("cnt"))
      .orderBy(col("grand_total").desc, col("f1"), col("f2"))
      .limit(k)

  /** Derived avg metric = total/count (kadiyadb's Point semantics). */
  def avgValue(pts: DataFrame): DataFrame =
    pts.select(col("f1"), col("f2"), col("bucket"),
      graft.functions.Hashing.rd4(col("total") / col("cnt")).as("avg_value"))

  /** Exact value percentiles per series (p50/p95, linear interpolation —
    * same definition as DuckDB's quantile_cont).
    */
  def percentiles(events: DataFrame): DataFrame =
    events.groupBy(col("event_type").as("f1"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        count(lit(1)).as("cnt"))

  /** Sessionization: split each user's event stream at inactivity gaps
    * > gapMinutes. Classic events-table op built from two windows (lag →
    * boundary flag → running sum = session id); boundaries compare raw
    * nano timestamps, so the math is exact integer on both engines.
    * Deterministic ordering via (ts_ns, event_id).
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    // microsecond precision: DuckDB truncates parquet nano timestamps to
    // micros on read, so the oracle can only see micros — match it exactly
    val wus = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(wus))
      .withColumn("new_session",
        when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        wus.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
  }

  /** Funnel: signup → purchase conversion. One row; first-touch
    * timestamps compared as exact nano ints.
    */
  def funnel(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", expr("ts_ns div 1000"))).as("first_signup"),
        min(when(col("event_type") === "purchase", expr("ts_ns div 1000"))).as("first_purchase"))
      .agg(
        sum(when(col("first_signup").isNotNull, 1).otherwise(0)).as("n_signup"),
        sum(when(col("first_purchase").isNotNull, 1).otherwise(0)).as("n_purchase"),
        sum(when(col("first_signup").isNotNull && col("first_purchase").isNotNull &&
          col("first_purchase") > col("first_signup"), 1).otherwise(0)).as("n_converted"))

  /** Property-segmented funnel: [[funnel]]'s first-touch signup→purchase
    * conversion, split by a JSON-prop segment (here k > 50 at the user's
    * FIRST event — min_by makes the segment assignment deterministic).
    * The product-analytics "conversion by acquisition cohort" read; one
    * user-keyed shuffle, segment assignment fused into the aggregate.
    */
  def propsFunnel(events: DataFrame, threshold: Long = 50L): DataFrame = {
    // ONE per-user aggregation: the "k at the user's first event" is an
    // arg-min — min_by over the (ts_ns, event_id) total order — so it
    // fuses into the same groupBy as the first-touch timestamps. The
    // previous shape paid a per-user window sort + a rn=1 filter + a
    // join back; this is scan → one user shuffle → 2-row aggregate.
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", expr("ts_ns div 1000"))).as("first_signup"),
        min(when(col("event_type") === "purchase", expr("ts_ns div 1000"))).as("first_purchase"),
        min_by(col("k"), struct(col("ts_ns"), col("event_id"))).as("first_k"))
      .withColumn("segment", when(col("first_k") > threshold, "high").otherwise("low"))
      .groupBy(col("segment"))
      .agg(
        sum(when(col("first_signup").isNotNull, 1L).otherwise(0L)).as("n_signup"),
        sum(when(col("first_signup").isNotNull && col("first_purchase").isNotNull &&
          col("first_purchase") > col("first_signup"), 1L).otherwise(0L)).as("n_converted"))
      .withColumn("conversion", graft.functions.Hashing.rd4(
        // nullif: a segment with purchases but no signups has n_signup=0;
        // NULL conversion (matches DuckDB x/0=NULL) under ANSI too
        col("n_converted") / nullif(col("n_signup"), lit(0L))))
  }

  /** Ordered 3-step funnel within a conversion window: first `s1`, then
    * the first `s2` strictly after it, then the first `s3` strictly after
    * that; steps 2/3 count only when they land within `windowHours` of
    * the funnel start. Three keyed aggregations — after the first shuffle
    * on user_id every later join/groupBy is co-partitioned, so the chain
    * costs one real shuffle of the events table.
    */
  def funnelOrdered(events: DataFrame, s1: String, s2: String, s3: String,
      windowHours: Int): DataFrame = {
    val us = expr("ts_ns div 1000")
    val winUs = windowHours * 3600L * 1000000L
    val t1 = events.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === s1, us)).as("t1"))
      .filter(col("t1").isNotNull)
    val t2 = events.join(t1, "user_id")
      .groupBy(col("user_id"), col("t1"))
      .agg(min(when(col("event_type") === s2 && us > col("t1"), us)).as("t2"))
    val t3 = events.join(t2, "user_id")
      .groupBy(col("user_id"), col("t1"), col("t2"))
      .agg(min(when(col("event_type") === s3 && col("t2").isNotNull && us > col("t2"), us))
        .as("t3"))
    t3.agg(
      count(lit(1)).as("n_step1"),
      sum(when(col("t2").isNotNull && col("t2") - col("t1") <= winUs, 1L).otherwise(0L))
        .as("n_step2"),
      sum(when(col("t2").isNotNull && col("t2") - col("t1") <= winUs &&
        col("t3").isNotNull && col("t3") - col("t1") <= winUs, 1L).otherwise(0L))
        .as("n_step3"))
  }

  /** Per-series z-score anomaly signal over depth-1 points: how far each
    * bucket's total deviates from the series' mean, in sample stddevs.
    */
  def zscore(pts1: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("f1"))
    pts1.select(col("f1"), col("bucket"),
      graft.functions.Hashing.rd2((col("total") - avg(col("total")).over(w)) /
        stddev_samp(col("total")).over(w)).as("z"))
  }

  /** Occupancy heatmap: activity grid over day-of-week x hour-of-day
    * (0=Sunday, matching DuckDB's dayofweek; Spark's is 1-based).
    */
  def heatmap(events: DataFrame): DataFrame =
    events.groupBy(
        (dayofweek(col("ts")) - 1).as("dow"),
        hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total"))

  /** Cohort retention: users grouped by first-seen day, counted per
    * day-offset of later activity — two chained aggregations, the second
    * joining each event back to its user's cohort.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val days = events.select(col("user_id"), epochOf(col("ts")).as("day")).distinct()
    val cohorts = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
    days.join(cohorts, "user_id")
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Fixed-width value histogram per series. */
  def histogram(events: DataFrame, binWidth: Double): DataFrame =
    events
      .groupBy(col("event_type").as("f1"),
        floor(col("value") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("total"))

  /** Semi-structured props: extract a JSON field and aggregate on it —
    * kadiyadb has no payloads, but real metric pipelines tag events.
    */
  def propsExtract(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type").as("f1"))
      .agg(
        sum(col("k")).as("sum_k"),
        graft.functions.Hashing.rd4(avg(col("k"))).as("avg_k"),
        sum(when(col("k") > 50, 1).otherwise(0)).as("n_high"))

  /** Fixed log-spaced bound ladder for the mergeable histogram sketch.
    * Like Prometheus classic-histogram `le` buckets: the ladder is part of
    * the schema, so sketches from different partitions/epochs/stores are
    * sum-mergeable by construction. Values above the top bound land in an
    * implicit +Inf bucket (index = bounds.size).
    */
  val histogramBounds: Seq[Double] =
    Seq(0.25, 0.5, 1, 2, 4, 8, 16, 32, 64, 128, 256, 512)

  /** Mergeable histogram sketch: exact (series, le-bucket) counts. This is
    * the 100-TB quantile shape — one map-side-combined shuffle produces
    * ≤ |series|·13 rows of state regardless of event volume, and two
    * sketches merge by summing counts (proven in TsdbSpec).
    */
  def histogramSketch(events: DataFrame): DataFrame = {
    val leIdx = histogramBounds.zipWithIndex.tail
      .foldLeft(when(col("value") <= histogramBounds.head, 0)) {
        case (acc, (b, i)) => acc.when(col("value") <= b, i)
      }
      .otherwise(histogramBounds.size) // +Inf overflow bucket
    events
      .select(col("event_type").as("f1"), leIdx.as("le_idx"))
      .groupBy(col("f1"), col("le_idx"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Prometheus-style histogram_quantile: estimate quantiles per series by
    * linear interpolation inside the first bucket whose cumulative count
    * crosses q·total (lower bound 0 for the first bucket; the +Inf bucket
    * reports the highest finite bound, as Prometheus does). Runs on the
    * sketch, never the raw events — per-series state is ≤ 13 rows, so the
    * quantile pass is metadata-sized at any scale. All arithmetic is
    * single IEEE ops on exact counts → bit-identical in the DuckDB oracle.
    */
  def histogramQuantileFromSketch(sketch: DataFrame,
      qs: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame = {
    val wCum = Window.partitionBy(col("f1")).orderBy(col("le_idx"))
    val wAll = Window.partitionBy(col("f1"))
    val arr = array(histogramBounds.map(lit): _*)
    val target = col("q") * col("total").cast("double")
    val cumPrev = (col("cum") - col("cnt")).cast("double")
    val hi = element_at(arr, col("le_idx") + 1)
    val lo = when(col("le_idx") === 0, lit(0.0))
      .otherwise(element_at(arr, col("le_idx")))
    sketch
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .filter(col("cum").cast("double") >= target && cumPrev < target)
      .select(col("f1"), col("q"),
        graft.functions.Hashing.rd4(
          when(col("le_idx") >= histogramBounds.size, lit(histogramBounds.last))
            .otherwise(lo + (hi - lo) * (target - cumPrev)
              / col("cnt").cast("double"))).as("est"))
  }

  /** End-to-end quantile estimate from raw events (sketch + interpolate). */
  def histogramQuantile(events: DataFrame,
      qs: Seq[Double] = Seq(0.5, 0.95, 0.99)): DataFrame =
    histogramQuantileFromSketch(histogramSketch(events), qs)

  /** Level-shift (change-point) detection per series: at each bucket,
    * contrast the mean of the `w` buckets strictly before against the
    * mean of the `w` buckets from here forward; a gap ≥ `threshold`
    * flags a step change (the two-sample contrast filter — the simple,
    * distributable core of CUSUM-style detectors). Only positions with
    * BOTH windows full are emitted, so edge buckets never produce
    * half-window false positives. One shuffle (the series window); the
    * window operates on the already-small post-agg bucket table.
    */
  def levelShift(pts1: DataFrame, w: Int = 6, threshold: Double = 20.0): DataFrame = {
    val ws = Window.partitionBy(col("f1")).orderBy(col("bucket"))
    val before = ws.rowsBetween(-w, -1)
    val after = ws.rowsBetween(Window.currentRow, w - 1)
    val rd4 = graft.functions.Hashing.rd4 _
    pts1
      .withColumn("n_before", count(col("total")).over(before))
      .withColumn("n_after", count(col("total")).over(after))
      .withColumn("before_avg", avg(col("total")).over(before))
      .withColumn("after_avg", avg(col("total")).over(after))
      .filter(col("n_before") === w && col("n_after") === w)
      .select(col("f1"), col("bucket"),
        rd4(col("before_avg")).as("before_avg"),
        rd4(col("after_avg")).as("after_avg"),
        rd4(col("after_avg") - col("before_avg")).as("shift"),
        (abs(col("after_avg") - col("before_avg")) >= threshold).as("is_shift"))
  }

  /** SRE multi-window error-budget burn rate: per hour bucket, the error
    * fraction of all events (short window = the bucket itself, long
    * window = trailing `longW` buckets), each divided by the SLO budget;
    * an alert fires only when BOTH windows burn faster than budget — the
    * standard fast-burn page condition (short window for speed, long
    * window to suppress blips). All rates are ratios of INTEGER window
    * sums, so the doubles are bit-identical cross-engine. The hourly
    * bucket table grows with retained history, so the trailing sums come
    * from [[graft.core.Ranking.withRankAndSums]] — consecutive global
    * ranks + cumulative counts, `trailing(r) = cum(r) - cum(r-longW)` by
    * an equi-join on the rank — instead of a single-task ordered window.
    */
  def burnRate(events: DataFrame, budget: Double = 0.05, longW: Int = 6): DataFrame = {
    val perBucket = events
      .groupBy(bucket(col("ts"), "hour").as("bucket"))
      .agg(
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
        count(lit(1)).as("n_all"))
    val ranked = graft.core.Ranking.withRankAndSums(perBucket, Seq(col("bucket")),
      "__r", Seq(col("n_err") -> "__cerr", col("n_all") -> "__call"))
    val lagged = ranked.select((col("__r") + longW).as("__r"),
      col("__cerr").as("__lerr"), col("__call").as("__lall"))
    val rd4 = graft.functions.Hashing.rd4 _
    val burn1 = col("n_err").cast("double") / col("n_all") / budget
    val burnL = col("err_l").cast("double") / col("all_l") / budget
    ranked.join(lagged, Seq("__r"), "left")
      .withColumn("err_l", col("__cerr") - coalesce(col("__lerr"), lit(0L)))
      .withColumn("all_l", col("__call") - coalesce(col("__lall"), lit(0L)))
      .select(col("bucket"), col("n_err"), col("n_all"),
        rd4(burn1).as("burn_short"),
        rd4(burnL).as("burn_long"),
        (burn1 >= 1.0 && burnL >= 1.0).as("alert"))
  }

  /** Apdex score per series per hour bucket: satisfied (value ≤ t),
    * tolerating (t < value ≤ 4t), frustrated (the rest); score =
    * (satisfied + tolerating/2) / all — the standard user-satisfaction
    * index over a latency-like value column. One map-side-combinable
    * aggregation; the score is a ratio of integer counts, so the double
    * math is bit-identical across engines.
    */
  def apdex(events: DataFrame, t: Double): DataFrame =
    events
      .groupBy(col("event_type").as("f1"), bucket(col("ts"), "hour").as("bucket"))
      .agg(
        sum(when(col("value") <= t, 1L).otherwise(0L)).as("n_sat"),
        sum(when(col("value") > t && col("value") <= 4 * t, 1L).otherwise(0L)).as("n_tol"),
        count(lit(1)).as("n_all"))
      .select(col("f1"), col("bucket"), col("n_sat"), col("n_tol"), col("n_all"),
        graft.functions.Hashing.rd4(
          (col("n_sat") + col("n_tol") / 2.0) / col("n_all")).as("apdex"))

  /** Per-series autocorrelation at lags 1..maxLag: Pearson over the
    * (x_t, x_{t+lag}) pairs that BOTH exist at hourly resolution —
    * well-defined on sparse series, no dense-axis assumption. Computed
    * from explicit sums (like [[correlation]]) so the arithmetic shape is
    * engine-portable. The lag axis is exploded on the left side, so all
    * lags resolve in ONE self-equi-join keyed on (f1, shifted bucket) —
    * not maxLag separate joins; the join input is the post-agg bucket
    * table, never the raw event stream.
    */
  def autocorr(pts1: DataFrame, maxLag: Int): DataFrame = {
    val x = pts1.select(col("f1"), col("bucket"), col("total").as("x"))
    val lagged = x
      .select(col("f1"), col("bucket"), col("x"),
        explode(expr(s"sequence(1, $maxLag)")).as("lag"))
      .withColumn("b2", col("bucket") + expr("make_dt_interval(0, lag, 0, 0)"))
    val y = pts1.select(col("f1").as("fy"), col("bucket").as("by"), col("total").as("y"))
    lagged
      .join(y, col("f1") === col("fy") && col("b2") === col("by"))
      .groupBy(col("f1"), col("lag").cast("long").as("lag"))
      .agg(count(lit(1)).cast("double").as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
      .select(col("f1"), col("lag"), col("n").cast("long").as("n_pairs"),
        graft.functions.Hashing.rd4(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("acf"))
  }

  /** One-sided CUSUM per series: c_i = max(0, c_{i-1} + (x_i - target)),
    * alarm when c crosses `h` — the classical sequential change detector
    * (drift accumulates, in-control buckets drain to zero). Like [[ewma]]
    * it is an inherently sequential fold, so it runs as a per-series
    * prefix fold over the collected bucket array with the identical
    * operation order in the oracle; the fold arithmetic is +/max only
    * (no transcendentals), so c is bit-identical cross-engine and the
    * raw-value alarm comparison is portable. O(n) per series via
    * [[foldSeries]].
    */
  /** Largest-Triangle-Three-Buckets display downsampling per series —
    * the dashboard renderer's "draw 526k minute-buckets as k points
    * without losing the spikes" pass (Steinarsson 2013, the algorithm
    * Grafana applies client-side; kadiyadb leaves rendering to the
    * caller, this keeps the reduction server-side where the data is).
    * Per series: first/last points always kept; the middle n−2 points
    * split into k−2 equal index buckets, and each bucket keeps the
    * point forming the largest triangle with the PREVIOUS kept point
    * and the NEXT bucket's mean — a sequential O(n) selection, the
    * [[foldSeries]] family. Engine-exact determinism: bucket means
    * divide exact integer sums (epoch seconds; totals snapped to the
    * 1e-4 grid) once, the area formula is one fixed IEEE op sequence
    * per candidate, ties keep the earliest candidate (strict >), and
    * bucket boundaries are exact integer floor division — the DuckDB
    * twin replays the identical fold (nested-lambda argmax) bit for
    * bit. Series with ≤ k points pass through unchanged.
    */
  def lttb(pts1: DataFrame, k: Int): DataFrame = {
    require(k >= 3, s"lttb needs k >= 3, got $k")
    foldSeries[SeriesPt](pts1) { (f1, v) =>
      val n = v.length
      if (n <= k) v.iterator
      else {
        val xe = v.map(_.bucket.toEpochSecond(java.time.ZoneOffset.UTC))
        val g = v.map(p => math.floor(p.total * 10000.0 + 0.5).toLong)
        val m = k - 2
        val out = new Array[SeriesPt](k)
        out(0) = v(0)
        var prev = 0
        var i = 0
        while (i < m) {
          val start = (i.toLong * (n - 2) / m).toInt + 1
          val end = ((i + 1).toLong * (n - 2) / m).toInt + 1 // exclusive
          val (ns, ne) =
            if (i == m - 1) (n - 1, n)
            else (end, (((i + 2).toLong * (n - 2)) / m).toInt + 1)
          var sx = 0L; var sy = 0L
          var j = ns
          while (j < ne) { sx += xe(j); sy += g(j); j += 1 }
          val cnt = (ne - ns).toDouble
          val xAvg = sx.toDouble / cnt
          val yAvg = (sy.toDouble / cnt) / 10000.0
          val ax = xe(prev).toDouble
          val ay = g(prev).toDouble / 10000.0
          var best = -1.0; var sel = start
          j = start
          while (j < end) {
            val by = g(j).toDouble / 10000.0
            val area = math.abs(
              (ax - xAvg) * (by - ay) - (ax - xe(j).toDouble) * (yAvg - ay))
            if (area > best) { best = area; sel = j }
            j += 1
          }
          out(i + 1) = v(sel)
          prev = sel
          i += 1
        }
        out(k - 1) = v(n - 1)
        out.iterator
      }
    }
  }

  def cusum(pts1: DataFrame, target: Double, h: Double): DataFrame =
    foldSeries[CusumRow](pts1) { (f1, v) =>
      val out = new Array[CusumRow](v.length)
      var acc = v(0).total - target
      var i = 0
      while (i < v.length) {
        if (i > 0) acc = math.max(0.0, acc) + v(i).total - target
        val cs = math.max(0.0, acc)
        out(i) = CusumRow(f1, v(i).bucket, rd4d(cs), cs > h)
        i += 1
      }
      out.iterator
    }

  /** SAX (Symbolic Aggregate approXimation) word per series: PAA over
    * fixed `segHours` time segments (mean of present hourly buckets),
    * z-normalized across the series' segment means, then discretized
    * into a 4-symbol alphabet at the Gaussian equiprobable breakpoints
    * (-0.6745, 0, 0.6745). The word concatenates symbols in time order —
    * the index/sketch form used for whole-series similarity and motif
    * search. Portability: z is rd4-rounded BEFORE the breakpoint compare
    * so a libm ulp can never flip a symbol; the word is assembled from a
    * sorted collected array (deterministic order), sized |segments| per
    * series — the post-agg table, tiny by construction.
    */
  def sax(pts1: DataFrame, segHours: Int = 6): DataFrame =
    saxSymbols(pts1, segHours)
      .groupBy(col("f1"))
      .agg(count(lit(1)).as("n_segments"),
        expr("array_join(transform(sort_array(collect_list(struct(seg, sym))), x -> x.sym), '')")
          .as("sax_word"))

  /** The shared (f1, seg, sym) SAX symbol table: segment means,
    * per-series z-normalization, 4-symbol equiprobable-Gaussian
    * breakpoints — the normalization chain [[sax]] and [[saxMotifs]]
    * keep in lockstep.
    */
  private def saxSymbols(pts1: DataFrame, segHours: Int): DataFrame = {
    val rd4 = graft.functions.Hashing.rd4 _
    val segs = pts1
      .withColumn("seg",
        expr(s"timestampadd(HOUR, CAST(floor(hour(bucket) / $segHours) * $segHours AS INT), date_trunc('DAY', bucket))")
          .cast("timestamp_ntz"))
      .groupBy(col("f1"), col("seg"))
      .agg((sum(col("total")) / count(lit(1))).as("m"))
    val stats = segs.groupBy(col("f1"))
      .agg(count(lit(1)).cast("double").as("n"), sum(col("m")).as("sm"),
        sum(col("m") * col("m")).as("smm"))
      .select(col("f1"), col("n"), (col("sm") / col("n")).as("mu"),
        sqrt(col("smm") / col("n") - (col("sm") / col("n")) * (col("sm") / col("n")))
          .as("sigma"))
    segs.join(stats, "f1")
      // nullif: a constant series has sigma=0; NULL z (DuckDB x/0=NULL)
      // under ANSI too
      .select(col("f1"), col("seg"),
        rd4((col("m") - col("mu")) / nullif(col("sigma"), lit(0.0))).as("z"))
      .withColumn("sym",
        when(col("z") < -0.6745, "a").when(col("z") < 0.0, "b")
          .when(col("z") < 0.6745, "c").otherwise("d"))
  }

  /** SAX motif discovery: each (series, day) rendered as its
    * (24/segHours)-symbol daily SAX word — same normalization and
    * breakpoints as [[sax]], full days only — then recurring words
    * counted per series with their first/last occurrence: "which daily
    * shapes does this series repeat, and when did each appear". The
    * motif-mining read (Lin/Keogh's SAX lineage) on the rollup store.
    * Scale shape: symbols are a bucket-level aggregate; the per-day
    * word build groups a FIXED ≤4 symbols per (series, day) key (in-row
    * sort of a bounded array, no window); motif counting is a
    * (series, word)-keyed aggregate on day-sized data.
    */
  def saxMotifs(pts1: DataFrame, segHours: Int = 6): DataFrame = {
    val perDay = saxSymbols(pts1, segHours)
      .withColumn("day", to_date(col("seg")))
      .groupBy(col("f1"), col("day"))
      .agg(count(lit(1)).as("nseg"),
        expr("array_join(transform(sort_array(collect_list(struct(seg, sym))), x -> x.sym), '')")
          .as("sax_word"))
      .filter(col("nseg") === (24 / segHours))
    perDay.groupBy(col("f1"), col("sax_word"))
      .agg(count(lit(1)).as("n_days"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"))
  }

  /** Daily SLO availability report: an hour is BAD when its error
    * fraction exceeds the budget; availability = 1 - bad/active hours
    * (hours with no traffic don't count against the SLO — the standard
    * request-based availability definition). Two cascaded integer-count
    * aggregations (hour → day), every ratio a ratio of integers.
    */
  def sloAvailability(events: DataFrame, budget: Double): DataFrame =
    events
      .groupBy(bucket(col("ts"), "hour").as("h"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
        count(lit(1)).as("n_all"))
      .groupBy(bucket(col("h"), "day").as("day"))
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("n_err").cast("double") / col("n_all") > budget, 1L)
          .otherwise(0L)).as("n_bad"))
      .select(col("day"), col("n_hours"), col("n_bad"),
        graft.functions.Hashing.rd4(
          lit(1.0) - col("n_bad").cast("double") / col("n_hours")).as("availability"))

  /** OHLC candle downsampling: per series per `slotHours` slot, the
    * open/high/low/close of the hourly totals — min/max keep spikes a
    * mean-downsample would erase, open/close keep direction (the
    * Grafana-candlestick read of a metric). first/last resolve by
    * bucket order via min_by/max_by — buckets are unique per series, so
    * the choice is deterministic. One map-side-combinable aggregation.
    */
  def ohlc(pts1: DataFrame, slotHours: Int = 6): DataFrame =
    pts1
      .withColumn("slot",
        expr(s"timestampadd(HOUR, CAST(floor(hour(bucket) / $slotHours) * $slotHours AS INT), date_trunc('DAY', bucket))")
          .cast("timestamp_ntz"))
      .groupBy(col("f1"), col("slot"))
      .agg(
        min_by(col("total"), col("bucket")).as("open"),
        max(col("total")).as("high"),
        min(col("total")).as("low"),
        max_by(col("total"), col("bucket")).as("close"),
        count(lit(1)).as("n_buckets"))

  /** One-step-ahead forecast backtest: [[doubleSmooth]]'s forecast at
    * bucket t is scored against the ACTUAL total at t+1h, summarized per
    * series as MAE and MAPE — the walk-forward evaluation loop any
    * forecaster needs before its numbers are trusted. The forecast
    * column is already grid-rounded and bit-stable cross-engine, so the
    * per-row errors are deterministic; only the final averages need the
    * rd4 grid. One self-join of two post-agg tables. MAPE is undefined
    * where the actual is 0 — those buckets are EXCLUDED from the mape
    * mean explicitly (and counted in n_zero_actual) on both engines;
    * relying on the engine's division-by-zero convention would diverge
    * (Spark NULL-drops the row, DuckDB propagates ±inf).
    */
  /** Capacity forecast per series: least-squares linear trend over the
    * bucket sequence and the projected buckets until `limit` is crossed
    * — the "days until the disk is full" read every metrics deployment
    * runs. Engine-exact regression: x is the per-series bucket index
    * (exact ints), y snaps to the 2-decimal money grid as cents (exact
    * longs, matching the store's round-2 totals), so all five moments
    * are exact integer sums and slope/intercept/time-to-limit are fixed
    * IEEE expressions. Growing (slope > 0) series below the limit get a
    * projection; flat/shrinking or already-over series report NULL. One
    * per-series window (partitioned — no global sort) + one aggregate.
    */
  def capacityForecast(pts1: DataFrame, limit: Double): DataFrame = {
    val rd4 = graft.functions.Hashing.rd4 _
    val w = Window.partitionBy(col("f1")).orderBy(col("bucket"))
    val base = pts1
      .withColumn("x", row_number().over(w).cast("long"))
      .withColumn("gy", floor(col("total") * 100.0 + 0.5).cast("long"))
    val slopeCents = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val slope = slopeCents / 100.0
    val lastTotal = col("last.gy") / 100.0
    base.groupBy(col("f1"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("gy")).as("sy"),
        sum(col("x") * col("gy")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        max(struct(col("x"), col("gy"))).as("last"))
      .filter(col("n") >= 2)
      .select(col("f1"), col("n"),
        rd4(slope).as("slope_per_bucket"),
        rd4(lastTotal).as("last_total"),
        when(slopeCents > 0.0 && lastTotal < limit,
          rd4((lit(limit) - lastTotal) / slope)).as("buckets_to_limit"))
  }

  /** Additive Holt-Winters (triple exponential smoothing) per series:
    * level + trend + an m-slot seasonal cycle, emitting the one-step-
    * ahead forecast at every bucket — the canonical seasonal forecaster
    * ([[doubleSmooth]] is its no-seasonality special case). Initial
    * state: level = first point, trend = 0, seasonal = zeros (the
    * standard cold start; later cycles wash it out at these smoothing
    * rates). The recurrence is inherently sequential PER SERIES, so —
    * like the Brown operators — it runs as ONE O(n) in-order fold per
    * series ([[foldSeries]]) with (level, trend, seasonal[m]) carried as
    * locals; series are independent, so the corpus-wide shape is one
    * shuffle and per-task linear work, no windows. Double arithmetic is
    * a left-to-right fold of plain IEEE ops over identically-ordered
    * inputs on both engines, so results are bit-identical without grid
    * snapping (the hwCtes oracle replays the same fold).
    */
  def holtWinters(pts1: DataFrame, alpha: Double, beta: Double,
      gamma: Double, m: Int): DataFrame = {
    val a = alpha; val b = beta; val g = gamma
    val omA = 1.0 - alpha; val omB = 1.0 - beta; val omG = 1.0 - gamma
    foldSeries[HwRow](pts1) { (f1, v) =>
      val n = v.length
      val out = new Array[HwRow](n)
      // cold start: level = first point, trend = 0, seasonal = zeros;
      // forecast at position 0 is the identity (the first point itself)
      out(0) = HwRow(f1, v(0).bucket, v(0).total, rd4d(v(0).total))
      var lvl = v(0).total
      var tr = 0.0
      val se = new Array[Double](m)
      var idx = 1 // acc.i: seasonal slot of the NEXT point is i % m
      var i = 1
      while (i < n) {
        val x = v(i).total
        val s = idx % m
        val fc = lvl + tr + se(s)
        val lvl2 = a * (x - se(s)) + omA * (lvl + tr)
        val tr2 = b * (lvl2 - lvl) + omB * tr
        se(s) = g * (x - lvl2) + omG * se(s)
        lvl = lvl2; tr = tr2; idx += 1
        out(i) = HwRow(f1, v(i).bucket, x, rd4d(fc))
        i += 1
      }
      out.iterator
    }
  }

  /** Walk-forward evaluation of [[holtWinters]]: per-series MAE/MAPE of
    * the one-step-ahead forecasts (excluding each series' first point,
    * whose "forecast" is the cold-start identity). Unlike
    * [[forecastEval]]'s rd4(avg(...)) precedent, the error sums here are
    * EXACT integers (|err| snapped to its 1e-4 grid, |err|/actual to
    * 1e-6, both summed as longs) so the aggregation is summation-order
    * independent on both engines by construction.
    */
  def forecastEvalHw(pts1: DataFrame, alpha: Double, beta: Double,
      gamma: Double, m: Int): DataFrame = {
    val rd4 = graft.functions.Hashing.rd4 _
    val w = Window.partitionBy(col("f1")).orderBy(col("bucket"))
    holtWinters(pts1, alpha, beta, gamma, m)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") > 1)
      .select(col("f1"), col("total"), col("forecast"),
        floor(abs(col("forecast") - col("total")) * 10000.0 + 0.5)
          .cast("long").as("g_err"),
        when(col("total") =!= 0.0,
          floor(abs(col("forecast") - col("total")) / col("total") * 1000000.0 + 0.5)
            .cast("long")).as("g_rel"))
      .groupBy(col("f1"))
      .agg(count(lit(1)).as("n_evals"),
        sum(when(col("total") === 0.0, 1L).otherwise(0L)).as("n_zero_actual"),
        rd4(sum(col("g_err")) / (count(lit(1)) * 10000.0)).as("mae"),
        rd4(sum(col("g_rel")) /
          (sum(when(col("g_rel").isNotNull, 1L).otherwise(0L)) * 1000000.0)).as("mape"))
  }

  def forecastEval(pts1: DataFrame, alpha: Double): DataFrame = {
    val rd4 = graft.functions.Hashing.rd4 _
    val fc = doubleSmooth(pts1, alpha)
      .select(col("f1"), col("bucket"), col("forecast"))
    val actual = pts1.select(col("f1"),
      (col("bucket") - expr("INTERVAL 1 HOUR")).as("bucket"),
      col("total").as("actual"))
    fc.join(actual, Seq("f1", "bucket"))
      .groupBy(col("f1"))
      .agg(count(lit(1)).as("n_evals"),
        sum(when(col("actual") === 0.0, 1L).otherwise(0L)).as("n_zero_actual"),
        rd4(avg(abs(col("forecast") - col("actual")))).as("mae"),
        rd4(avg(when(col("actual") =!= 0.0,
          abs(col("forecast") - col("actual")) / col("actual")))).as("mape"))
  }

  /** Seasonality strength per series: the fraction of hourly-total
    * variance explained by the (day-of-week × hour) slot means —
    * SS_between / SS_total from explicit sums (the one-way ANOVA R²).
    * ≈1 means the series is almost pure weekly pattern (downsample
    * aggressively, alert on deviation-from-baseline); ≈0 means the slot
    * baseline of [[seasonalBaseline]] carries no signal. Two cascaded
    * aggregations, slot table is tiny (|series|·168).
    */
  def seasonalityStrength(pts1: DataFrame): DataFrame =
    pts1
      .withColumn("dow", dayofweek(col("bucket")) - 1)
      .withColumn("hod", hour(col("bucket")))
      .groupBy(col("f1"), col("dow"), col("hod"))
      .agg(count(lit(1)).cast("double").as("cnt"), sum(col("total")).as("s"),
        sum(col("total") * col("total")).as("ss"))
      .groupBy(col("f1"))
      .agg(sum(col("cnt")).as("n"), sum(col("s")).as("sx"),
        sum(col("ss")).as("sxx"),
        sum(col("s") * col("s") / col("cnt")).as("ssb_raw"))
      .select(col("f1"), col("n").cast("long").as("n_buckets"),
        graft.functions.Hashing.rd4(
          // nullif: a constant series has SS_total=0; NULL strength
          // (DuckDB x/0=NULL) under ANSI too
          (col("ssb_raw") - col("sx") * col("sx") / col("n")) /
            nullif(col("sxx") - col("sx") * col("sx") / col("n"), lit(0.0)))
          .as("strength"))

  /** SLO incident list (gaps-and-islands): consecutive BAD hours (error
    * fraction above budget) merge into incidents via the classic
    * bucket-minus-rank grouping; each incident reports its span and
    * length. The paging/alert-fatigue read on top of
    * [[sloAvailability]]; all-integer bucket arithmetic. The bad-hour
    * table grows with retained history, so the island id comes from a
    * [[graft.core.Ranking.withGlobalRank]] consecutive rank (range
    * shuffle + broadcast offsets), not a single-task ordered window.
    */
  def sloStreaks(events: DataFrame, budget: Double): DataFrame = {
    val bad = events
      .groupBy(bucket(col("ts"), "hour").as("h"))
      .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"),
        count(lit(1)).as("n_all"))
      .filter(col("n_err").cast("double") / col("n_all") > budget)
    graft.core.Ranking.withGlobalRank(bad, Seq(col("h")), "rn")
      .withColumn("grp", expr("(unix_timestamp(h) div 3600) - rn"))
      .groupBy(col("grp"))
      .agg(min(col("h")).as("incident_start"), max(col("h")).as("incident_end"),
        count(lit(1)).as("n_hours"))
      .select(col("incident_start"), col("incident_end"), col("n_hours"))
  }

  /** Reliability summary over the [[sloStreaks]] incidents: incident
    * count, total bad hours, MTTR (mean incident length) and MTBF (mean
    * hours from one incident's start to the next's — NULL with fewer
    * than two incidents). MTBF telescopes — the lead-diff average
    * `avg(next_start - start)` over incidents sorted by start equals
    * `(last_start - first_start) / (n - 1)` exactly — so the whole
    * summary is ONE aggregation over the incident table; no second
    * global-rank pass, no self-join. Starts are hour-truncated, so
    * every pairwise diff is an exact multiple of 3600 and the
    * telescoped double matches the oracle's `avg(lead())` bit-for-bit
    * (each term is integer-valued; sums stay below 2^53). n = 1 is
    * guarded with `nullif(n - 1, 0)` so the ratio is NULL — the same
    * NULL the oracle's empty `avg(lead())` produces — under BOTH ANSI
    * and non-ANSI sessions (Spark 4.x defaults `spark.sql.ansi.enabled=
    * true`, where a bare divide-by-zero would throw DIVIDE_BY_ZERO).
    */
  def mttr(events: DataFrame, budget: Double): DataFrame = {
    val rd4 = graft.functions.Hashing.rd4 _
    sloStreaks(events, budget).agg(
      count(lit(1)).as("n_incidents"),
      sum(col("n_hours")).as("total_bad_hours"),
      rd4(sum(col("n_hours")) / count(lit(1))).as("mttr_hours"),
      rd4((unix_timestamp(max(col("incident_start")))
          - unix_timestamp(min(col("incident_start")))).cast("double")
        / 3600.0 / nullif((count(lit(1)) - 1).cast("double"), lit(0.0)))
        .as("mtbf_hours"))
  }

  /** Bounded-error distributed top-k (heavy hitters): each day keeps
    * only its local top-`k` users (plus that day's k-th count), and the
    * global estimate merges the per-day summaries — the classic
    * "top-k per shard, merge with error bounds" pattern that never
    * shuffles full per-user counts at 100 TB. For each merged user:
    * est_count = sum of counts on days they ranked (a LOWER bound on
    * the true total) and upper_bound adds each missed day's k-th count
    * (they can't have exceeded it without ranking). All-integer math;
    * ties rank by user id, so the per-day cut is deterministic.
    */
  def topkApprox(events: DataFrame, k: Int = 20, topN: Int = 10): DataFrame = {
    val perDay = events
      .groupBy(bucket(col("ts"), "day").as("day"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("day")).orderBy(col("cnt").desc, col("user_id"))
    val ranked = perDay.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
    val kth = ranked.groupBy(col("day")).agg(min(col("cnt")).as("kth"))
    val totKth = kth.agg(sum(col("kth")).as("tot_kth"))
    ranked.join(kth, "day")
      .groupBy(col("user_id"))
      .agg(sum(col("cnt")).as("est_count"), count(lit(1)).as("n_days"),
        sum(col("kth")).as("present_kth"))
      .crossJoin(broadcast(totKth))
      .select(col("user_id"), col("est_count"), col("n_days"),
        (col("est_count") + col("tot_kth") - col("present_kth")).as("upper_bound"))
      .orderBy(col("est_count").desc, col("user_id"))
      .limit(topN)
  }

  /** Exact audience-overlap matrix: distinct-user Jaccard for every pair
    * of event types — the exact twin of the KMV-sketched
    * [[distinctOverlapKMV]], viable whenever |distinct (type, user)|
    * fits a shuffle (it is bounded by users × types, NOT by events).
    * One distinct, one self-equi-join on user, one pair aggregation;
    * type-pair cardinality is tiny so every ratio is integer/integer.
    */
  def typeOverlap(events: DataFrame): DataFrame = {
    val tu = events.select(col("event_type").as("t"), col("user_id").as("u")).distinct()
    val sizes = tu.groupBy(col("t")).agg(count(lit(1)).as("n"))
    tu.as("a")
      .join(tu.as("b"), col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(sizes.select(col("t").as("type_a"), col("n").as("n_a")), "type_a")
      .join(sizes.select(col("t").as("type_b"), col("n").as("n_b")), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        graft.functions.Hashing.rd4(
          col("n_both") / (col("n_a") + col("n_b") - col("n_both"))).as("jaccard"))
  }

  /** Marketing attribution over the event stream: each purchase's
    * revenue is attributed to the user's FIRST marketing touch
    * (view/click) and separately to the LAST touch before the purchase
    * — the two classic single-touch models, reported side by side per
    * touch type ('none' = converted with no prior touch). Index-join
    * shape, not IGNORE-NULLS window gymnastics: one per-user window
    * numbers the touches (inclusive running count, so a purchase row's
    * count IS its last preceding touch index), and BOTH models ride ONE
    * (user, index) equi-join — each purchase explodes into its two
    * (model, wanted-index) rows before the join, so the touches side is
    * scanned once instead of once per model. Event types that are
    * neither a touch nor a purchase are dropped BEFORE the window: they
    * cannot change any running touch-count at the rows that survive, and
    * the window sort shrinks by their share of the stream. Revenue snaps
    * to cents before the long sum; one division at the end. Ties in ts
    * break on event_id (total order).
    */
  def attribution(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE window pass resolves both models: at each purchase row,
    // last_value(touch_type, ignoreNulls) over the user's (ts, event_id)
    // stream IS the tcnt-th touch the old formulation self-joined for,
    // and first_value(ignoreNulls) is touch #1 (non-null exactly when a
    // touch precedes the purchase). Replaces the windowed-base persist +
    // per-model explode + (user, index) join — one user-keyed exchange,
    // one sort, zero joins, zero cached state. Rows-frame: the (ts,
    // event_id) order is a total order, so ROWS == the oracle's RANGE.
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withColumn("touch_type",
        when(col("event_type").isin("view", "click"), col("event_type")))
      .withColumn("lt", last(col("touch_type"), ignoreNulls = true).over(w))
      .withColumn("ft", first(col("touch_type"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        floor(col("value") * 100.0 + 0.5).cast("long").as("cents"),
        explode(array(
          struct(lit("last_touch").as("model"),
            coalesce(col("lt"), lit("none")).as("tt")),
          struct(lit("first_touch").as("model"),
            coalesce(col("ft"), lit("none")).as("tt")))).as("mw"))
      .groupBy(col("mw.model").as("model"), col("mw.tt").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("cs"))
      .select(col("model"), col("touch_type"), col("n_purchases"),
        (col("cs").cast("double") / 100.0).as("revenue"))
  }

  /** Gorilla-style compressibility audit per series (the storage-cost
    * read a TSDB capacity planner runs; kadiyadb's fixed-width block
    * files — block/block.go — are the uncompressed baseline this
    * compares against). Timestamps cost delta-of-delta bit classes
    * (Gorilla §4.1: 1 bit when the cadence holds, 9/12/16/36 as the
    * jitter grows; 64 for a series head, 27 for its first delta);
    * values cost delta classes on the exact cents grid (1 bit when
    * repeated, else 2 control bits + an 8/16/24/32/64 zigzag window) —
    * an integer-grid stand-in for Gorilla's float-XOR
    * leading/trailing-zero windows that both engines evaluate
    * identically. Per-series lag windows only; one aggregate.
    */
  def gorillaBits(pts1: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("f1")).orderBy(col("bucket"))
    val d = pts1
      .withColumn("t", unix_timestamp(col("bucket")))
      .withColumn("cents", floor(col("total") * 100.0 + 0.5).cast("long"))
      .withColumn("dt", col("t") - lag(col("t"), 1).over(w))
      .withColumn("dod", col("dt") - lag(col("dt"), 1).over(w))
      .withColumn("dv", col("cents") - lag(col("cents"), 1).over(w))
    val tsBits = when(col("dt").isNull, lit(64L))
      .when(col("dod").isNull, lit(27L))
      .when(col("dod") === 0L, lit(1L))
      .when(abs(col("dod")) <= 64L, lit(9L))
      .when(abs(col("dod")) <= 256L, lit(12L))
      .when(abs(col("dod")) <= 2048L, lit(16L))
      .otherwise(lit(36L))
    val valBits = when(col("dv").isNull, lit(64L))
      .when(col("dv") === 0L, lit(1L))
      .when(abs(col("dv")) < lit(1L << 7), lit(10L))
      .when(abs(col("dv")) < lit(1L << 15), lit(18L))
      .when(abs(col("dv")) < lit(1L << 23), lit(26L))
      .when(abs(col("dv")) < lit(1L << 31), lit(34L))
      .otherwise(lit(66L))
    d.select(col("f1"), tsBits.as("tb"), valBits.as("vb"))
      .groupBy(col("f1"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("tb")).as("ts_bits"), sum(col("vb")).as("val_bits"))
      .select(col("f1"), col("n_points"), col("ts_bits"), col("val_bits"),
        graft.functions.Hashing.rd4(
          (col("n_points") * lit(128.0)) / (col("ts_bits") + col("val_bits")))
          .as("ratio"))
  }

  /** STL-lite seasonal decomposition per series: trend = centered
    * (2·halfW+1)-bucket moving average, seasonal = per-(series, slot)
    * mean of the detrended values, remainder = value − trend − seasonal.
    * The classic decomposition read a dashboard layers under
    * [[seasonalBaseline]] / [[seasonalityStrength]].
    *
    * Engine-exact: `points1` totals sit on the 0.01 grid, so the trend
    * window sums CENTS as longs (order-free), divides once; the
    * detrended value is kept EXACTLY scaled as `w·cents − windowSum`
    * (long) so the slot means are again a single division of an exact
    * integer sum. Per-series ROWS windows only — a series-year at 1h is
    * ~8.8k rows per task, and series are the parallelism unit, so no
    * global sort anywhere.
    */
  def stlDecompose(pts1: DataFrame, halfW: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = 2 * halfW + 1
    val win = Window.partitionBy(col("f1")).orderBy(col("bucket"))
      .rowsBetween(-halfW, halfW)
    val trended = pts1
      .withColumn("cents", floor(col("total") * 100.0 + 0.5).cast("long"))
      .withColumn("tsum", sum(col("cents")).over(win))
      .withColumn("tcnt", count(lit(1)).over(win))
      .filter(col("tcnt") === w)
      .withColumn("detr_scaled", lit(w.toLong) * col("cents") - col("tsum"))
      .withColumn("hod", hour(col("bucket")))
    val seasonal = trended.groupBy(col("f1"), col("hod"))
      .agg(sum(col("detr_scaled")).as("s_num"), count(lit(1)).as("s_cnt"))
      .withColumn("seasonal",
        graft.functions.Hashing.rd4(
          col("s_num").cast("double") / (col("s_cnt") * lit(w * 100.0))))
    trended
      .withColumn("trend",
        graft.functions.Hashing.rd4(col("tsum").cast("double") / lit(w * 100.0)))
      .join(seasonal.select(col("f1"), col("hod"), col("seasonal")), Seq("f1", "hod"))
      .select(col("f1"), col("bucket"), col("total"), col("trend"), col("seasonal"),
        graft.functions.Hashing.rd4(
          col("total") - col("trend") - col("seasonal")).as("remainder"))
  }

  /** Per-day active-series census with churn — the cardinality-management
    * read every TSDB operator dashboard needs (kadiyadb's index grows one
    * node per live series, /root/reference/index/node.go:60; knowing how
    * many series appear and expire per day is what sizes it). A series
    * (f1=event_type, f2=user_id) is ACTIVE on a day if it has ≥1 event,
    * NEW if it was absent the previous day, CHURNED (counted on day d) if
    * it was active on d-1 and silent on d. Scale shape: the presence
    * table is a map-side-combined distinct (|series×days|, never raw
    * events), and churn is ONE full-outer self-join of that table against
    * itself shifted a day — both shuffles are bounded by the distinct
    * presence count. When the feed starts at fromDay, day 1 reports every
    * series as new; a series already active on fromDay-1 is (correctly)
    * not counted as new on fromDay.
    */
  def seriesChurn(events: DataFrame, fromDay: String, toDay: String): DataFrame = {
    val p = events
      .select(col("event_type").as("f1"), col("user_id").cast("string").as("f2"),
        to_date(col("ts")).as("day"))
      .distinct()
    // full-outer-join-free: each presence row votes on the day it proves
    // active and the next day it proves retained-into; max-combining the
    // votes per (series, day) is exactly the full-outer's null pattern,
    // with one hash aggregate instead of a sort-merge join (no sorts,
    // one presence scan instead of two)
    p.select(col("f1"), col("f2"), explode(array(
        struct(col("day").as("day"), lit(1L).as("c"), lit(0L).as("r")),
        struct(date_add(col("day"), 1).as("day"), lit(0L).as("c"), lit(1L).as("r"))))
        .as("e"))
      .select(col("f1"), col("f2"), col("e.day").as("day"),
        col("e.c").as("c"), col("e.r").as("r"))
      .groupBy(col("f1"), col("f2"), col("day"))
      .agg(max(col("c")).as("is_cur"), max(col("r")).as("is_pre"))
      .filter(col("day").between(lit(fromDay).cast("date"), lit(toDay).cast("date")))
      .groupBy(col("day"))
      .agg(
        sum(col("is_cur")).as("n_active"),
        sum(when(col("is_cur") === 1L && col("is_pre") === 0L, 1L)
          .otherwise(0L)).as("n_new"),
        sum(when(col("is_pre") === 1L && col("is_cur") === 0L, 1L)
          .otherwise(0L)).as("n_churned"))
  }

  /** DAU / trailing-WAU stickiness per day — the classic engagement ratio
    * over the events stream. WAU(d) counts users active on ANY day in
    * [d-6, d]; instead of a per-day range self-join, each (user, day)
    * presence row is exploded onto the ≤7 target days it supports and
    * distinct-counted — shuffle volume is 7×|user-days|, map-side
    * combined, with no window over raw events. Only days with a full
    * trailing week inside [fromDay, toDay] are reported.
    */
  def stickiness(events: DataFrame, fromDay: String, toDay: String,
      window: Int = 7): DataFrame = {
    val p = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = p.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = p
      .select(col("user_id"),
        explode(sequence(lit(0), lit(window - 1))).as("k"), col("day"))
      .select(col("user_id"), expr("date_add(day, k)").as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .filter(col("day").between(lit(fromDay).cast("date"), lit(toDay).cast("date")))
      .select(col("day"), col("dau"), col("wau"),
        graft.functions.Hashing.rd4(
          col("dau").cast("double") / col("wau")).as("stickiness"))
  }
}
