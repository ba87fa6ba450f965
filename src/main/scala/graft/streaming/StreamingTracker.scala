package graft.streaming

import java.time.{ZoneId, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.core.{MetricStore, Tsdb}

/** Structured Streaming ingestion — the real-time Track path of the
  * reference (kadiyadb ingests metrics continuously and serves reads on
  * rolling epochs; /root/reference/database.go:153, epoch/cache.go).
  *
  * readStream → watermark → windowed (total, count) aggregation is the
  * streaming twin of Tsdb.points: same bucket semantics, late data bounded
  * by the watermark, state bounded because closed windows are evicted.
  * [[startIntoStore]] writes a MetricStore under the Track/Fetch rules of
  * its `StoreParams` (prefix sets, depth, bucket, epoch id), the ones batch
  * Track and `Tsdb`'s event family apply, so a streamed store fetches the
  * rows a batch one does.
  */
object StreamingTracker {

  /** Windowed rollup aggregation over a streaming events frame with
    * columns (ts: timestamp, f1, f2, value). Emits one row per
    * (f1, f2, bucket) when the watermark closes the window.
    */
  def trackStream(events: DataFrame, resolution: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), resolution), col("f1"), col("f2"))
      .agg(sum(col("value")).as("total"), count(lit(1)).as("cnt"))
      .select(col("window.start").as("bucket"), col("f1"), col("f2"),
        col("total"), col("cnt"))

  /** Continuous ingestion INTO a MetricStore: the streaming twin of
    * MetricStore.track, laid out by the store's `StoreParams`. One
    * watermarked window aggregation per prefix in `params.prefixes`
    * (Spark disallows grouping sets in a streaming aggregation), each
    * writing its prefix's depth, unioned into ONE query, so a single
    * writer owns `points/`. Windows are the store's `resolution` and
    * start where `Tsdb.bucket` starts; epoch ids and params.json come
    * from the store. Closed windows become segments the store's
    * segment-merging fetch already handles, committed exactly-once by
    * [[commitBatch]]; `MetricStore.open` and `loadAll` find a store that
    * only a stream ever wrote. The query runs on Spark's default trigger:
    * a micro-batch starts as soon as the previous one ends and data or a
    * watermark advance is waiting.
    *
    * `window()` tiles UTC time while `Tsdb.bucket` truncates in the
    * session time zone, so the session must run in UTC (as
    * `Harness.session` does).
    */
  def startIntoStore(events: DataFrame, store: MetricStore, checkpointDir: String,
      watermark: String = "2 hours"): Seq[StreamingQuery] = {
    val tz = events.sparkSession.sessionState.conf.sessionLocalTimeZone
    require(ZoneId.of(tz).normalized() == ZoneOffset.UTC,
      s"startIntoStore needs a UTC session time zone, got '$tz'")
    val params = store.params
    val len = s"1 ${params.resolution}"
    // window() tiles from 1970-01-01, a Thursday; Tsdb.bucket's weeks start on Monday
    val start = if (params.resolution.equalsIgnoreCase("week")) "4 days" else "0 seconds"
    val base = events
      .withColumns(params.fields.map(f => f -> col(f).cast(StringType)).toMap)
      .withWatermark("ts", watermark)
    val depths = params.prefixes.map { prefix =>
      base.groupBy(window(col("ts"), len, len, start) +: prefix.map(col): _*)
        .agg(sum(col("value")).cast(DoubleType).as("total"), count(lit(1)).as("cnt"))
        .select(params.seriesCols(prefix.length) ++
          Seq(col("window.start").cast("timestamp_ntz").as("bucket"),
            col("total"), col("cnt"), lit(prefix.length).as("depth")): _*)
    }
    store.writeParamsIfAbsent()
    Seq(eachBatch(depths.reduce(_ union _).withColumn("epoch", params.epochId(col("bucket"))),
      s"$checkpointDir/union")(commitBatch(store.path)))
  }

  /** Starts `input` as an Append query checkpointed at `checkpointDir`
    * that hands each micro-batch and its id to `sink`: the writeStream
    * shell of every foreachBatch sink below.
    */
  private def eachBatch(input: DataFrame, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(sink)
      .start()

  /** Exactly-once micro-batch commit: stage → move → marker.
    * A replayed batchId is skipped (marker exists). A crash between stage
    * and marker leaves either staging files (invisible to the store) or
    * partially-moved `batch-<id>-*.parquet` files + no marker — the replay
    * first clears this batch's files from each epoch it touches (the
    * touched-epoch set is deterministic: same checkpointed batch data),
    * then re-moves, so data is never doubled and never lost.
    *
    * The batch is written with its natural partitioning — NOT coalesce(1):
    * a large micro-batch would otherwise serialize through one task and
    * one giant file. Deterministic `batch-<id>-<part>` names keep the
    * replay idempotent with any number of part files.
    */
  def commitBatch(storePath: String)(batch: DataFrame, batchId: Long): Unit = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    def ls(p: Path): Seq[Path] = {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    commitOnce(storePath, "", batchId) {
      val stagingDir = Paths.get(storePath, "_staging", batchId.toString)
      batch.write.mode("overwrite").partitionBy("epoch").parquet(stagingDir.toString)
      ls(stagingDir).foreach { epochDir =>
        val name = epochDir.getFileName.toString
        if (name.startsWith("epoch=")) {
          val target = Paths.get(storePath, MetricStore.PointsDir, name)
          Files.createDirectories(target)
          // clear any partial move from a crashed earlier attempt of THIS batch
          ls(target)
            .filter(_.getFileName.toString.matches(s"batch-$batchId-\\d+\\.parquet"))
            .foreach(Files.delete(_))
          val parts = ls(epochDir)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .sortBy(_.getFileName.toString)
          parts.zipWithIndex.foreach { case (f, i) =>
            Files.move(f, target.resolve(s"batch-$batchId-$i.parquet"),
              StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
    }
  }

  /** The batch-id commit marker `<storePath>/_commits/<tag><batchId>`:
    * runs `work`, then writes the marker, unless the marker already exists
    * (a replay of a committed batch). True iff `work` ran.
    */
  private def commitOnce(storePath: String, tag: String, batchId: Long)(
      work: => Unit): Boolean = {
    import java.nio.file.{Files, Paths}
    val marker = Paths.get(storePath, "_commits", s"$tag$batchId")
    val fresh = !Files.exists(marker)
    if (fresh) {
      work
      Files.createDirectories(marker.getParent)
      Files.createFile(marker)
    }
    fresh
  }

  /** Streaming exact dedup for continuous document ingestion: drop any
    * document whose content hash was already seen within the watermark
    * horizon. `dropDuplicatesWithinWatermark` keeps per-hash state only
    * until the watermark passes it — bounded state at any input scale,
    * unlike a plain streaming `dropDuplicates` whose state grows with the
    * corpus forever. Batch twin: Dedup.exact (same md5 identity), so a
    * backfill and a live tail agree on what is a duplicate.
    */
  def dedupStream(docs: DataFrame, watermark: String): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Streaming incremental NEAR-dup dedup: each arriving micro-batch of
    * (doc_id, text) is decided against the persisted
    * [[graft.operators.LshIndexStore]] — zero corpus re-scan, exactly
    * the batch-side `incrementalDedupFromIndex` path — and survivors'
    * band/text rows are appended so later micro-batches dedup against
    * them too. Decisions land in `outDir` as one parquet append per
    * micro-batch. foreachBatch because the per-batch work is a
    * multi-stage join pipeline plus two store appends, not a stateful
    * operator; the store append is idempotence-guarded by a batch-id
    * marker (same stage-then-marker shape as [[commitBatch]], one
    * marker per micro-batch — a replayed batch re-emits decisions but
    * never double-appends the index).
    */
  def incrementalDedupStream(docs: DataFrame, storePath: String, outDir: String,
      checkpointDir: String, threshold: Double): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val store = new graft.operators.LshIndexStore(batch.sparkSession, storePath)
      val fresh = commitOnce(storePath, "", batchId) {
        store.ingest(batch, threshold).write.mode("append").parquet(outDir)
      }
      if (!fresh) store.decide(batch, threshold).write.mode("append").parquet(outDir)
    }

  /** Streaming content-novelty gate — each arriving micro-batch of
    * (doc_id, text) is scored against the [[graft.operators.LshIndexStore]]'s
    * persisted shingle-type set (one novelty row per batch appended to
    * `outDir`), then the batch's unseen types are folded into the store so
    * later batches measure against the grown set. The live twin of
    * [[graft.operators.Dedup.ngramNoveltyOf]]'s ingest-decile curve: a
    * crawl scheduler watches this stream sag toward zero to decide a feed
    * has saturated. Type appends are idempotence-guarded by batch-id
    * markers (a replayed batch re-emits its novelty row but never
    * double-appends types — which would not corrupt the DISTINCT type
    * set, but would double the store's row count).
    */
  def noveltyGateStream(docs: DataFrame, storePath: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(docs, checkpointDir) { (batch, batchId) =>
      val store = new graft.operators.LshIndexStore(batch.sparkSession, storePath)
      val nov = store.noveltyOf(batch)
        .withColumn("batch_id", lit(batchId))
        .localCheckpoint() // freeze BEFORE the type append changes the store
      nov.write.mode("append").parquet(outDir)
      commitOnce(storePath, "nov_", batchId)(store.appendTypes(batch))
    }

  /** Streaming ANN ingestion — arriving embedding micro-batches encoded
    * against the PERSISTED IVF-PQ quantizers and appended to the store
    * (the live twin of AnnIndexStore.append; no retraining, no touch of
    * already-indexed rows). Batch-id markers make the append idempotent
    * under at-least-once redelivery, exactly like
    * [[incrementalDedupStream]]'s commit guard. Searches against the
    * store see a batch as soon as its parquet lands.
    */
  def annIngestStream(vectors: DataFrame, storePath: String,
      checkpointDir: String): StreamingQuery =
    eachBatch(vectors, checkpointDir) { (batch, batchId) =>
      commitOnce(storePath, "ann_", batchId) {
        new graft.operators.AnnIndexStore(batch.sparkSession, storePath).append(batch)
      }
    }

  /** Streaming semantic-contamination gate — each micro-batch of train
    * embeddings is scored against a STATIC held-out test table via the
    * batch contaminationSemantic operator (union with the broadcast test
    * side, LSH-band blocked, cos ≥ threshold), flagged rows appended to
    * `outDir`. The batch operator is engine-verified once by its oracle;
    * the stream reuses it unchanged — the same reuse contract as
    * streaming_quality_gate.
    */
  def contaminationGateStream(vectors: DataFrame, testSet: DataFrame,
      outDir: String, checkpointDir: String, threshold: Double): StreamingQuery =
    eachBatch(vectors, checkpointDir) { (batch, _) =>
      graft.operators.Similarity.contaminationSemantic(
        batch.withColumn("__t", lit(false))
          .unionByName(testSet.withColumn("__t", lit(true))),
        col("__t"), threshold)
        .write.mode("append").parquet(outDir)
    }

  /** Streaming sessionization — the live twin of Tsdb.sessionize, using
    * Spark's native dynamic-gap `session_window`: a session closes (and
    * its single row emits) once the watermark passes gap beyond its last
    * event, so state per open session is one window, merged as events
    * extend it.
    */
  def sessionStream(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming error-budget burn — the live twin of Tsdb.burnRate's
    * short window: per tumbling hour, the error fraction of all traffic
    * (f1 carries the event type) against the SLO budget, emitted when
    * the watermark closes the window. State is one window per hour —
    * O(open windows), independent of throughput.
    */
  def burnRateStream(events: DataFrame, watermark: String,
      budget: Double): DataFrame =
    Tsdb.hourlyErrors(events.withWatermark("ts", watermark),
        window(col("ts"), "1 hour"), col("f1"))
      .select(col("window.start").as("bucket"), col("n_err"), col("n_all"),
        graft.functions.Hashing.rd4(
          col("n_err") / col("n_all") / budget).as("burn"),
        (col("n_err").cast("double") / col("n_all") > budget).as("alert"))

  /** Sliding-window threshold alert: per-series totals over a window of
    * `windowLen` sliding by `slide`, emitting only windows whose total
    * crosses `threshold` when the watermark closes them. The streaming
    * twin of the batch interval-join trigger (Tsdb.activityWindows).
    */
  def slidingAlert(events: DataFrame, windowLen: String, slide: String,
      watermark: String, threshold: Double): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("f1"))
      .agg(sum(col("value")).as("total"), count(lit(1)).as("n_events"))
      .filter(col("total") >= threshold)
      .select(col("f1"), col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("total"), col("n_events"))

  /** Keyed in-order replay, the shell of the six flatMapGroupsWithState
    * twins below: group `points` by `key`, sort each key's micro-batch
    * points by `order`, and `fold` them over the key's prior state. The
    * fold returns the state to keep (None leaves the stored state as it
    * is) and the rows to emit. Append output, no timeout.
    */
  private def replay[V, K: Encoder, T: Ordering, S: Encoder, R: Encoder](
      points: Dataset[V])(key: V => K, order: V => T)(
      fold: (K, Option[S], Seq[V]) => (Option[S], Iterator[R])): Dataset[R] =
    points.groupByKey(key)
      .flatMapGroupsWithState[S, R](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: K, it: Iterator[V], state: GroupState[S]) =>
          val (next, out) = fold(k, state.getOption, it.toSeq.sortBy(order))
          next.foreach(state.update)
          out
      }

  final case class TaggedPoint(f2: String, side: Int, ts: java.sql.Timestamp, value: Double)
  final case class AsofMatch(f2: String, ts: java.sql.Timestamp, value: Double,
      b_ts: Option[java.sql.Timestamp], b_value: Option[Double])

  /** Streaming as-of join — the live twin of Tsdb.asofJoin. Both streams
    * arrive union-tagged (side 0 = build, 1 = probe) and keyed by series.
    * Per-key state is a BOUNDED buffer of recent build points: every
    * build within `horizonMs` of the key's newest build is retained
    * (plus one floor entry just past the horizon, so a probe at the
    * boundary still has its as-of match). State size is
    * O(|keys| · builds-per-horizon) regardless of throughput. Within a
    * micro-batch events are replayed in (ts, side) order — build before
    * probe on ties, matching the batch operator's inclusive ≥ semantics;
    * a probe with no prior build emits an unmatched row (left semantics).
    *
    * Parity scope: a build or probe arriving OUT OF ORDER across
    * micro-batches matches batch semantics as long as it lands within
    * the horizon — a late build is inserted into the buffer (probes
    * processed AFTER it match it exactly as batch would; append mode
    * means rows already emitted are not retracted), and a late probe
    * finds the correct older build in the buffer rather than the newest
    * one. Only data later than the horizon degrades (a beyond-horizon
    * build inserts after the floor entry was compacted; size the horizon
    * to the source's max disorder, e.g. the Kafka retention of a
    * partition-skewed topic). For fully sealed data use the batch
    * Tsdb.asofJoin.
    *
    * STATE-FORMAT VERSIONING: the per-key state carries an explicit
    * format version ([[AsofStateVersion]]), checked on every read — a
    * checkpoint written by a different format fails LOUDLY with an
    * upgrade instruction instead of mis-decoding (the round-4
    * tuple→List widening relied on the engine's schema check alone;
    * same-schema semantic changes would have slipped through). Bump the
    * version on ANY change to the buffer's meaning, and restart with a
    * FRESH checkpoint directory across a bump (acceptable pre-release).
    */
  def asofStream(spark: SparkSession, points: Dataset[TaggedPoint],
      horizonMs: Long = 3600000L): Dataset[AsofMatch] = {
    import spark.implicits._
    replay(points)(_.f2, e => (e.ts.getTime, e.side)) {
      (f2: String, prior: Option[AsofState], ordered: Seq[TaggedPoint]) =>
        prior.foreach(s => requireAsofStateVersion(s.version))
        var buf = prior.map(_.buf).getOrElse(Nil) // ascending by ts
        val out = Seq.newBuilder[AsofMatch]
        ordered.foreach { e =>
          if (e.side == 0) {
            // insert keeping ascending order; an equal-ts re-delivery
            // replaces the old value (last write wins, like batch
            // replay order)
            buf = (buf.filterNot(_._1.getTime == e.ts.getTime)
              :+ ((e.ts, e.value))).sortBy(_._1.getTime)
          } else {
            val m = buf.filter(_._1.getTime <= e.ts.getTime).lastOption
            out += AsofMatch(f2, e.ts, e.value, m.map(_._1), m.map(_._2))
          }
        }
        // evict below (newest build - horizon), keeping the newest
        // evictee as the floor match for boundary probes
        val kept = buf.lastOption.map { newest =>
          val (old, recent) = buf.partition(_._1.getTime < newest._1.getTime - horizonMs)
          AsofState(AsofStateVersion, old.lastOption.toList ++ recent)
        }
        (kept, out.result().iterator)
    }
  }

  /** Current [[asofStream]] per-key state format. v2 = versioned
    * watermarked build buffer (v1 was the unversioned List state).
    */
  val AsofStateVersion = 2

  final case class AsofState(version: Int,
      buf: List[(java.sql.Timestamp, Double)])

  /** The loud gate [[asofStream]] applies to every state read: any
    * version mismatch — an old checkpoint that happens to decode, or a
    * newer writer's state read by older code — aborts the query with an
    * upgrade instruction instead of silently mis-interpreting the buffer.
    */
  private[graft] def requireAsofStateVersion(v: Int): Unit =
    if (v != AsofStateVersion)
      throw new IllegalStateException(
        s"asofStream state format v$v incompatible with expected v$AsofStateVersion — " +
          "this checkpoint was written by a different graft version; " +
          "restart the query with a fresh checkpoint directory")

  final case class RateOut(f1: String, f2: String, ts: java.sql.Timestamp,
      increase: Option[Double])

  /** Streaming reset-aware counter rate — the live twin of
    * Tsdb.rateCounter. Per-key state is ONLY the previous sample value
    * (O(|keys|)); each micro-batch replays its samples in ts order and
    * emits PromQL increase() semantics: drop in value = counter reset,
    * the post-reset sample is the delta; first-ever sample emits None.
    * Same in-order cross-batch parity scope as [[asofStream]].
    */
  def rateStream(spark: SparkSession, points: Dataset[Point]): Dataset[RateOut] = {
    import spark.implicits._
    replay(points)(p => (p.f1, p.f2), _.ts.getTime) {
      (key: (String, String), prior: Option[Double], ordered: Seq[Point]) =>
        var prev = prior
        val out = ordered.map { p =>
          val inc = prev.map(pv => if (p.value >= pv) p.value - pv else p.value)
          prev = Some(p.value)
          RateOut(key._1, key._2, p.ts, inc)
        }
        (prev, out.iterator)
    }
  }

  final case class CusumOut(f1: String, f2: String, ts: java.sql.Timestamp,
      cusum: Double, alarm: Boolean)

  /** Streaming one-sided CUSUM — the live twin of Tsdb.cusum. Per-key
    * state is ONLY the running clamped sum c (O(|keys|)); each sample
    * applies Tsdb.cusumStep, c = max(0, c + value - target), emits c at
    * the batch operator's 4-decimal grid and alarms once the unrounded c
    * passes `h`, so a slow drift pages long before any single bucket
    * would. Batch and stream share the step, so replaying the batch
    * history through the stream yields identical values. Same in-order
    * cross-batch parity scope as [[asofStream]].
    */
  def cusumStream(spark: SparkSession, points: Dataset[Point],
      target: Double, h: Double): Dataset[CusumOut] = {
    import spark.implicits._
    replay(points)(p => (p.f1, p.f2), _.ts.getTime) {
      (key: (String, String), prior: Option[Double], ordered: Seq[Point]) =>
        var c = prior.getOrElse(0.0)
        val out = ordered.map { p =>
          c = Tsdb.cusumStep(c, p.value, target)
          CusumOut(key._1, key._2, p.ts, Tsdb.rd4d(c), c > h)
        }
        (Some(c), out.iterator)
    }
  }

  final case class HwState(i: Long, lvl: Double, tr: Double, se: Seq[Double])
  final case class HwOut(f1: String, f2: String, ts: java.sql.Timestamp,
      total: Double, forecast: Double)

  /** Streaming additive Holt-Winters — the live twin of Tsdb.holtWinters:
    * per-series (level, trend, seasonal[m]) state advanced point-by-point
    * with flatMapGroupsWithState, emitting each point's one-step-ahead
    * forecast (the anomaly monitor compares it to the arrival). State is
    * O(|series| · m) doubles regardless of throughput; within a
    * micro-batch points replay in ts order, so an in-order feed
    * reproduces the batch fold bit-for-bit (same IEEE ops in the same
    * order — StreamingSpec proves equality against the batch operator
    * across a micro-batch split).
    */
  def holtWintersStream(spark: SparkSession, points: Dataset[Point],
      alpha: Double, beta: Double, gamma: Double, m: Int): Dataset[HwOut] = {
    import spark.implicits._
    replay(points)(p => (p.f1, p.f2), _.ts.getTime) {
      (key: (String, String), prior: Option[HwState], ordered: Seq[Point]) =>
        val hw = prior match {
          case Some(st) => new Tsdb.HwFold(alpha, beta, gamma, st.i, st.lvl, st.tr, st.se.toArray)
          case None => new Tsdb.HwFold(alpha, beta, gamma, 0L, 0.0, 0.0, new Array[Double](m))
        }
        val out = ordered.map { p =>
          HwOut(key._1, key._2, p.ts, p.value, Tsdb.rd4d(hw.step(p.value)))
        }
        (Some(HwState(hw.i, hw.lvl, hw.tr, hw.se.toSeq)), out.iterator)
    }
  }

  final case class AttrState(first: Option[String], last: Option[String])
  final case class AttrOut(f2: String, ts: java.sql.Timestamp, revenue: Double,
      first_touch: String, last_touch: String)

  /** Streaming marketing attribution — the live twin of
    * Tsdb.attribution. Per-user state is ONLY (first touch, last touch)
    * — two small strings, O(|users|) regardless of stream length — and
    * each purchase emits its attributed row the moment it arrives
    * (batch attribution waits for the full history). f1 carries the
    * event type, f2 the user. Parity scope: replaying the batch
    * history through the stream yields the batch operator's
    * first/last assignments for in-order feeds with DISTINCT
    * timestamps per user. At equal timestamps the batch operator
    * breaks ties on event_id, which [[Point]] does not carry; the
    * stream instead applies the deterministic touches-before-purchase
    * rule (a same-instant touch counts for the purchase).
    */
  def attributionStream(spark: SparkSession, points: Dataset[Point]): Dataset[AttrOut] = {
    import spark.implicits._
    // equal-ts tie-break: touches apply before the purchase
    replay(points)(_.f2, p => (p.ts.getTime, if (p.f1 == "purchase") 1 else 0, p.f1)) {
      (user: String, prior: Option[AttrState], ordered: Seq[Point]) =>
        var st = prior.getOrElse(AttrState(None, None))
        val out = Seq.newBuilder[AttrOut]
        ordered.foreach { p =>
          p.f1 match {
            case "view" | "click" =>
              st = AttrState(st.first.orElse(Some(p.f1)), Some(p.f1))
            case "purchase" =>
              out += AttrOut(user, p.ts, p.value,
                st.first.getOrElse("none"), st.last.getOrElse("none"))
            case _ => ()
          }
        }
        (Some(st), out.result().iterator)
    }
  }

  final case class TopkOut(f1: String, f2: String, est: Long, err: Long, rank: Int)

  /** Streaming heavy hitters per series group — the live twin of
    * Tsdb.topkApprox. Per-f1 state is a SpaceSaving sketch (Metwally
    * 2005) of at most `m` counters — O(|f1| · m), independent of both
    * stream length and key cardinality, the property that makes it safe
    * at firehose scale where exact per-key counts would be unbounded
    * state. Guarantees preserved: est ≥ true ≥ est − err for tracked
    * keys, and any key with true count > N/m is tracked. Each
    * micro-batch replays its points in (ts, f2) order — deterministic —
    * and emits the current top-k snapshot (Append mode: one snapshot
    * per group per batch, a monitoring read). Eviction ties break on
    * key order, so replays are reproducible.
    */
  def topkStream(spark: SparkSession, points: Dataset[Point],
      m: Int = 8, k: Int = 3): Dataset[TopkOut] = {
    import spark.implicits._
    replay(points)(_.f1, p => (p.ts.getTime, p.f2)) {
      (f1: String, prior: Option[Map[String, (Long, Long)]], ordered: Seq[Point]) =>
        var sk = prior.getOrElse(Map.empty[String, (Long, Long)])
        ordered.foreach { p =>
          sk.get(p.f2) match {
            case Some((c, e)) => sk += p.f2 -> ((c + 1, e))
            case None if sk.size < m => sk += p.f2 -> ((1L, 0L))
            case None =>
              // replace the min counter (key tie-break), inherit its
              // count as the new key's overestimation error
              val (minKey, (minC, _)) = sk.minBy { case (kk, (c, _)) => (c, kk) }
              sk = sk - minKey + (p.f2 -> ((minC + 1, minC)))
          }
        }
        (Some(sk), sk.toSeq.sortBy { case (kk, (c, _)) => (-c, kk) }.take(k)
          .zipWithIndex.map { case ((f2, (c, e)), i) => TopkOut(f1, f2, c, e, i + 1) }.iterator)
    }
  }

  final case class Point(f1: String, f2: String, ts: java.sql.Timestamp, value: Double)
  final case class Latest(f1: String, f2: String, ts: java.sql.Timestamp, value: Double)

  /** Latest-point-per-series via arbitrary stateful processing —
    * kadiyadb's "current value" read on the RW epoch, kept incrementally
    * with mapGroupsWithState instead of a full re-aggregation.
    */
  def latestPerSeries(spark: SparkSession, points: Dataset[Point]): Dataset[Latest] = {
    import spark.implicits._
    points
      .groupByKey(p => (p.f1, p.f2))
      .mapGroupsWithState[Latest, Latest](GroupStateTimeout.NoTimeout) {
        case ((f1, f2), it, state: GroupState[Latest]) =>
          val incoming = it.maxBy(_.ts.getTime)
          val best = state.getOption match {
            case Some(cur) if cur.ts.getTime >= incoming.ts.getTime => cur
            case _ => Latest(f1, f2, incoming.ts, incoming.value)
          }
          state.update(best)
          best
      }
  }
}
