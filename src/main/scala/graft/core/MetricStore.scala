package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Store parameters — the Spark-native analog of kadiyadb's params.json
  * (/root/reference/database.go:15-31): resolution buckets points, epochs
  * partition storage, retention bounds history, `fields` names the series
  * hierarchy levels. MaxRO/MaxRWEpochs (an mmap cache concern) have no
  * Spark equivalent — the executor cache + partition pruning fill that role.
  */
final case class StoreParams(
    resolution: String = "hour",
    epochDuration: String = "day",
    retentionEpochs: Int = 30,
    fields: Seq[String] = Seq("f1", "f2")) {

  // Validation parity with kadiyadb's Open (/root/reference/database.go:128-137):
  // the epoch duration must hold a whole number of resolution buckets, and the
  // retention window a whole (positive) number of epochs — otherwise fetch
  // ranges silently misalign with bucket boundaries.
  private val resSec = StoreParams.unitSeconds(resolution)
  private val durSec = StoreParams.unitSeconds(epochDuration)
  require(durSec % resSec == 0 && durSec >= resSec,
    s"epochDuration '$epochDuration' must be a whole multiple of resolution '$resolution'")
  require(retentionEpochs >= 1, s"retentionEpochs must be >= 1, got $retentionEpochs")

  private[core] def durationSeconds: Long = durSec
}

object StoreParams {
  /** Fixed-length time units accepted for resolution/epochDuration (the
    * reference's params are integer seconds, so variable-length units like
    * month would break its duration%resolution check too).
    */
  private val Units: Map[String, Long] = Map(
    "second" -> 1L, "minute" -> 60L, "hour" -> 3600L,
    "day" -> 86400L, "week" -> 604800L)

  private def unitSeconds(u: String): Long =
    Units.getOrElse(u.toLowerCase,
      throw new IllegalArgumentException(
        s"unsupported time unit '$u' (expected one of ${Units.keys.toSeq.sorted.mkString(", ")})"))
}

/** Parquet-backed metric store with kadiyadb's DB API surface
  * (Track / Fetch / Expire / Sync — /root/reference/database.go:153-264),
  * supporting arbitrary-depth field hierarchies like the reference's index
  * tree (/root/reference/index/node.go).
  *
  * Layout: one parquet dataset partitioned by `epoch`, a string
  * partition column holding the duration-floored bucket as `yyyy-MM-dd`
  * (lexicographic order == temporal order). Track appends pre-aggregated
  * segment files (the analog of RW epoch blocks) covering EVERY prefix of
  * the field list (epoch.go:66-80); Fetch merges segments with a
  * sum-reaggregation (the analog of reading RO+RW epochs) and prunes
  * partitions by a plain string compare on `epoch`. Expire drops whole
  * epoch partition directories, exactly like cache.Expire's os.RemoveAll
  * (kadiyadb epoch/cache.go:136-156).
  *
  * Every read goes through ONE declared segment schema derived from
  * [[StoreParams]] (see [[segmentSchema]]), so no read starts a parquet
  * schema-inference job, and a store with no data yet reads as an empty
  * frame instead of failing.
  *
  * At cluster scale the same layout holds: epoch partitioning → partition
  * pruning; appends are small per-epoch deltas; compact() rewrites an
  * epoch into as many contiguous bucket-range files as its size calls for.
  */
final class MetricStore(spark: SparkSession, path: String, params: StoreParams = StoreParams()) {

  private val dataDir = s"$path/points"
  private val nFields = params.fields.length
  require(nFields >= 1, "at least one series field required")

  private def fieldCols: Seq[Column] = params.fields.map(col)

  /** The one segment schema: series fields, `bucket`, the (total, cnt)
    * accumulators, the prefix `depth`, and the `epoch` partition column
    * as a string. Every read of `points/` declares it, so Spark neither
    * samples a footer (a one-task job per read) nor retypes `epoch` as a
    * DATE; [[cascadeSchema]] extends it.
    */
  private val segmentSchema: StructType = StructType(
    params.fields.map(StructField(_, StringType)) ++ Seq(
      StructField("bucket", TimestampNTZType),
      StructField("total", DoubleType), StructField("cnt", LongType),
      StructField("depth", IntegerType), StructField("epoch", StringType)))

  /** The cascade's one schema: the segment schema plus `res_hours`.
    * [[refreshCascade]]'s written column order and [[cascade]]'s reads
    * both derive from it, so the two paths cannot drift apart.
    */
  private val cascadeSchema: StructType = StructType(
    segmentSchema.fields.take(nFields) ++
      (StructField("res_hours", IntegerType) +: segmentSchema.fields.drop(nFields)))

  /** Read an epoch-partitioned dataset under its declared schema. A
    * directory that was never written reads as an empty frame; one whose
    * every partition was dropped reads as empty through Spark itself.
    */
  private def read(dir: String, schema: StructType): DataFrame =
    if (Files.exists(Paths.get(dir))) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The raw append segments, one row per (segment, series, bucket). */
  private def segments(): DataFrame = read(dataDir, segmentSchema)

  /** Track: accumulate (total, count) per series prefix and bucket, append
    * to the epoch-partitioned store. Input schema: (ts, fields..., value).
    * One grouping-sets aggregation covers all prefix depths.
    */
  def track(events: DataFrame): Unit =
    trackIncrements(events
      .withColumn("total", col("value"))
      .withColumn("cnt", lit(1L)))

  /** Track pre-aggregated increments: kadiyadb's Track takes an arbitrary
    * (total, count) delta per call, not just single observations
    * (/root/reference/database.go:153-171) — e.g. a client that already
    * rolled up a second of data pushes (total=5.0, count=3). Input
    * schema: (ts, fields..., total, cnt); deltas sum into the same
    * store layout raw events do.
    */
  def trackIncrements(incs: DataFrame): Unit = {
    writeParamsIfAbsent()
    MetricStore.aggregateIncrements(incs, params)
      .write.mode("append").partitionBy("epoch").parquet(dataDir)
  }

  /** All points, segments merged (re-summed) back to one row per
    * (series, bucket). The epoch partition column stays available for
    * pruning by callers.
    */
  def points(): DataFrame =
    segments()
      .groupBy((Seq(col("epoch"), col("depth")) ++ fieldCols :+ col("bucket")): _*)
      .agg(sum(col("total")).as("total"), sum(col("cnt")).as("cnt"))

  /** Fetch: field-pattern + [from, to) range, kadiyadb Fetch semantics
    * (pattern length = queried depth; None = `*` wildcard). The range
    * predicate on `epoch` (a string partition column) prunes whole epoch
    * directories before any file is read. Building the frame runs no
    * Spark job, and a store with no data fetches no rows.
    */
  def fetch(from: String, to: String, pattern: Seq[Option[String]]): DataFrame = {
    require(pattern.length <= nFields, s"pattern deeper than ${params.fields}")
    val pruned = points()
      .filter(col("epoch") >= date_format(Tsdb.epochOf(lit(from), params.epochDuration), "yyyy-MM-dd")
        && col("epoch") <= date_format(Tsdb.epochOf(lit(to), params.epochDuration), "yyyy-MM-dd"))
    val depthMatch = col("depth") === lit(pattern.length)
    val fieldMatch = pattern.zip(fieldCols).foldLeft(depthMatch) {
      case (acc, (Some(v), c)) => acc && c === lit(v)
      case (acc, (None, _))    => acc // wildcard
    }
    pruned.filter(fieldMatch &&
      col("bucket") >= lit(from).cast("timestamp_ntz") &&
      col("bucket") < lit(to).cast("timestamp_ntz"))
  }

  /** Expire: physically drop epoch partitions older than `retentionEpochs`
    * counting back from the newest epoch present. Returns dropped epochs.
    * The cascade materialization is invalidated in the same call: an
    * expired epoch's cascade partition is dropped too, so [[cascade]]
    * never serves epochs [[points]] no longer has.
    */
  def expire(): Seq[String] = {
    val root = Paths.get(dataDir)
    if (!Files.exists(root)) return Seq.empty
    val epochs = listEpochDirs(root)
    if (epochs.isEmpty) return Seq.empty
    val keep = epochs.map(_._1).max
    val cutoff = java.time.LocalDate.parse(keep).minusDays(params.retentionEpochs.toLong - 1)
    val dropped = epochs.filter { case (e, _) => java.time.LocalDate.parse(e).isBefore(cutoff) }
    dropped.foreach { case (_, dir) =>
      Files.walk(dir).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    }
    dropEpochDirs(cascadeDir, dropped.map(_._1).toSet)
    dropped.map(_._1).sorted
  }

  private def cascadeDir = s"$path/cascade"

  /** Drop the named epoch partition directories under `base` (no-op for
    * epochs/dirs that don't exist) — the shared invalidation primitive
    * for expire / deleteSeries.
    */
  private def dropEpochDirs(base: String, epochs: Set[String]): Unit = {
    val root = Paths.get(base)
    if (epochs.isEmpty || !Files.exists(root)) return
    listEpochDirs(root)
      .filter { case (e, _) => epochs.contains(e) }
      .foreach { case (_, dir) =>
        Files.walk(dir).sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      }
  }

  /** Sync: parquet appends are already durable; kept for API parity with
    * kadiyadb's DB.Sync (/root/reference/database.go:258).
    */
  def sync(): Unit = ()

  /** Compact one epoch partition: merge its accumulated append segments
    * back to one pre-aggregated row per (series prefix, bucket). Bounds
    * per-epoch file counts the way kadiyadb's epoch close/snapshot does
    * for its append logs (kadiyadb index/index.go:24-65). Only the
    * named partition is rewritten (dynamic partition overwrite).
    *
    * The file count follows the epoch's size: ceil(epoch bytes /
    * `spark.sql.files.maxPartitionBytes`), read from a metadata-only
    * listing like [[expire]]'s. A small epoch becomes one file; at scale
    * an epoch of TBs becomes that many files, never one unsplittable
    * giant written by a single task. The segments are range-partitioned
    * on `bucket` and then merged: range partitioning on `bucket` already
    * clusters every (series, bucket) group, so the merge adds no second
    * exchange, and each output file is a contiguous time slice that
    * bucket-range fetches prune at the row-group level.
    */
  def compact(epoch: String): Unit = {
    val maxBytes = JavaUtils.byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    val nFiles = math.max(1L, (epochBytes(epoch) + maxBytes - 1) / maxBytes).toInt
    val merged = segments()
      .filter(col("epoch") === epoch)
      .repartitionByRange(nFiles, col("bucket"))
      .groupBy((Seq(col("epoch"), col("depth")) ++ fieldCols :+ col("bucket")): _*)
      .agg(sum(col("total")).as("total"), sum(col("cnt")).as("cnt"))
      .select(segmentSchema.fieldNames.map(col).toSeq: _*)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try merged.write.mode("overwrite").partitionBy("epoch").parquet(dataDir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Bytes of the named epoch's segment files (0 if it has none). */
  private def epochBytes(epoch: String): Long = {
    val dir = Paths.get(dataDir, s"epoch=$epoch")
    if (!Files.isDirectory(dir)) return 0L
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
    } finally s.close()
  }

  /** Materialized multi-resolution cascade — the continuous-aggregate
    * pattern (TimescaleDB caggs / Druid rollup tiers) over the store:
    * `<path>/cascade` holds coarser re-aggregations (default 6h + 24h)
    * of the hourly points at every prefix depth, partitioned by epoch.
    * Refresh is INCREMENTAL: only the named (ingest-touched) epochs are
    * recomputed and swapped via dynamic partition overwrite — dashboards
    * read [[cascade]] without ever re-summing history, and a refresh
    * after appends touches exactly the partitions the appends touched.
    * Slots must tile the day and the epoch duration so no coarse bucket
    * crosses a partition boundary (per-epoch refresh stays exact).
    */
  def refreshCascade(epochs: Seq[String], slotHours: Seq[Int] = Seq(6, 24)): Unit = {
    require(epochs.nonEmpty, "name the epochs to refresh")
    slotHours.foreach { h =>
      require(h >= 1 && h <= 24 && 24 % h == 0, s"slot ${h}h must tile the day")
      require(params.durationSeconds % (h * 3600L) == 0,
        s"slot ${h}h must tile epochDuration '${params.epochDuration}'")
    }
    def slot(h: Int) = expr(
      s"timestampadd(HOUR, CAST(floor(hour(bucket) / $h) * $h AS INT), date_trunc('DAY', bucket))")
      .cast("timestamp_ntz")
    val pts = points().filter(col("epoch").isin(epochs: _*))
    val out = slotHours.map { h =>
      pts.groupBy((Seq(col("epoch"), col("depth")) ++ fieldCols :+ slot(h).as("bucket")): _*)
        .agg(round(sum(col("total")), 2).as("total"), sum(col("cnt")).as("cnt"))
        .withColumn("res_hours", lit(h))
    }.reduce(_ union _)
      .select(cascadeSchema.fieldNames.map(col).toSeq: _*)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try out.write.mode("overwrite").partitionBy("epoch").parquet(s"$path/cascade")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** The materialized cascade (see [[refreshCascade]]); epoch kept as an
    * ISO string like [[points]].
    *
    * Invalidation contract: [[refreshCascade]] must be called after
    * track/trackIncrements appends (naming the touched epochs);
    * [[expire]] and [[deleteSeries]] maintain the cascade THEMSELVES
    * (dropping expired / fully-deleted epoch partitions and re-deriving
    * partially-deleted ones), so a cascade read never serves points that
    * were expired or deleted from the store. A cascade that was never
    * built — or whose every epoch partition was invalidated away — reads
    * as an EMPTY frame with the cascade schema.
    */
  def cascade(): DataFrame = read(cascadeDir, cascadeSchema)

  /** Targeted series deletion — the right-to-be-forgotten path a
    * training-data store needs (the reference can only Expire whole
    * epochs). Removes every LEAF row (depth = nFields) matching
    * `pattern` (Some(v) = exact, None = wildcard) and DECREMENTS every
    * ancestor prefix rollup by the removed series' contribution, so the
    * Track invariant (parent = sum of children + parent-only increments)
    * still holds. Prefix rows whose count drops to zero are removed.
    *
    * Only epochs that actually contain matches are rewritten (dynamic
    * partition overwrite); the touched-epoch list is metadata-scale,
    * like expire(). Returns the number of deleted leaf rows.
    */
  def deleteSeries(pattern: Seq[Option[String]]): Long = {
    require(pattern.length == nFields,
      s"deleteSeries pattern must name all ${params.fields} levels (use None as wildcard)")
    val pts = segments()
    val matchCond = pattern.zip(fieldCols).foldLeft(col("depth") === nFields) {
      case (acc, (Some(v), c)) => acc && c === lit(v)
      case (acc, (None, _))    => acc
    }
    val victims = pts.filter(matchCond).persist()
    val touched = victims.select(col("epoch")).distinct()
      .collect().map(_.getString(0)).toSeq // bounded by epoch count, not data
    if (touched.isEmpty) { victims.unpersist(); return 0L }
    val nDeleted = victims.count()
    val inTouched = pts.filter(col("epoch").isin(touched: _*))
    val adjustedPrefixes = (1 until nFields).map { d =>
      val keys = params.fields.take(d) ++ Seq("bucket", "epoch")
      val delta = victims.groupBy(keys.map(col): _*)
        .agg(sum(col("total")).as("__dt"), sum(col("cnt")).as("__dc"))
      inTouched.filter(col("depth") === d).join(delta, keys, "left")
        .withColumn("total", col("total") - coalesce(col("__dt"), lit(0.0)))
        .withColumn("cnt", col("cnt") - coalesce(col("__dc"), lit(0L)))
        .drop("__dt", "__dc")
        .filter(col("cnt") > 0)
    }
    val keepLeaves = inTouched.filter(col("depth") === nFields && !matchCond)
    val out = (adjustedPrefixes :+ keepLeaves).reduce(_.unionByName(_))
      .select(segmentSchema.fieldNames.map(col).toSeq: _*)
    // dynamic overwrite only rewrites partitions PRESENT in `out` — an
    // epoch whose every row was deleted would silently keep its old
    // files. Find those up front and drop their directories like expire.
    val surviving = out.select(col("epoch")).distinct()
      .collect().map(_.getString(0)).toSet
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try out.write.mode("overwrite").partitionBy("epoch").parquet(dataDir)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    dropEpochDirs(dataDir, touched.toSet -- surviving)
    // cascade invalidation: re-derive touched epochs that still have
    // points (at the slot set the cascade was built with) and drop the
    // partitions of epochs the delete emptied — refreshCascade's dynamic
    // overwrite writes only partitions PRESENT in its output, so an
    // emptied epoch must be dropped explicitly, like the points path.
    // A cascade never built, or emptied by expire, has no slots and
    // nothing to refresh.
    val slots = cascade().select(col("res_hours")).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    val refreshable = touched.filter(surviving.contains)
    if (refreshable.nonEmpty && slots.nonEmpty) refreshCascade(refreshable, slots)
    dropEpochDirs(cascadeDir, touched.toSet -- surviving)
    victims.unpersist()
    nDeleted
  }

  private def writeParamsIfAbsent(): Unit = {
    val p = Paths.get(path, MetricStore.ParamFile)
    if (!Files.exists(p)) {
      Files.createDirectories(p.getParent)
      val json = s"""{"resolution":"${params.resolution}","epochDuration":"${params.epochDuration}","retentionEpochs":${params.retentionEpochs},"fields":[${params.fields.map("\"" + _ + "\"").mkString(",")}]}"""
      Files.writeString(p, json)
    }
  }

  private def listEpochDirs(root: Path): Seq[(String, Path)] = {
    val s = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("epoch="))
        .map(p => (p.getFileName.toString.stripPrefix("epoch="), p))
        .toSeq
    } finally s.close()
  }
}

object MetricStore {

  /** Name of the per-store config file, like kadiyadb's params.json
    * (/root/reference/database.go:30).
    */
  val ParamFile = "params.json"

  /** Shared Track aggregation: (ts, fields..., total, cnt) increments →
    * per-(series-prefix, bucket) delta rows with depth + epoch columns
    * (one grouping-sets pass covers every prefix depth). Fields and
    * accumulators are cast to the store's declared segment types, so a
    * feed with integer values or ids writes segments every read accepts.
    */
  private[core] def aggregateIncrements(incs: DataFrame, params: StoreParams): DataFrame = {
    val fieldCols = params.fields.map(col)
    // Forward fold so the DEEPEST non-null field ends up as the outermost test.
    val depthCol = params.fields.zipWithIndex
      .foldLeft(lit(0)) { case (acc, (f, i)) => when(col(f).isNotNull, i + 1).otherwise(acc) }
    val base = incs
      .withColumns(params.fields.map(f => f -> col(f).cast(StringType)).toMap)
      .withColumn("bucket", Tsdb.bucket(col("ts"), params.resolution))
    val sets = (1 to params.fields.length).map(i => fieldCols.take(i) :+ col("bucket"))
    base
      .groupingSets(sets, (fieldCols :+ col("bucket")): _*)
      .agg(sum(col("total")).cast(DoubleType).as("total"), sum(col("cnt")).cast(LongType).as("cnt"))
      .withColumn("depth", depthCol)
      .withColumn("epoch",
        date_format(Tsdb.epochOf(col("bucket"), params.epochDuration), "yyyy-MM-dd"))
  }

  /** Open the existing store at `path` with the [[StoreParams]] its
    * params.json declares, like kadiyadb's Open reading its params.json.
    * Fails, naming the store, when the file is missing or unparseable:
    * reading with default params would declare the wrong series fields.
    */
  def open(spark: SparkSession, path: String): MetricStore = {
    val pf = Paths.get(path, ParamFile)
    if (!Files.isRegularFile(pf))
      throw new IllegalArgumentException(s"metric store '$path' has no $ParamFile")
    val params = parseParams(Files.readString(pf)).getOrElse(
      throw new IllegalArgumentException(s"metric store '$path' has an unparseable $ParamFile"))
    new MetricStore(spark, path, params)
  }

  /** LoadAll: open every store under `rootDir` that has a params.json —
    * the directory-of-databases layout of kadiyadb.LoadAll
    * (/root/reference/database.go:66-124). Unparseable stores are skipped,
    * matching the reference's tolerant loop.
    */
  def loadAll(spark: SparkSession, rootDir: String): Map[String, MetricStore] = {
    val root = Paths.get(rootDir)
    if (!Files.exists(root)) return Map.empty
    import scala.jdk.CollectionConverters._
    val s = Files.list(root)
    try {
      s.iterator().asScala
        .filter(Files.isDirectory(_))
        .flatMap { dir =>
          val pf = dir.resolve(ParamFile)
          if (!Files.exists(pf)) None
          else parseParams(Files.readString(pf)).map { params =>
            dir.getFileName.toString -> new MetricStore(spark, dir.toString, params)
          }
        }
        .toMap
    } finally s.close()
  }

  /** Minimal params.json parser (flat schema, no external deps). */
  private[core] def parseParams(json: String): Option[StoreParams] = {
    def str(key: String) =
      s""""$key"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
    def num(key: String) =
      s""""$key"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt)
    def arr(key: String) =
      s""""$key"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(json)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq)
    val parsed = for {
      res <- str("resolution")
      dur <- str("epochDuration")
      ret <- num("retentionEpochs")
      fs <- arr("fields")
      if fs.nonEmpty && fs.forall(_.nonEmpty)
    } yield (res, dur, ret, fs)
    // invalid unit/divisibility combos are treated like unparseable params
    // (loadAll's tolerant skip, like the reference's LoadAll error path)
    parsed.flatMap { case (res, dur, ret, fs) =>
      scala.util.Try(StoreParams(res, dur, ret, fs)).toOption
    }
  }
}
