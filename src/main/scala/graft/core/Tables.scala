package graft.core

import scala.collection.immutable.ListMap

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{Type => ParquetType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md). */
object Tables {

  /** The declared schema of each table, in the generator's column order.
    * Every generated data dir carries exactly these types (`TablesSpec`
    * pins declared == inferred), so [[load]] never asks Spark to infer
    * one. `events.ts` is declared `TIMESTAMP_NTZ` here; [[load]] reads a
    * TIMESTAMP(NANOS) file's `ts` as its raw LONG nanos instead.
    */
  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
      "c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
      "p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
      "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
      "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, " +
      "value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  val all: Seq[String] = schemas.keys.toSeq

  /** Table `name` of data dir `dir`, read under its declared schema: no
    * call starts a Spark job (no schema inference).
    *
    * `events` also gets the Tsdb contract: `ts` as timestamp_ntz (the
    * wall clock, matching the tz-naive source and the DuckDB oracle) plus
    * `ts_ns`, the raw wall-clock nanos since epoch. `events.ts` has
    * shipped as both parquet TIMESTAMP(NANOS) and TIMESTAMP(MICROS); one
    * part file's footer, read on the driver, says which this file holds.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val declared = schemas.getOrElse(name, throw new IllegalArgumentException(
      s"unknown table '$name' (expected one of ${all.mkString(", ")})"))
    val path = s"$dir/$name.parquet"
    if (name != "events") return spark.read.schema(declared).parquet(path)
    val ts = eventsTs(spark, path)
    ts.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS =>
        // raw nanos (nanosAsLong). `div` (integer division) is required:
        // nano values exceed 2^53, so a double roundtrip would lose
        // precision. The raw column survives as ts_ns so range predicates
        // stay pushable into the parquet scan (one on the derived ts is not).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.schema(StructType(declared.map(f =>
            if (f.name == "ts") f.copy(dataType = LongType) else f)))
          .parquet(path)
          .withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case t: TimestampLogicalTypeAnnotation if !t.isAdjustedToUTC =>
        // wall-clock MICROS: `ts` IS the raw scan column, so
        // range predicates on it push down, and ts_ns is pure wall-clock
        // arithmetic on ntz with no session-timezone dependence.
        spark.read.schema(declared).parquet(path)
          .withColumn("ts_ns",
            expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case _ =>
        // A timezone-adjusted timestamp would SILENTLY shift wall clocks
        // in ts and the derived ts_ns for any non-UTC session.
        throw new IllegalStateException(
          s"events.ts in $path is '$ts' — expected TIMESTAMP(NANOS) or a " +
            "TIMESTAMP(MICROS) with isAdjustedToUTC=false; refusing a timezone-adjusted read " +
            "that would shift wall clocks")
    }
  }

  /** The parquet type of `ts` in the footer of `path` (a file, or the
    * first part file of a directory): a driver-side read, no job.
    */
  private def eventsTs(spark: SparkSession, path: String): ParquetType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    val file =
      if (!fs.getFileStatus(root).isDirectory) root
      else fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("_") &&
          !p.getName.startsWith("."))
        .sortBy(_.getName).headOption
        .getOrElse(throw new IllegalStateException(s"$path holds no parquet part file"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try reader.getFooter.getFileMetaData.getSchema.getType(Seq("ts"): _*)
    finally reader.close()
  }

  /** Ensure a CPU-heavy projection's input has at least the session's
    * shuffle-partition parallelism. Parquet splits at row-group
    * granularity, so a small file arrives as ONE scan task and
    * serializes per-row regex/shingling work onto one core while the
    * rest idle. At real corpus scale the scan already has more splits
    * than the session width and this is a no-op (nothing moves); call it
    * on the NARROW projection only, so the conditional shuffle carries
    * just the columns the hot expression needs.
    */
  def spread(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // no .rdd on a stream; micro-batches size themselves
    // If the plan already contains a shuffle-inducing operator, its output
    // is at shuffle width by construction — and, under AQE, the .rdd width
    // probe below would eagerly EXECUTE those upstream stages at plan time
    // just to read a partition count, doubling the work. Probe only
    // shuffle-free (scan + narrow) inputs, where .rdd is pure planning.
    // (coalesce — Repartition with shuffle=false — is NOT wide: it narrows
    // without an exchange, exactly the sub-width shape spread exists for)
    import org.apache.spark.sql.catalyst.plans.logical._
    val wide = df.queryExecution.optimizedPlan.collectFirst {
      case _: Aggregate | _: Join | _: Window | _: Sort | _: Deduplicate => ()
      case r: Repartition if r.shuffle => ()
      case _: RepartitionByExpression => ()
    }.isDefined
    if (wide) return df
    val target = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Source schema for text-format event feeds (`ts` as an ISO-8601
    * wall-clock string). Explicit — schema inference would both scan the
    * data twice and guess types non-deterministically.
    */
  val eventsTextSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", StringType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Load an events feed from CSV or JSON-lines with the SAME output
    * schema the parquet path produces (ts as timestamp_ntz + raw ts_ns) —
    * every Tsdb operator runs unchanged on top. ts_ns is derived at micro
    * precision (timestamp_ntz's full resolution), so a predicate on ts_ns
    * selects exactly the rows the same predicate on ts would, including
    * feeds with fractional-second timestamps.
    *
    * `value` is SNAPPED to the 2-dec cent grid at this boundary: the
    * exact-LONG-cents fused aggregates (ts_topk_movers et al.) assume
    * whole-cent values (`round(v*100)` lossless), and the generated
    * parquet honors the grid by construction (pinned in TablesSpec) — a
    * text feed carrying sub-cent values would otherwise silently diverge
    * from the per-bucket-rounded oracle arithmetic (r14 advice).
    */
  def loadEventsText(spark: SparkSession, path: String, format: String): DataFrame = {
    val reader = spark.read.schema(eventsTextSchema)
    val raw = format.toLowerCase match {
      // escape = '"' selects RFC-4180 doubled-quote style (Spark's default
      // escape is backslash, which mangles quoted JSON payload columns)
      case "csv" => reader.option("header", "true").option("escape", "\"").csv(path)
      case "json" | "jsonl" => reader.json(path)
      case other => throw new IllegalArgumentException(
        s"unsupported events text format '$other' (csv, json)")
    }
    raw
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
      .withColumn("ts_ns",
        expr("unix_micros(CAST(ts AS TIMESTAMP))") * 1000L)
      .withColumn("value", round(col("value") * 100).cast("long") / 100.0)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"), col("ts_ns"))
  }
}
