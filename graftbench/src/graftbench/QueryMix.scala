package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.operators.{DocPairsStore, EmbPairsStore, QuantizerStore, TokenizerStore}

/** A fixed mix of `SparkEntry.queries` over the benchmark's tables, in an
  * order the seed permutes. Each timed op writes the query to Spark's
  * `noop` sink, which evaluates every column of every row; the untimed
  * check pass collects each result and compares its row count and an
  * order-insensitive digest with the recorded reference.
  */
final class QueryMix(spark: SparkSession, ctx: Ctx, o: Opts,
    queries: Seq[String], buildsStores: Boolean, val bypassed: Seq[String]) extends Workload {

  private val order = new scala.util.Random(o.seed).shuffle(queries)
  private var session: SparkSession = spark
  private val storeBuild = scala.collection.mutable.Map.empty[String, Double]
  private val storeOpen = scala.collection.mutable.Map.empty[String, Double]

  private val reference: Map[String, (Long, String)] =
    if (o.emitReference.isDefined) Map.empty
    else Files.readAllLines(Paths.get(o.referenceFile), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> ((a(1).toLong, a(2)))).toMap

  /** The four standing stores, each opened through its public reader. */
  private val stores: Seq[(String, SparkSession => Unit)] = Seq(
    "docpairs" -> (s => DocPairsStore.lshPairs(s, o.dataDir)),
    "embpairs" -> (s => EmbPairsStore.pairs(s, o.dataDir)),
    "tokenizer" -> (s => TokenizerStore.collectMerges(s, o.dataDir, 8)),
    "quantizer" -> (s => QuantizerStore.kmeans(s, o.dataDir)))

  /** Corpus mix: wipe the stores and build each cold (`build_s`), then
    * open each from a fresh session (`open_s`), which validates the
    * persisted artifacts without rebuilding. Analytics mix: open every
    * table (file listing and parquet footers) in a fresh session.
    */
  def setUp(): Unit = {
    val t0 = System.nanoTime()
    try setUpOnce() finally setUpSeconds = (System.nanoTime() - t0) / 1e9
  }

  private var setUpSeconds = 0.0

  private def setUpOnce(): Unit = {
    if (buildsStores) {
      Option(new java.io.File(sys.props("java.io.tmpdir")).listFiles).getOrElse(Array.empty)
        .filter(_.getName.startsWith("graft_")).foreach(deleteTree)
      val builder = spark.newSession()
      stores.foreach { case (name, open) =>
        storeBuild(name) = timed(open(builder))
      }
      val reader = spark.newSession()
      stores.foreach { case (name, open) =>
        storeOpen(name) = timed(open(reader))
      }
      session = reader
    } else {
      session = spark.newSession()
      graft.core.Tables.all.foreach(t => graft.core.Tables.load(session, o.dataDir, t).schema)
    }
  }

  private def deleteTree(f: java.io.File): Boolean = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def checkPass(): Unit = {
    val digests = order.map { name =>
      val rows = ctx.op(name, QueryMix.layer(name)) {
        SparkEntry.queries(name)(session, o.dataDir).collect()
      }
      name -> rows.map(r => (r.length.toLong, Digest.of(r)))
    }
    o.emitReference match {
      case Some(path) =>
        Json.writeLines(Paths.get(path),
          "# query\trows\tdigest (graftbench/README.md: how this file is made)" +:
            digests.sortBy(_._1).collect { case (n, Some((c, d))) => s"$n\t$c\t$d" })
      case None =>
        digests.foreach {
          case (name, Some((rows, digest))) =>
            reference.get(name) match {
              case None => ctx.check(name, ok = false, "no reference digest recorded")
              case Some((refRows, refDigest)) =>
                ctx.check(name, rows == refRows && digest == refDigest,
                  s"rows $rows digest $digest, reference rows $refRows digest $refDigest")
            }
          case (_, None) => () // the op failed and is already counted
        }
    }
  }

  def pass(index: Int): Unit = order.foreach { name =>
    ctx.op(name, QueryMix.layer(name)) {
      SparkEntry.queries(name)(session, o.dataDir)
        .write.format("noop").mode("overwrite").save()
    }
  }

  def finalCheck(): Unit = ()

  def details(untraced: Set[Int]): Seq[Metric] = {
    val lat = ctx.latencies(untraced, name = order.toSet)
    Metric("queries_per_pass", order.size.toDouble, "count") +:
      (Stats.supported(lat, "query", "ms") ++ storeBuild.keys.toSeq.sorted.flatMap { s =>
        Seq(Metric(s"store_${s}_build_s", storeBuild(s), "s"),
          Metric(s"store_${s}_open_s", storeOpen(s), "s"))
      })
  }

  /** Busy shares of the traced passes for the layers of this mix's
    * queries; if it builds the stores, store reads as a share of the
    * traced passes and store builds and opens as shares of the set-up,
    * whose times the info line carries.
    */
  def layerMetrics(traced: Set[Int]): Seq[Metric] = {
    val n = traced.size
    val busy = order.map(QueryMix.layer).distinct.sorted.map { l =>
      Metric(s"$l.busy_pct", ctx.busyPct(traced, l), "%", n)
    }
    busy ++ (if (!buildsStores) Nil else
      Metric("stores.read_pct", 100.0 * ctx.latencies(traced, name = QueryMix.storeReaders)
        .sum / 1000.0 / ctx.passSeconds(traced), "%", n) +:
      stores.map(_._1).flatMap { s =>
        Seq(Metric(s"stores.$s.build_pct", 100.0 * storeBuild(s) / setUpSeconds, "%"),
          Metric(s"stores.$s.open_pct", 100.0 * storeOpen(s) / setUpSeconds, "%"))
      })
  }
}

object QueryMix {
  /** The fingerprint, text-stats, RAKE, n-gram, shingle and dot kernels,
    * the readers of the four standing stores, two of the `count()`-pruned
    * examples (text_fingerprint, corpus_stats) and an inverse-scaling
    * query (contamination_check).
    */
  val Corpus: Seq[String] = Seq(
    "text_fingerprint", "corpus_stats", "text_rake_keyphrases", "text_top_bigrams",
    "dedup_minhash_lsh", "tokenizer_bpe_encode", "ann_kmeans_topk",
    "embedding_knn_clusters", "contamination_check", "sample_weighted")

  /** A TPC-H twin and an event-table fetch beside the metric store: scan,
    * exchange and scheduling bound, no graft kernels and no stores.
    */
  val Analytics: Seq[String] = Seq("q1_pricing_summary", "ts_fetch_wildcard")

  val storeReaders: Set[String] = Set(
    "dedup_minhash_lsh", "tokenizer_bpe_encode", "ann_kmeans_topk", "embedding_knn_clusters")

  def layer(name: String): String =
    if (name.startsWith("ts_")) "core.tsdb"
    else if (name.startsWith("q")) "operators.analytics"
    else if (name.startsWith("dedup_")) "operators.dedup"
    else if (name.startsWith("contamination_")) "operators.contamination"
    else if (name.startsWith("sample_")) "operators.sample"
    else if (name.startsWith("ann_") || name.startsWith("embedding_")) "operators.similarity"
    else "operators.text"

  /** At tiny scale, the first query of each layer. */
  private def pick(all: Seq[String], o: Opts): Seq[String] =
    if (o.tiny) all.filter(q => all.find(layer(_) == layer(q)).contains(q)) else all

  def corpus(spark: SparkSession, ctx: Ctx, o: Opts): QueryMix =
    new QueryMix(spark, ctx, o, pick(Corpus, o), buildsStores = true,
      bypassed = Seq("core.", "serve.", "streaming.", "operators.analytics"))
  def analytics(spark: SparkSession, ctx: Ctx, o: Opts): QueryMix =
    new QueryMix(spark, ctx, o, pick(Analytics, o), buildsStores = false, bypassed = Nil)
}

/** Order-insensitive digest of a collected result: the sum (mod 2^64) of
  * a 64-bit hash of each row's canonical text. Doubles are rounded to 6
  * significant digits, so a last-bit difference in a floating-point sum
  * does not change the digest.
  */
object Digest {
  def of(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val s = cell(r)
      val h = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      acc += (h.toLong << 32) ^ (h2.toLong & 0xffffffffL)
    }
    f"$acc%016x"
  }

  private def cell(v: Any): String = v match {
    case null => "∅"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case x => x.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toString
}
