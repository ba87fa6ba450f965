package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run (see graftbench/README.md). */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    dataDir: String,
    runDir: Path,
    referenceFile: String,
    spec: String,
    tiny: Boolean,
    injectFailure: Boolean,
    emitReference: Option[String])

object Opts {
  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      dataDir = need("data"),
      runDir = Paths.get(need("run-dir")),
      referenceFile = need("reference"),
      spec = need("spec"),
      tiny = kv.get("tiny").contains("1"),
      injectFailure = kv.get("inject-failure").contains("1"),
      emitReference = kv.get("emit-reference"))
  }
}

/** One metric as printed: name, value, unit and the number of samples it
  * summarizes (1 for a single reading).
  */
final case class Metric(name: String, value: Double, unit: String, n: Int = 1)

/** A workload: a repeatable set-up, an untimed check pass that verifies
  * every op's output, and a fixed op sequence (one pass) that the runner
  * repeats in a closed loop with one client thread.
  */
trait Workload {
  /** Build the workload's state from scratch, in a JVM that has run
    * nothing else, leaving it ready for the check pass; its time is
    * `setup_s`.
    */
  def setUp(): Unit
  /** Run every op once, untimed, and check its output. */
  def checkPass(): Unit
  /** One pass of the fixed op sequence; every op goes through `ctx.op`. */
  def pass(index: Int): Unit
  /** Output checks that need the whole run (conservation, retention). */
  def finalCheck(): Unit
  /** Workload-specific end-to-end figures, printed beside the contract
    * metrics.
    */
  def details(untracedPasses: Set[Int]): Seq[Metric]
  /** Per-layer figures from the traced passes (`passes` of them). */
  def layerMetrics(tracedPasses: Set[Int]): Seq[Metric]
  /** Name prefixes of the declared per-layer metrics this workload does
    * not exercise: they read 0. Any other declared metric it does not
    * compute is a benchmark defect.
    */
  def bypassed: Seq[String]
}

object Main {
  val Workloads: Seq[String] =
    Seq("tsdb_track_fetch", "corpus_curation")

  def main(argv: Array[String]): Unit = sys.exit(run(Opts.parse(argv)))

  /** One run of one workload; returns the exit code (0 = all ops and
    * output checks passed). The last stdout line is the result.
    */
  def run(o: Opts): Int = {
    require(Workloads.contains(o.workload),
      s"unknown workload ${o.workload} (expected one of ${Workloads.mkString(", ")})")
    val nproc = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"graftbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", o.runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.runDir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (o.trace)
      builder.config("spark.sql.queryExecutionListeners", classOf[ExecutionCounter].getName)
    val spark = builder.getOrCreate()
    // wall-clock seconds of each phase of the run, for the info line
    val phases = ArrayBuffer("session" ->
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
    var phaseAt = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases += name -> (now - phaseAt) / 1e9
      phaseAt = now
    }
    spark.sparkContext.setLogLevel("ERROR")

    val trace = if (o.trace) Some(new Trace(spark)) else None
    val ctx = new Ctx(trace)
    val wl: Workload = o.workload match {
      case "tsdb_track_fetch" => new TsdbTrackFetch(spark, ctx, o)
      case "corpus_curation"  => QueryMix.corpus(spark, ctx, o)
    }

    // --- set-up, once and cold: a run is one fresh JVM, and every run
    // of every workload pays this
    val setUpT0 = System.nanoTime()
    wl.setUp()
    val setUpSeconds = (System.nanoTime() - setUpT0) / 1e9
    val heap = ArrayBuffer(Host.liveHeapBytes())
    phase("set_up")
    wl.checkPass()
    phase("check_pass")
    val firstOpAt = System.currentTimeMillis()

    // --- timed passes, closed loop, one client thread. Whole passes
    // only, so every run times the same op multiset; traced runs
    // alternate untraced and traced passes so the overhead is measured
    // inside one JVM. Another pass starts only if it should end within
    // --seconds, after the minimum.
    val minPasses = 2
    val walls = ArrayBuffer.empty[(Int, Double, Boolean)]
    val cpus = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (walls.size < minPasses || elapsed + walls.map(_._2).max <= o.seconds) {
      val traced = o.trace && i % 2 == 1
      graft.core.SharedViews.reclaimEverything(spark)
      spark.catalog.clearCache()
      ctx.beginPass(i, traced)
      ctx.takeUntimedSeconds()
      val p0 = System.nanoTime()
      val c0 = ctx.cpuNs
      wl.pass(i)
      if (o.injectFailure) ctx.op("bench.injected_failure", "bench") {
        throw new IllegalStateException("deliberately failing op (--inject-failure 1)")
      }
      val wall = (System.nanoTime() - p0) / 1e9 - ctx.takeUntimedSeconds()
      cpus += (ctx.cpuNs - c0) / 1e9
      ctx.endPass(wall)
      walls += ((i, wall, traced))
      heap += Host.liveHeapBytes()
      i += 1
    }
    phase("timed_passes")
    wl.finalCheck()
    phase("final_check")
    val sentinels = Host.sentinels(spark)
    phase("sentinels")
    trace.foreach(_.drain())

    val untraced = walls.filterNot(_._3).map(_._1).toSet
    val traced = walls.filter(_._3).map(_._1).toSet
    val wall = Stats.median(walls.filterNot(_._3).map(_._2).toSeq)
    val opMedians = ctx.names(untraced).map(n => Stats.median(ctx.latencies(untraced, name = _ == n)))
    val endToEnd = Seq(
      Metric("setup_s", setUpSeconds, "s"),
      Metric("wall_s", wall, "s", untraced.size),
      Metric("op_p50_gmean_ms", Stats.geomean(opMedians), "ms", ctx.latencies(untraced).size),
      Metric("peak_heap_mb", heap.max / 1048576.0, "MB", heap.size))
    val details = wl.details(untraced)
    val layers = trace.toSeq.flatMap { tr =>
      val tracedWall = Stats.median(walls.filter(_._3).map(_._2).toSeq)
      Seq(Metric("trace.overhead_ratio", tracedWall / wall, "ratio", traced.size)) ++
        sentinels ++ tr.sparkMetrics(traced.size) ++
        Kernels.measure(spark, o) ++ wl.layerMetrics(traced)
    }
    phase("metrics")

    // the declared metric list is the contract: a declared metric of a
    // layer the workload bypasses reads 0; a declared metric it should
    // compute but did not, a computed one missing from the list, or one
    // with another unit, is a benchmark defect
    val declared = Spec.metrics(o.spec, if (o.trace) "per_layer" else "end_to_end")
    val computed = (if (o.trace) layers else endToEnd).map(m => m.name -> m).toMap
    val skipped = declared.filter { case (name, _) =>
      !computed.contains(name) && wl.bypassed.exists(name.startsWith)
    }
    val defects = computed.values.collect {
      case m if !declared.exists(_._1 == m.name) => s"metric ${m.name} is not declared"
      case m if !declared.contains((m.name, m.unit)) => s"metric ${m.name} unit ${m.unit} differs"
      case m if m.value.isNaN || m.value.isInfinite => s"metric ${m.name} is not finite"
    }.toSeq ++ declared.collect {
      case (name, _) if !computed.contains(name) && !skipped.exists(_._1 == name) =>
        s"metric $name is declared but was not computed"
    }
    defects.foreach(System.err.println)
    val reported = declared.map { case (name, unit) =>
      computed.getOrElse(name, Metric(name, 0.0, unit, 0))
    }

    val failures = ctx.failures
    val info = Json.obj(
      "workload" -> Json.str(o.workload),
      "seed" -> Json.num(o.seed.toDouble),
      "trace" -> Json.num(if (o.trace) 1 else 0),
      "loop" -> Json.str("closed, 1 client thread"),
      "nproc" -> Json.num(nproc),
      "heap_cap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "jvm_start_to_first_timed_op_s" -> Json.num(
        (firstOpAt - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0),
      "phases_s" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }.toSeq: _*),
      "passes" -> Json.num(walls.size),
      "pass_walls_s" -> Json.arr(walls.map(w => Json.num(w._2)).toSeq),
      "pass_cpu_s" -> Json.arr(cpus.map(c => Json.num(c)).toSeq),
      "host" -> metricsJson(sentinels, withN = true),
      "end_to_end" -> metricsJson(endToEnd, withN = true),
      "detail" -> metricsJson(details, withN = true),
      "layer_busy_s_per_traced_pass" -> metricsJson(ctx.layers(traced).map { l =>
        Metric(l, ctx.busySeconds(traced, l) / traced.size, "s", traced.size)
      }, withN = true),
      "op_p50_ms_by_name" -> metricsJson(ctx.names(untraced).map { n =>
        val l = ctx.latencies(untraced, name = _ == n)
        Metric(n, Stats.median(l), "ms", l.size)
      }, withN = true),
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(failures.size),
      "error_rate" -> Json.num(failures.size.toDouble / math.max(1, ctx.attempted)),
      "failed_ops" -> Json.arr(failures.map(Json.str)),
      "metrics_computed" -> Json.arr(computed.keys.toSeq.sorted.map(Json.str)),
      "metrics_bypassed" -> Json.arr(skipped.map(m => Json.str(m._1))),
      "metric_defects" -> Json.arr(defects.map(Json.str)))
    println(Json.obj("info" -> info))
    (endToEnd ++ details ++ layers).foreach { m =>
      System.err.println(f"  ${m.name}%-44s ${m.value}%14.4f ${m.unit}%-10s n=${m.n}")
    }
    failures.foreach(f => System.err.println(s"FAILED: $f"))
    trace.foreach(_.writeSpans(o.runDir.resolve("spans.jsonl")))
    spark.stop()

    val correct = failures.isEmpty && defects.isEmpty
    println(Json.obj(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(failures.size),
      "metrics" -> metricsJson(reported, withN = false)))
    System.out.flush()
    if (correct) 0 else 1
  }

  private def metricsJson(ms: Seq[Metric], withN: Boolean): String =
    Json.obj(ms.map { m =>
      val fields = Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)) ++
        (if (withN) Seq("n" -> Json.num(m.n)) else Nil)
      m.name -> Json.obj(fields: _*)
    }: _*)
}

/** Op accounting shared by every workload: attempts, failures (named),
  * and the latency of every op in a timed pass.
  */
final class Ctx(val trace: Option[Trace]) {
  private final case class Sample(pass: Int, layer: String, name: String, ms: Double)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM so far. */
  def cpuNs: Long = os.getProcessCpuTime
  private val samples = ArrayBuffer.empty[Sample]
  private val failed = ArrayBuffer.empty[String]
  private var pass: Int = -1
  private var attempts = 0
  private var excludedNs = 0L
  private val passWalls = scala.collection.mutable.Map.empty[Int, Double]

  def beginPass(i: Int, traced: Boolean): Unit = {
    pass = i
    trace.foreach(t => if (traced) t.begin())
  }
  def endPass(wallSeconds: Double): Unit = {
    trace.foreach(_.end())
    passWalls(pass) = wallSeconds
    pass = -1
  }
  def inTimedPass: Boolean = pass >= 0
  def currentPass: Int = pass

  /** Run one op; inside a timed pass its latency is recorded. Any
    * exception counts as a failed op (named in the output) and the run
    * continues; `None` tells the caller to skip its output check.
    */
  def op[T](name: String, layer: String)(body: => T): Option[T] = {
    attempts += 1
    val t0 = System.nanoTime()
    try {
      val r = trace.fold(body)(_.span(layer, name)(body))
      if (pass >= 0) samples += Sample(pass, layer, name, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Throwable =>
        fail(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** An output check: a false condition counts as a failed op. */
  def check(name: String, ok: Boolean, what: => String): Unit =
    if (!ok) fail(s"$name: output check failed: $what")

  /** Benchmark-side work inside a pass (output checks, bookkeeping): its
    * time is taken out of the pass wall time.
    */
  def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally excludedNs += System.nanoTime() - t0
  }
  def takeUntimedSeconds(): Double = { val e = excludedNs; excludedNs = 0L; e / 1e9 }

  def fail(msg: String): Unit = failed += msg
  def failures: Seq[String] = failed.toSeq
  def attempted: Int = attempts

  def latencies(passes: Set[Int], layer: String => Boolean = _ => true,
      name: String => Boolean = _ => true): Seq[Double] =
    samples.filter(s => passes(s.pass) && layer(s.layer) && name(s.name)).map(_.ms).toSeq

  def names(passes: Set[Int]): Seq[String] =
    samples.filter(s => passes(s.pass)).map(_.name).distinct.toSeq.sorted

  /** A layer's busy time as a percentage of those passes' wall time:
    * the per-layer figure that reads 0 on a workload that bypasses the
    * layer (its absolute busy time is in the info line).
    */
  def busyPct(passes: Set[Int], layer: String): Double =
    100.0 * busySeconds(passes, layer) / passSeconds(passes)

  def passSeconds(passes: Set[Int]): Double = passes.toSeq.map(passWalls).sum

  def layers(passes: Set[Int]): Seq[String] =
    samples.filter(s => passes(s.pass)).map(_.layer).distinct.toSeq.sorted

  def busySeconds(passes: Set[Int], layer: String): Double =
    latencies(passes, _ == layer).sum / 1000.0
  def calls(passes: Set[Int], layer: String): Int = latencies(passes, _ == layer).size
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean; NaN for an empty sample. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated percentile; NaN for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (p / 100.0) * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** The percentiles a sample supports: at least ten samples beyond. */
  def supported(xs: Seq[Double], prefix: String, unit: String): Seq[Metric] =
    Seq(50, 90, 99).filter(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => Metric(s"${prefix}_p${p}_ms", percentile(xs, p), unit, xs.size))
}

/** The metric lists declared in BENCHMARK.json: (name, unit) in order. */
object Spec {
  def metrics(path: String, section: String): Seq[(String, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val arr = root.get(section)
    (0 until arr.size).map(i => (arr.get(i).get("name").asText, arr.get(i).get("unit").asText))
  }
}

/** Minimal JSON writer (values are built already-encoded). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def writeLines(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
