package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

/** Developer tool over the registered queries, on [[Harness.session]]
  * and the data at `SPARK_GRAFT_SF_DIR` (all queries when none are
  * named):
  *
  * {{{
  *   sbt "runMain graft.Tool time <query…>"     # Bench's protocol: warmup, best of 3
  *   sbt "runMain graft.Tool profile <query…>"  # task/byte totals + per-stage lines
  *   sbt "runMain graft.Tool plan <query…>"     # final-plan counts + watchlist TSV rows
  *   sbt "runMain graft.Tool explain <query…>"  # formatted final plan
  * }}}
  *
  * `plan` prints the watchlist rows alone on stdout (its per-query
  * summary goes to stderr), so its output redirected to a file is the
  * committed watchlist PlanGuardSpec checks (the command is there).
  */
object Tool {

  /** Pseudo-file key carrying the final-plan shuffle-exchange count in
    * the committed watchlist TSV (next to the per-file scan counts).
    */
  val ExchangesKey = "__exchanges__"

  /** Pseudo-file key carrying the final-plan broadcast-exchange count —
    * under AQE every broadcast build is a scheduled stage too, so the
    * floor-calibrated weak rule's stage estimate is
    * exchanges + bcasts + 1 (a 5-dim star join pays ~6 stage launches
    * before touching a byte; see BASELINE.md).
    */
  val BcastsKey = "__bcasts__"

  /** Drive the query's OWN AdaptiveSparkPlanExec to its final plan and
    * return the final section of its string: count()/write wrap the
    * query in a new QueryExecution, leaving this instance un-finalized,
    * and AdaptiveSparkPlan prints the final plan THEN "== Initial Plan ==".
    */
  private def finalPlan(df: DataFrame): String = {
    val exec = df.queryExecution.executedPlan
    exec.execute().count()
    exec.toString.split("== Initial Plan ==").head
  }

  /** Final-plan per-parquet-file scan counts AND the shuffle-exchange
    * count for one registered query — shared by `plan` and
    * PlanGuardSpec's committed watchlist (which pins both for every
    * query: a benign duplicate scan silently flipping into a duplicate
    * SHUFFLE fails CI on the scan axis, and a rewrite that adds a
    * shuffle at CONSTANT scan count — the r14 topk_movers disease
    * class — fails on the exchange axis).
    */
  def finalPlanScanCounts(spark: SparkSession,
      name: String, dir: String): (String, Map[String, Int], Int, Int) = {
    val p = finalPlan(SparkEntry.queries(name)(spark, dir))
    val perFile = "InMemoryFileIndex\\(1 paths\\)\\[file:([^\\]]+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size)
      .map { case (f, n) => f.split('/').last -> n }.toMap
    // real exchanges are tree nodes ("+- Exchange hash…" /
    // "+- BroadcastExchange …"); a ReusedExchange prints its target
    // inline (", Exchange hash…") and must NOT count — reuse is the
    // cure, not the disease
    val nExch = "- Exchange ".r.findAllIn(p).length
    val nBcast = "- BroadcastExchange ".r.findAllIn(p).length
    (p, perFile, nExch, nBcast)
  }

  /** Best-of-3 wall time per query after an untimed warmup. */
  def time(spark: SparkSession, names: Seq[String], dir: String): Unit =
    names.foreach { name =>
      Harness.timeQuery(spark, name, dir)
      val ts = Seq.fill(3)(Harness.timeQuery(spark, name, dir))
      println(f"$name: ${ts.min}%.2f s (passes: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }

  /** One measured run per query after an untimed warmup: a line per
    * completed stage, then the run's task and byte totals. Task and byte
    * counts do not swing with box load the way wall time does.
    */
  def profile(spark: SparkSession, names: Seq[String], dir: String): Unit = {
    val stages = mutable.ArrayBuffer.empty[StageInfo]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized(stages += sc.stageInfo)
    }
    def kb(b: Long) = f"${b / 1e3}%.1fkB"
    names.foreach { name =>
      Harness.timeQuery(spark, name, dir)
      stages.synchronized(stages.clear())
      spark.sparkContext.addSparkListener(listener)
      val dt = try Harness.timeQuery(spark, name, dir)
        finally {
          Thread.sleep(300) // the listener bus delivers asynchronously
          spark.sparkContext.removeSparkListener(listener)
        }
      val done = stages.synchronized(stages.toSeq).sortBy(_.stageId)
      done.foreach { si =>
        val d = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        val ops = si.rddInfos.map(_.name).filter(n =>
          n != null && !n.startsWith("MapPartitions") && !n.startsWith("Shuffled"))
          .distinct.take(6).mkString("|")
        println(f"  stage ${si.stageId}%3d ${si.numTasks}%3d tasks  $d%6.3f s  $ops")
      }
      val m = done.map(_.taskMetrics)
      println(f"METRIC $name time=$dt%.2f stages=${done.size} tasks=${done.map(_.numTasks).sum} " +
        s"input=${kb(m.map(_.inputMetrics.bytesRead).sum)} " +
        s"shufw=${kb(m.map(_.shuffleWriteMetrics.bytesWritten).sum)} " +
        s"shufr=${kb(m.map(_.shuffleReadMetrics.totalBytesRead).sum)}")
    }
  }

  /** Watchlist TSV rows on stdout (query, file or pseudo-key, count) and
    * a per-query summary of the final plan on stderr.
    */
  def plan(spark: SparkSession, names: Seq[String], dir: String): Unit =
    names.foreach { name =>
      graft.core.SharedViews.reclaimEverything(spark)
      val (p, perFile, nExch, nBcast) = finalPlanScanCounts(spark, name, dir)
      spark.catalog.clearCache()
      perFile.toSeq.sorted.foreach { case (f, n) => println(s"$name\t$f\t$n") }
      if (perFile.isEmpty) println(s"$name\t-\t0")
      println(s"$name\t$ExchangesKey\t$nExch")
      println(s"$name\t$BcastsKey\t$nBcast")
      def c(pat: String) = pat.r.findAllIn(p).length
      val dup = perFile.filter(_._2 > 1).map { case (f, n) => s"$f x$n" }
      System.err.println(s"PLAN $name isFinal=${p.contains("isFinalPlan=true")} " +
        s"scans=${c("Scan parquet")} exch=${c("Exchange hashpartitioning")} " +
        s"singleExch=${c("Exchange SinglePartition")} bcast=${c("BroadcastExchange")} " +
        s"shufStages=${c("ShuffleQueryStage")} reused=${c("ReusedExchange|reuses operator id")}" +
        (if (dup.nonEmpty) s" DUPSCANS=${dup.mkString(",")}" else ""))
    }

  /** The formatted final (adaptive) plan per query. */
  def explain(spark: SparkSession, names: Seq[String], dir: String): Unit =
    names.foreach { name =>
      graft.core.SharedViews.reclaimEverything(spark)
      val df = SparkEntry.queries(name)(spark, dir)
      finalPlan(df)
      println(s"===== $name =====")
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      spark.catalog.clearCache()
    }

  def main(args: Array[String]): Unit = {
    val commands = Map[String, (SparkSession, Seq[String], String) => Unit](
      "time" -> (time _), "profile" -> (profile _), "plan" -> (plan _),
      "explain" -> (explain _))
    val command = args.headOption.flatMap(commands.get).getOrElse {
      System.err.println("usage: graft.Tool {time|profile|plan|explain} <query...>")
      sys.exit(2)
    }
    val unknown = args.drop(1).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Harness.session()
    try command(spark, names, Harness.sfDir)
    finally spark.stop()
  }
}
