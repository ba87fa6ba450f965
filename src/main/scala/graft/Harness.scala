package graft

import org.apache.spark.sql.SparkSession

/** The one session factory of graft's mains (Bench, Verify, Serve, Tool,
  * the scale checks) and of the test suite, plus the shared measurement
  * plumbing: ONE place for the session shape, the data directory and the
  * timed-query protocol, so a config change (time zone, shuffle width,
  * extensions, ANSI mode) cannot drift between the measured path and the
  * verified path.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)

  /** Test-data directory: `SPARK_GRAFT_SF_DIR`, default sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The standard session on [[cpus]] cores. */
  def session(extra: (String, String)*): SparkSession = session(cpus, extra: _*)

  /** The standard session: local[n], n shuffle partitions, ANSI off, UTC
    * session time zone, UI off, graft's SQL functions registered, ERROR
    * logs. `extra` appends/overrides per-caller config (a deployment
    * master, a harness premise such as AQE off).
    */
  def session(n: Int, extra: (String, String)*): SparkSession = {
    val confs = Seq(
      "spark.master" -> s"local[$n]",
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions") ++ extra
    val s = confs.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // getOrCreate silently ignores static builder configs when a
    // SparkSession already exists in the JVM (and copies the rest into
    // the session conf, even a master it does not run on); set the
    // runtime-settable ones and fail LOUDLY when the context pins another
    // static value, so a caller's premise (cores, extensions, a plugin)
    // surfaces here instead of as a confusing downstream failure against
    // a stale session.
    val pinned = s.sparkContext.getConf
    confs.toMap.foreach { case (k, v) =>
      if (s.conf.isModifiable(k)) s.conf.set(k, v)
      else if (!pinned.getOption(k).contains(v)) throw new IllegalStateException(
        s"Harness.session: pre-existing SparkSession pins static conf $k=" +
          s"${pinned.getOption(k).getOrElse("<unset>")} (wanted '$v'); " +
          "stop the existing session first")
    }
    s
  }

  /** Run one registered query for measurement and return its wall time in
    * seconds. Every query builds its inputs inside its own plan, so the
    * timed region holds all of its work; storage is reclaimed first (the
    * lineage-truncating checkpoints earlier queries left behind) and the
    * catalog cache is cleared after, so nothing carries into the next
    * query. Failures propagate.
    */
  def timeQuery(spark: SparkSession, name: String, dir: String): Double = {
    graft.core.SharedViews.reclaimEverything(spark)
    val t0 = System.nanoTime()
    try SparkEntry.queries(name)(spark, dir).count()
    finally spark.catalog.clearCache()
    (System.nanoTime() - t0) / 1e9
  }

  /** Print the wall time of a stage and pass its result through. */
  def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime(); val r = f
    println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
  }
}
