package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Host readings recorded by every run, so box noise can be told apart
  * from the code: the three sentinels `graft.Bench` defines (same work,
  * same median of three readings; the memory one keeps its untimed
  * fault-in sweep, the other two drop their warm-up reading, as the run
  * has warmed Spark by then), and the live heap after a full GC.
  */
object Host {
  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def median3(f: => Double): Double = Seq(f, f, f).sorted.apply(1)

  /** Live heap: bytes in use right after a full collection. The first
    * collection lets Spark's context cleaner see which broadcasts and
    * shuffles became unreachable; the pause lets it drop their blocks,
    * which the second collection then frees.
    */
  def liveHeapBytes(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
  }

  def sentinels(spark: SparkSession): Seq[Metric] = {
    // CPU: 64M-row modular sum over an in-memory range, 32 tasks
    def cpu() = seconds(
      spark.range(0L, 64000000L, 1L, 32).selectExpr("sum(id % 1000003)").collect())
    val cpuS = median3(cpu())
    // memory bandwidth: STREAM triad over three 16M-double arrays
    val n = 16 << 20
    val threads = math.min(8, Runtime.getRuntime.availableProcessors)
    val a = new Array[Double](n)
    val b = Array.fill(n)(1.5)
    val c = Array.fill(n)(2.5)
    def sweep() = seconds {
      val chunk = n / threads
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => {
          var i = t * chunk; val end = i + chunk
          while (i < end) { a(i) = b(i) + 0.5 * c(i); i += 1 }
        })
        th.start(); th
      }
      ts.foreach(_.join())
    }
    sweep()
    val memS = median3(sweep())
    if (a(n - 1) == -1.0) println("")
    // scheduling floor: a three-stage plan over 32 rows, per stage
    def floor() = seconds(
      spark.range(0L, 32L, 1L, 32).selectExpr("id % 4 AS k")
        .groupBy("k").count().groupBy().sum("count").collect()) / 3.0
    val floorS = median3(floor())
    Seq(
      Metric("host.cpu_sentinel_s", cpuS, "s", 3),
      Metric("host.mem_sentinel_s", memS, "s", 3),
      Metric("host.floor_stage_s", floorS, "s", 3))
  }
}
