package graft.core

import org.apache.spark.sql.SparkSession

/** Bench-harness storage reset. graft keeps no session-level view cache:
  * a query builds its inputs inside its own plan, and reusable per-ingest
  * state lives on disk in the fingerprint-checked corpus stores
  * ([[graft.operators.CorpusArtifact]]).
  */
object SharedViews {

  /** Drop the catalog cache and unpersist every persistent RDD of
    * `spark`'s context — including transient per-query localCheckpoint
    * blocks (iterative operators truncate lineage per round; those blocks
    * otherwise live until JVM exit) and anything a user persisted. The
    * harnesses call this between timed queries so storage cannot grow
    * across a pass; it is NOT part of the library surface.
    */
  def reclaimEverything(spark: SparkSession): Unit = synchronized {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
