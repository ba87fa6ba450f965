package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

import graft.operators.TextAnalysis

/** Queries keep no session state: a former shared-view consumer builds
  * its input inside its own plan, so it neither touches a library user's
  * own cached tables nor leaves blocks of its own behind, and a corpus
  * rewritten in the same session is read fresh.
  */
class SharedViewsScopeSpec extends SparkSpec {

  private def scratchCorpus(texts: Seq[String]): String = {
    val dir = Files.createTempDirectory("svscope")
    dir.toFile.deleteOnExit()
    writeCorpus(dir.toString, texts)
    dir.toString
  }

  private def writeCorpus(dir: String, texts: Seq[String]): Unit = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  test("user caches survive clearAll; shared-view blocks do not") {
    val sc = spark.sparkContext
    // a user's cached table, materialized
    val userCached = spark.range(0L, 1000L).toDF("id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    userCached.count()
    // a user's localCheckpointed DataFrame (CacheManager-invisible blocks)
    val userCp = spark.range(0L, 500L).toDF("id").localCheckpoint()
    val before = sc.getPersistentRDDs.keySet

    // a former shared-view consumer over a scratch documents table
    val dir = scratchCorpus(Seq("alpha beta gamma", "beta gamma delta"))
    assert(SparkEntry.queries("text_lm_score")(spark, dir).collect().length == 2)

    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"the query left persisted RDDs $added behind")
    assert(userCached.storageLevel != StorageLevel.NONE,
      "the query dropped a user's cached table")
    assert(userCached.count() == 1000L)
    assert(userCp.count() == 500L, "the query broke a user's checkpointed DataFrame")
    userCached.unpersist()
  }

  test("a corpus rewritten in-session is read fresh by its queries") {
    val dir = scratchCorpus(Seq("alpha beta gamma", "beta gamma delta"))
    val q = SparkEntry.queries("text_vocab_coverage")
    val first = sortedRows(q(spark, dir))
    assert(first == sortedRows(TextAnalysis.vocabCoverage(
      graft.core.Tables.load(spark, dir, "documents"), 12)))

    // same session, same dir, different text and doc count
    writeCorpus(dir, Seq("one two", "two three three", "four", "five six seven eight"))
    val second = sortedRows(q(spark, dir))
    val fresh = sortedRows(TextAnalysis.vocabCoverage(
      graft.core.Tables.load(spark, dir, "documents"), 12))
    assert(second.length == 4, s"query served the old corpus: $second")
    assert(second == fresh)
    assert(second.map(_.getLong(1)) == Seq(2L, 3L, 1L, 4L),
      s"token counts are not the new corpus's: $second")
  }
}
