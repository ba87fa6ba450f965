package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CorpusArtifact, QuantizerStore, Similarity}

/** The disk-persisted coarse quantizer store: the search path trains
  * NOTHING once the store exists (a fresh open reads parquet), values
  * equal a from-scratch training run, and a regenerated corpus under the
  * same path triggers a retrain via the fingerprint guard.
  */
class QuantizerStoreSpec extends SparkSpec {

  private def vecsOf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "seed")
      .withColumn("embedding", expr(
        """transform(sequence(1, 64), j -> CAST(
             (pmod(xxhash64(pmod(seed, 8) + 1000003, j), 2000) - 1000) / 1000.0 +
             (pmod(xxhash64(seed, j + 100), 2000) - 1000) / 1000.0 * 0.15 AS FLOAT))"""))
      .select("vec_id", "embedding")
  }

  private def freshCorpusDir(rows: Seq[(Long, Long)]): Path = {
    val d = Files.createTempDirectory("qstore")
    d.toFile.deleteOnExit()
    vecsOf(rows).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("re-open after a handle drop trains nothing and serves identical values") {
    val dir = freshCorpusDir((0L until 120L).map(i => (i, i)))
    val before = QuantizerStore.trainCount.get()
    val (c1, a1) = QuantizerStore.kmeansPp(spark, dir.toString)
    assert(QuantizerStore.trainCount.get() == before + 1, "first open must train")
    val cent1 = sortedRows(c1)
    val asn1 = sortedRows(a1)

    // simulate a fresh session: drop in-process handles, keep the disk
    // store — the search path must NOT retrain
    QuantizerStore.dropHandles()
    val (c2, a2) = QuantizerStore.kmeansPp(spark, dir.toString)
    assert(QuantizerStore.trainCount.get() == before + 1,
      "re-open of a valid store must train nothing")
    assert(sortedRows(c2) == cent1 && sortedRows(a2) == asn1,
      "store round-trip changed the model")

    // store values equal a from-scratch training run (the oracle replay
    // contract: persisting is a plumbing change, not a value change)
    val e = Similarity.withNorm(
      graft.core.Tables.load(spark, dir.toString, "embeddings"))
    val (cd, ad) = Similarity.kmeansPpModel(e, 8, 3)
    assert(sortedRows(cd) == cent1, "persisted centroids differ from fresh training")
    assert(sortedRows(ad.select(col("vec_id"), col("cid"))) == asn1,
      "persisted assignment differs from fresh training")
  }

  test("SharedViews.clearAll leaves open handles usable without retraining") {
    val dir = freshCorpusDir((0L until 100L).map(i => (i, i + 7)))
    val (c1, _) = QuantizerStore.kmeans(spark, dir.toString)
    val cent1 = sortedRows(c1)
    val before = QuantizerStore.trainCount.get()
    graft.core.SharedViews.reclaimEverything(spark)
    val (c2, a2) = QuantizerStore.kmeans(spark, dir.toString)
    assert(QuantizerStore.trainCount.get() == before,
      "reclaimEverything must not invalidate the disk-backed quantizer")
    assert(sortedRows(c2) == cent1)
    assert(a2.count() == 100L)
  }

  test("a pre-AlgoVersion params.json triggers a retrain (stale-model guard)") {
    val dir = freshCorpusDir((0L until 80L).map(i => (i, i + 3)))
    val (c1, _) = QuantizerStore.kmeansPp(spark, dir.toString)
    val cent1 = sortedRows(c1)
    // forge an old-format params.json: correct fingerprint, no algo tag —
    // exactly what a warm /tmp holds after a training-code change
    val storeRoot = java.nio.file.Paths.get(
      CorpusArtifact.root("quantizers", dir.toString, "pp8x3"))
    val pj = storeRoot.resolve("params.json")
    val txt = new String(Files.readAllBytes(pj), "UTF-8")
    Files.write(pj, txt.replace(s""""algo_version": ${QuantizerStore.AlgoVersion},""", "")
      .getBytes("UTF-8"))
    QuantizerStore.dropHandles()
    val before = QuantizerStore.trainCount.get()
    val (c2, _) = QuantizerStore.kmeansPp(spark, dir.toString)
    assert(QuantizerStore.trainCount.get() == before + 1,
      "missing/old algo_version must retrain, not serve the pre-change model")
    assert(sortedRows(c2) == cent1, "same corpus + same algorithm must retrain to the same model")
  }

  test("a regenerated corpus under the same path triggers a retrain") {
    val dir = freshCorpusDir((0L until 90L).map(i => (i, i)))
    val (c1, _) = QuantizerStore.kmeansPp(spark, dir.toString)
    val cent1 = sortedRows(c1)
    // rewrite the corpus in place: same path, same ids, different vectors
    vecsOf((0L until 90L).map(i => (i, i + 1000)))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    QuantizerStore.dropHandles()
    val before = QuantizerStore.trainCount.get()
    val (c2, _) = QuantizerStore.kmeansPp(spark, dir.toString)
    assert(QuantizerStore.trainCount.get() == before + 1,
      "fingerprint mismatch must retrain, not serve the stale model")
    assert(sortedRows(c2) != cent1, "retrain produced the stale centroids")
  }
}
