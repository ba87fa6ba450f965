package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Disk-persisted coarse k-means quantizers, keyed by the embeddings
  * directory — the standing-store companion of [[AnnIndexStore]] for the
  * plain-IVF query family. Training a coarse quantizer is a per-INGEST
  * step, not a per-query one (the same philosophy as kadiyadb keeping an
  * open store and appending rather than rebuilding —
  * /root/reference/epoch/epoch.go): at 100 TB the model is trained once
  * when the corpus lands and every subsequent search reads the frozen
  * centroids + assignment. Before this store existed the registered
  * queries re-trained the identical model once per bench pass via an
  * in-memory shared view, billing a pure re-computation (~2 s at sf0.1)
  * to the first consumer.
  *
  * Persisted layout per (embeddings dir, kind):
  *   - `cent/`  — the learned centroids (cid, cvec, cnrm): nCent rows,
  *     collected to a driver-local relation on open so every consumer
  *     broadcast-joins without a scan;
  *   - `asn/`   — the narrow final assignment (vec_id, cid): the only
  *     corpus-sized table, read per query like [[AnnIndexStore]]'s codes;
  *   - `params.json` — the [[CorpusArtifact]] manifest over (vec_id,
  *     embedding), recording `kind` and `nCent`.
  */
object QuantizerStore {

  /** Bump when ANY training algorithm this store persists changes
    * behavior.
    */
  private[graft] val AlgoVersion = 2

  /** The open memo holds (driver-local centroids, disk-backed assignment). */
  private val artifact = new CorpusArtifact[(DataFrame, DataFrame)](
    "quantizers", "embeddings", "vec_id", "embedding", AlgoVersion)

  /** Times the training loop actually ran in this JVM. */
  private[graft] val trainCount = artifact.builds

  private[graft] def dropHandles(): Unit = artifact.dropHandles()

  /** The hash-seeded Lloyd quantizer (8 centroids, 2 iterations) over
    * `dir`'s embeddings: (driver-local centroids, narrow assignment).
    */
  def kmeans(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ensure(s, dir, "lloyd8x2", e => {
      val cent = Similarity.kmeansCentroids(e, 8, 2)
      (cent, Similarity.assignToCentroids(e, cent)
        .select(col("vec_id"), col("cid")))
    })

  /** The k-means‖-seeded early-stop quantizer (8 centroids, ≤3
    * iterations) over `dir`'s embeddings.
    */
  def kmeansPp(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ensure(s, dir, "pp8x3", e => Similarity.kmeansPpModel(e, 8, 3))

  private def ensure(s: SparkSession, dir: String, kind: String,
      train: DataFrame => (DataFrame, DataFrame)): (DataFrame, DataFrame) =
    artifact.open(s, dir, kind, "kind" -> kind, "nCent" -> 8)({ (emb, base) =>
      val e = Similarity.withNorm(emb)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (cent, asn) = train(e)
      // materialize centroids BEFORE overwriting cent/ — on a retrain
      // the lazy plan may reference the store's own previous files
      val localCent = Similarity.localized(cent)
      localCent.write.mode("overwrite").parquet(s"$base/cent")
      asn.write.mode("overwrite").parquet(s"$base/asn")
      e.unpersist()
    })(base => (Similarity.localized(s.read.parquet(s"$base/cent")),
      s.read.parquet(s"$base/asn")))
}
