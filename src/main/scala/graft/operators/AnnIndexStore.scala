package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => V}

/** Parquet-persisted IVF-PQ index for continuous embedding ingestion —
  * the ANN analog of [[LshIndexStore]], and the same standing-store
  * philosophy as the reference's epoch append path (kadiyadb keeps
  * appending to an open store rather than rebuilding it;
  * /root/reference/epoch/epoch.go). The store holds:
  *
  *   - `cells/`: the learned coarse centroids (cid, cvec, cnrm) —
  *     nCent rows, broadcast at search;
  *   - `codebook/`: the shared residual PQ codebook (s, code, cwv, cc)
  *     — nSub·nCode rows, broadcast at search;
  *   - `codes/`: one row per indexed vector (vec_id, cid, c0.., rnrm)
  *     — the COMPRESSED corpus (a handful of small ints + one double
  *     instead of 64 floats), the only corpus-sized table a search
  *     reads. Raw vectors are never needed again after encoding.
  *   - `params.json`: quantizer shape (nSub/nCent/nCode), validated on
  *     open like kadiyadb's params.json (database.go:127) — searching
  *     with a mismatched nSub would silently mis-slice subvectors.
  *
  * [[append]] encodes new vectors against the PERSISTED quantizers — no
  * retraining, no touch of previously indexed vectors — which is how
  * production IVF-PQ ingests (retrain on drift, not per batch; monitor
  * with embedding_drift/ann_centroid_stats). `codes/` is written
  * PARTITIONED BY cid, and [[search]] turns the (bounded) probe set
  * into a static `cid IN (...)` filter, so a probe-2 search reads only
  * the probed cells' files — the scan plan carries a `PartitionFilters`
  * entry (asserted in AnnIndexStoreSpec) and at 10⁹ vectors the read is
  * nProbe/nCent of the index instead of all of it.
  */
final class AnnIndexStore(spark: SparkSession, path: String) {

  private val cellsDir = s"$path/cells"
  private val codebookDir = s"$path/codebook"
  private val codesDir = s"$path/codes"

  /** Train quantizers on the corpus and (re)build the full index. */
  def build(emb: DataFrame, nCent: Int = 8, iters: Int = 2,
      nSub: Int = 4, nCode: Int = 8): Unit = {
    val e = Similarity.withNorm(emb)
    val cent = Similarity.kmeansCentroids(e, nCent, iters)
    val resTab = Similarity.ivfPqResiduals(e, cent)
    val cb = Similarity.ivfPqCodebook(resTab, nSub, nCode)
    cent.write.mode("overwrite").parquet(cellsDir)
    cb.write.mode("overwrite").parquet(codebookDir)
    Similarity.ivfPqEncode(resTab, cent, cb, nSub)
      .write.mode("overwrite").partitionBy("cid").parquet(codesDir)
    CorpusArtifact.writeParams(Paths.get(path, CorpusArtifact.ParamFile),
      Seq("nSub" -> nSub, "nCent" -> nCent, "nCode" -> nCode))
  }

  def cells: DataFrame = spark.read.parquet(cellsDir)
  def codebook: DataFrame = spark.read.parquet(codebookDir)
  def codes: DataFrame = spark.read.parquet(codesDir)

  /** The persisted quantizer shape; fails loudly on a missing/corrupt
    * store rather than mis-slicing subvectors.
    */
  def params: AnnIndexStore.Params = {
    val p = Paths.get(path, CorpusArtifact.ParamFile)
    require(Files.exists(p), s"no ${CorpusArtifact.ParamFile} under $path — not an ANN index store")
    val json = CorpusArtifact.readParams(p)
    def num(key: String) = json.getOrElse(key,
      throw new IllegalStateException(s"$key missing in ${CorpusArtifact.ParamFile}")).toInt
    AnnIndexStore.Params(num("nSub"), num("nCent"), num("nCode"))
  }

  /** Encode a batch of new vectors against the persisted quantizers and
    * append their codes — the continuous-ingest step. The batch never
    * shuffles against the standing corpus; `codes/` grows by exactly the
    * batch's rows.
    */
  def append(emb: DataFrame): Unit = {
    val cent = cells
    Similarity.ivfPqEncode(
      Similarity.ivfPqResiduals(Similarity.withNorm(emb), cent),
      cent, codebook, params.nSub)
      .write.mode("append").partitionBy("cid").parquet(codesDir)
  }

  /** ADC top-k over the persisted index. `queries` is (query_id, qv);
    * raw corpus vectors are NEVER read — only the compressed code table
    * plus the broadcast cell/codebook/ADC lookups. The probed cell ids
    * (≤ |queries|·nProbe ints — bounded by the query-set contract) are
    * resolved driver-side first and pushed as a static partition filter
    * on the cid-partitioned `codes/` read, so the only corpus-sized scan
    * touches just the probed cells' files. The filter is a no-op
    * semantically: ivfPqSearch inner-joins codes to the probe table on
    * cid anyway, so results are bit-identical to the unpruned read.
    */
  def search(queries: DataFrame, k: Int, nProbe: Int = 2): DataFrame = {
    val q = queries.select(col("query_id"), col("qv"),
      V.normF(col("qv")).as("qnrm"))
    val cent = cells
    val probed = Similarity.ivfProbes(q, cent, nProbe)
      .select(col("cid")).distinct().collect().map(_.getInt(0)).toSeq
    Similarity.ivfPqSearch(q, cent, codebook,
      codes.filter(col("cid").isin(probed: _*)), k, nProbe, params.nSub)
  }
}

object AnnIndexStore {
  final case class Params(nSub: Int, nCent: Int, nCode: Int)
}
