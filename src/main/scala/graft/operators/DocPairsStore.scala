package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Hashing

/** Parquet-persisted document near-dup pair artifacts for continuous text
  * ingestion — the dedup analog of [[EmbPairsStore]] (the r15 verdict's
  * item 3), and the same standing-store philosophy as the reference's
  * epoch append path (kadiyadb appends to an open store instead of
  * rebuilding it; /root/reference/epoch/epoch.go, database.go:153).
  * Building the shingle table, the MinHash sketch table and the verified
  * pair tables is a per-INGEST step, not a per-query one: at 100 TB these
  * are persisted artifacts built once when the corpus lands, read by
  * every report. Before this store existed the shared pair views were
  * rebuilt once per session/pass (the exact-Jaccard ground-truth build
  * alone profiled at 78 MB input / 411 tasks, billed to
  * dedup_blocking_recall — the most expensive query of the r15 driver
  * bench at 2.70 s).
  *
  * Persisted layout per documents dir (all at shingle width
  * [[DocPairsStore.ShingleN]]):
  *   - `shingles/` — (doc_id, shingle h60) distinct 3-gram table, exactly
  *     [[Dedup.shingles]]'s output (the table [[Dedup.sharedShingles]]
  *     froze per session);
  *   - `sigs/` — the MinHash signature table (doc_id, mh0..15, su0..17),
  *     exactly [[Dedup.minhashSignatures]]'s output ([[LshIndexStore]]
  *     already persists the BAND projection of this table for the
  *     incremental-dedup path);
  *   - `exact_pairs/` — [[Dedup.ngramJaccard]] at
  *     [[Dedup.SharedExactFloor]]: the df-capped exact-Jaccard
  *     ground-truth pairs (doc_a < doc_b, jaccard on the rd4 grid);
  *   - `lsh_pairs/` — [[Dedup.minhashLsh]] at [[Dedup.SharedPairFloor]]:
  *     the banded-LSH verified pairs;
  *   - `params.json` — the [[CorpusArtifact]] manifest over (doc_id,
  *     text), recording `shingle_n`, `exact_floor` and `lsh_floor`.
  *
  * Every persisted table is VALUE-identical to the session view it
  * replaces (persisting is plumbing — DocPairsStoreSpec proves each
  * against the direct computation).
  *
  * [[append]] ingests a new document batch with zero re-scan of indexed
  * text: the batch shingles/sketches itself, candidates resolve against
  * the persisted state, and only the new rows and new pairs append.
  * Cap semantics on append match a full rebuild (df caps and band-bucket
  * caps are counted over stored ∪ batch), so the appended pair set
  * equals the rebuild's new-pair set whenever the batch does not tip a
  * shingle df / band bucket across its cap; a batch that does leaves
  * previously-emitted pairs unrevised (they were true at their snapshot
  * — the same monotone-append posture as [[LshIndexStore.ingest]], where
  * a production pipeline re-snapshots periodically). DocPairsStoreSpec
  * proves append == full rebuild on the enlarged corpus for a real
  * batch, and that every reader serves after the source parquet is
  * deleted.
  */
final class DocPairsStore(spark: SparkSession, path: String) {
  import DocPairsStore.ShingleN

  private val shinglesDir = s"$path/shingles"
  private val sigsDir = s"$path/sigs"
  private val exactDir = s"$path/exact_pairs"
  private val lshDir = s"$path/lsh_pairs"

  /** Build (or replace) the store from a standing corpus. The shingle
    * table is written first and read back so the corpus is tokenized
    * exactly once across the three derived artifacts.
    */
  def build(docs: DataFrame): Unit = {
    Dedup.shingles(docs, ShingleN).write.mode("overwrite").parquet(shinglesDir)
    val sh = shingles
    Dedup.minhashSignaturesFrom(sh).write.mode("overwrite").parquet(sigsDir)
    Dedup.ngramJaccardOf(sh, Dedup.SharedExactFloor)
      .write.mode("overwrite").parquet(exactDir)
    Dedup.minhashLshOf(sh, sigs, Dedup.SharedPairFloor)
      .write.mode("overwrite").parquet(lshDir)
  }

  /** The persisted distinct (doc_id, shingle) table. */
  def shingles: DataFrame = spark.read.parquet(shinglesDir)

  /** The persisted MinHash signature table. */
  def sigs: DataFrame = spark.read.parquet(sigsDir)

  /** The persisted exact-Jaccard pair table (≥ SharedExactFloor). */
  def exactPairs: DataFrame = spark.read.parquet(exactDir)

  /** The persisted LSH-verified pair table (≥ SharedPairFloor). */
  def lshPairs: DataFrame = spark.read.parquet(lshDir)

  /** Ingest a batch of NEW documents (ids disjoint from the store's):
    * within-batch pairs + batch↔store pairs append to both pair tables,
    * the batch's shingles and signatures append to the sketch tables.
    * The standing corpus contributes persisted shingles/sigs only —
    * never a re-tokenize. Caps (shingle df ≤ 50, band-bucket sub-block
    * cap) are counted over stored ∪ batch, matching a rebuild.
    */
  def append(batch: DataFrame): Unit = {
    val batchSh = Dedup.shinglesSmall(batch, ShingleN).localCheckpoint()
    val batchSigs = Dedup.minhashSignaturesFrom(batchSh).localCheckpoint()
    val batchIds = batch.select(col("doc_id")).distinct().localCheckpoint()
    val allSh = shingles.unionByName(batchSh)

    // ---- exact side: the df-capped equi-join, caps over the union.
    // Only shingles PRESENT IN THE BATCH can contribute to a new pair's
    // intersection, so the self-join probes just the batch-touched
    // buckets; sizes still count each doc's full capped set.
    val capped = Dedup.capShingles(allSh, 50L)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val flagged = capped
      .join(batchIds.withColumn("__new", lit(true)), Seq("doc_id"), "left")
      .withColumn("__new", coalesce(col("__new"), lit(false)))
    val rel = flagged.join(batchSh.select(col("shingle")).distinct(),
      Seq("shingle"), "left_semi")
    val inter = rel.as("a")
      .join(rel.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          (col("a.__new") || col("b.__new")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val newExact = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        Hashing.rd4(col("inter") / (col("na") + col("nb") - col("inter"))))
      .filter(col("jaccard") >= Dedup.SharedExactFloor)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

    // ---- LSH side: candidates from the banded sketches, bucket sizes
    // over the union; only buckets containing a batch doc can yield a
    // new pair, and the verify fetch reads stored ∪ batch shingles.
    val allSigs = sigs.unionByName(batchSigs)
    val keysB = Dedup.lshBands(batchSigs).select(col("band"), col("key")).distinct()
    val bandsRel = Dedup.lshBands(allSigs).join(keysB, Seq("band", "key"), "left_semi")
    val cand = Dedup.candFromBands(bandsRel)
      .join(batchIds.select(col("doc_id").as("doc_a"))
        .withColumn("__na", lit(true)), Seq("doc_a"), "left")
      .join(batchIds.select(col("doc_id").as("doc_b"))
        .withColumn("__nb", lit(true)), Seq("doc_b"), "left")
      .filter(coalesce(col("__na"), lit(false)) || coalesce(col("__nb"), lit(false)))
      .select(col("doc_a"), col("doc_b"))
    val newLsh = Dedup.pairJaccard(allSh, Some(cand))
      .filter(col("jaccard") >= Dedup.SharedPairFloor)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

    // freeze decisions before any write so a branch never sees its own
    // appends; pairs append before sketches so a crash between the two
    // leaves a missing-pair batch a re-run repairs, never a sketch row
    // whose pairs were silently skipped (the EmbPairsStore discipline)
    val ne = newExact.localCheckpoint()
    val nl = newLsh.localCheckpoint()
    capped.unpersist()
    ne.write.mode("append").parquet(exactDir)
    nl.write.mode("append").parquet(lshDir)
    batchSh.write.mode("append").parquet(shinglesDir)
    batchSigs.write.mode("append").parquet(sigsDir)
  }
}

object DocPairsStore {
  /** The shared views' shingle width (the n every persisted artifact is
    * derived at; the n=8 contamination shingles stay session views).
    */
  val ShingleN = 3

  /** Bump when the shingle/sketch/pair pipeline changes behavior. */
  private[graft] val AlgoVersion = 1

  /** The open memo holds only the validated base path. */
  private val artifact = new CorpusArtifact[String](
    "docpairs", "documents", "doc_id", "text", AlgoVersion)

  private[graft] val buildCount = artifact.builds

  private[graft] def dropHandles(): Unit = artifact.dropHandles()

  private def ensure(s: SparkSession, dir: String): String =
    artifact.open(s, dir, s"n$ShingleN", "shingle_n" -> ShingleN,
      "exact_floor" -> Dedup.SharedExactFloor, "lsh_floor" -> Dedup.SharedPairFloor)(
      (docs, base) => new DocPairsStore(s, base).build(docs))(identity)

  /** The persisted artifacts over `dir`'s documents — built once per
    * corpus, then served from disk to every consumer in every session.
    */
  def shingles(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${ensure(s, dir)}/shingles")
  def sigs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${ensure(s, dir)}/sigs")
  def exactPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${ensure(s, dir)}/exact_pairs")
  def lshPairs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"${ensure(s, dir)}/lsh_pairs")
}
