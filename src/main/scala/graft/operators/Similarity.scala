package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, VectorFunctions => V}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Hot-path design: per-vector L2 norms are projected ONCE before any join
  * (one dot per vector, not three per pair), and the per-pair dot product
  * is the codegen'd FloatDotProduct expression rather than interpreted
  * higher-order functions. Accumulation is double left-to-right, so the
  * DuckDB oracle (same formula, same order) stays bit-identical.
  */
object Similarity {

  /** cos(a, b) composed from builtins — correctness reference; the
    * operators below use the precomputed-norm + codegen path instead.
    */
  def cosine(a: Column, b: Column): Column =
    V.dotF(a, b) / (V.normF(a) * V.normF(b))

  /** Project (vec_id, embedding, label, nrm) once. */
  private[graft] def withNorm(emb: DataFrame): DataFrame =
    emb.withColumn("nrm", V.normF(col("embedding")))

  /** Embedding near-dup pairs, cos ≥ threshold, blocked by
    * (label, LSH band): a pair is compared only if it shares one of
    * `bands` hyperplane-signature bands of `rowsPerBand` sign bits each —
    * the banded-LSH candidate scheme, which kills the intra-label O(n²)
    * pair join (a single huge label no longer implies all-pairs within
    * it). Recall < 1 by construction; the oracle replicates the identical
    * banding, so results still match exactly. At production thresholds
    * (cos ≥ 0.9) raise rowsPerBand for selectivity — band match
    * probability is p^rowsPerBand with p = 1 - θ/π per plane.
    */
  def embeddingDedup(emb: DataFrame, threshold: Double,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(bands * rowsPerBand <= NumPlanes, s"needs <= $NumPlanes planes")
    val e = withNorm(emb)
    // candidate-first: band only the narrow (vec_id, label, sig) projection
    // so the explode never duplicates the 64-float vectors through a shuffle
    val sig = emb.select(col("vec_id"), col("label"),
      lshSignature(col("embedding")).as("sig"))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        expr(s"(sig div ${1L << (b * rowsPerBand)}) % ${1L << rowsPerBand}").as("key"))
    }
    val banded = sig
      .select(col("vec_id"), col("label"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("label"), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.label") === col("y.label") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        col("x.label").as("label"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na")),
        Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb")),
        Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("label"),
        Hashing.rd4(V.dotF(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Semantic (embedding-space) train/test contamination: train vectors
    * whose cosine to any held-out test vector is ≥ threshold — the
    * paraphrase-robust twin of Dedup.contamination, which is 8-gram
    * EXACT and lets reworded test-set leakage straight through. Blocking
    * is the same hyperplane-LSH banding as [[embeddingDedup]], so the
    * check is never O(train × test): each side bands only its narrow
    * (vec_id, sig) projection, candidates resolve in one equi-join, and
    * full vectors join in for candidate pairs only. The test side (a
    * fixed eval set, tiny next to a 100 TB train corpus) is broadcast at
    * both the band join and the vector fetch — the train side streams
    * through map tasks. Recall < 1 by construction (band-match
    * probability); the oracle replicates the identical banding.
    */
  def contaminationSemantic(emb: DataFrame, isTest: Column, threshold: Double,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(bands * rowsPerBand <= NumPlanes, s"needs <= $NumPlanes planes")
    val e = withNorm(emb)
    val sig = emb.select(col("vec_id"), isTest.as("__is_test"),
      lshSignature(col("embedding")).as("sig"))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        expr(s"(sig div ${1L << (b * rowsPerBand)}) % ${1L << rowsPerBand}").as("key"))
    }
    val banded = sig
      .select(col("vec_id"), col("__is_test"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("vec_id"), col("__is_test"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = banded.filter(!col("__is_test")).as("x")
      .join(broadcast(banded.filter(col("__is_test")).as("y")),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.vec_id").as("train_id"), col("y.vec_id").as("test_id"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("train_id"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("train_id"))
      .join(broadcast(e.filter(isTest)
        .select(col("vec_id").as("test_id"), col("embedding").as("eb"),
          col("nrm").as("nb"))), Seq("test_id"))
      .select(col("train_id"), col("test_id"),
        Hashing.rd4(V.dotF(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Exact top-k cosine neighbors for each query vector (vec_id < nQueries).
    * Queries are broadcast; ranking is deterministic (score desc, vec_id).
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = withNorm(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val scored = e.as("c")
      .join(broadcast(q), col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (V.dotF(col("qv"), col("c.embedding")) / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** Predicate-filtered ANN: exact top-k cosine among only the corpus
    * vectors satisfying a metadata predicate — "nearest English docs",
    * "nearest in this collection". The filter is applied in the corpus
    * projection BEFORE any vector math, so Catalyst pushes it into the
    * parquet scan (row-group pruning on the metadata column) and the
    * vector work touches just the qualifying fraction; with the corpus
    * partitioned/sorted by the filter column, whole files skip. Queries
    * come from the UNFILTERED corpus (a query need not satisfy the
    * predicate itself).
    */
  def filteredTopK(emb: DataFrame, nQueries: Int, k: Int, pred: Column): DataFrame = {
    val e = withNorm(emb.filter(pred))
    val q = withNorm(emb).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val scored = e.as("c")
      .join(broadcast(q), col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (V.dotF(col("qv"), col("c.embedding")) / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** Nearest-centroid assignment (max cosine, tie-break centroid id). */
  private[graft] def assignToCentroids(e: DataFrame, cent: DataFrame): DataFrame =
    // r15 (opt guide §2.3/§2.4): argmax cos with cid tie-break as ONE
    // hash aggregate — min(struct(-cos, cid, embedding)) — instead of a
    // per-vector window. The window shuffled and sorted every
    // (vector, centroid) row (nCent × corpus, embedding arrays included);
    // the aggregate's map-side partial combine collapses the broadcast
    // nest to one row per vector BEFORE the exchange. Ordering is
    // identical: row_number over (cos DESC, cid ASC) = 1 picks the same
    // struct min (-cos flips the double order exactly for the real-valued
    // cos domain; (cos, cid) is unique per vector so the embedding field
    // never participates in the comparison).
    // INVARIANT (r16, advice follow-up): the real-valued-cos equivalence
    // requires nonzero norms on BOTH sides — a zero nrm/cnrm makes cos
    // NaN, which Spark sorts LARGEST, so the old DESC window would pick
    // the NaN row while min(struct(-cos,…)) picks a non-NaN one. The
    // generated corpus contains no zero vector (oracle-verified at four
    // SFs) and a centroid is a fixed-point mean of its cluster's nonzero
    // vectors (updateCentroids), which never vanishes on this data; if
    // embeddings ever become user-supplied, enforce nrm > 0 at ingest
    // (QuantizerStore.build is the choke point) rather than relying on
    // this comment.
    e.crossJoin(broadcast(cent))
      .select(col("vec_id"), struct(
        (-(V.dotF(col("embedding"), col("cvec")) / (col("nrm") * col("cnrm"))))
          .as("nc"),
        col("cid").as("cid"),
        col("embedding").as("embedding")).as("sc"))
      .groupBy(col("vec_id")).agg(min(col("sc")).as("b"))
      .select(col("vec_id"), col("b.embedding").as("embedding"), col("b.cid").as("cid"))

  /** Deterministic centroid update: per-component fixed-point integer
    * mean (order-independent — see ivfTopK). Empty clusters drop out.
    */
  private def updateCentroids(assigned: DataFrame): DataFrame =
    assigned.select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(floor(col("v").cast("double") * 1e7 + 0.5).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .withColumn("cv", col("sq").cast("double") / 1e7 / col("n"))
      .groupBy(col("cid"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), x -> CAST(x.cv AS FLOAT))")
        .as("cvec"))
      .withColumn("cnrm", V.normF(col("cvec")))

  /** IVF with UNSUPERVISED k-means coarse quantization — no label column
    * needed (ivfTopK's label partitions are a luxury real corpora lack).
    * Seeds are the `nCent` vectors with the smallest md5-hash of their id
    * (deterministic, spread independently of insertion order), refined by
    * `iters` Lloyd iterations. Every step is the classic distributed
    * k-means shape: broadcast centroids → map-side nearest-centroid
    * assignment → one aggregation for the update; the fixed-point integer
    * component sums make the learned centroids bit-identical regardless
    * of partitioning, so the DuckDB oracle replays the whole training
    * loop exactly.
    */
  def kmeansIvfTopK(emb: DataFrame, nQueries: Int, k: Int, nCent: Int = 8,
      iters: Int = 2, nProbe: Int = 2): DataFrame = {
    val e = withNorm(emb)
    val cent = kmeansCentroids(e, nCent, iters)
    val asn = assignToCentroids(e, cent).select(col("vec_id"), col("cid"))
    centroidProbeSearch(e, cent, asn, nQueries, k, nProbe)
  }

  /** [[kmeansIvfTopK]] over an already-trained quantizer (centroids +
    * narrow assignment, e.g. [[sharedKmeans]]) — search only, no
    * training pass.
    */
  def kmeansIvfTopKFrom(emb: DataFrame, cent: DataFrame, asn: DataFrame,
      nQueries: Int, k: Int, nProbe: Int = 2): DataFrame =
    centroidProbeSearch(withNorm(emb), cent, asn, nQueries, k, nProbe)

  /** Hash-seeded Lloyd training loop shared by [[kmeansIvfTopK]] and
    * [[semanticDedup]]: the nCent vectors with the smallest md5-hash of
    * their id seed the centroids, refined by `iters` assign/update
    * rounds (fixed-point integer component means → bit-identical
    * regardless of partitioning; the oracle replays the loop exactly).
    */
  /** Pull a centroid table (nCent rows — metadata-bounded, like
    * Ranking's offsets) onto the driver and re-emit it as a local
    * relation. Lazily chaining the Lloyd rounds instead builds a plan
    * whose depth grows per round and whose centroid subtree is re-planned
    * and re-broadcast at every reference — at toy scale that driver-side
    * planning dwarfs the actual work, and MLlib's KMeans keeps centers on
    * the driver for the same reason. Values are unchanged (fixed-point
    * integer means), so the oracle replay is unaffected.
    */
  private[graft] def localized(c: DataFrame): DataFrame =
    c.sparkSession.createDataFrame(
      java.util.Arrays.asList(c.collect(): _*), c.schema)

  /** Shared k-means coarse quantizer over the `embeddings` table at the
    * default shape (8 centroids, 2 Lloyd iterations): (driver-local
    * centroids, narrow final assignment). Six registered queries consume
    * this IDENTICAL model (ann_kmeans_topk, ann_centroid_stats,
    * dedup_semantic, ann_ivfpq_topk, ann_recall_ivfpq,
    * cluster_label_purity); training it per query (or even per bench
    * pass) was pure re-computation — a coarse quantizer is per-ingest
    * state, so this now reads the disk-persisted [[QuantizerStore]]
    * (trained once per corpus, fingerprint-validated on open). Values
    * are unchanged: training is deterministic (fixed-point integer
    * means), so each query's oracle replay still matches.
    */
  def sharedKmeans(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    QuantizerStore.kmeans(s, dir)

  private[graft] def kmeansCentroids(e: DataFrame, nCent: Int, iters: Int): DataFrame = {
    // TakeOrdered(nCent) — no global sort; the window numbering only the
    // nCent seed rows
    val seeds = e
      .withColumn("hv", Hashing.h60(col("vec_id").cast("string")))
      .orderBy(col("hv"), col("vec_id")).limit(nCent)
    val cent0 = localized(seeds
      .withColumn("cid", row_number().over(Window.orderBy(col("hv"), col("vec_id"))))
      .select(col("cid"), col("embedding").as("cvec"), col("nrm").as("cnrm")))
    (1 to iters).foldLeft(cent0)((c, _) =>
      localized(updateCentroids(assignToCentroids(e, c))))
  }

  /** SemDeDup-style semantic deduplication: learn k-means clusters over
    * the embeddings (no labels needed), then search for near-duplicate
    * pairs (cos ≥ threshold) ONLY within each learned cluster — the
    * cluster assignment is the blocking key, so the pair join is
    * O(Σ cluster²) instead of O(n²). Two guards keep that bound real at
    * 100 TB: `nCent` is a parameter that grows with the corpus, and any
    * cluster larger than `clusterCap` is SUB-BLOCKED by hyperplane-LSH
    * band ([[embeddingDedup]]'s banding, keyed by (cid, band, key)) so a
    * single fat cluster can never go all-pairs — its candidate count is
    * bounded by its band-bucket sizes instead of its square. Pairs inside
    * capped clusters trade recall < 1 for the bound (band-match
    * probability p^rowsPerBand per band); the oracle replicates the
    * identical banding, so results still match exactly. The per-cluster
    * size table is nCent rows — broadcast, never shuffled.
    */
  def semanticDedup(emb: DataFrame, threshold: Double, nCent: Int = 8,
      iters: Int = 2, clusterCap: Int = 5000,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val e = withNorm(emb)
    val cent = kmeansCentroids(e, nCent, iters)
    // narrow (vec_id, cid) assignment, checkpointed: both the size table
    // and the two pair paths read it, so without the checkpoint the
    // corpus-wide assignment pass runs once per reference (the size
    // table's broadcast subtree re-computed it in full)
    val asg = assignToCentroids(e, cent)
      .select(col("vec_id"), col("cid")).localCheckpoint()
    semanticDedupFrom(emb, cent, asg, threshold, clusterCap, bands, rowsPerBand)
  }

  /** [[semanticDedup]] over an already-trained quantizer — clustering
    * is the blocking key, so the pair search reuses [[sharedKmeans]]'
    * assignment directly.
    */
  def semanticDedupFrom(emb: DataFrame, cent: DataFrame, asg: DataFrame,
      threshold: Double, clusterCap: Int = 5000,
      bands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    require(bands * rowsPerBand <= NumPlanes, s"needs <= $NumPlanes planes")
    val e = withNorm(emb)
    // nCent rows — driver-localized like the centroids themselves
    val sizes = localized(asg.groupBy(col("cid")).agg(count(lit(1)).as("csize")))
    val keyed = asg.join(broadcast(sizes), "cid")
    // small clusters: within-cluster all pairs (≤ cap²/2 each, bounded)
    val small = keyed.filter(col("csize") <= clusterCap)
      .select(col("cid"), col("vec_id"))
    val smallPairs = small.as("a")
      .join(small.as("b"), col("a.cid") === col("b.cid")
        && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cid").as("cid"), col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"))
    // fat clusters: candidates must ALSO share an LSH band bucket; band
    // only the narrow (cid, vec_id, sig) projection (see embeddingDedup)
    val bigSig = keyed.filter(col("csize") > clusterCap)
      .join(emb.select(col("vec_id"), lshSignature(col("embedding")).as("sig")), "vec_id")
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        expr(s"(sig div ${1L << (b * rowsPerBand)}) % ${1L << rowsPerBand}").as("key"))
    }
    val banded = bigSig
      .select(col("cid"), col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("cid"), col("vec_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val bigPairs = banded.as("x")
      .join(banded.as("y"),
        col("x.cid") === col("y.cid") && col("x.band") === col("y.band") &&
          col("x.key") === col("y.key") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.cid").as("cid"), col("x.vec_id").as("vec_a"),
        col("y.vec_id").as("vec_b"))
      .distinct()
    smallPairs.unionByName(bigPairs)
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("cos", V.dotF(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("cid"), col("vec_a"), col("vec_b"),
        Hashing.rd4(col("cos")).as("cos"))
  }

  /** Shared IVF search tail: probe the nProbe nearest centroids per query,
    * exact cosine rerank within the probed partitions only.
    */
  private def centroidProbeSearch(e: DataFrame, cent: DataFrame, asn: DataFrame,
      nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy((V.dotF(col("qv"), col("cvec")) / (col("qnrm") * col("cnrm"))).desc, col("cid"))
    val probes = broadcast(q).crossJoin(broadcast(cent))
      .withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= nProbe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cid"))
    val scored = e.as("c").join(asn.as("a"), col("c.vec_id") === col("a.vec_id"))
      .join(broadcast(probes),
        col("a.cid") === probes("cid") && col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (V.dotF(col("qv"), col("c.embedding")) / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** Deterministic k-means‖-style seeding (Bahmani et al.'s oversampling
    * shape, made exactly replayable): instead of nCent-1 sequential
    * full-corpus passes (the greedy k-means++ chain), run `rounds`
    * oversampling passes that each TakeOrdered the `ell` vectors whose
    * best cosine to the current candidate set is smallest (the farthest
    * ones, ties → min vec_id), then REDUCE the 1 + rounds·ell candidate
    * sample to nCent seeds by greedy farthest-point selection — on the
    * candidate sample only, driver-side (it is constant-sized: ~17 rows
    * at the defaults, vs thousands of corpus passes at realistic nCent).
    * Seed 1 is the hash-min vector; every argmin/argmax tie-breaks on
    * vec_id and every cosine is the same left-to-right double dot the
    * oracle's SQL computes, so DuckDB replays seeding bit-for-bit.
    * Corpus passes: `rounds` (+1 TakeOrdered for seed 1), independent of
    * nCent — the fix for "seeding cost scales with centroid count".
    *
    * Each round's candidate table is eagerly localCheckpoint'ed so the
    * next round's plan stays O(1) (the round references it twice). On a
    * multi-executor cluster prefer reliable `checkpoint()` if executor
    * loss during seeding matters.
    */
  private[graft] def kmeansParSeeds(e: DataFrame, nCent: Int,
      ell: Int = 8, rounds: Int = 2): DataFrame = {
    require(1 + rounds * ell >= nCent,
      s"oversample too small: 1 + $rounds*$ell < $nCent candidates")
    val spark = e.sparkSession
    var cands = e
      .withColumn("hv", Hashing.h60(col("vec_id").cast("string")))
      .orderBy(col("hv"), col("vec_id")).limit(1)
      .select(col("vec_id"), col("embedding").as("cvec"), col("nrm").as("cnrm"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val far = e.crossJoin(broadcast(cands.select(col("cvec"), col("cnrm"))))
        .groupBy(col("vec_id"))
        .agg(max(V.dotF(col("embedding"), col("cvec")) / (col("nrm") * col("cnrm")))
          .as("closest"))
        .orderBy(col("closest").asc, col("vec_id")).limit(ell)
        .select(col("vec_id"))
        .join(e, "vec_id")
        .select(col("vec_id"), col("embedding").as("cvec"), col("nrm").as("cnrm"))
      cands = cands.unionByName(far).localCheckpoint()
    }
    // greedy farthest-point reduction on the constant-sized sample —
    // plain Scala, mirroring the oracle's CTE chain exactly (same dot
    // order, same (closest, vec_id) tie-breaks)
    val sample = cands.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .groupBy(_._1).map(_._2.head).toSeq.sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: (Long, Array[Float], Double), b: (Long, Array[Float], Double)): Double =
      dot(a._2, b._2) / (a._3 * b._3)
    val seed1 = sample.minBy(c => (Hashing.h60jvm(c._1.toString), c._1))
    val sel = scala.collection.mutable.ArrayBuffer(seed1)
    var rest = sample.filterNot(_._1 == seed1._1)
    // `rest.nonEmpty` guard: a corpus smaller than nCent yields fewer
    // candidates than seats — stop early with what exists (the oracle's
    // seed CTEs likewise just stop growing) instead of empty.minBy
    for (_ <- 2 to nCent if rest.nonEmpty) {
      val pick = rest.map(c => (sel.map(s => cos(c, s)).max, c._1, c))
        .minBy(t => (t._1, t._2))
      sel += pick._3
      rest = rest.filterNot(_._1 == pick._2)
    }
    val rows = sel.toSeq.zipWithIndex.map { case ((_, emb, nrm), i) =>
      org.apache.spark.sql.Row(i + 1, emb.toSeq, nrm)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cid",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("cvec",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("cnrm",
          org.apache.spark.sql.types.DoubleType))))
  }

  /** k-means IVF with farthest-point (k-means++-style) seeding and
    * convergence early-stop: Lloyd runs at most `iters` rounds but stops
    * as soon as the assignment is stable. The early stop is bit-compatible
    * with the oracle's fixed `iters`-round unroll — once assignments
    * repeat, updateCentroids is a fixpoint, so extra oracle rounds are
    * no-ops. The per-round stability check is one keyed join + isEmpty on
    * the two cached assignment tables.
    */
  def kmeansPpIvfTopK(emb: DataFrame, nQueries: Int, k: Int, nCent: Int = 8,
      iters: Int = 3, nProbe: Int = 2): DataFrame = {
    val e = withNorm(emb).persist()
    val (cent, asn) = kmeansPpModel(e, nCent, iters)
    centroidProbeSearch(e, cent, asn, nQueries, k, nProbe)
  }

  /** The k-means‖-seeded Lloyd training loop of [[kmeansPpIvfTopK]],
    * returning (final centroids, narrow final assignment) — the reusable
    * trained-model piece, shared so [[sharedKmeansPp]] can train once
    * per (session, dir).
    */
  private[graft] def kmeansPpModel(e: DataFrame, nCent: Int,
      iters: Int): (DataFrame, DataFrame) = {
    var cent = kmeansParSeeds(e, nCent)
    // eager localCheckpoint per round: each round's plan references the
    // previous round's tables multiple times, so truncating the logical
    // plan keeps per-round planning O(1) (see kmeansParSeeds)
    var prev = assignToCentroids(e, cent).localCheckpoint()
    var it = 0
    var stable = false
    while (it < iters && !stable) {
      // cent is an 8-row aggregate OVER the checkpointed prev — leave it
      // lazy so update+assign materialize as ONE job per round (the probe
      // tail re-derives the tiny agg rather than paying a round-trip here)
      cent = updateCentroids(prev)
      val asn = assignToCentroids(e, cent)
      it += 1
      if (it == iters) {
        // the check only exists to break EARLIER — on the last round the
        // assignment is final either way, so skip the comparison entirely
        prev = asn.localCheckpoint()
      } else {
        // changed-assignment count rides the checkpoint job via observe()
        // (same keyed comparison as before, zero extra actions); the
        // projection restores asn's exact column set, and the reshuffle
        // the join introduces cannot move results — updateCentroids'
        // fixed-point integer means are partition-order-independent
        val obs = new org.apache.spark.sql.Observation(s"km_chg_$it")
        val cols = asn.columns.map(col)
        prev = asn
          .join(prev.select(col("vec_id"), col("cid").as("pcid")), "vec_id")
          .observe(obs, coalesce(
            sum(when(col("cid") =!= col("pcid"), 1L).otherwise(0L)), lit(0L)).as("chg"))
          .select(cols: _*)
          .localCheckpoint()
        stable = obs.get("chg").asInstanceOf[Long] == 0L
      }
    }
    // `prev` IS the assignment against the final `cent` (computed right
    // after the last update) — re-assigning would repeat a corpus pass
    (cent, prev.select(col("vec_id"), col("cid")))
  }

  /** Shared k-means‖-seeded quantizer over the `embeddings` table at the
    * default shape (8 centroids, ≤3 Lloyd iterations with early stop):
    * (driver-local centroids, narrow final assignment) — the
    * [[sharedKmeans]] pattern for the ++-seeded model, likewise served
    * from the disk-persisted [[QuantizerStore]]. Training a coarse
    * quantizer is a per-ingest step, not a per-query one: at 100 TB
    * every search against the corpus reuses the same frozen model (see
    * [[AnnIndexStore]]), so the registered query paying the 6-job
    * seeding+Lloyd chain on every call was pure re-computation. Values
    * are unchanged — training is deterministic (hash-seeded sample,
    * fixed-point integer means), so the oracle replay still matches bit
    * for bit.
    */
  def sharedKmeansPp(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    QuantizerStore.kmeansPp(s, dir)

  /** Symmetric int8 scalar quantization: per-vector scale = max|v|/127,
    * q_i = floor(v_i/scale + 0.5) ∈ [-127, 127]. One map-only projection;
    * all arithmetic is single IEEE ops, so the DuckDB oracle replays it
    * exactly. (Stored as array<int> here — a production sink would pack
    * 4× tighter as binary, but the SEARCH math below is already the
    * int-domain version.)
    */
  private def withQuantized(emb: DataFrame): DataFrame =
    withNorm(emb)
      .withColumn("scale",
        expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))") / 127.0)
      .withColumn("qvec",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))"))

  /** ANN over int8-quantized vectors: score = (scaleA·scaleB·⟨qA,qB⟩) /
    * (‖a‖·‖b‖) — the integer dot is EXACT (codegen'd IntDotProduct, long
    * accumulator), so the approximate cosine is deterministic and
    * oracle-replayable. The pair join moves only (id, qvec, scale, nrm) —
    * the float vectors never leave the initial projection, which is the
    * point of quantized search at 100 TB: ~4× less through broadcast and
    * scan, one multiply to dequantize per pair.
    */
  def quantizedTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val base = withQuantized(emb)
      .select(col("vec_id"), col("qvec"), col("scale"), col("nrm"))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qvec").as("qv"),
        col("scale").as("qs"), col("nrm").as("qnrm"))
    val scored = base.as("c")
      .join(broadcast(q), col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        ((col("qs") * col("c.scale")) * V.dotI(col("qv"), col("c.qvec"))
          / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** Product-quantization ANN with asymmetric-distance (ADC) search.
    * The 64-dim space splits into `nSub` orthogonal subspaces; each
    * subvector is encoded as the id of its nearest (L2) codeword from an
    * `nCode`-entry per-subspace codebook (hash-seeded sample vectors —
    * deterministic, oracle-replayable). A vector is then nSub small ints
    * (PQ's ~64× memory cut: the float vectors never appear after
    * encoding). Search never decodes the corpus: per query, the nSub×
    * nCode query-to-codeword dots form a tiny broadcast ADC lookup
    * table, and scoring a corpus vector is nSub table lookups + a
    * FIXED-ORDER sum (qc0+qc1+qc2+qc3 — bit-identical across engines,
    * unlike an aggregation whose merge order floats). The approximate
    * cosine divides by the reconstructed-vector norm √Σ‖c_s‖² (exact
    * because subspaces are orthogonal).
    *
    * L2 encode distance is the single-op chain ‖v‖² + ‖c‖² − 2⟨v,c⟩ —
    * norms projected once, dot via the codegen'd FloatDotProduct.
    */
  def pqTopK(emb: DataFrame, nQueries: Int, k: Int,
      nSub: Int = 4, nCode: Int = 8): DataFrame = {
    val subDim = 64 / nSub
    def subStructs(vec: String) = expr(
      s"transform(sequence(0, ${nSub - 1}), s -> struct(s AS s, slice($vec, s * $subDim + 1, $subDim) AS sv))")
    val e = withNorm(emb)
    val codebook = e
      .withColumn("hv", Hashing.h60(col("vec_id").cast("string")))
      .orderBy(col("hv"), col("vec_id")).limit(nCode)
      .withColumn("cid", row_number().over(Window.orderBy(col("hv"), col("vec_id"))))
      .select(col("cid"), explode(subStructs("embedding")).as("x"))
      .select(col("x.s").as("s"), col("cid"), col("x.sv").as("cvec"))
      .withColumn("cc", V.dotF(col("cvec"), col("cvec")))
    val subv = e
      .select(col("vec_id"), explode(subStructs("embedding")).as("x"))
      .select(col("vec_id"), col("x.s").as("s"), col("x.sv").as("sv"))
      .withColumn("vv", V.dotF(col("sv"), col("sv")))
    // r15: per-(vector, subspace) argmin codeword as ONE fused hash
    // aggregate — min(struct(dist, cid, cc)) per subspace column —
    // replacing the (vec_id, s) window + a second pivot aggregate. The
    // window shuffled and sorted every (vector, subspace, codeword) row
    // (nSub·nCode × corpus); the aggregate's map-side combine collapses
    // the broadcast nest to one wide row per vector before the exchange.
    // Ordering identical: row_number over (dist ASC, cid ASC) = 1 is the
    // struct min; (dist, cid) is unique so cc never participates.
    val enc = subv.join(broadcast(codebook), "s")
      .select(col("vec_id"), col("s"), struct(
        (col("vv") + col("cc") - lit(2.0) * V.dotF(col("sv"), col("cvec"))).as("d"),
        col("cid").as("cid"), col("cc").as("cc")).as("sc"))
    val aggs = (0 until nSub).map(s =>
      min(when(col("s") === s, col("sc"))).as(s"b$s"))
    val wide = enc.groupBy(col("vec_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id") +:
        (0 until nSub).flatMap(s => Seq(
          col(s"b$s.cid").as(s"c$s"), col(s"b$s.cc").as(s"cc$s"))): _*)
      .withColumn("rnrm", sqrt((0 until nSub).map(s => col(s"cc$s")).reduce(_ + _)))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val adc = q
      .select(col("query_id"), explode(subStructs("qv")).as("x"))
      .select(col("query_id"), col("x.s").as("s"), col("x.sv").as("qs"))
      .join(codebook, "s")
      .select(col("query_id"), col("s"), col("cid"),
        V.dotF(col("qs"), col("cvec")).as("qc"))
    var pairs = wide
      .crossJoin(broadcast(q.select(col("query_id"), col("qnrm"))))
      .filter(col("vec_id") =!= col("query_id"))
    for (s <- 0 until nSub)
      pairs = pairs.join(
        broadcast(adc.filter(col("s") === s)
          .select(col("query_id"), col("cid").as(s"c$s"), col("qc").as(s"qc$s"))),
        Seq("query_id", s"c$s"))
    val scored = pairs.withColumn("cos",
      (0 until nSub).map(s => col(s"qc$s")).reduce(_ + _) / (col("qnrm") * col("rnrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** IVF-PQ composite index with asymmetric-distance search — the
    * standard production ANN layout (Jégou et al.'s IVFADC): a coarse
    * learned quantizer (the [[kmeansCentroids]] Lloyd loop) partitions
    * the corpus into cells, each vector stores only its cell id plus
    * `nSub` product-quantized RESIDUAL codes (vector − its centroid),
    * and a query scores candidates in its `nProbe` nearest cells without
    * ever decoding them. Residual PQ beats raw PQ at equal code budget
    * because residuals concentrate near the origin (the coarse quantizer
    * has removed the between-cell variance), and the cell restriction
    * cuts the scan to nProbe/nCent of the corpus — the two halves of the
    * composite compound.
    *
    * Everything per-candidate is table lookups + fixed-order sums:
    *   cos ≈ (⟨q,c⟩ + Σ_s ⟨q_s, code_s⟩) / (‖q‖ · ‖ĉ+r̂‖), with
    *   ‖ĉ+r̂‖² = ‖c‖² + 2·Σ_s ⟨c_s, code_s⟩ + Σ_s ‖code_s‖²
    * — the reconstructed norm is QUERY-INDEPENDENT, so it is computed
    * once at index-build time into the code table; search joins only the
    * tiny broadcast ADC tables (nQueries·nSub·nCode and nProbe rows).
    * The residual codebook is the residuals of the `nCode` hash-min
    * sample vectors (deterministic, shared across cells, as in the
    * original IVFADC), and every dot/sum is the same left-to-right
    * double chain the DuckDB oracle replays bit-for-bit.
    *
    * Ref query semantics: kadiyadb fetches by (metric, time) partitions;
    * this is the embedding-space analogue of partition-pruned fetch —
    * probe only the cells that can contain the answer.
    */
  def ivfPqTopK(emb: DataFrame, nQueries: Int, k: Int, nCent: Int = 8,
      iters: Int = 2, nProbe: Int = 2, nSub: Int = 4, nCode: Int = 8): DataFrame = {
    val e = withNorm(emb)
    val cent = kmeansCentroids(e, nCent, iters)
    ivfPqTopKWith(e, cent, ivfPqResiduals(e, cent), nQueries, k, nProbe, nSub, nCode)
  }

  /** [[ivfPqTopK]] over an already-trained coarse quantizer (narrow
    * assignment + centroids, e.g. [[sharedKmeans]]) — residual encoding
    * and search only, no Lloyd training pass.
    */
  def ivfPqTopKFrom(emb: DataFrame, cent: DataFrame, asn: DataFrame,
      nQueries: Int, k: Int, nProbe: Int = 2, nSub: Int = 4, nCode: Int = 8): DataFrame = {
    val e = withNorm(emb)
    ivfPqTopKWith(e, cent, ivfPqResidualsFrom(emb, cent, asn),
      nQueries, k, nProbe, nSub, nCode)
  }

  private def ivfPqTopKWith(e: DataFrame, cent: DataFrame, resTab: DataFrame,
      nQueries: Int, k: Int, nProbe: Int, nSub: Int, nCode: Int): DataFrame = {
    val cb = ivfPqCodebook(resTab, nSub, nCode)
    val wide = ivfPqEncode(resTab, cent, cb, nSub)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    ivfPqSearch(q, cent, cb, wide, k, nProbe, nSub)
  }

  private def pqSubStructs(vec: String, nSub: Int) = {
    val subDim = 64 / nSub
    expr(s"transform(sequence(0, ${nSub - 1}), s -> struct(s AS s, slice($vec, s * $subDim + 1, $subDim) AS sv))")
  }

  /** Residuals of every vector against its nearest FINAL centroid:
    * double subtract rounded to float (exactly what the oracle's
    * ::DOUBLE − ::DOUBLE → ::REAL does).
    */
  private[graft] def ivfPqResiduals(e: DataFrame, cent: DataFrame): DataFrame =
    assignToCentroids(e, cent)
      .join(broadcast(cent.select(col("cid"), col("cvec"))), "cid")
      .select(col("vec_id"), col("cid"),
        expr("zip_with(embedding, cvec, (x, y) -> CAST(CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS FLOAT))")
          .as("res"))

  /** [[ivfPqResiduals]] when the assignment is already known (narrow
    * (vec_id, cid), e.g. [[sharedKmeans]]): joins vectors back by id
    * instead of re-running nearest-centroid.
    */
  private def ivfPqResidualsFrom(emb: DataFrame, cent: DataFrame,
      asn: DataFrame): DataFrame =
    asn.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(cent.select(col("cid"), col("cvec"))), "cid")
      .select(col("vec_id"), col("cid"),
        expr("zip_with(embedding, cvec, (x, y) -> CAST(CAST(x AS DOUBLE) - CAST(y AS DOUBLE) AS FLOAT))")
          .as("res"))

  /** Shared residual codebook: residuals of the nCode hash-min vectors,
    * split per subspace — nCode·nSub rows, driver-localized so the many
    * broadcast references don't each replay the k-means chain.
    */
  private[graft] def ivfPqCodebook(resTab: DataFrame,
      nSub: Int, nCode: Int): DataFrame =
    localized(resTab
      .withColumn("hv", Hashing.h60(col("vec_id").cast("string")))
      .orderBy(col("hv"), col("vec_id")).limit(nCode)
      .withColumn("code", row_number().over(Window.orderBy(col("hv"), col("vec_id"))))
      .select(col("code"), explode(pqSubStructs("res", nSub)).as("x"))
      .select(col("x.s").as("s"), col("code"), col("x.sv").as("cwv"))
      .withColumn("cc", V.dotF(col("cwv"), col("cwv"))))

  /** Encode vectors into the compressed code table
    * (vec_id, cid, c0..c{nSub-1}, rnrm): nearest codeword per (vector,
    * subspace) by residual L2, plus the QUERY-INDEPENDENT reconstructed
    * norm — computed here, at index-build time, never at search. Works
    * for the initial corpus AND for later appends (same centroids +
    * codebook, no retraining).
    */
  private[graft] def ivfPqEncode(resTab: DataFrame, cent: DataFrame, cb: DataFrame,
      nSub: Int): DataFrame = {
    val subv = resTab
      .select(col("vec_id"), col("cid"), explode(pqSubStructs("res", nSub)).as("x"))
      .select(col("vec_id"), col("cid"), col("x.s").as("s"), col("x.sv").as("sv"))
      .withColumn("vv", V.dotF(col("sv"), col("sv")))
    // r15: per-(vector, subspace) argmin codeword as ONE fused hash
    // aggregate (same rewrite as pqTopK — the (vec_id, s) window shuffled
    // and sorted every (vector, subspace, codeword) row; min(struct) with
    // map-side combine collapses the broadcast nest to one wide row per
    // vector before the exchange; row_number over (dist ASC, code ASC)=1
    // is exactly the struct min, (dist, code) unique so cc never
    // participates). The per-subspace centroid×codeword dot cx is then
    // fetched by nSub broadcast joins on (cid, code) — tiny lookup
    // tables, no further exchange (the former shape paid a second pivot
    // aggregate for it).
    val enc = subv.join(broadcast(cb), "s")
      .select(col("vec_id"), col("cid"), col("s"), struct(
        (col("vv") + col("cc") - lit(2.0) * V.dotF(col("sv"), col("cwv"))).as("d"),
        col("code").as("code"), col("cc").as("cc")).as("sc"))
    val aggs = (0 until nSub).map(s =>
      min(when(col("s") === s, col("sc"))).as(s"b$s"))
    var widePre = enc.groupBy(col("vec_id"), col("cid")).agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id") +: col("cid") +:
        (0 until nSub).flatMap(s => Seq(
          col(s"b$s.code").as(s"c$s"), col(s"b$s.cc").as(s"cc$s"))): _*)
    // centroid-subvector × codeword dots (nCent·nSub·nCode rows) and
    // per-cell ⟨c,c⟩ — the query-independent pieces of the recon norm
    val ccx = cent.select(col("cid"), explode(pqSubStructs("cvec", nSub)).as("x"))
      .select(col("cid"), col("x.s").as("s"), col("x.sv").as("csv"))
      .join(cb.select(col("s"), col("code"), col("cwv")), "s")
      .select(col("cid"), col("s"), col("code"), V.dotF(col("csv"), col("cwv")).as("cx"))
    val cnorm = cent.select(col("cid"), V.dotF(col("cvec"), col("cvec")).as("ccn"))
    for (s <- 0 until nSub)
      widePre = widePre.join(
        broadcast(ccx.filter(col("s") === s)
          .select(col("cid"), col("code").as(s"c$s"), col("cx").as(s"cx$s"))),
        Seq("cid", s"c$s"))
    widePre
      .join(broadcast(cnorm), "cid")
      .withColumn("rnrm", sqrt(col("ccn")
        + lit(2.0) * (0 until nSub).map(s => col(s"cx$s")).reduce(_ + _)
        + (0 until nSub).map(s => col(s"cc$s")).reduce(_ + _)))
      .select(col("vec_id") +: col("cid") +:
        (0 until nSub).map(s => col(s"c$s")) :+ col("rnrm"): _*)
  }

  /** Per-query probe assignments: the nProbe coarse cells nearest each
    * query, with the query-side pieces the ADC scorer reuses. Both sides
    * are bounded (queries by contract, centroids by nCent), so the
    * crossJoin is a broadcast nest, never a shuffle.
    */
  private[graft] def ivfProbes(q: DataFrame, cent: DataFrame, nProbe: Int): DataFrame = {
    val wc = Window.partitionBy(col("query_id"))
      .orderBy((V.dotF(col("qv"), col("cvec")) / (col("qnrm") * col("cnrm"))).desc, col("cid"))
    broadcast(q).crossJoin(broadcast(cent))
      .withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= nProbe)
      .select(col("query_id"), col("qnrm"), col("cid"),
        V.dotF(col("qv"), col("cvec")).as("qcent"))
  }

  /** ADC search against an IVF-PQ index (cent + cb + encoded `wide`
    * table): probe the nProbe nearest cells per query, score candidates
    * via the broadcast ADC lookup tables only — the code table is the
    * ONLY corpus-sized input, and it never shuffles (broadcast-joined on
    * its cell and code columns).
    */
  private[graft] def ivfPqSearch(q: DataFrame, cent: DataFrame, cb: DataFrame,
      wide: DataFrame, k: Int, nProbe: Int, nSub: Int): DataFrame = {
    val probes = ivfProbes(q, cent, nProbe)
    val adc = q
      .select(col("query_id"), explode(pqSubStructs("qv", nSub)).as("x"))
      .select(col("query_id"), col("x.s").as("s"), col("x.sv").as("qs"))
      .join(cb.select(col("s"), col("code"), col("cwv")), "s")
      .select(col("query_id"), col("s"), col("code"),
        V.dotF(col("qs"), col("cwv")).as("qc"))
    var pairs = wide.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
    for (s <- 0 until nSub)
      pairs = pairs.join(
        broadcast(adc.filter(col("s") === s)
          .select(col("query_id"), col("code").as(s"c$s"), col("qc").as(s"qc$s"))),
        Seq("query_id", s"c$s"))
    val scored = pairs.withColumn("cos",
      (col("qcent") +: (0 until nSub).map(s => col(s"qc$s"))).reduce(_ + _)
        / (col("qnrm") * col("rnrm")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** End-to-end embedding dedup: the corpus minus the higher-id member of
    * every near-dup pair (keep-first policy, one anti-join — the
    * embedding twin of Dedup.survivors).
    */
  def embeddingSurvivors(emb: DataFrame, threshold: Double): DataFrame =
    embeddingSurvivorsFrom(emb, embeddingDedup(emb, threshold))

  /** [[embeddingSurvivors]] over an already-built verified pair table
    * (e.g. [[sharedEmbPairs]]).
    */
  def embeddingSurvivorsFrom(emb: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = pairs.select(col("vec_b").as("vec_id")).distinct()
    emb.join(drop, Seq("vec_id"), "left_anti").select(col("vec_id"), col("label"))
  }

  /** Verified-pair floor of the shared embedding pair view. */
  val SharedEmbFloor = 0.4

  /** The verified embedding near-dup pair table over `dir`'s embeddings
    * at [[SharedEmbFloor]] — since round 15 a PERSISTED per-ingest
    * artifact ([[EmbPairsStore]], the IVF-PQ-index precedent): built once
    * per corpus, fingerprint-validated, read from parquet by every
    * consumer (pair listing, keep-first survivors, threshold curve, kNN
    * join/hubness/PageRank/clusters) instead of rebuilt per session/pass.
    */
  def sharedEmbPairs(s: SparkSession, dir: String): DataFrame =
    EmbPairsStore.pairs(s, dir)

  /** Cosine range search: every corpus vector with cos ≥ minCos of each
    * query — the radius-based retrieval twin of [[bruteForceTopK]].
    * Embarrassingly parallel: queries broadcast, one scan, per-pair
    * codegen dot, and (unlike top-k) no window/shuffle at all — the
    * filter commutes with partitioning, so 100 TB of vectors stream
    * through map tasks.
    */
  def rangeSearch(emb: DataFrame, nQueries: Int, minCos: Double): DataFrame = {
    val e = withNorm(emb)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    e.as("c")
      .join(broadcast(q), col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        Hashing.rd4(V.dotF(col("qv"), col("c.embedding")) / (col("qnrm") * col("c.nrm")))
          .as("score"))
      .filter(col("score") >= minCos)
  }

  val NumPlanes = 8

  /** ±1 hyperplane matrix, md5-derived (same literals in the oracle SQL).
    * Float entries: ±1.0 is exact in float, and the dot is computed in
    * double either way.
    */
  lazy val planes: Seq[Seq[Float]] =
    (0 until NumPlanes).map { p =>
      (1 to 64).map(i => if (Hashing.h60jvm(s"plane${p}_$i") % 2 == 1) 1.0f else -1.0f)
    }

  /** Hyperplane-LSH bucket signature (NumPlanes sign bits). */
  def lshSignature(v: Column): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      when(V.dotF(v, typedLit(plane)) > 0, 1L << p).otherwise(0L)
    }.reduce(_ + _)

  /** IVF-style ANN: coarse quantization by per-label centroids (element-wise
    * mean vectors); each query probes the nProbe nearest centroids and runs
    * exact cosine only within those partitions. The scale path when buckets
    * must be balanced: |candidates| ≈ nProbe/|centroids| of the corpus.
    *
    * Centroids are DETERMINISTIC: each component is averaged via a
    * fixed-point integer sum (floor(v·10^7 + 0.5) as long) — integer
    * addition commutes, so the result is independent of partition/merge
    * order, unlike a float sum. The 10^-7 quantization is far below any
    * meaningful centroid resolution, and the DuckDB oracle replays the
    * identical arithmetic bit-for-bit.
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int, nProbe: Int = 2): DataFrame = {
    val e = withNorm(emb)
    val cent = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(
        sum(floor(col("v").cast("double") * 1e7 + 0.5).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .withColumn("cv", col("sq").cast("double") / 1e7 / col("n"))
      .groupBy(col("label"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), x -> CAST(x.cv AS FLOAT))")
        .as("cvec"))
      .withColumn("cnrm", V.normF(col("cvec")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy((V.dotF(col("qv"), col("cvec")) / (col("qnrm") * col("cnrm"))).desc, col("label"))
    val probes = broadcast(q).crossJoin(broadcast(cent))
      .withColumn("crnk", row_number().over(wc))
      .filter(col("crnk") <= nProbe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("label"))
    val scored = e.as("c")
      .join(broadcast(probes),
        col("c.label") === probes("label") && col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (V.dotF(col("qv"), col("c.embedding")) / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** ANN via LSH buckets: candidates share the query's bucket signature,
    * reranked by exact cosine. Recall < 1 by construction; the oracle
    * replicates the same bucketing, so results still match exactly.
    */
  def lshTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val sig = withNorm(emb).withColumn("sig", lshSignature(col("embedding")))
    val q = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("sig"))
    val scored = sig.as("c")
      .join(broadcast(q), col("c.sig") === q("sig") && col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (V.dotF(col("qv"), col("c.embedding")) / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** kNN label inference: each query's label predicted by majority vote
    * of its exact top-k neighbors (ties → smaller label), scored against
    * the query's own label — the weak-supervision / label-propagation
    * read of the vector index, and a direct health check of embedding
    * quality (low kNN accuracy = labels are not linearly separated in
    * the space). Reuses the verified brute-force top-k.
    */
  def knnLabel(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val bf = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val votes = bf
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    votes
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
      .join(emb.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        "query_id")
      .withColumn("correct", col("pred_label") === col("true_label"))
  }

  /** Embedding drift monitor: per label, the cosine between the
    * centroids of two deterministic corpus cohorts (vec_id parity —
    * stable under corpus growth ordering). A drift_cos well below 1
    * flags a distribution shift between cohorts (new scraper, encoder
    * change) before it poisons dedup thresholds or ANN recall.
    * Centroid components use the same order-independent fixed-point
    * integer means as the k-means loop, so both engines learn
    * bit-identical centroids. One aggregation + one |labels|-row join.
    */
  def embeddingDrift(emb: DataFrame): DataFrame = {
    val cents = emb
      .select(col("label"), (col("vec_id") % 2).as("cohort"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("cohort"), col("pos"))
      .agg(sum(floor(col("v").cast("double") * 1e7 + 0.5).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .withColumn("cv", col("sq").cast("double") / 1e7 / col("n"))
      .groupBy(col("label"), col("cohort"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cv))), x -> CAST(x.cv AS FLOAT))")
        .as("cvec"),
        max(col("n")).as("n_vecs"))
    val a = cents.filter(col("cohort") === 0)
      .select(col("label"), col("cvec").as("ca"), col("n_vecs").as("n_a"))
    val b = cents.filter(col("cohort") === 1)
      .select(col("label"), col("cvec").as("cb"), col("n_vecs").as("n_b"))
    a.join(b, "label")
      .select(col("label"), col("n_a"), col("n_b"),
        Hashing.rd4(V.dotF(col("ca"), col("cb")) /
          (V.normF(col("ca")) * V.normF(col("cb")))).as("drift_cos"))
  }

  /** IVF index health report: per learned centroid, the member count and
    * the cohesion (avg / worst cosine of members to their centroid).
    * Imbalanced or loose clusters are what make IVF probes miss — this
    * is the diagnostic read alongside [[recallEval]] before tuning
    * nCent/nProbe. One assignment pass + one aggregation.
    */
  def centroidStats(emb: DataFrame, nCent: Int = 8, iters: Int = 2): DataFrame = {
    val e = withNorm(emb)
    val cent = kmeansCentroids(e, nCent, iters)
    centroidStatsFrom(emb, cent,
      assignToCentroids(e, cent).select(col("vec_id"), col("cid")))
  }

  /** [[centroidStats]] over an already-trained quantizer (narrow
    * assignment + centroids, e.g. [[sharedKmeans]]).
    */
  def centroidStatsFrom(emb: DataFrame, cent: DataFrame, asn: DataFrame): DataFrame =
    asn
      .join(withNorm(emb).select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .join(broadcast(cent), "cid")
      .select(col("cid").cast("long").as("cid"),
        (V.dotF(col("embedding"), col("cvec")) / (col("nrm") * col("cnrm"))).as("cos"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"),
        Hashing.rd4(avg(col("cos"))).as("avg_cos"),
        Hashing.rd4(min(col("cos"))).as("min_cos"))

  /** Cluster-vs-label agreement: per k-means cell, the member count, the
    * dominant ground-truth label (ties broken by the smaller label id)
    * and its purity — the standard external check that a quantizer's
    * cells track the corpus's real structure, read before trusting those
    * cells for stratified sampling or per-cell mixture decisions.
    * Consumes the shared quantizer's narrow assignment: one id-keyed join
    * to the (vec_id, label) projection, then aggregates on the tiny
    * (cid, label) key space — embeddings themselves are never touched.
    */
  def clusterLabelPurityFrom(emb: DataFrame, asn: DataFrame): DataFrame = {
    val cl = asn
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = cl.groupBy(col("cid")).agg(sum(col("n")).as("n_vectors"))
    val top = cl
      .groupBy(col("cid"))
      .agg(max(struct(col("n"), (-col("label")).as("negl"))).as("m"))
      .select(col("cid"), col("m.n").as("top_n"),
        (-col("m.negl")).cast("int").as("top_label"))
    tot.join(top, "cid")
      .select(col("cid").cast("long").as("cid"), col("n_vectors"),
        col("top_label"), col("top_n"),
        Hashing.rd4(col("top_n") / col("n_vectors")).as("purity"))
  }

  /** Hybrid retrieval — reciprocal-rank fusion of the BM25 lexical list
    * and the exact-cosine semantic list for one query (terms + its
    * embedding row, ids aligned doc_id ↔ vec_id):
    * score = Σ 1/(kRrf + rank), absent-from-a-list contributes 0. The
    * standard production fusion (no score normalization needed — ranks
    * only), and the capstone over bm25TopK + the ANN path. Both
    * candidate lists are TakeOrdered `poolSize`-row pools, so the rank
    * windows and the full-outer fusion join run over bounded inputs;
    * the corpus-side work is exactly one BM25 pass and one cosine scan.
    */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
      queryVecId: Long, k: Int, poolSize: Int = 20, kRrf: Int = 60): DataFrame = {
    val lexRank = TextAnalysis.bm25TopK(docs, queryTerms, poolSize)
      .withColumn("lex_rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id").as("id"), col("lex_rank"))
    val e = withNorm(emb)
    val q = e.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qv"), col("nrm").as("qnrm"))
    val semRank = e.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), Hashing.rd4(
        V.dotF(col("embedding"), col("qv")) / (col("nrm") * col("qnrm"))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(poolSize)
      .withColumn("sem_rank",
        row_number().over(Window.orderBy(col("cos").desc, col("vec_id"))))
      .select(col("vec_id").as("id"), col("sem_rank"))
    lexRank.join(semRank, Seq("id"), "full_outer")
      .select(col("id").as("doc_id"),
        Hashing.rd6(
          coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(kRrf) + col("sem_rank")), lit(0.0)))
          .as("rrf_score"),
        col("lex_rank"), col("sem_rank"))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(k)
  }

  /** Cosine-threshold calibration for embedding dedup: verified
    * near-dup pairs bucketed by cosine decile with top-down cumulative
    * counts — the vector-side twin of the Jaccard threshold curve
    * (pick the SemDeDup cut before the full run). Input is a verified
    * pair table with a `cos_sim` column (e.g. [[embeddingDedup]] at the
    * calibration floor); the window runs over the fixed ≤10-row decile
    * grid, never the corpus.
    */
  def cosineThresholdCurve(pairs: DataFrame): DataFrame = {
    val w = Window.orderBy(col("cos_bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs
      .withColumn("cos_bucket", floor(col("cos_sim") * 10.0) / 10.0)
      .groupBy(col("cos_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_pairs_at_or_above", sum(col("n_pairs")).over(w))
  }

  /** Multi-probe LSH ANN: each query probes its home bucket PLUS every
    * bucket at Hamming distance 1 in signature space (one flipped
    * hyperplane bit) — the standard trick that recovers most of the
    * recall a single-bucket probe loses, at (NumPlanes+1)× candidate
    * cost instead of the 2^NumPlanes cost of exact search. The probe
    * list is exploded on the tiny query side; candidates still resolve
    * in ONE equi-join on the signature.
    */
  def multiProbeTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val sig = withNorm(emb).withColumn("sig", lshSignature(col("embedding")))
    val q = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("sig"))
      // p = -1 is the home bucket; p in [0, NumPlanes) flips bit p
      .select(col("query_id"), col("qv"), col("qnrm"), col("sig"),
        explode(expr(s"sequence(-1, ${NumPlanes - 1})")).as("p"))
      .select(col("query_id"), col("qv"), col("qnrm"),
        when(col("p") === -1, col("sig"))
          .otherwise(expr("sig ^ shiftleft(CAST(1 AS BIGINT), p)")).as("probe"))
    val scored = sig.as("c")
      .join(broadcast(q),
        col("c.sig") === col("probe") && col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"),
        (V.dotF(col("qv"), col("c.embedding")) / (col("qnrm") * col("c.nrm"))).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        Hashing.rd4(col("cos")).as("score"))
  }

  /** ANN index evaluation: recall@k of the LSH index against brute-force
    * ground truth, per query. n_true = exact top-k size, n_found = what
    * the index returned (< k when the bucket is sparse), n_hits = their
    * intersection, recall = n_hits / k. This is the measurement loop any
    * index deployment needs before trading recall for speed; both sides
    * reuse the already-verified operators, and every query appears even
    * with zero hits (left joins). Scale: ground truth is O(nQueries · n)
    * but nQueries is a fixed eval sample, never the corpus.
    */
  def recallEval(emb: DataFrame, nQueries: Int, k: Int): DataFrame =
    recallEvalOf(emb, nQueries, k, lshTopK)

  /** [[recallEval]] for the multi-probe index — run both and diff the
    * recall columns to price the (planes+1)× candidate cost.
    */
  def recallEvalMultiProbe(emb: DataFrame, nQueries: Int, k: Int): DataFrame =
    recallEvalOf(emb, nQueries, k, (e, n, kk) => multiProbeTopK(e, n, kk))

  /** [[recallEval]] for the label-partition IVF index (probe-2). */
  def recallEvalIvf(emb: DataFrame, nQueries: Int, k: Int): DataFrame =
    recallEvalOf(emb, nQueries, k, (e, n, kk) => ivfTopK(e, n, kk))

  def recallEvalPq(emb: DataFrame, nQueries: Int, k: Int): DataFrame =
    recallEvalOf(emb, nQueries, k, (e, n, kk) => pqTopK(e, n, kk))

  /** [[recallEval]] for the IVF-PQ composite — at equal code budget the
    * residual codes should match or beat plain PQ recall (the coarse
    * quantizer removes between-cell variance before quantization); run
    * both and diff.
    */
  def recallEvalIvfPq(emb: DataFrame, nQueries: Int, k: Int): DataFrame =
    recallEvalOf(emb, nQueries, k, (e, n, kk) => ivfPqTopK(e, n, kk))

  /** [[recallEvalIvfPq]] over an already-trained coarse quantizer. */
  def recallEvalIvfPqFrom(emb: DataFrame, cent: DataFrame, asn: DataFrame,
      nQueries: Int, k: Int): DataFrame =
    recallEvalOf(emb, nQueries, k, (e, n, kk) => ivfPqTopKFrom(e, cent, asn, n, kk))

  /** IVF operating-point table: corpus-level recall at each probe count —
    * the tuning read that prices "how many cells must I scan for the
    * recall I need" before fixing an index's nProbe. Brute-force ground
    * truth is computed ONCE (a bounded nQueries·k table, persisted) and
    * each probe level joins against it; counts are exact integers so the
    * mean recall is a single division.
    */
  def ivfTuningCurve(emb: DataFrame, nQueries: Int, k: Int,
      probes: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    // eager localCheckpoint, not persist: the truth table is BOUNDED
    // (nQueries·k rows), each probe level re-reads it, and a persist here
    // would outlive the call (library callers don't clearCache between
    // reads — the cache-leak ADVICE finding); checkpoint blocks are
    // reclaimed with the RDD instead of pinning executor storage
    val bf = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val out = probes.map { p =>
      val ap = ivfTopK(emb, nQueries, k, p)
        .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
      bf.join(ap,
          col("query_id") === col("aq") && col("neighbor_id") === col("an"), "left")
        .agg(count(lit(1)).as("n_true_total"),
          sum(when(col("aq").isNotNull, 1L).otherwise(0L)).as("n_hits"))
        .select(lit(p).as("n_probe"), col("n_true_total"), col("n_hits"),
          Hashing.rd4(col("n_hits") / col("n_true_total")).as("mean_recall"))
    }.reduce(_.unionByName(_))
    out
  }

  private def recallEvalOf(emb: DataFrame, nQueries: Int, k: Int,
      ann: (DataFrame, Int, Int) => DataFrame): DataFrame = {
    val bf = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val ap = ann(emb, nQueries, k)
      .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    val found = ap.groupBy(col("aq").as("query_id"))
      .agg(count(lit(1)).as("n_found"))
    val hits = bf
      .join(ap, col("query_id") === col("aq") && col("neighbor_id") === col("an"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    bf.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
      .join(found, Seq("query_id"), "left")
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_true"),
        coalesce(col("n_found"), lit(0L)).as("n_found"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        Hashing.rd4(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble)).as("recall"))
  }

  /** Per-label embedding-table health report: vector counts, zero-norm
    * vectors (a broken encoder emits them; they poison cosine math with
    * NaN), and the norm distribution (mean + p10/p50/p90) — the ingest
    * check run before any ANN index is built over a new embedding batch.
    * Each norm is snapped to its integer 1e-6 grid value first: the mean
    * then sums integer-valued doubles (exact in IEEE at any magnitude
    * below 2^53, so partition order cannot move it), and the percentiles
    * interpolate between identical grid values on both engines. One scan,
    * one |labels|-row aggregate.
    */
  /** Top principal component by distributed power iteration — the
    * dimensionality-reduction / whitening primitive over the embedding
    * corpus. Each round is the classic two-pass shape: per-vector dot
    * x_c·v (map-side against the broadcast direction literal), then the
    * per-dimension weighted sum Σ_i x_c,i (x_c,i·v) — one aggregation to
    * a `dim`-row table, collected to the driver (the bounded-collect
    * centroid precedent: `dim` doubles per round, never corpus data) and
    * re-normalized there. The eigenvalue estimate ‖Cv‖ rides the same
    * pass.
    *
    * Engine-exact: components snap to the 1e-6 grid at the scan, means
    * come from exact integer sums, every per-term product entering a
    * row-order-dependent sum is snapped to its integer grid first (dots
    * at 1e-9, loadings at 1e-6 — the entropy/lmScore contract), and the
    * driver-side norm folds the `dim` squares in dimension order exactly
    * as the oracle's list_reduce does. The registered query runs ONE
    * iteration (the oracle replays it verbatim); callers iterate to
    * convergence — each extra round is the same two jobs.
    */
  /** Grid-snapped, mean-centered (vec_id, dim, c) table — the input both
    * PCA entry points iterate over — frozen once per call: every power
    * round reads it twice, and the histogram's projection pass (which
    * runs after the rounds) reads it again.
    */
  private def pcaCentered(emb: DataFrame): DataFrame = {
    val flat = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "v")))
      .select(col("vec_id"), (col("p0") + 1).as("dim"),
        floor(col("v").cast("double") * 1000000.0 + 0.5).cast("long").as("g"))
    val mn = flat.groupBy(col("dim"))
      .agg(sum(col("g")).as("sg"), count(lit(1)).as("n"))
    flat.join(broadcast(mn), "dim")
      .select(col("vec_id"), col("dim"),
        (col("g") / 1000000.0 - col("sg") / (col("n") * 1000000.0)).as("c"),
        col("n"))
      .localCheckpoint()
  }

  /** Power-iterate over the frozen centered table; returns the unit
    * direction (1e-6 grid) and the eigenvalue estimate.
    */
  private def pcaIterate(cDf: DataFrame, dim: Int,
      iters: Int): (Array[Double], Double) = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var eig = 0.0
    (1 to iters).foreach { _ =>
      val vCol = array(v.map(lit): _*)
      val dots = cDf
        .withColumn("t", floor(col("c") * element_at(vCol, col("dim")) *
          1000000000.0 + 0.5).cast("long"))
        .groupBy(col("vec_id")).agg(sum(col("t")).as("dq"))
      val u = cDf.join(dots, "vec_id")
        .select(col("dim"), col("n"),
          floor(col("c") * (col("dq") / 1000000000.0) * 1000000.0 + 0.5)
            .cast("long").as("s"))
        .groupBy(col("dim"))
        .agg(sum(col("s")).as("ss"), max(col("n")).as("n"))
        .select(col("dim"), (col("ss") / (col("n") * 1000000.0)).as("u"))
        .collect()
        .sortBy(_.getAs[Int]("dim"))
        .map(_.getAs[Double]("u"))
      eig = math.sqrt(u.map(x => x * x).reduceLeft(_ + _))
      require(eig > 0.0, "pcaPower: zero-variance corpus has no principal component")
      v = u.map(x => math.floor(x / eig * 1000000.0 + 0.5) / 1000000.0)
    }
    (v, eig)
  }

  def pcaPower(emb: DataFrame, iters: Int = 1, dim: Int = 64): DataFrame = {
    val (v, eig) = pcaIterate(pcaCentered(emb), dim, iters)
    val eigOut = math.floor(eig * 10000.0 + 0.5) / 10000.0
    emb.sparkSession.createDataFrame(
      (1 to dim).map(i => (i, v(i - 1), eigOut)))
      .toDF("dim", "loading", "eigenvalue")
  }

  /** Corpus distribution along the top principal component: every vector
    * projected onto the learned direction (same 1e-9 dot grid as the
    * training rounds) and counted into fixed-width bins — the read that
    * makes PCA actionable (bimodality = two populations to split,
    * heavy tails = candidate outliers, mass at zero = dead direction).
    * The projection is one map-side pass against the broadcast loading
    * literal plus a per-vector combine; the histogram aggregate lands on
    * the ≤O(range/width) bin key space.
    */
  def pcaProjectionHistogram(emb: DataFrame, iters: Int = 1,
      binWidth: Double = 0.5, dim: Int = 64): DataFrame = {
    val cDf = pcaCentered(emb)
    val (v, _) = pcaIterate(cDf, dim, iters)
    pcaHistogramOf(cDf, v.toSeq, binWidth)
  }

  private def pcaHistogramOf(cDf: DataFrame, v: Seq[Double],
      binWidth: Double): DataFrame = {
    val vCol = array(v.map(lit): _*)
    cDf
      .withColumn("t", floor(col("c") * element_at(vCol, col("dim")) *
        1000000000.0 + 0.5).cast("long"))
      .groupBy(col("vec_id")).agg(sum(col("t")).as("dq"))
      .select(col("vec_id"), (col("dq") / 1000000000.0).as("proj"))
      .withColumn("bin", floor(col("proj") / binWidth).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("bin_lo", Hashing.rd4(col("bin") * binWidth))
  }

  /** Embedding-space outlier screen: per-vector diagonal-Mahalanobis
    * distance to the corpus (Σ_d (x_d−μ_d)²/σ²_d over dims with positive
    * variance), top-k reported — the curation filter for mis-embedded /
    * out-of-distribution vectors before they poison an index or a
    * dedup pass. The moment table is the [[dimStats]] aggregate (a
    * `dim`-row broadcast); the score pass is map-side with one per-vector
    * combine, each term snapped to its integer 1e-6 grid before the
    * order-dependent sum (the entropy contract), and the top-k is a
    * TakeOrdered with vec_id tie-break — no global sort at any width.
    */
  def embeddingOutliers(emb: DataFrame, k: Int = 20): DataFrame = {
    val flat = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p0", "v")))
      .select(col("vec_id"), (col("p0") + 1).as("dim"),
        floor(col("v").cast("double") * 1000000.0 + 0.5).cast("long").as("g"))
    // second moment as exact DECIMAL(38,0): per-row g² is ~1e12 for
    // unit-range components, so a LONG sum would silently wrap around
    // ~3e7 vectors (Spark's non-ANSI sum) while DuckDB promotes BIGINT
    // sums to HUGEINT — the decimal sum keeps both engines exact at any
    // corpus width, and the one cast-to-double happens after the sum on
    // both sides (identical nearest-double rounding)
    val mn = flat.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum((col("g") * col("g")).cast("decimal(38,0)")).as("sg2"))
    val nD = col("n").cast("double")
    val meanE = col("sg") / (nD * 1000000.0)
    // va epsilon, not va > 0: a positive-but-degenerate variance
    // (va ~ 1e-12) turns a |dev| ~ 1 into a ~1e18 per-term addend and
    // wraps the per-vector score sum; with va ≥ 1e-9 the worst 64-dim
    // score sum stays ~6e18 < Long.Max. Same cut in the oracle.
    val stats = mn
      .select(col("dim"), meanE.as("m"),
        (col("sg2").cast("double") / (nD * 1000000000000.0) - meanE * meanE).as("va"))
      .filter(col("va") > 0.000000001)
    val dev = col("g") / 1000000.0 - col("m")
    flat.join(broadcast(stats), "dim")
      .select(col("vec_id"),
        floor(dev * dev / col("va") * 1000000.0 + 0.5).cast("long").as("t"))
      .groupBy(col("vec_id"))
      .agg(sum(col("t")).as("sq"))
      .select(col("vec_id"), Hashing.rd4(col("sq") / 1000000.0).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-dimension component statistics over the embedding corpus: mean,
    * variance and a variance rank for each of the 64 dimensions — the
    * screen behind dimensionality reduction / dead-dimension detection
    * (a near-zero-variance dim carries no signal and can be dropped or
    * re-trained; a huge-variance dim dominates unnormalized distances).
    * Engine-exact by the normStats recipe: each component snaps to its
    * integer 1e-6 grid at the scan, the per-dim moments are exact
    * integer sums, and mean/variance come out of one fixed IEEE formula
    * on both engines. The posexplode is map-side; the aggregate lands on
    * a 64-row key space (map-side combinable), and the rank window runs
    * over those 64 rows only.
    */
  def dimStats(emb: DataFrame): DataFrame = {
    val flat = emb
      .select(posexplode(col("embedding")).as(Seq("pos0", "v")))
      .select((col("pos0") + 1).as("dim"),
        floor(col("v").cast("double") * 1000000.0 + 0.5).cast("long").as("g"))
    // DECIMAL(38,0) second moment — see embeddingOutliers: a LONG sum of
    // ~1e12 addends wraps around ~3e7 vectors; DuckDB's HUGEINT doesn't
    val agg = flat.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum((col("g") * col("g")).cast("decimal(38,0)")).as("sg2"))
    val nD = col("n").cast("double")
    val mean = col("sg") / (nD * 1000000.0)
    val varr = col("sg2").cast("double") / (nD * 1000000000000.0) - mean * mean
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("var_v").desc, col("dim"))
    agg
      .select(col("dim"), col("n"),
        Hashing.rd4(mean).as("mean_v"), Hashing.rd4(varr).as("var_v"))
      .withColumn("var_rank", row_number().over(w).cast("long"))
  }

  def normStats(emb: DataFrame): DataFrame = {
    val g = floor(V.normF(col("embedding")) * 1000000.0 + 0.5)
    // gd pre-divides as DOUBLE via the Column API: inside an expr() the
    // SQL parser would type the 1e6 literal as DECIMAL and silently run
    // a decimal division the DuckDB twin (double) does not perform
    emb.select(col("label"), g.as("g"), (g.cast("double") / lit(1000000.0)).as("gd"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("g") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        Hashing.rd4(sum(col("g")) / (count(lit(1)) * 1000000.0)).as("mean_norm"),
        Hashing.rd4(expr("percentile(gd, 0.1D)")).as("p10"),
        Hashing.rd4(expr("percentile(gd, 0.5D)")).as("p50"),
        Hashing.rd4(expr("percentile(gd, 0.9D)")).as("p90"))
  }

  /** PageRank over the [[knnJoin]] graph — centrality-based coreset /
    * representative-sample selection on the embedding space (the
    * "which documents anchor this corpus" read). Fixed `iters`
    * power-iteration rounds, UNROLLED into the plan: each round is one
    * edges ⋈ ranks shuffle on src + one aggregate on dst + a rebase
    * over the node set — the standard edge-partitioned Pregel shape,
    * no driver-side loop state. ALL arithmetic is exact integer: ranks
    * live on a 1e9 grid, contributions use integer `div` by
    * out-degree, damping is (15·(G div N) + 85·inSum) div 100 — so
    * both engines round identically at every step (leaked dangling
    * mass is deliberately not redistributed; this is a ranking, not a
    * distribution). N rides a 1-row broadcast.
    */
  def pagerank(s: SparkSession, dir: String, k: Int = 5, iters: Int = 3,
      topN: Int = 20): DataFrame =
    pagerankGraph(
      knnJoin(s, dir, k).select(col("vec_id").as("src"), col("neighbor_id").as("dst")),
      graft.core.Tables.load(s, dir, "embeddings").select(col("vec_id")),
      iters, topN)

  /** [[knnJoin]] with QUANTIZER-CELL blocking — the graph-build path
    * that holds when flat LSH banding floods: candidate edges come
    * from [[semanticDedupFrom]]'s cell + sub-band chain (small cells
    * pair within the cell, fat cells additionally require a shared
    * hyperplane band — the DedupScaleCheck-proven shape), reusing the
    * memoized [[sharedKmeans]] quantizer, then symmetrize + rank per
    * vector as in [[knnJoin]]. At 10⁹ vectors the candidate volume is
    * bounded by cellCap²·nCells + banded-fat-cell pairs, independent
    * of any single hot LSH bucket.
    */
  def knnJoinBlocked(s: SparkSession, dir: String, k: Int): DataFrame = {
    val (c, a) = sharedKmeans(s, dir)
    // freeze before the symmetrizing union: both branches read it, and
    // semanticDedupFrom's candidate+verify subtree is the expensive part
    // (the minhashLsh AQE-race precedent)
    val pairs = semanticDedupFrom(graft.core.Tables.load(s, dir, "embeddings"),
      c, a, 0.4, clusterCap = 64, bands = 2, rowsPerBand = 4).localCheckpoint()
    val sym = pairs
      .select(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"),
        col("cos").as("cos_sim"))
      .unionByName(pairs
        .select(col("vec_b").as("vec_id"), col("vec_a").as("neighbor_id"),
          col("cos").as("cos_sim")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    sym.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }

  /** Connected components over the [[knnJoin]] graph — SemDeDup-style
    * semantic cluster discovery on the vector side, reusing the SAME
    * convergence-checked hash-min propagation as the doc-side
    * [[graft.operators.Dedup.clustersFromPairs]] (observe()-counted
    * rounds, loud non-convergence). Directed top-k edges canonicalize
    * to undirected pairs first (a pair kept by either endpoint is an
    * edge). Output: (vec_id, cluster_id, csize) for every vector with
    * at least one graph edge.
    */
  def knnClusters(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val und = knnJoin(s, dir, k)
      .select(least(col("vec_id"), col("neighbor_id")).as("doc_a"),
        greatest(col("vec_id"), col("neighbor_id")).as("doc_b"))
      .distinct()
    graft.operators.Dedup.clustersFromPairs(und)
      .withColumnRenamed("doc_id", "vec_id")
  }

  /** [[pagerank]] on an explicit (src, dst) edge table over `nodes` —
    * the reusable graph core (and the unit-test seam).
    */
  def pagerankGraph(edges0: DataFrame, nodes: DataFrame, iters: Int,
      topN: Int): DataFrame = {
    val G = 1000000000L
    // freeze the edge table: out-degree plus every unrolled round joins
    // it, and an unmaterialized subtree would re-run the upstream kNN
    // window per consumer (the clustersFromPairs edges precedent)
    val edges = edges0.localCheckpoint()
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val tot = broadcast(nodes.agg(count(lit(1)).as("n")))
    var ranks = nodes.crossJoin(tot)
      .select(col("vec_id"), expr(s"${G}L div n").as("rg"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(outdeg, "src")
        .join(ranks.select(col("vec_id").as("src"), col("rg")), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("rg div od")).as("insum"))
      ranks = nodes.crossJoin(tot)
        .join(contrib.withColumnRenamed("dst", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          expr(s"(15L * (${G}L div n) + 85L * coalesce(insum, 0L)) div 100L").as("rg"))
    }
    ranks.orderBy(col("rg").desc, col("vec_id")).limit(topN)
  }

  /** Batch kNN GRAPH over the whole corpus (every vector's top-k
    * neighbors) — the build step for SemDeDup-style clustering, graph
    * walks, and label propagation. NOT an all-pairs scan: candidate
    * edges come from the banded-LSH pair table ([[sharedEmbPairs]],
    * already candidate-first and cached across the similarity family),
    * symmetrized, then ranked per vector. The per-vector window
    * partitions on vec_id — millions of small partitions, each bounded
    * by that vector's band-candidate count, never a global sort. Like
    * any LSH graph, recall is bounded by the banding (plus the shared
    * view's cos ≥ [[SharedEmbFloor]] edge floor — neighbors below it
    * are not graph-worthy here); the recall matrix ops quantify that
    * trade on the query ops' side.
    */
  def knnJoin(s: SparkSession, dir: String, k: Int): DataFrame = {
    val pairs = sharedEmbPairs(s, dir)
    val sym = pairs
      .select(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"), col("cos_sim"))
      .unionByName(pairs
        .select(col("vec_b").as("vec_id"), col("vec_a").as("neighbor_id"), col("cos_sim")))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    sym.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("rnk"), col("neighbor_id"), col("cos_sim"))
  }

  /** Matryoshka (MRL-style) truncation sweep: exact top-k recall of
    * prefix-dimension cosine search against the full-dimension ground
    * truth, per candidate prefix length — the table that says how many
    * dims a truncated index can drop before recall suffers (Kusupati et
    * al., NeurIPS'22). Both sides are exact brute force over the SAME
    * bounded query set (vec_id < nQueries, broadcast), so the number
    * isolates the truncation loss, not index effects; per-pair work is
    * |dims| prefix dot products in left-to-right double accumulation
    * (bit-identical to the oracle's list folds). Scale path: queries
    * stay a broadcast constant, candidates scan once per dim via the
    * exploded (pair × dim) stream — map-only into a per-(dim, query)
    * top-k window on bounded partitions.
    */
  def matryoshkaRecall(emb: DataFrame, dims: Seq[Int] = Seq(8, 16, 32),
      nQueries: Int = 10, k: Int = 10): DataFrame = {
    val full = bruteForceTopK(emb, nQueries, k)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val truncated = emb.as("c")
      .join(broadcast(q), col("c.vec_id") =!= col("query_id"))
      .select(col("query_id"), col("c.vec_id").as("neighbor_id"), col("qv"),
        col("c.embedding").as("cv"),
        explode(array(dims.map(lit): _*)).as("dim"))
      .select(col("dim"), col("query_id"), col("neighbor_id"),
        (V.dotF(expr("slice(qv, 1, dim)"), expr("slice(cv, 1, dim)")) /
          (sqrt(V.dotF(expr("slice(qv, 1, dim)"), expr("slice(qv, 1, dim)"))) *
            sqrt(V.dotF(expr("slice(cv, 1, dim)"), expr("slice(cv, 1, dim)")))))
          .as("cos"))
    val w = Window.partitionBy(col("dim"), col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    truncated.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .join(full, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("dim"))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("dim"), col("n_queries"),
        Hashing.rd4(col("n_hits").cast("double") /
          (col("n_queries") * k)).as("recall"))
  }

  /** Hubness profile of the kNN graph: the in-degree distribution over
    * all corpus vectors (how many vectors claim each one among their
    * top-k). Heavy right tails — hub vectors appearing in thousands of
    * neighbor lists — are the classic high-dim embedding pathology
    * (Radovanović et al., JMLR'10) and break graph-based dedup/search;
    * this is the one-look diagnostic. Rides the SAME banded-LSH kNN
    * graph as [[knnJoin]] (shared view, candidate-first), so the only
    * new work is a count per neighbor and a left join against the id
    * column for the zero-in-degree mass.
    */
  def hubness(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val indeg = knnJoin(s, dir, k)
      .groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    graft.core.Tables.load(s, dir, "embeddings").select(col("vec_id"))
      .join(indeg, Seq("vec_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_vectors"))
  }
}
