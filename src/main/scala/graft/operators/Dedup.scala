package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Hashing

/** Deduplication operators over `documents`.
  *
  * Scale design: nothing here is O(n²) on the full corpus. Exact dedup is a
  * hash groupBy; Jaccard joins only docs sharing a shingle; MinHash+LSH
  * verifies ONLY band-bucket candidate pairs; SimHash joins only docs
  * sharing one of 4 fifteen-bit fingerprint bands (complete for
  * hamming ≤ 3 by pigeonhole). The tokenization/shingling projection is computed once and
  * cached per operator invocation (it feeds 2-4 joins); corpus-sized side
  * tables (candidate pairs, per-doc sizes) stay shuffle-joined — AQE
  * broadcasts them only when actually small. AQE skew-join handles hot
  * shingle buckets.
  */
object Dedup {

  val P: Long = 1000003L // prime modulus shared with the DuckDB oracle
  val NumPerms = 16
  val Bands = 4 // 4 bands x 4 rows

  /** Default band-bucket cap for MinHash-LSH candidate generation —
    * the same scale guard [[simhashPairs]] ships (`bucketCap`). A
    * boilerplate flood (millions of byte-identical or near-identical
    * docs) puts ALL of them in the same 4 band buckets; self-joining
    * such a bucket is O(flood²) candidate pairs, which AQE can spread
    * across partitions but never shrink. Buckets above the cap are
    * SUB-BLOCKED by half-band sub-keys (see [[candFromBands]]) so a
    * templated near-dup flood keeps pairwise recall; only doubly-
    * flooded sub-buckets — near-identical docs that the cheaper
    * [[exact]]/[[normalizedExact]] passes catch by definition — are
    * excluded. Never binds at default-cap oracle scale (the test
    * tables are < 100k docs), so those DuckDB twins stay uncapped
    * brute-force — the stronger independent check, as with simhash;
    * the `dedup_lsh_subblocked` query registers a cap SMALL enough to
    * bind at test scale, so the sub-blocked path itself runs under an
    * oracle that replicates it step for step.
    */
  val BandBucketCap: Long = 100000L

  /** MinHash permutation constants, md5-derived so the oracle can inline
    * the identical literals. a in [1, P-1], b in [0, P-1].
    */
  lazy val minhashPerms: Seq[(Long, Long)] =
    (0 until NumPerms).map { j =>
      (Hashing.h60jvm(s"mh_a_$j") % (P - 1) + 1, Hashing.h60jvm(s"mh_b_$j") % P)
    }

  /** Sub-band layout for oversized-bucket recovery ([[candFromBands]]):
    * `SubBands` bands of `SubRows` rows each over DEDICATED fresh
    * permutations. Independence matters: sub-keys drawn from the 16
    * primary perms would be nearly redundant with the primary bands (a
    * pair agreeing on part of band b's rows usually agrees on all of
    * band b — and is then already caught by band b's own small bucket),
    * which measurably erases the recovery (planted-flood recall 0.71 vs
    * 0.89 with fresh perms in DedupScaleCheck's templated phase). The
    * extra 18 min-aggregates ride the same shingle pass — map-side CPU,
    * no extra shuffle.
    */
  val SubBands = 3
  val SubRows = 6

  /** Dedicated sub-band permutation constants, seeded separately from
    * [[minhashPerms]].
    */
  lazy val subPerms: Seq[(Long, Long)] =
    (0 until SubBands * SubRows).map { j =>
      (Hashing.h60jvm(s"mhs_a_$j") % (P - 1) + 1, Hashing.h60jvm(s"mhs_b_$j") % P)
    }

  /** Distinct word-n-gram shingles per doc, exploded to (doc_id, shingle)
    * where `shingle` is the 60-bit h60 HASH of the n-gram, not the string:
    * every downstream consumer (df-cap, self-join, minhash) only needs
    * equality, so shuffling 8-byte longs instead of n-gram strings cuts
    * shuffle/cache volume ~10× at corpus scale. The string exists only
    * inside this projection (never shuffled); the oracle hashes the same
    * way, so results stay bit-identical (h60 collisions: ~n²/2⁶¹).
    * Tokenizes once into a projected column (the regex split is the
    * expensive part). slice(tk,1,0) is the typed-empty-array fallback for
    * short docs.
    */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    shinglesFrom(graft.core.Tables.spread(docs.select(col("doc_id"), col("text"))), n)

  /** [[shingles]] without the scan-width floor — for inputs that are
    * small BY CONSTRUCTION (an arriving batch, a candidate semi-join
    * fetch), where the conditional repartition only buys planning and
    * shuffle overhead.
    */
  private[graft] def shinglesSmall(docs: DataFrame, n: Int = 3): DataFrame =
    shinglesFrom(docs.select(col("doc_id"), col("text")), n)

  private def shinglesFrom(d: DataFrame, n: Int): DataFrame =
    // r15: the former split + interpreted transform(slice + array_join)
    // + array_distinct + per-row md5 chain is now ONE compiled pass
    // emitting the hashed distinct n-grams directly (bit-identical by
    // ShinglesSpec, which pins it against the original expression tree)
    d.select(col("doc_id"),
        explode(graft.functions.ShinglesExpr.hashes(col("text"), n)).as("shingle"))

  /** Restrict a shingle table to shingles whose document frequency is at
    * most `maxDf` (shingles are distinct per doc, so count = doc freq).
    * Standard near-dup practice: a boilerplate shingle shared by a large
    * fraction of the corpus creates a near-quadratic hot bucket in the
    * pair join (one 3-gram in 1M docs = 5·10^11 candidate pairs) while
    * carrying almost no similarity signal. Jaccard is then computed over
    * the capped shingle sets on both engines.
    */
  def capShingles(sh: DataFrame, maxDf: Long): DataFrame = {
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("shingle"))
    sh.join(rare, Seq("shingle")).select(col("doc_id"), col("shingle"))
  }

  /** Exact dedup: md5 hash-groupBy; keeper = min doc_id per content hash.
    * Deliberately NO scan-width floor here: the md5 partial aggregation
    * runs in the scan stage, so only 16-byte hashes ever shuffle — at
    * corpus scale the scan is wide and the hashing parallel, and at toy
    * scale a spread() would shuffle the full text just to parallelize a
    * sub-second hash (measured net loss).
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Exact dedup after text normalization (lowercase, punctuation → space,
    * whitespace collapsed, trimmed) — the C4-style step that catches
    * trivially-reformatted copies byte-exact dedup misses. Same one-shuffle
    * hash-groupBy as [[exact]], keyed on the normalized hash.
    */
  def normalizedExact(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "), "\\s+", " "))
    docs.groupBy(md5(norm).as("norm_hash"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
  }

  /** Dedup impact report per source: how many docs byte-exact dedup
    * would drop vs the MinHash-LSH keep-first policy, and the resulting
    * keep rate — the "what did dedup do to my corpus" read a pipeline
    * owner checks before shipping a snapshot. Reuses the verified
    * pair machinery; grouping is by source so a single bad scraper
    * shows up immediately.
    */
  def dedupReport(docs: DataFrame, threshold: Double): DataFrame =
    dedupReportOf(docs, minhashLsh(docs, threshold))

  /** [[dedupReport]] over a precomputed verified-pair table (already
    * filtered to the report threshold).
    */
  def dedupReportOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val keeperByHash = exact(docs)
      .select(col("content_hash"), col("keeper"))
    val nearDrop = pairs
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("near_dropped", lit(true))
    docs
      .withColumn("content_hash", md5(col("text")))
      .join(keeperByHash, "content_hash")
      .join(nearDrop, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keeper"), 1L).otherwise(0L)).as("n_exact_dups"),
        sum(when(col("near_dropped"), 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("keep_rate", Hashing.rd4(
        lit(1.0) - col("n_dropped") / col("n_docs")))
  }

  /** Threshold calibration curve: LSH-candidate pairs verified at a low
    * floor, bucketed by Jaccard decile with cumulative pair counts —
    * read it to see how many near-dup pairs each candidate threshold
    * would keep BEFORE committing a full dedup run. The cumulative
    * window runs over ≤10 decile rows.
    */
  def thresholdCurve(docs: DataFrame, floorJ: Double = 0.2): DataFrame =
    thresholdCurveOf(minhashLsh(docs, floorJ))

  /** [[thresholdCurve]] over a precomputed ≥-floor verified-pair table. */
  def thresholdCurveOf(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("j_bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pairs
      .withColumn("j_bucket", floor(col("jaccard") * 10.0) / 10.0)
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("n_pairs_at_or_above", sum(col("n_pairs")).over(w))
  }

  /** Blocking-quality evaluation: per-Jaccard-decile recall of the
    * MinHash-LSH candidate stage against the df-capped EXACT pair set —
    * the dedup twin of the ANN recall matrix (ann_recall_*), and the
    * measurement behind choosing NumPerms/Bands before a full run.
    * Ground truth is [[ngramJaccard]]'s capped-shingle equi-join (the
    * tractable exact method — the df cap is what makes "exact" runnable
    * at all); "found" is the subset of those pairs the band join
    * surfaces, so per-decile recall is a ratio of two cumulative
    * histograms. High-J deciles should sit at recall 1.0 (band-match
    * probability rises with J); the decile where the curve sags is
    * where the band config starts losing dups.
    */
  def blockingRecall(docs: DataFrame, floorJ: Double = 0.2): DataFrame =
    blockingRecallOf(shingles(docs), minhashSignatures(docs), floorJ)

  /** [[blockingRecall]] over already-built shingle and signature tables
    * (e.g. [[sharedShingles]] + [[sharedSigs]]).
    */
  def blockingRecallOf(sh: DataFrame, sigs: DataFrame,
      floorJ: Double = 0.2): DataFrame =
    blockingRecallFrom(
      ngramJaccardOf(sh, floorJ).persist(StorageLevel.MEMORY_AND_DISK), sigs)

  /** [[blockingRecall]] over an already-built exact pair table at the
    * recall floor (e.g. [[sharedExactPairs]]) — the ground-truth build is
    * the expensive stage, and it is the same table [[ngramJaccardOf]]
    * consumers filter, so one materialization serves both.
    */
  def blockingRecallFrom(exact: DataFrame, sigs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = candFromBands(lshBands(sigs))
    val lsh = exact.join(cand, Seq("doc_a", "doc_b"), "left_semi")
    def curve(p: DataFrame, cname: String) =
      p.withColumn("j_bucket", floor(col("jaccard") * 10.0) / 10.0)
        .groupBy(col("j_bucket")).agg(count(lit(1)).as(cname))
    val w = Window.orderBy(col("j_bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    curve(exact, "nt").join(curve(lsh, "nf"), Seq("j_bucket"), "left")
      .withColumn("n_true", sum(col("nt")).over(w))
      .withColumn("n_found", sum(coalesce(col("nf"), lit(0L))).over(w))
      .select(col("j_bucket"), col("n_true"), col("n_found"),
        Hashing.rd4(col("n_found") / col("n_true")).as("recall"))
  }

  /** Cross-source duplication matrix: verified near-dup pair counts per
    * unordered source pair — the "which scrapers overlap" read behind
    * source-level dedup ordering and train/eval leakage audits (a heavy
    * off-diagonal cell means two feeds crawl the same sites; a heavy
    * diagonal means one feed re-crawls itself). Consumes the shared
    * verified-pair view, so the marginal cost over the pair build is two
    * id-keyed joins against a narrow (doc_id, source) projection plus an
    * aggregate on the tiny source-pair key space. The pair table is the
    * near-dup survivor set — corpus-sublinear — so the joins broadcast
    * under AQE when pairs are few and shuffle-hash cleanly when not.
    */
  def sourceOverlapOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .select(col("doc_a"), col("doc_b"))
      .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(least(col("sa.source"), col("sb.source")).as("source_a"),
        greatest(col("sa.source"), col("sb.source")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Content-novelty curve over ingest order: docs are split into
    * `nBuckets` equal doc_id ranges (the synthetic stand-in for ingest
    * batches); per bucket, how many distinct 8-gram shingle types appear,
    * how many appear for the FIRST time, and their ratio — the
    * "is this crawl still adding new content" signal that decides when
    * continued scraping of a source stops paying for itself. ONE shuffle
    * on the 8-byte shingle hash does everything: collect_set(bucket) per
    * type (≤ nBuckets small ints, partial-aggregatable map-side), then
    * an explode with array_min as the first-seen bucket feeds the
    * nBuckets-key rollup — no distinct pass, no min-aggregate pass, no
    * corpus-sized incidence self-join (the old three-shuffle shape this
    * replaces; counts are identical, so the oracle is unchanged). The
    * bucket id is exact integer arithmetic (doc_id·n div N) so both
    * engines bucket identically.
    */
  def ngramNoveltyOf(docs: DataFrame, sh8: DataFrame, nBuckets: Int = 10): DataFrame = {
    val tot = docs.agg((max(col("doc_id")) + 1).as("nd"))
    val perType = sh8.crossJoin(broadcast(tot))
      .select(expr(s"doc_id * $nBuckets div nd").as("bucket"), col("shingle"))
      .groupBy(col("shingle")).agg(collect_set(col("bucket")).as("bs"))
      .select(explode(col("bs")).as("bucket"), array_min(col("bs")).as("fb"))
    perType
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("fb") === col("bucket"), 1L).otherwise(0L)).as("n_new_types"))
      .select(col("bucket"), col("n_types"), col("n_new_types"),
        Hashing.rd4(col("n_new_types") / col("n_types")).as("novelty"))
  }

  /** Jaccard for doc pairs from a cached shingle table. With `candidates`,
    * the shingle table is first restricted to candidate docs (MinHash-LSH
    * path) so the shingle join only touches candidate pairs.
    */
  private[graft] def pairJaccard(sh: DataFrame, candidates: Option[DataFrame]): DataFrame = {
    // No broadcast() hints here: `candidates` and `sizes` are corpus-sized
    // (one row per candidate pair / per document), so forcing a broadcast
    // would OOM the driver at real scale. The tables are equi-keyed on
    // doc ids — a shuffle join is the scalable plan, and AQE still
    // downgrades to broadcast when a side is genuinely small.
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = candidates match {
      case Some(cand) =>
        cand
          .join(sh.as("a"), col("doc_a") === col("a.doc_id"))
          .join(sh.as("b"),
            col("doc_b") === col("b.doc_id") && col("a.shingle") === col("b.shingle"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      case None =>
        sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    }
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        Hashing.rd4(col("inter") / (col("na") + col("nb") - col("inter"))))
  }

  /** N-gram Jaccard near-dup pairs (shingle-join candidates, no cross
    * join). `maxDf` caps shingle document frequency before the self-join —
    * the skew guard that keeps hot buckets bounded at corpus scale.
    */
  def ngramJaccard(docs: DataFrame, threshold: Double, maxDf: Long = 50L): DataFrame =
    ngramJaccardOf(shingles(docs), threshold, maxDf)

  /** [[ngramJaccard]] over an already-built shingle table
    * (e.g. [[sharedShingles]]).
    */
  def ngramJaccardOf(sh: DataFrame, threshold: Double,
      maxDf: Long = 50L): DataFrame = {
    val capped = capShingles(sh, maxDf).persist(StorageLevel.MEMORY_AND_DISK)
    pairJaccard(capped, None)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Asymmetric containment pairs: C(a→b) = |S(a)∩S(b)| / |S(a)| ≥
    * threshold — a is (near-)contained in b. Catches a short doc embedded
    * verbatim inside a longer one (quotes, concatenated shards,
    * boilerplate wrappers), which symmetric Jaccard misses because the
    * union denominator is dominated by the longer doc. Directed: both
    * (a,b) and (b,a) are evaluated; only the direction(s) over threshold
    * emit. Same capped-shingle equi-join shape as [[ngramJaccard]] — the
    * df cap bounds hot buckets, no all-pairs stage anywhere.
    */
  def containment(docs: DataFrame, threshold: Double, n: Int = 8,
      maxDf: Long = 50L): DataFrame =
    containmentOf(shingles(docs, n), threshold, maxDf)

  /** [[containment]] over an already-built shingle table
    * (e.g. [[sharedShingles]] at n=8).
    */
  def containmentOf(shin: DataFrame, threshold: Double,
      maxDf: Long = 50L): DataFrame = {
    val sh = capShingles(shin, maxDf).persist(StorageLevel.MEMORY_AND_DISK)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .withColumn("containment", Hashing.rd4(col("inter") / col("na")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("na"), col("inter"), col("containment"))
  }

  /** MinHash signatures: one row per doc with NumPerms min-hash columns. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashSignaturesFrom(shingles(docs))

  private[graft] def minhashSignaturesFrom(sh: DataFrame): DataFrame = {
    // shingle is already the h60 hash — reduce into the permutation field
    val hashed = sh.withColumn("hm", col("shingle") % P)
    val aggs = minhashPerms.zipWithIndex.map { case ((a, b), j) =>
      min((col("hm") * a + b) % P).as(s"mh$j")
    } ++ subPerms.zipWithIndex.map { case ((a, b), j) =>
      min((col("hm") * a + b) % P).as(s"su$j")
    }
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band explode: (doc_id, band, key, sk0..sk{SubBands-1}). The
    * sub-keys are [[SubRows]]-perm band keys over the DEDICATED
    * [[subPerms]] — what [[candFromBands]] sub-blocks oversized buckets
    * by. A true near-dup pair (Jaccard j) shares a given sub-key with
    * probability j^SubRows, so a templated flood (same boilerplate band
    * key, varying bodies) keeps most of its genuine pairwise edges
    * through the sub-blocking while the varying bodies spread the flood
    * across many sub-buckets. The sub-keys are identical for every
    * primary band (they only vary per doc), so the explode carries them
    * through unchanged.
    */
  def lshBands(sig: DataFrame): DataFrame = {
    val rows = NumPerms / Bands
    val skCols = (0 until SubBands).map { sb =>
      concat_ws("_",
        (0 until SubRows).map(r => col(s"su${sb * SubRows + r}")): _*).as(s"sk$sb")
    }
    val bandStructs = (0 until Bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("_", (0 until rows).map(r => col(s"mh${bnd * rows + r}")): _*).as("key"))
    }
    sig.select(col("doc_id") +: explode(array(bandStructs: _*)).as("bk") +: skCols: _*)
      .select(Seq(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key")) ++
        (0 until SubBands).map(sb => col(s"sk$sb")): _*)
  }

  /** MinHash + LSH dedup: band-bucket join for candidates (buckets over
    * `bucketCap` sub-blocked — the boilerplate-flood guard, see
    * [[candFromBands]]), then exact Jaccard verification restricted to
    * those candidates.
    */
  def minhashLsh(docs: DataFrame, threshold: Double,
      bucketCap: Long = BandBucketCap): DataFrame = {
    val sh = shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    // persist the band table too: the candidate self-join reads it on
    // BOTH sides, and without the cache each side recomputes the 16-way
    // min-hash aggregation (AQE submits the two scans concurrently, so
    // they race past an unmaterialized cache and double the CPU)
    val bands = lshBands(minhashSignaturesFrom(sh))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = candFromBands(bands, bucketCap)
    pairJaccard(sh, Some(cand))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** [[minhashLsh]] over already-built shingle + signature tables (the
    * [[sharedShingles]]/[[sharedSigs]] store-read path): candidates from
    * the frozen sketches at the caller's `bucketCap`, exact verify
    * against the frozen shingles — the corpus is never re-tokenized.
    * Identical output to the cold path (the shared views ARE
    * shingles/minhashSignatures of the same corpus).
    */
  def minhashLshOf(sh: DataFrame, sig: DataFrame, threshold: Double,
      bucketCap: Long = BandBucketCap): DataFrame = {
    val cand = candFromBands(lshBands(sig), bucketCap)
    pairJaccard(sh, Some(cand))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The distinct n-gram shingle table over `dir`'s documents — the
    * upstream half of every shingle consumer (Jaccard, containment,
    * contamination, the MinHash sketch build). r16: at the default
    * n = [[DocPairsStore.ShingleN]] this is the store's PERSISTED
    * per-ingest artifact (a real pipeline materializes the shingle
    * table when the corpus lands — the scaladoc's long-standing claim,
    * now literally true); other widths (the n=8 contamination family)
    * are a plain [[shingles]] plan over the current documents.
    * Df-capping stays per-consumer (it is a cheap aggregate over this
    * table, and consumers differ in whether they cap).
    */
  def sharedShingles(s: SparkSession, dir: String, n: Int = 3): DataFrame =
    if (n == DocPairsStore.ShingleN) DocPairsStore.shingles(s, dir)
    else shingles(graft.core.Tables.load(s, dir, "documents"), n)

  /** The MinHash signature table over `dir`'s documents (doc_id +
    * NumPerms min-hash columns) — the sketch store a real pipeline
    * materializes at ingest (LshIndexStore persists the band projection
    * of exactly this table). r16: served from [[DocPairsStore]]'s
    * persisted per-ingest parquet (fingerprint-guarded), identical
    * values to the former session-frozen build. Sketch-only consumers
    * (minhash_estimate) and candidate-only consumers (edit_distance)
    * read it without ever re-shingling the corpus.
    */
  def sharedSigs(s: SparkSession, dir: String): DataFrame =
    DocPairsStore.sigs(s, dir)

  /** Floor threshold of the shared EXACT pair view — the blocking-recall
    * evaluation floor (the lowest Jaccard any registered exact-pair
    * consumer reads).
    */
  val SharedExactFloor = 0.2

  /** The df-capped EXACT Jaccard pair table over `dir`'s documents at
    * [[SharedExactFloor]] — the ground-truth side of the dedup-quality
    * evaluations. r16: served from [[DocPairsStore]]'s persisted
    * per-ingest parquet (the r15 verdict's item 3 — the capped shingle
    * equi-join was the most expensive per-pass build in the driver
    * bench, 78 MB / 411 tasks billed to dedup_blocking_recall); a real
    * pipeline materializes the verified exact pairs once per snapshot
    * alongside the LSH pairs ([[sharedPairs]]), and every consumer
    * threshold ≥ the floor is a monotone filter over the table.
    */
  def sharedExactPairs(s: SparkSession, dir: String): DataFrame =
    DocPairsStore.exactPairs(s, dir)

  /** Restrict a ≥-floor exact pair table to `threshold` — equals
    * [[ngramJaccardOf]] at that threshold when the floor is ≤ it.
    */
  def exactPairsAt(pairs: DataFrame, threshold: Double): DataFrame = {
    require(SharedExactFloor <= threshold,
      s"exact pair view floor $SharedExactFloor above requested threshold $threshold")
    pairs.filter(col("jaccard") >= threshold)
  }

  /** Floor threshold of the shared pair view: the lowest any registered
    * consumer needs (the threshold-curve calibration floor).
    */
  val SharedPairFloor = 0.2

  /** The verified MinHash-LSH pair table over `dir`'s documents at
    * [[SharedPairFloor]]. Eight registered queries (pair listing,
    * survivors, clusters, cluster survivors, threshold curve, dedup
    * report, materialize-full, curation funnel) all start from this
    * table. r16: served from [[DocPairsStore]]'s persisted per-ingest
    * parquet — a real pipeline pays the shingle → signature → band →
    * verify cost once per ingest snapshot, not once per session/pass.
    * Any consumer threshold ≥ the floor is a monotone filter on this
    * table, so results are identical to the direct computation
    * (DedupViewSpec proves it).
    */
  def sharedPairs(s: SparkSession, dir: String): DataFrame =
    DocPairsStore.lshPairs(s, dir)

  /** Restrict a ≥-floor pair table to pairs at `threshold` — equals
    * [[minhashLsh]] at that threshold when `pairs` came from a floor ≤ it.
    */
  def pairsAt(pairs: DataFrame, threshold: Double): DataFrame = {
    require(SharedPairFloor <= threshold,
      s"pair view floor $SharedPairFloor above requested threshold $threshold")
    pairs.filter(col("jaccard") >= threshold)
  }

  /** Distinct ordered candidate pairs from an LSH band table. Buckets of
    * size ≤ `bucketCap` self-join all-pairs as before; buckets ABOVE the
    * cap are SUB-BLOCKED instead of dropped (the [[semanticDedup]]
    * clusterCap precedent): each member explodes into its [[SubBands]]
    * dedicated-perm sub-keys ([[lshBands]] sk0..sk2) and candidates must
    * also share a sub-bucket. An identical flood shares its sub-keys
    * too, so sub-buckets are capped AGAIN at `bucketCap` — a doubly-
    * flooded sub-bucket means near-identical docs under both keys, which
    * the cheaper [[exact]]/[[normalizedExact]] passes catch by
    * definition. Net bound: O(cap²) candidates per (sub-)bucket, never
    * O(flood²), while a TEMPLATED flood (shared boilerplate band,
    * varying bodies) keeps pairwise recall ≈ 1-(1-j^SubRows)^SubBands
    * per oversized bucket instead of the old drop-to-zero
    * (DedupScaleCheck phase 5b plants exactly this and measures it).
    */
  private[graft] def candFromBands(bands: DataFrame,
      bucketCap: Long = BandBucketCap): DataFrame = {
    val sizes = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bsz"))
    val small = bands.join(
      sizes.filter(col("bsz") <= bucketCap).select(col("band"), col("key")),
      Seq("band", "key"))
      .select(col("doc_id"), col("band"), col("key"))
    val smallPairs = small.as("x")
      .join(small.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val big = bands.join(
      sizes.filter(col("bsz") > bucketCap).select(col("band"), col("key")),
      Seq("band", "key"))
      .select(col("doc_id"), col("band"), col("key"),
        explode(array((0 until SubBands).map(sb =>
          struct(lit(sb).as("sb"), col(s"sk$sb").as("sk"))): _*)).as("s"))
      .select(col("doc_id"), col("band"), col("key"),
        col("s.sb").as("sb"), col("s.sk").as("sk"))
    val subOk = big.join(
      big.groupBy(col("band"), col("key"), col("sb"), col("sk"))
        .agg(count(lit(1)).as("ssz"))
        .filter(col("ssz") <= bucketCap)
        .select(col("band"), col("key"), col("sb"), col("sk")),
      Seq("band", "key", "sb", "sk"))
    val bigPairs = subOk.as("x")
      .join(subOk.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.sb") === col("y.sb") && col("x.sk") === col("y.sk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    smallPairs.unionByName(bigPairs).distinct()
  }

  /** Edit-distance verification of LSH candidates: Levenshtein over the
    * candidate pairs only (never all pairs), normalized to a similarity
    * 1 - lev/max(|a|,|b|). The character-level complement to shingle
    * Jaccard — robust to token-boundary noise, and the integer distance
    * is trivially engine-portable. The per-pair O(|a|·|b|) DP cost is
    * why it only ever runs AFTER candidate blocking; texts join in on
    * the already-distinct pair table.
    */
  def editDistancePairs(docs: DataFrame, minSim: Double): DataFrame =
    editDistancePairsOf(docs, minhashSignatures(docs), minSim)

  /** [[editDistancePairs]] over an already-built signature table
    * (e.g. [[sharedSigs]]) — candidates from the persisted sketches,
    * corpus text touched only for the candidate fetch.
    */
  def editDistancePairsOf(docs: DataFrame, sigs: DataFrame, minSim: Double): DataFrame = {
    val cand = candFromBands(lshBands(sigs))
    // The O(|a|·|b|) DP runs once per DISTINCT text-content pair, not per
    // candidate pair: a crawl dup flood yields clone-groups whose cross
    // pairs all carry byte-identical (ta, tb) — keying the Levenshtein
    // table on 60-bit content fingerprints collapses that repetition
    // (the dupSpanCoverage h60 discipline). Unlike the pure-grouping h60
    // uses, a collision HERE would corrupt output values (wrong lev for
    // the losing text), so the key is (h60, length): only equal-length
    // texts can collide, shrinking the birthday surface at zero cost —
    // the length column rides the same projection. The wide text column
    // only ever joins the distinct-pair representatives, so the big pair
    // stream shuffles ids + hashes only. Identical-content pairs take an
    // O(n) memcmp fast path instead of the DP.
    val fp = docs.select(col("doc_id"), Hashing.h60(col("text")).as("f"),
      length(col("text")).cast("long").as("l"))
    val candF = cand
      .join(fp.select(col("doc_id").as("doc_a"), col("f").as("fa"),
        col("l").as("la")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("f").as("fb"),
        col("l").as("lb")), "doc_b")
    val rep = docs.select(Hashing.h60(col("text")).as("f"),
      length(col("text")).cast("long").as("l"), col("text"))
      .groupBy(col("f"), col("l")).agg(min(col("text")).as("text"))
    val levKeys = Seq("fa", "la", "fb", "lb")
    val levTab = candF.select(levKeys.map(col): _*).distinct()
      .join(rep.select(col("f").as("fa"), col("l").as("la"),
        col("text").as("ta")), Seq("fa", "la"))
      .join(rep.select(col("f").as("fb"), col("l").as("lb"),
        col("text").as("tb")), Seq("fb", "lb"))
      .select(col("fa"), col("la"), col("fb"), col("lb"),
        when(col("ta") === col("tb"), lit(0L))
          .otherwise(levenshtein(col("ta"), col("tb")).cast("long")).as("lev"),
        greatest(length(col("ta")), length(col("tb"))).cast("long").as("max_len"))
    candF.join(levTab, levKeys)
      .select(col("doc_a"), col("doc_b"), col("lev"), col("max_len"))
      .withColumn("sim",
        Hashing.rd4(lit(1.0) - col("lev").cast("double") / col("max_len")))
      .filter(col("sim") >= minSim)
  }

  /** Sketch-only near-dup estimation: Jaccard ESTIMATED from the stored
    * MinHash signatures alone (fraction of matching permutation slots)
    * over LSH candidate pairs. This is the true at-scale query mode: once
    * signatures are materialized, estimation never touches text or
    * shingles again — only 16-slot signatures move through the join,
    * vs [[minhashLsh]]'s exact verify re-joining the full shingle table.
    * E[matches/16] = J; at 16 perms σ ≈ 0.12, good enough for triage
    * tiers that route only borderline pairs to exact verification.
    */
  def minhashEstimate(docs: DataFrame, threshold: Double): DataFrame =
    minhashEstimateOf(
      minhashSignatures(docs).persist(StorageLevel.MEMORY_AND_DISK), threshold)

  /** [[minhashEstimate]] over an already-built signature table
    * (e.g. [[sharedSigs]]) — the pure sketch-store read path: neither
    * text nor shingles are touched at all.
    */
  def minhashEstimateOf(sig: DataFrame, threshold: Double): DataFrame = {
    val cand = candFromBands(lshBands(sig))
    val a = sig.select(col("doc_id").as("doc_a") +:
      (0 until NumPerms).map(j => col(s"mh$j").as(s"a$j")): _*)
    val b = sig.select(col("doc_id").as("doc_b") +:
      (0 until NumPerms).map(j => col(s"mh$j").as(s"b$j")): _*)
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("matches",
        (0 until NumPerms).map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
          .reduce(_ + _))
      .withColumn("est_jaccard",
        Hashing.rd4(col("matches").cast("double") / NumPerms))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("matches"), col("est_jaccard"))
  }

  /** Train/test contamination detection: training docs sharing at least
    * one n-gram (n=8 default: long enough that chance collisions are
    * negligible) with any held-out test doc. The n-gram equi-join scales
    * like the dedup shingle join — candidates only where text genuinely
    * overlaps, never O(train × test).
    */
  def contamination(docs: DataFrame, isTest: Column, n: Int = 8,
      maxDf: Long = 50L): DataFrame =
    contaminationOf(docs, shingles(docs, n), isTest, maxDf)

  /** [[contamination]] over an already-built shingle table
    * (e.g. [[sharedShingles]] at n=8).
    */
  def contaminationOf(docs: DataFrame, shin: DataFrame, isTest: Column,
      maxDf: Long = 50L): DataFrame = {
    // the shingle table is frozen once per call: the df cap and the test
    // and train sides each read it, and unfrozen every read re-shingles
    // the corpus
    val sh = capShingles(shin.localCheckpoint(), maxDf)
      .join(docs.select(col("doc_id"), isTest.as("__is_test")), "doc_id")
    val test = sh.filter(col("__is_test")).select(col("doc_id").as("test_id"), col("shingle"))
    val train = sh.filter(!col("__is_test")).select(col("doc_id").as("train_id"), col("shingle"))
    train.join(test, "shingle")
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** The contamination family's ACTION step: the training corpus with
    * every doc sharing ≥ `minShared` rare n-grams with the test set
    * REMOVED — what actually ships to the trainer after the audit. One
    * anti-join of the (corpus-sublinear) flagged-id set against the
    * train side; the expensive stage is the [[contamination]] pair
    * table that feeds it.
    */
  def decontaminatedFrom(docs: DataFrame, pairs: DataFrame, isTest: Column,
      minShared: Long = 1L): DataFrame = {
    val flagged = pairs
      .filter(col("shared_ngrams") >= minShared)
      .select(col("train_id").as("doc_id")).distinct()
    docs.filter(!isTest)
      .join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Bloom-sketch contamination prefilter: an m-bit, k=2 Bloom filter of
    * the test set's n-gram hashes, built as a distributed bit_or over
    * 64-bit words and broadcast as ONE dense array row (m/64 longs — 8 KB
    * at the default m, regardless of corpus size). Train-side membership
    * is then a map-only O(1) bit test per gram — at 100 TB this replaces
    * the train⋈test shuffle with a broadcast, which is the entire point
    * of a Bloom prefilter. The output also carries the EXACT shared-gram
    * count per flagged doc, so the query doubles as a false-positive-rate
    * measurement of the sketch (bloom_hits - exact_hits = collisions);
    * production would drop the exact branch and feed flagged docs to
    * [[contamination]] for verification.
    */
  def contaminationBloom(docs: DataFrame, isTest: Column, n: Int = 8,
      mBits: Long = 65536L): DataFrame =
    contaminationBloomOf(docs, shingles(docs, n), isTest, mBits)

  /** [[contaminationBloom]] over an already-built shingle table
    * (e.g. [[sharedShingles]] at n=8; uncapped — the Bloom filter wants
    * every test gram).
    */
  def contaminationBloomOf(docs: DataFrame, shin: DataFrame, isTest: Column,
      mBits: Long = 65536L): DataFrame = {
    val words = mBits / 64
    val sh = shin
      .join(docs.select(col("doc_id"), isTest.as("__is_test")), "doc_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val testPos = sh.filter(col("__is_test"))
      .select(explode(array(expr(s"shingle % $mBits"),
        expr(s"(shingle div $mBits) % $mBits"))).as("p"))
      .distinct()
    val bloom = testPos
      .select(expr("p div 64").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("mask"))
      .agg(expr("map_from_entries(collect_list(struct(w, mask)))").as("mm"))
      .select(expr(
        s"transform(sequence(0, ${words - 1}), i -> coalesce(element_at(mm, CAST(i AS BIGINT)), CAST(0 AS BIGINT)))")
        .as("bits"))
    def hit(p: String) = expr(
      s"(shiftright(element_at(bits, CAST($p div 64 AS INT) + 1), CAST($p % 64 AS INT)) & 1) = 1")
    val train = sh.filter(!col("__is_test"))
      .select(col("doc_id"), col("shingle"),
        expr(s"shingle % $mBits").as("p1"), expr(s"(shingle div $mBits) % $mBits").as("p2"))
    val bloomHits = train.crossJoin(broadcast(bloom))
      .withColumn("hit", hit("p1") && hit("p2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("bloom_hits"))
    val testG = sh.filter(col("__is_test")).select(col("shingle")).distinct()
    val exact = train.join(testG, "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("exact_hits"))
    bloomHits.join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"), col("bloom_hits"),
        coalesce(col("exact_hits"), lit(0L)).as("exact_hits"),
        (col("bloom_hits") - coalesce(col("exact_hits"), lit(0L))).as("false_pos"))
      .filter(col("bloom_hits") > 0)
  }

  /** End-to-end dedup: the corpus with near-duplicates removed. Greedy
    * keep-first policy: a doc is dropped iff it is the higher-id member of
    * any near-dup pair (standard first-occurrence-wins dedup; one anti-join,
    * no iterative connected components).
    */
  def survivors(docs: DataFrame, threshold: Double): DataFrame =
    survivorsOf(docs, minhashLsh(docs, threshold))

  /** [[survivors]] over a precomputed verified-pair table (already at
    * the dedup threshold).
    */
  def survivorsOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = pairs.select(col("doc_b").as("doc_id")).distinct()
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Persisted LSH state for a deduplicated corpus: its band rows
    * (doc_id, band, key). This is what an ingestion pipeline keeps
    * between batches — O(|corpus|·bands) small rows, NOT the texts.
    */
  def lshIndex(corpus: DataFrame): DataFrame =
    lshBands(minhashSignatures(corpus))
      .select(col("doc_id"), col("band"), col("key"))

  /** Incremental dedup: decide each NEW batch document against an
    * existing corpus WITHOUT rescanning the corpus — the shape that makes
    * continuous 100-TB ingestion affordable. Candidates come from (a) the
    * batch's bands joined against the corpus's persisted [[lshIndex]] and
    * (b) the batch's bands self-joined (new-vs-new); exact Jaccard
    * verification then re-shingles only the batch plus the corpus docs
    * that actually appear as candidates (a semi-join fetch, typically a
    * vanishing fraction of the corpus). Returns one row per batch doc:
    * `dup_of` = smallest near-dup partner id (NULL → survivor to append).
    */
  def incrementalDedupAgainst(corpus: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    incrementalDedupFromIndex(lshIndex(corpus), corpus, batch, threshold)
  }

  /** [[incrementalDedupAgainst]] with the corpus band index supplied
    * explicitly — the production entry point: the index is READ BACK
    * from a persisted store (see [[LshIndexStore]]), never recomputed
    * from corpus text.
    */
  def incrementalDedupFromIndex(index: DataFrame, corpus: DataFrame,
      batch: DataFrame, threshold: Double,
      bucketCap: Long = BandBucketCap): DataFrame = {
    val shB = shinglesSmall(batch).persist(StorageLevel.MEMORY_AND_DISK)
    // index-format projection (doc_id, band, key): the persisted corpus
    // index carries no sub-keys, so the batch side conforms to it
    val bandsB = lshBands(minhashSignaturesFrom(shB))
      .select(col("doc_id"), col("band"), col("key"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the bucket cap guards BOTH candidate joins: a flooded corpus-index
    // bucket (size counted over index ∪ batch bands, so a batch that
    // tips a near-full bucket over still caps) would otherwise multiply
    // against every colliding batch doc. Orientation is preserved:
    // doc_a = existing/corpus partner, doc_b = batch doc; batch-vs-batch
    // pairs are ordered doc_a < doc_b.
    val smallKeys = index.union(bandsB).groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= bucketCap)
      .select(col("band"), col("key"))
    val cappedIdx = index.join(smallKeys, Seq("band", "key"))
    val cappedB = bandsB.join(smallKeys, Seq("band", "key"))
    val candCorpus = cappedB.as("x")
      .join(cappedIdx.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          // a doc is never its own dup: a REPLAYED batch (at-least-once
          // delivery after its survivors were already appended to the
          // index) must re-produce the original decisions, not match
          // every survivor against itself
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("y.doc_id").as("doc_a"), col("x.doc_id").as("doc_b"))
    val candBatch = cappedB.as("x")
      .join(cappedB.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = candCorpus.union(candBatch).distinct()
    val touched = corpus.join(
      cand.select(col("doc_a").as("doc_id")), Seq("doc_id"), "left_semi")
    val sh = shB.union(shinglesSmall(touched))
    val best = pairJaccard(sh, Some(cand))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_of"),
        min_by(col("jaccard"), col("doc_a")).as("jaccard"))
    batch.select(col("doc_id")).join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"))
  }

  /** Incremental dedup demo split: every 10th doc (doc_id % 10 = 0) is the
    * arriving batch; the rest are the standing corpus.
    */
  def incrementalDedup(docs: DataFrame, threshold: Double): DataFrame =
    incrementalDedupAgainst(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0), threshold)

  /** Duplicate-cluster ids via connected components over near-dup pairs:
    * every doc in a component gets `cluster_id` = the component's min
    * doc_id, plus the component size. This is the grouping real corpus
    * dedup uses when "A~B, B~C" must put A and C in one cluster even
    * though they never formed a pair themselves (keep-first `survivors`
    * is the cheaper single-anti-join policy when transitivity is not
    * required).
    */
  def duplicateClusters(docs: DataFrame, threshold: Double): DataFrame =
    clustersFromPairs(minhashLsh(docs, threshold).select(col("doc_a"), col("doc_b")))

  /** Connected components by iterative min-label propagation. Each round
    * is one shuffle join keyed on doc ids (fully distributed — no
    * driver-side graph); a node adopts the smallest label among itself
    * and its neighbors, so labels converge to the component minimum in
    * at most `diameter` rounds. Near-dup components are shallow (an LSH
    * bucket yields a clique), so 2-3 rounds is typical; `maxIters` only
    * guards degenerate chains. Each round's label table is eagerly
    * localCheckpoint'ed: the next round references it twice (directly and
    * through the neighbor offers), so truncating the *logical* plan keeps
    * per-round planning O(1) instead of doubling the analyzed tree every
    * round; it also bounds lineage for the convergence-check action. On a
    * multi-executor cluster prefer reliable `checkpoint()` for long runs.
    */
  def clustersFromPairs(pairs: DataFrame, maxIters: Int = 30): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round-0 label = min(self, direct neighbors): clique-shaped clusters
    // (the common LSH case) converge immediately, saving one full round
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("nb"))
      .select(col("src").as("doc_id"), least(col("src"), col("nb")).as("lbl"))
      .localCheckpoint()
    var moving = true
    var iters = 0
    while (moving && iters < maxIters) {
      val offers = edges.join(labels, col("src") === col("doc_id"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nb"))
        .withColumnRenamed("dst", "doc_id")
      // the moved-label count rides the eager checkpoint's own job via
      // observe(): the convergence check costs ZERO extra passes. (The
      // previous isEmpty probe re-scanned the checkpointed blocks — and
      // on the final round, where nothing moved, it could short-circuit
      // nowhere and always paid the full scan.)
      val obs = new org.apache.spark.sql.Observation(s"cc_moved_$iters")
      val next = labels.join(offers, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nb"), col("lbl"))).as("lbl"),
          (coalesce(col("nb"), col("lbl")) < col("lbl")).as("chg"))
        .observe(obs,
          coalesce(sum(when(col("chg"), 1L).otherwise(0L)), lit(0L)).as("moved"))
        .localCheckpoint()
      moving = obs.get("moved").asInstanceOf[Long] > 0
      labels = next.select(col("doc_id"), col("lbl"))
      iters += 1
    }
    if (moving)
      throw new IllegalStateException(
        s"clustersFromPairs: label propagation still changing after $maxIters rounds " +
          "— component diameter exceeds maxIters; raise maxIters rather than " +
          "emitting unconverged cluster ids")
    val comp = labels.select(col("doc_id"), col("lbl").as("cluster_id"))
    val sz = comp.groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
    comp.join(sz, "cluster_id").select(col("doc_id"), col("cluster_id"), col("csize"))
  }

  /** Transitive keep-first dedup: keep each cluster's min doc_id (the
    * cluster representative) plus all unclustered docs. Stricter than the
    * pairwise [[survivors]] policy — "A~B, B~C" also drops C even though
    * (A, C) never formed a pair.
    */
  def clusterSurvivors(docs: DataFrame, threshold: Double): DataFrame =
    clusterSurvivorsOf(docs, minhashLsh(docs, threshold))

  /** [[clusterSurvivors]] over a precomputed verified-pair table. */
  def clusterSurvivorsOf(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = clustersFromPairs(pairs.select(col("doc_a"), col("doc_b")))
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
  }

  /** Cluster-aware downsampling (the "soft dedup" alternative to hard
    * survivor selection): every doc in a near-dup cluster of size c gets
    * admission weight 1/c, so each cluster contributes ONE doc in
    * expectation while unclustered docs always survive — the
    * D4/SemDeDup-style policy when hard-dropping near-dups would lose
    * in-cluster diversity a model still benefits from. Admission is the
    * deterministic salted-hash rule shared with the weighted sampler,
    * evaluated in exact integer arithmetic (hash % 1e6 scaled by c, no
    * float compare): re-salting redraws, corpus growth never flips
    * existing decisions, and both engines admit identical sets.
    */
  /** Top boilerplate n-grams by document frequency — "what does the df
    * cap actually cap": the navbars/footers/licence blurbs that dominate
    * a crawl, surfaced with their text for a human to write cleanup
    * rules against. Two-phase inverted fetch so gram STRINGS never
    * shuffle at corpus width: the df ranking runs over the shared
    * 60-bit-hash shingle table (TakeOrdered top-k), then one map-only
    * re-derivation of gram text joins against the BROADCAST k-row top
    * list — only the ≤k surviving strings reach the final aggregate.
    */
  def topBoilerplateOf(docs: DataFrame, shin: DataFrame, n: Int = 8,
      k: Int = 20): DataFrame = {
    val top = shin.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle")).limit(k)
    // r15: native one-pass distinct n-gram extraction (NgramsSpec pins
    // bit-equality with the former interpreted transform/array_join chain)
    val grams = graft.core.Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(explode(
        graft.functions.NgramsExpr.grams(col("text"), n, distinct = true)).as("g"))
      .select(col("g"), Hashing.h60(col("g")).as("shingle"))
    grams.join(broadcast(top), "shingle")
      .groupBy(col("shingle"), col("df")).agg(min(col("g")).as("gram"))
      .select(col("gram"), col("df"))
      .orderBy(col("df").desc, col("gram"))
  }

  /** Leakage-safe k-fold assignment: folds are drawn per near-dup GROUP,
    * not per doc — every member of a cluster shares its representative's
    * salted-hash fold, so near-duplicate documents can never straddle a
    * train/eval fold boundary (the cross-validation twin of the
    * contamination checks: without grouping, a near-copy of a training
    * doc lands in the eval fold and inflates the score). Unclustered
    * docs are their own group. One left join against the bounded cluster
    * table (e.g. [[clustersFromPairs]]' output) plus a map-side hash.
    */
  def kfoldGroupedOf(docs: DataFrame, clusters: DataFrame, k: Int,
      salt: String): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("group_id"))
      .withColumn("fold", Hashing.h60mod(
        concat(col("group_id").cast("string"), lit(salt)), k.toLong))

  def clusterDownweightOf(docs: DataFrame, clusters: DataFrame,
      salt: String): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id"), col("csize")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("csize"), lit(1L)).as("csize"))
      .filter(Hashing.h60mod(
          concat(col("doc_id").cast("string"), lit(salt)), 1000000L)
        * col("csize") < lit(1000000L))
      .select(col("doc_id"), col("cluster_id"), col("csize"),
        Hashing.rd4(lit(1.0) / col("csize")).as("weight"))

  val SimhashBits = 60   // full width of the engine-portable md5 hash (h60)
  val SimhashBands = 4   // legacy 4 x 15-bit split: pigeonhole-complete for hamming ≤ 3
  val SimhashBlocks = 6  // 6 x 10-bit blocks for the Manku-style multi-block keys
  val SimhashIdBlock = 512 // id-slice width for chunked pair expansion (O(block²) per row)

  /** The block-combination keys of Manku/Jain/Das Sarma's simhash
    * near-duplicate scheme (WWW 2007): split the fingerprint into
    * [[SimhashBlocks]] blocks; a pair at hamming ≤ maxHamming touches at
    * most maxHamming blocks, so at least (blocks − maxHamming) blocks
    * are INTACT — key each candidate table on one choice of that many
    * blocks, one table per C(blocks, blocks−maxHamming) combination.
    * At maxHamming = 3 this gives 20 tables keyed on 30 BITS instead of
    * 4 tables keyed on 15: random-collision candidate mass drops from
    * n²/2¹⁵ to n²·20/2³⁰ per corpus — the difference between the
    * DedupScaleCheck audit failing at 2M docs (308M candidates for 15k
    * true pairs) and passing with room to 10⁸ docs.
    */
  private[graft] def simhashComboKeys(maxHamming: Int): Seq[(Int, String)] = {
    val blockBits = SimhashBits / SimhashBlocks
    (0 until SimhashBlocks).combinations(SimhashBlocks - maxHamming)
      .zipWithIndex.map { case (combo, ci) =>
        ci -> combo.zipWithIndex.map { case (b, i) =>
          s"((fp div ${1L << (blockBits * b)}) % ${1L << blockBits}) * ${1L << (blockBits * i)}"
        }.mkString(" + ")
      }.toSeq
  }

  /** 60-bit SimHash fingerprint per doc over distinct tokens. 60 bits is
    * the full width of Hashing.h60, so band keys below have 2^15 values —
    * band buckets stay tiny on a billion-doc corpus, where a 16-bit
    * fingerprint's ~64-value band keys would collapse the corpus into
    * O(n²/64) candidate pairs.
    *
    * Scale shape: the fingerprint depends only on the doc's OWN tokens, so
    * (like [[graft.operators.TextAnalysis.repetition]]) it is computed
    * entirely inside array expressions — each token hashed ONCE, then one
    * fold carrying the 60 signed bit-counters as an array column. A pure
    * map-side projection with ZERO shuffle; the former explode +
    * 60-aggregate formulation shuffled every distinct token in the corpus
    * just to bring per-doc ±1 sums back together. Integer math is
    * identical (bit i set iff Σ±1 > 0), so fingerprints — and the DuckDB
    * oracle — are unchanged.
    */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    // r15: the former HOF formulation (aggregate + zip_with over a
    // 60-element accumulator) ran INTERPRETED per token — the whole
    // fingerprint pass was 6-8 s at sf0.1 while shuffling ~2 MB
    // (ProfileQ). SimhashFpExpr is the same fold as ONE compiled
    // expression, bit-identical by SimhashFpSpec (which pins it against
    // the original expression tree on real testdata + edge cases).
    graft.core.Tables.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.functions.SimhashFpExpr.fp(col("text")).as("fp"))

  /** SimHash near-dup pairs with hamming ≤ maxHamming (≤ SimhashBands-1).
    * Candidate tables are the Manku-style block-combination keys of
    * [[simhashComboKeys]] (30-bit keys at the default hamming 3 — the
    * 15-bit 4-band split stopped discriminating at 2M docs, see the
    * DedupScaleCheck audit): any pair at hamming ≤ maxHamming has all
    * its key blocks intact in at least one combination, so this equals
    * the brute-force O(n²) scan the oracle runs — without the cross
    * join. `bucketCap` is the scale guard: a band bucket holding more
    * than cap DISTINCT fingerprints (degenerate content flooding one
    * key) is excluded from candidate generation instead of joined
    * quadratically. Identical-fingerprint pairs (hamming 0) are exact
    * results, not candidates — they are emitted regardless of the cap,
    * streamed out of an fp-equi self-join (r12; the former in-row
    * [[SimhashIdBlock]]-chunked group expansion survives only in the
    * fp-bucket triangle, where the rows really are arrays).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      bucketCap: Long = 100000L): DataFrame = {
    require(maxHamming <= SimhashBands - 1,
      s"banding is only pigeonhole-complete for hamming <= ${SimhashBands - 1}")
    val bandStructs = simhashComboKeys(maxHamming).map { case (ci, keyExpr) =>
      struct(lit(ci).as("band"), expr(keyExpr).as("key"))
    }
    // COLLAPSE BY FINGERPRINT FIRST: a dup-flooded corpus puts hundreds
    // of identical-fp docs into the same bucket of EVERY band, so any
    // doc-level banding re-verifies the same quadratic flood once per
    // band and then pays a corpus-pair-sized distinct. Hamming-0 pairs
    // come straight from an fp-equi self-join, and the banding/verify
    // runs over DISTINCT fingerprints only — the flood is one row
    // there. A doc pair lands in exactly one (fp_a, fp_b) cell and fp
    // pairs are deduped across bands while still fp-level, so the
    // final doc-pair stream needs NO distinct shuffle at all:
    // everything after the tiny fp-level aggregation is join-streamed
    // and output-bounded. `bucketCap` bounds DISTINCT-fp band buckets
    // (the quadratic risk that survives the collapse); pigeonhole
    // completeness for hamming ≤ SimhashBands-1 is unchanged.
    // Narrow (doc_id, fp) relation, persisted once (columnar long
    // pairs): read by the hamming-0 self-join (both sides), the
    // distinct-fp banding, and the cross-fp expansion joins — the
    // per-doc fingerprint fold is the expensive map work and is paid
    // once. r12 rewrite: the former collect_list id-group table (an
    // ObjectHashAggregate building per-fp JVM arrays, then chunked
    // in-row pair transforms) was the plan's GC-coupled cost — its
    // in-bench time swung 2x with surrounding heap pressure; the join
    // shape below stays in whole-stage codegen end to end.
    val d = simhashFingerprints(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hamming-0 pairs: identical fps pair among themselves — a codegen
    // fp-equi self-join (doc_a < doc_b gives each pair once). A dup
    // flood is ONE hot fp key: sort-merge join buffers the matched
    // group in a spillable row array (O(k) memory, spills past it) and
    // STREAMS the C(k,2) output — flood-safe without any chunking.
    val within = d.as("a")
      .join(d.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        lit(0).as("hamming"))
    val B = SimhashIdBlock
    val fpPairs = d.select(col("fp")).distinct()
      .select(col("fp"), explode(array(bandStructs: _*)).as("bk"))
      .groupBy(col("bk.band").as("band"), col("bk.key").as("key"))
      .agg(sort_array(collect_list(col("fp"))).as("ms"))
      .filter(size(col("ms")) >= 2 && size(col("ms")) <= bucketCap)
      // the fp-bucket triangle gets the SAME block decomposition as the
      // id expansions below: a large-but-under-cap distinct-fp bucket
      // would otherwise materialize C(c,2) structs (up to ~5e9 at the
      // default cap) as ONE in-row array before the hamming filter —
      // per-row memory is O(block²) after chunking, whatever the bucket
      // size. ms is sorted, so diagonal blocks pair (i, j>i) and
      // off-diagonal blocks pair everything; fp_a < fp_b either way.
      .select(col("ms"), explode(expr(
        s"""flatten(transform(sequence(0, (size(ms) - 1) div $B), i ->
           |  transform(sequence(i, (size(ms) - 1) div $B),
           |            j -> struct(i AS bi, j AS bj))))""".stripMargin)).as("b"))
      .select(expr(s"slice(ms, b.bi * $B + 1, $B)").as("xs"),
        expr(s"slice(ms, b.bj * $B + 1, $B)").as("ys"),
        (col("b.bi") === col("b.bj")).as("diag"))
      .select(explode(expr(
        s"""filter(
           |  CASE WHEN diag THEN
           |    flatten(transform(xs, (a, i) ->
           |      transform(slice(xs, i + 2, size(xs)), b ->
           |        struct(a AS fp_a, b AS fp_b, bit_count(a ^ b) AS hamming))))
           |  ELSE
           |    flatten(transform(xs, a ->
           |      transform(ys, b -> struct(a AS fp_a, b AS fp_b,
           |                                bit_count(a ^ b) AS hamming))))
           |  END,
           |  p -> p.hamming <= $maxHamming)""".stripMargin)).as("p"))
      .select(col("p.fp_a").as("fp_a"), col("p.fp_b").as("fp_b"),
        col("p.hamming").as("hamming"))
      .distinct() // fp-level: group-sized, not doc-pair-sized
    // cross-group expansion: two keyed joins of the (small, fp-level)
    // verified pair table back to the persisted (doc_id, fp) relation —
    // the id-by-id product of two near-identical floods with distinct
    // fps streams out of the second join instead of materializing in
    // any row (same spillable-match-buffer argument as `within`)
    val cross = fpPairs
      .join(d.select(col("fp").as("fp_a"), col("doc_id").as("ida")), "fp_a")
      .join(d.select(col("fp").as("fp_b"), col("doc_id").as("idb")), "fp_b")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
  }
}
