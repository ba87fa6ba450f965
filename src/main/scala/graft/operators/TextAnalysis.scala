package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines, over `documents`.
  * All pure builtin expressions (whole-stage codegen, no UDFs); every
  * pseudo-random choice is md5-derived so the DuckDB oracle can replicate
  * it exactly (see graft.functions.Hashing).
  */
object TextAnalysis {

  /** Whitespace token array — r15: the native zero-copy byte scan
    * ([[graft.functions.WsTokensExpr]], bit-identical to
    * `split(text, '\\s+')` by WsTokensSpec) instead of the builtin
    * regex split, which round-trips every row through java.lang.String.
    */
  def tokens(text: Column): Column = graft.functions.WsTokensExpr.tokens(text)

  /** Codegen'd whitespace-token count (long) — same value as
    * `size(tokens(text))` via one [[graft.functions.TextStatsExpr]] byte
    * scan, with no regex split and no token-array allocation.
    */
  def nTokensL(text: Column): Column =
    graft.functions.TextStatsExpr.stats(text).getField("n_tokens")

  /** The exploded (doc_id, tok) whitespace-token table. Unfiltered:
    * `split` emits an empty-string token on leading whitespace and every
    * doc yields at least one row, so per-doc row counts equal
    * `size(tokens(text))`; consumers that drop empty terms filter for
    * themselves.
    */
  private def tokenTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))

  /** Token counting: whitespace tokens + a BPE-ish regex sub-token count. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      nTokensL(col("text")).cast("int").as("n_ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]")).as("n_bpe_tokens"))

  /** Add quality columns (n_tokens, punct_ratio, stop_ratio, quality) to
    * a frame with a `text` column — a pure projection, so pipelines can
    * fuse it with other per-doc transforms in a single scan.
    * All inputs are integer counts, so the double math is bit-identical
    * across engines.
    */
  def withQuality(docs: DataFrame): DataFrame = {
    // all counters come from ONE fused byte scan (TextStatsExpr) — the
    // previous split + interpreted filter lambdas paid a regex tokenize
    // plus ~1µs/token closure dispatch per metric; the struct column is
    // materialized in its own projection level so every metric reads the
    // same attribute (CollapseProject keeps non-cheap expressions
    // referenced more than once un-inlined)
    val nTok = col("__q.n_tokens").cast("double")
    val nChars = length(col("text")).cast("double")
    val punct = col("__q.n_symbol").cast("double")
    val stops = col("__q.n_stops").cast("double")
    docs
      .withColumn("__q", graft.functions.TextStatsExpr.stats(col("text")))
      .withColumn("n_tokens", col("__q.n_tokens").cast("int"))
      .withColumn("punct_ratio", graft.functions.Hashing.rd4(punct / nChars))
      .withColumn("stop_ratio", graft.functions.Hashing.rd4(stops / nTok))
      .withColumn("quality", graft.functions.Hashing.rd4(
        least(lit(1.0), nTok / 100.0) * 0.4 +
          (lit(1.0) - punct / nChars) * 0.3 +
          least(lit(1.0), stops * 5.0 / nTok) * 0.3))
      .drop("__q")
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio composite. */
  def quality(docs: DataFrame): DataFrame =
    withQuality(docs).select(col("doc_id"), col("n_tokens"),
      col("punct_ratio"), col("stop_ratio"), col("quality"))

  /** Quality-filter operating curve: for each candidate threshold
    * t = 0.0, 0.1, …, 0.9, the docs and tokens RETAINED by "keep docs
    * with quality ≥ t", plus the retained set's mean quality — the
    * curve a pipeline owner reads to pick a filter operating point
    * (token budget vs quality lift) BEFORE committing a corpus rebuild,
    * the quality-screen analogue of [[graft.operators.Dedup]]'s
    * dedup_threshold_curve.
    *
    * Determinism: docs bucket by floor(quality·10) (quality is already
    * on the rd4 1e-4 grid, so the bucket edge arithmetic is identical
    * IEEE ops on identical doubles in both engines), per-bucket sums
    * carry exact LONGs (token counts, quality·10⁴ grid values), and the
    * cumulative step is a ≤100-row bucket join — the corpus-wide work is
    * ONE map-side-combined 10-group aggregate; the only window runs over
    * the 10-row curve. Mean quality divides one exact LONG sum once.
    */
  def qualityRetentionCurve(docs: DataFrame): DataFrame = {
    val q = withQuality(docs).select(
      least(lit(9), floor(col("quality") * 10).cast("int")).as("b"),
      col("n_tokens").cast("long").as("nt"),
      round(col("quality") * 10000).cast("long").as("q4"))
    val byB = q.groupBy(col("b")).agg(
      count(lit(1)).as("nd"), sum(col("nt")).as("tok"), sum(col("q4")).as("sq4"))
    val thresholds = docs.sparkSession.range(10).select(col("id").cast("int").as("tb"))
    // totals = the threshold-0 row (b ∈ [0,9] so tb=0 retains every
    // bucket), lifted over the 10-row curve with an un-partitioned
    // window — NOT a second `byB.agg(...)` consumer: that branch would
    // not read sq4, ColumnPruning would strip it from its copy of the
    // aggregate, the two subtrees would stop canonicalizing, and AQE
    // exchange reuse would die (the corpus scanned + quality-scored
    // twice — the market-basket/tfidf pruning disease)
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    thresholds
      .join(byB, col("b") >= col("tb"), "left")
      .groupBy(col("tb"))
      .agg(sum(col("nd")).as("nd"), sum(col("tok")).as("tok"), sum(col("sq4")).as("sq4"))
      .withColumn("tnd", max(when(col("tb") === 0, col("nd"))).over(all))
      .withColumn("ttok", max(when(col("tb") === 0, col("tok"))).over(all))
      .select(
        (col("tb") / 10.0).as("threshold"),
        coalesce(col("nd"), lit(0L)).as("n_docs"),
        coalesce(col("tok"), lit(0L)).as("n_tokens"),
        graft.functions.Hashing.rd4(
          coalesce(col("nd"), lit(0L)) / col("tnd")).as("frac_docs"),
        graft.functions.Hashing.rd4(
          coalesce(col("tok"), lit(0L)) / col("ttok")).as("frac_tokens"),
        when(coalesce(col("nd"), lit(0L)) === 0, lit(0.0))
          .otherwise(graft.functions.Hashing.rd4(
            col("sq4") / 10000.0 / col("nd"))).as("mean_quality"))
  }

  /** Add marker-word counts + `pred_lang` — pure projection twin of
    * [[langId]], fusable into a single scan.
    */
  def withLangId(docs: DataFrame): DataFrame = {
    // marker votes ride the same fused TextStats scan as the quality
    // screens — the old per-marker split+filter tokenized the text four
    // times, each through an interpreted lambda
    docs
      .withColumn("__l", graft.functions.TextStatsExpr.stats(col("text")))
      .withColumn("c_en", col("__l.c_the").cast("int"))
      .withColumn("c_de", col("__l.c_der").cast("int"))
      .withColumn("c_es", col("__l.c_el").cast("int"))
      .withColumn("c_fr", col("__l.c_le").cast("int"))
      .withColumn("pred_lang",
        when(col("c_en") > 0 && col("c_en") >= greatest(col("c_de"), col("c_es"), col("c_fr")), "en")
          .when(col("c_de") > 0 && col("c_de") >= greatest(col("c_es"), col("c_fr")), "de")
          .when(col("c_es") > 0 && col("c_es") >= col("c_fr"), "es")
          .when(col("c_fr") > 0, "fr")
          .otherwise("und"))
      .drop("__l")
  }

  /** Language ID: marker-word voting with a deterministic priority order. */
  def langId(docs: DataFrame): DataFrame =
    withLangId(docs).select(col("doc_id"), col("c_en"), col("c_de"),
      col("c_es"), col("c_fr"), col("pred_lang"))

  /** Corpus bigram statistics: top word pairs across the corpus (document
    * frequency + total occurrences) — the distributional profile used for
    * contamination and boilerplate screening.
    */
  def topBigrams(docs: DataFrame, k: Int): DataFrame =
    // r15: native one-pass bigram extraction (NgramsSpec pins
    // bit-equality with the former interpreted transform/array_join chain)
    docs
      .select(col("doc_id"), explode(
        graft.functions.NgramsExpr.grams(col("text"), 2, distinct = false)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("occurrences"), countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("bigram"))
      .limit(k)

  /** Per-document top-k tf-idf terms. The idf factor is the log-free
    * rational N/df (monotone in the usual idf, so ranking-equivalent for
    * fixed tf, and — unlike log() — bit-identical across engines: the
    * score is ONE integer multiply and ONE IEEE division). Plan shape:
    * explode → two hash aggregations (tf, then df over the already-tiny
    * tf table) → per-doc window rank. The window partitions by doc_id, so
    * ranking never needs a global sort; N is a 1-row broadcast.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame =
    tfidfScoredFrom(docs, explodedTf(docs), k)

  /** The per-document (term, tf) table via explode + partial-agged
    * groupBy — the whole pipeline is codegen'd (r12 A/B: the in-row
    * run-length variant's higher-order lambdas are INTERPRETED per
    * token, ~1µs each, and lost 2x at sf1 despite shuffling nothing;
    * here map-side partial aggregation collapses each task's token
    * stream to its distinct (doc, term) rows before the exchange, so
    * the shuffle is distinct-sized anyway — the 100 TB survival
    * condition inRowTf was built for, kept, at codegen speed).
    */
  private[graft] def explodedTf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** The per-document (term, tf) table derived IN-ROW: run-length encode
    * the sorted token array (array_sort + run-boundary filter + transform
    * — all codegen'd array expressions), then explode ONE row per
    * DISTINCT (doc, term). Token occurrences never shuffle: the first
    * shuffle any consumer pays is over this distinct projection, 5–20×
    * smaller than the occurrence stream on web text — at 100 TB that is
    * the tf-idf plan's survival condition. tf counts equal the
    * groupBy-occurrences formulation exactly (same integers, order-free).
    */
  private[graft] def inRowTf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        array_sort(filter(tokens(col("text")), t => length(t) > 0)).as("s"))
      // run starts (1-based): position 1 and every i where s[i] != s[i-1]
      .withColumn("starts", expr(
        """CASE WHEN size(s) < 1 THEN CAST(array() AS ARRAY<INT>)
               ELSE filter(sequence(1, size(s)),
                           i -> i = 1 OR element_at(s, i) <> element_at(s, i - 1))
           END"""))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(starts) = 0 THEN
               CAST(array() AS ARRAY<STRUCT<term: STRING, tf: BIGINT>>)
             ELSE transform(sequence(1, size(starts)), j -> struct(
               element_at(s, element_at(starts, j)) AS term,
               CAST((IF(j = size(starts), size(s) + 1, element_at(starts, j + 1))
                     - element_at(starts, j)) AS BIGINT) AS tf))
           END""")).as("p"))
      .select(col("doc_id"), col("p.term").as("term"), col("p.tf").as("tf"))

  /** Score + per-doc rank over a prebuilt (doc_id, term, tf) table —
    * shared by the in-row ([[inRowTf]]) and exploded-token derivations.
    *
    * Shuffle discipline (r12 plan audit, after A/B-ing a 60-bit-hash
    * variant that traded the string shuffles for ~20M md5 calls and
    * LOST at sf1): the tf table's tokenize+explode exchange is computed
    * ONCE — the df subtree and the scored subtree consume the same
    * canonical tf plan, so AQE shuffle-stage reuse shares it and a
    * persist on top is pure cost (the df side re-runs only the cheap
    * final aggregate over the locally-read shuffle output). The
    * tautological tf >= 1 filter on the df branch is LOAD-BEARING:
    * without a reference to the tf column, ColumnPruning strips
    * count(1) out of the df branch's inner aggregate, the two
    * exchanges stop canonicalizing identically, stage reuse dies and
    * the corpus is tokenized twice (r13: caught as 39 MB shuffled /
    * doubled tokenize at sf1 vs 21 MB with reuse; an earlier A/B that
    * "proved" reuse worked unaided was reading the prior variant's
    * leftover cache). The df aggregate shuffles partial-agged
    * vocabulary rows and broadcasts back (AQE falls back to a keyed
    * shuffle if a 100TB vocabulary outgrows it), so the tf stream
    * itself never shuffles for the join; and the per-doc rank filter
    * compiles to WindowGroupLimit, which prunes to ≤k rows per doc per
    * partition BEFORE the window exchange — the only full-width string
    * shuffle left is output-sized.
    */
  private def tfidfScoredFrom(docs: DataFrame, tf: DataFrame, k: Int): DataFrame = {
    val tfp = tf
    val dfT = tfp.filter(col("tf") >= 1)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tfp.join(dfT, "term").crossJoin(broadcast(n))
      .withColumn("score", graft.functions.Hashing.rd4(
        (col("tf") * col("n_docs")).cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  /** Cross-document duplicated-span coverage (ExactSubstr-lite, after Lee
    * et al.'s "Deduplicating Training Data" substring dedup): for each
    * document, the fraction of its n-token span positions whose span also
    * occurs in at least one OTHER document. High coverage = boilerplate /
    * near-copy even when no whole-doc dedup fires. Spans shuffle as
    * 60-bit hashes, never strings; span df is one aggregation over
    * distinct (doc, span).
    */
  def dupSpanCoverage(docs: DataFrame, n: Int = 8): DataFrame = {
    val pos = docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(tk) >= $n
                THEN transform(sequence(1, size(tk) - ${n - 1}), i -> array_join(slice(tk, i, $n), ' '))
                ELSE slice(tk, 1, 0) END""")).as("g"))
      .select(col("doc_id"), graft.functions.Hashing.h60(col("g")).as("g"))
    val dfT = pos.distinct().groupBy(col("g")).agg(count(lit(1)).as("df"))
    val agg = pos.join(dfT, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_spans"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        when(coalesce(col("n_spans"), lit(0L)) === 0, lit(0.0))
          .otherwise(graft.functions.Hashing.rd4(
            col("dup_spans").cast("double") / col("n_spans"))).as("dup_frac"))
  }

  /** ExactSubstr ACTION step (the second half of Lee et al. 2022's
    * substring dedup, completing [[dupSpanCoverage]]'s MEASURE step):
    * emit the corpus with cross-document duplicated ≥n-token spans
    * REMOVED. Span definition matches dupSpanCoverage exactly (n-token
    * windows over the whitespace split, 60-bit content hashes). For
    * each duplicated span (present in ≥2 distinct docs) the doc with
    * the MINIMUM doc_id keeps its occurrences; every other doc drops
    * all token positions covered by that span. Output is one row per
    * document: the whitespace-NORMALIZED scrubbed text (kept tokens
    * joined by single spaces — deterministic and engine-portable,
    * unlike preserving original separators), plus the removed
    * span-occurrence and token counts.
    *
    * Scale shape: the only corpus-wide traffic is the span-occurrence
    * stream — (doc, position, 60-bit hash) ints, token-count-sized,
    * exactly dupSpanCoverage's discipline; the keeper/df table is one
    * partial-agged aggregate over distinct (doc, span); covered
    * positions explode only from SCRUBBED occurrences (bounded by the
    * dup mass, not the corpus); and text re-assembly is in-row — the
    * token strings themselves never shuffle. Per-doc state (token
    * array, covered-position set) is bounded by document length.
    */
  def spanScrub(docs: DataFrame, n: Int = 8): DataFrame = {
    val tok = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
    // (doc, start, span-hash) for every n-token window
    val pos = tok.select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(tk) >= $n
              THEN transform(sequence(1, size(tk) - ${n - 1}),
                             i -> struct(i AS i, array_join(slice(tk, i, $n), ' ') AS sp))
              ELSE CAST(array() AS ARRAY<STRUCT<i: INT, sp: STRING>>) END""")).as("p"))
      .select(col("doc_id"), col("p.i").as("i"),
        graft.functions.Hashing.h60(col("p.sp")).as("g"))
    // one aggregate yields both the cross-doc frequency and the keeper
    val keepers = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("keeper"))
      .filter(col("df") >= 2)
    val scrubbed = pos.join(keepers, "g")
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("i"))
    val spanCounts = scrubbed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans_removed"))
    val covered = scrubbed
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + lit(n - 1))).as("j"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("j"))).as("cov"))
    tok
      .join(covered, Seq("doc_id"), "left")
      .join(spanCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // fast path for unscathed docs; scrubbed docs drop covered
        // positions via the codegen'd array_except, then gather tokens
        when(col("cov").isNull, array_join(col("tk"), " "))
          .otherwise(array_join(expr(
            "transform(array_except(sequence(1, size(tk)), cov), j -> element_at(tk, j))"),
            " ")).as("scrubbed_text"),
        when(col("cov").isNull, lit(0L))
          .otherwise(expr("size(cov)").cast("long")).as("n_tokens_removed"),
        coalesce(col("n_spans_removed"), lit(0L)).as("n_spans_removed"))
  }

  /** Corpus length-distribution report: documents per power-of-two
    * token-length bucket per language — the standard curation diagnostic
    * for truncation limits and length-filter thresholds. One map-side
    * projection + one small aggregation ((langs × ~17 buckets) rows);
    * floor(log2(n)) on integer n is boundary-safe cross-engine (exact at
    * powers of two, ≥1/(n·ln2) from the boundary elsewhere).
    */
  def lengthHistogram(docs: DataFrame): DataFrame =
    docs.select(col("lang"), nTokensL(col("text")).cast("int").as("n_tokens"))
      .filter(col("n_tokens") >= 1)
      .withColumn("len_bucket", expr("CAST(floor(log2(CAST(n_tokens AS DOUBLE))) AS INT)"))
      .groupBy(col("lang"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .withColumn("bucket_lo", expr("CAST(shiftleft(1, len_bucket) AS INT)"))
      .withColumn("bucket_hi", expr("CAST(shiftleft(1, len_bucket + 1) AS INT)"))

  /** Deterministic model-scoring shape: a fixed-weight linear quality
    * classifier with a clamped-linear (not sigmoid) link — exp() is not
    * bit-reproducible across engines, a clamp of single IEEE ops is. The
    * weights stand in for a trained model; the point is the SCALE shape:
    * pure per-row projection over already-computed features, zero
    * shuffle, fusable into any curation scan.
    */
  def qualityModel(docs: DataFrame): DataFrame = {
    val q = withQuality(docs)
    val lenScore = graft.functions.Hashing.rd4(
      least(lit(1.0), col("n_tokens").cast("double") / 100.0))
    val z = lenScore * lit(0.9) - col("punct_ratio") * lit(1.2) +
      col("stop_ratio") * lit(0.6) - lit(0.1)
    val score = graft.functions.Hashing.rd4(
      greatest(lit(0.0), least(lit(1.0), z * lit(0.5) + lit(0.5))))
    q.select(col("doc_id"), lenScore.as("len_score"),
      col("punct_ratio"), col("stop_ratio"),
      score.as("model_score"), (score >= 0.55).as("keep"))
  }

  /** Deterministic stratified sampling for training-data curation: keep a
    * per-stratum fraction of docs, selected by content hash rather than
    * rand() — reproducible across runs, engines and cluster sizes, and
    * skew-free. rates = stratum → percentage [0,100).
    */
  def sampleStratified(docs: DataFrame, stratum: Column, rates: Map[String, Int],
      default: Int, salt: String): DataFrame = {
    val pct = rates.foldLeft(when(lit(false), lit(default))) {
      case (acc, (k, v)) => acc.when(stratum === k, v)
    }.otherwise(default)
    docs
      .withColumn("__bucket",
        graft.functions.Hashing.h60mod(concat(col("doc_id").cast("string"), lit(salt)), 100L))
      .filter(col("__bucket") < pct)
      .drop("__bucket")
  }

  /** Fixed-budget deterministic sampling: exactly `n` docs per stratum,
    * selected by salted content-hash rank — the "give me 10k docs per
    * language for eval" shape. Reproducible across runs/engines/cluster
    * layouts like [[sampleStratified]], but with an exact per-stratum
    * count instead of a rate. The rank window partitions by stratum, so
    * no global sort.
    */
  def sampleTopNPerStratum(docs: DataFrame, stratum: Column, n: Int,
      salt: String): DataFrame =
    docs
      .withColumn("__hv", graft.functions.Hashing.h60(
        concat(col("doc_id").cast("string"), lit(salt))))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(stratum).orderBy(col("__hv"), col("doc_id"))))
      .filter(col("rnk") <= n)
      .select(col("doc_id"), col("lang"), col("source"), col("rnk"))

  /** Feature-hashed bag-of-words document vectors: each token hashes into
    * one of `dim` buckets (h60 % dim), per-bucket term frequencies are
    * L2-normalized. The text→embedding bridge of the pipeline — cheap
    * doc vectors for clustering / cosine prefilters when no model
    * embedding exists. Sparse output (one row per NONZERO component), two
    * doc-keyed shuffles, both with map-side combine; no token strings
    * shuffle (hashing happens in the projection).
    */
  def bowEmbedding(docs: DataFrame, dim: Int = 64): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), pmod(graft.functions.Hashing.h60(col("tok")), lit(dim.toLong)).as("idx"))
      .groupBy(col("doc_id"), col("idx")).agg(count(lit(1)).as("tf"))
    val nrm = tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("ssq"))
    tf.join(nrm, "doc_id")
      .select(col("doc_id"), col("idx"),
        graft.functions.Hashing.rd4(col("tf") / sqrt(col("ssq"))).as("w"))
  }

  /** Quality-weighted deterministic sampling: each doc is kept with
    * probability equal to its quality score — higher-quality docs
    * over-represented, selection by content-independent hash so the
    * sample is reproducible across runs, engines and cluster layouts
    * (same property as [[sampleStratified]], continuous rates).
    */
  def sampleWeighted(docs: DataFrame, salt: String): DataFrame =
    withQuality(docs)
      .filter(graft.functions.Hashing.h60mod(
          concat(col("doc_id").cast("string"), lit(salt)), 10000L)
        < col("quality") * 10000.0)
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))

  /** Gopher-style repetition metrics per document: type-token ratio,
    * character mass of the most-repeated bigram, fraction of trigram
    * occurrences that are duplicated, and the longest consecutive
    * same-token run. The standard screens for auto-generated / looping
    * text in training-data curation.
    *
    * Scale design: the metrics are per-document, so they are computed
    * entirely inside array expressions over the token array — a map-only
    * projection with ZERO shuffle. (The explode → groupBy(doc_id, gram)
    * formulation would shuffle every n-gram occurrence in the corpus just
    * to bring per-doc counts back together.) Frequencies come from a
    * single run-length pass over the array_sorted n-gram list, O(n log n)
    * per doc, so long documents stay linear-ish, never O(n·distinct).
    */
  def repetition(docs: DataFrame): DataFrame = {
    def grams(k: Int) =
      s"""CASE WHEN size(tk) >= $k
               THEN transform(sequence(1, size(tk) - ${k - 1}),
                              i -> array_join(slice(tk, i, $k), ' '))
               ELSE slice(tk, 1, 0) END"""
    // max over distinct bigrams of (occurrences × char length): one pass
    // over the sorted list, tracking the current run and the best mass
    val top2Mass =
      s"""aggregate(array_sort(${grams(2)}),
            named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
            (acc, x) -> named_struct('prev', x,
              'run', CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END,
              'best', greatest(acc.best,
                (CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END) * length(x))),
            acc -> acc.best)"""
    // occurrences of trigrams that appear more than once = total - singletons;
    // a new run tentatively counts as a singleton (+1), retracted (-1) the
    // moment the run reaches length 2
    val singles3 =
      s"""aggregate(array_sort(${grams(3)}),
            named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'singles', 0),
            (acc, x) -> named_struct('prev', x,
              'run', CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END,
              'singles', acc.singles +
                CASE WHEN acc.prev IS NULL OR x != acc.prev THEN 1
                     WHEN acc.run = 1 THEN -1 ELSE 0 END),
            acc -> acc.singles)"""
    val maxRun =
      """aggregate(tk,
           named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),
           (acc, x) -> named_struct('prev', x,
             'run', CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END,
             'best', greatest(acc.best,
               CASE WHEN x = acc.prev THEN acc.run + 1 ELSE 1 END)),
           acc -> acc.best)"""
    val rd4 = graft.functions.Hashing.rd4 _
    val n3 = expr("greatest(size(tk) - 2, 0)")
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"),
        length(col("text")).as("nchars"))
      .select(
        col("doc_id"),
        size(col("tk")).as("n_tokens"),
        rd4(expr("size(array_distinct(tk))") / size(col("tk"))).as("ttr"),
        rd4(expr(top2Mass) / col("nchars")).as("top2_char_frac"),
        when(n3 > 0, rd4((n3 - expr(singles3)) / n3)).otherwise(0.0).as("dup3_frac"),
        expr(maxRun).as("max_run"))
  }

  /** PII patterns, ordered by redaction priority (emails first so their
    * digits can't be re-matched as phones). Restricted to regex syntax
    * with identical semantics in Java regex (Spark) and RE2 (DuckDB):
    * character classes + bounded quantifiers, no backrefs or lookaround.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "ipv4" -> "([0-9]{1,3}\\.){3}[0-9]{1,3}",
    "phone" -> "\\+?[0-9][0-9()\\- ]{7,}[0-9]")

  /** Redact all PII patterns from a text column (`<EMAIL>`, `<IPV4>`,
    * `<PHONE>` placeholders), in priority order.
    */
  def piiRedact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (name, pat)) =>
      regexp_replace(c, lit(pat), lit(s"<${name.toUpperCase}>"))
    }

  /** PII scrub: per-doc match counts per pattern (on the original text)
    * plus the md5 of the redacted text — a pure projection, fusable into
    * a single scan with the other per-doc transforms. The synthetic
    * corpus contains no PII, so the driver oracle verifies the zero
    * counts and that redaction is the identity there; the match/redact
    * semantics themselves are exercised by TextAnalysisSpec on rows with
    * real emails/phones/IPs.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val counts = piiPatterns.map { case (name, pat) =>
      regexp_count(col("text"), lit(pat)).as(s"n_$name")
    }
    docs.select(
      (col("doc_id") +: counts :+ md5(piiRedact(col("text"))).as("redacted_hash")): _*)
  }

  /** Document fingerprint: rolling polynomial hash over the token stream
    * (order-sensitive, multiplicity-sensitive). r16: the interpreted
    * transform+aggregate fold (the text family's last HOF kernel) is one
    * compiled byte scan ([[graft.functions.FingerprintExpr]], bit-identical
    * by FingerprintSpec against the original expression tree).
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.functions.FingerprintExpr.fp(col("text")).as("fingerprint"))

  /** Deterministic train/val/test assignment: each doc lands in a split
    * by salted content-hash bucket (trainPct / valPct / rest percent).
    * Same properties as [[sampleStratified]] — reproducible across runs,
    * engines and cluster layouts, no RNG state, map-only (zero shuffle);
    * changing the salt re-rolls the split, adding docs never moves
    * existing ones between splits.
    */
  def dataSplit(docs: DataFrame, trainPct: Int, valPct: Int, salt: String): DataFrame = {
    val b = graft.functions.Hashing.h60mod(
      concat(col("doc_id").cast("string"), lit(salt)), 100L)
    docs.select(col("doc_id"), col("lang"), col("source"),
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Sequence packing (GPT-style concatenate-and-chunk): per language
    * stream, documents are laid end-to-end in doc_id order and the token
    * stream is cut into `budget`-sized training sequences; each doc
    * reports its stream offset and the first/last sequence it lands in
    * (docs cross sequence boundaries, as in standard pretraining
    * packing). All integer arithmetic (prefix sum + integer division) —
    * exact on any engine. The per-language prefix sum runs through
    * [[graft.core.Ranking.withRunningSum]]: range partitioning on
    * (lang, doc_id) lets ONE language span MANY partitions, with
    * broadcast partial-sum offsets stitching the stream back together —
    * a mono-lingual corpus no longer serializes into one task.
    */
  def seqPack(docs: DataFrame, budget: Int): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("lang"),
        nTokensL(col("text")).as("n_tokens"))
    graft.core.Ranking
      .withRunningSum(base, Some("lang"), Seq(col("doc_id")), col("n_tokens"), "end_off")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        (col("end_off") - col("n_tokens")).as("start_off"),
        expr(s"(end_off - n_tokens) div $budget").as("first_seq"),
        expr(s"(end_off - 1) div $budget").as("last_seq"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + 1)
  }

  /** Domain-mixture weights: per-source token share vs a uniform target
    * mixture; weight = target_share / actual_share is the sampling
    * multiplier that rebalances the corpus (the "data mixing" step of a
    * pretraining pipeline). One small aggregation; the over-() window
    * runs on the |sources|-row table, never on docs. Ratios of integer
    * sums → bit-identical doubles.
    */
  def mixWeights(docs: DataFrame): DataFrame = {
    val all = Window.partitionBy(lit(1))
    docs
      .select(col("source"), nTokensL(col("text")).as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("tot", sum(col("n_tokens")).over(all))
      .withColumn("k", count(lit(1)).over(all))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.functions.Hashing.rd4(col("n_tokens") / col("tot")).as("token_share"),
        graft.functions.Hashing.rd4(col("tot") / (col("k") * col("n_tokens"))).as("weight"))
  }

  /** Temperature-scaled mixture weights (the multilingual/DoReMi-style
    * rebalance): target share ∝ token_share^τ — τ=1 keeps the natural
    * mixture, τ→0 approaches uniform, intermediate τ up-weights small
    * domains without flattening the head. `weight` is the sampling
    * multiplier target/actual per source. pow() is the one
    * libm-dependent term, so it snaps to the 1e-6 grid immediately (the
    * rd6 contract); shares are ratios of exact integer sums and the
    * normalizer runs over the |sources|-row aggregate, never docs.
    */
  def mixTemperature(docs: DataFrame, tau: Double): DataFrame = {
    val rd4 = graft.functions.Hashing.rd4 _
    val all = Window.partitionBy(lit(1))
    docs
      .select(col("source"), nTokensL(col("text")).as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("tot", sum(col("n_tokens")).over(all))
      .withColumn("token_share", rd4(col("n_tokens") / col("tot")))
      // pow snaps to an INTEGER 1e-6 grid so the normalizer is an exact
      // long sum — a 20-addend double sum could flip an rd4 boundary
      .withColumn("powed",
        floor(pow(col("token_share"), lit(tau)) * 1000000.0 + 0.5).cast("long"))
      .withColumn("temp_share", rd4(col("powed") / sum(col("powed")).over(all)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("token_share"), col("temp_share"),
        rd4(col("temp_share") / col("token_share")).as("weight"))
  }

  /** Apply the [[mixWeights]] mixture as per-doc repetition factors: a
    * doc from a source with weight w trains floor(w) times, plus one
    * extra epoch for a deterministic hash-selected frac(w) fraction of
    * the source — so each source's expected token volume lands exactly
    * on the target mixture (down-weighted sources sample docs out,
    * up-weighted sources repeat docs; both cases are this one formula).
    * All decisions are integer comparisons on the salted hash against
    * the rd4-gridded weight — no RNG state, stable under corpus growth,
    * reproducible across engines and cluster layouts. The |sources|-row
    * weight table broadcasts; the per-doc pass is map-only.
    */
  def applyMixture(docs: DataFrame, salt: String): DataFrame = {
    val w = mixWeights(docs).select(col("source"), col("weight"))
    val frac4 = floor(col("weight") * 10000.0 + 0.5).cast("long") % 10000L
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(w), "source")
      .withColumn("b", graft.functions.Hashing.h60mod(
        concat(col("doc_id").cast("string"), lit(salt)), 10000L))
      .select(col("doc_id"), col("source"), col("weight"),
        (floor(col("weight")).cast("long") +
          when(col("b") < frac4, 1L).otherwise(0L)).as("n_copies"))
  }

  /** Post-mixture token accounting: did the applied mixture actually
    * land each source on its target share? [[mixWeights]]'s weights are
    * built so every source's expected post-mix token volume is tot/k —
    * an equal 1/k share — and [[applyMixture]] realizes them as integer
    * per-doc repetition factors, so the achieved share deviates from
    * 1/k only by the hash-sampling noise of the frac(w) extra epoch.
    * This is the verification read a pipeline owner checks after
    * rebalancing and before launching a run. Shapes: one map-only
    * token-count projection joined to the repetition factors, a
    * per-source aggregate, and a window over the fixed source enum.
    */
  def mixtureTokenShare(docs: DataFrame, salt: String): DataFrame = {
    val dt = docs.select(col("doc_id"),
      nTokensL(col("text")).as("n_tokens"))
    val per = applyMixture(docs, salt)
      .join(dt, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_copies") * col("n_tokens")).as("mixed_tokens"))
    val all = Window.partitionBy(lit(1))
    per
      .withColumn("tot", sum(col("mixed_tokens")).over(all))
      .withColumn("k", count(lit(1)).over(all))
      .select(col("source"), col("n_tokens"), col("mixed_tokens"),
        graft.functions.Hashing.rd4(col("mixed_tokens") / col("tot")).as("mixed_share"),
        graft.functions.Hashing.rd4(lit(1.0) / col("k")).as("target_share"))
  }

  /** Overlapping token-window chunking — the RAG-indexing step that
    * splits each document into `chunkTokens`-token windows advancing by
    * `chunkTokens - overlap`, so consecutive chunks share `overlap`
    * tokens of context. The final window may be shorter; every token of
    * every doc lands in at least one chunk. A pure explode + projection
    * over the token array: map-only, ZERO shuffle — at 100 TB the chunk
    * table streams straight into the embedding/indexing stage with no
    * exchange, and chunk ids are derivable (doc_id, chunk_id) keys, not
    * global counters.
    */
  def chunkWindows(docs: DataFrame, chunkTokens: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(overlap < chunkTokens, "overlap must be smaller than the window")
    val step = chunkTokens - overlap
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), col("tk"), size(col("tk")).as("len"))
      .select(col("doc_id"), col("tk"), col("len"),
        explode(expr(s"sequence(1, len, $step)")).as("start"))
      .select(col("doc_id"),
        ((col("start") - 1) / step).cast("long").as("chunk_id"),
        col("start"),
        least(lit(chunkTokens), col("len") - col("start") + 1).as("n_tokens"),
        array_join(expr(s"slice(tk, start, $chunkTokens)"), " ").as("chunk_text"))
  }

  /** BM25 lexical retrieval for a fixed query-term set: the classic
    * Okapi score Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with k1 = 1.2, b = 0.75 — the lexical half of hybrid (BM25 +
    * vector) retrieval. Engine-exact: document lengths and term/doc
    * frequencies are integer-exact; avgdl is one division of an exact
    * integer sum; idf's ln is snapped to the 1e-6 grid (the lmScore
    * contract); and each per-term score is snapped to its integer 1e-6
    * grid BEFORE the per-doc sum, so the ≤|query|-addend accumulation
    * is order-independent. Shapes: tokens filtered to the query terms
    * at the explode (the inverted-list discipline — the corpus's other
    * terms never shuffle), tiny df/stats tables broadcast, top-k via
    * TakeOrdered with doc_id tie-break.
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    // document length dl is the per-doc row count of the token table
    val tk = tokenTable(docs)
    val dl = tk.groupBy(col("doc_id")).agg(count(lit(1)).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("nd"), avg(col("dl")).as("avgdl"))
    val tf = tk
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .join(dl, "doc_id")
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).cast("double").as("df"))
    val idf = graft.functions.Hashing.rd6(
      log((col("nd") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
    val term = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfc), "tok")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(term * 1000000.0 + 0.5).cast("long").as("g"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.Hashing.rd4(sum(col("g")) / 1000000.0).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Vocabulary coverage / OOV rate: keep the most frequent types and
    * report each doc's covered-token fraction — the report that sizes a
    * tokenizer vocabulary (coverage vs table size). The vocabulary cut is
    * a FREQUENCY THRESHOLD from the frequency-of-frequencies histogram:
    * whole frequency bands are admitted while the running type count
    * stays ≤ `vocabSize` (so the kept set has ≤ vocabSize types — a band
    * that would overflow the table is dropped entirely). No exact global
    * rank over the vocabulary: the histogram has one row per DISTINCT
    * frequency (≈√total tokens by Zipf — thousands, not billions), its
    * descending cumulative count runs through
    * [[graft.core.Ranking.withRunningSum]], and the threshold comes back
    * as a 1-row broadcast.
    *
    * Degenerate case, by design: if even the HIGHEST-frequency band alone
    * holds more than `vocabSize` types (e.g. every token unique and
    * vocabSize < |types|), NO band fits, the vocabulary is empty and
    * every doc reports coverage 0.0 — the ≤ vocabSize bound is never
    * violated to admit a band. The oracle SQL encodes the same rule
    * (cnt >= NULL admits nothing); pinned by spec.
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int): DataFrame = {
    val tk = tokenTable(docs)
    val vocabCnt = tk.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ff = vocabCnt.groupBy(col("cnt")).agg(count(lit(1)).as("n_types"))
    val cstar = graft.core.Ranking
      .withRunningSum(ff, None, Seq(col("cnt").desc), col("n_types"), "n_at_or_above")
      .filter(col("n_at_or_above") <= vocabSize)
      .agg(min(col("cnt")).as("cstar"))
    val vocab = vocabCnt.crossJoin(broadcast(cstar))
      .filter(col("cnt") >= col("cstar"))
      .select(col("tok"), lit(true).as("in_vocab"))
    tk.join(vocab, Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab"), 0L).otherwise(1L)).as("n_oov"))
      .withColumn("coverage", graft.functions.Hashing.rd4(
        lit(1.0) - col("n_oov") / col("n_tokens")))
  }

  /** Per-language quality-score distribution: exact p10/p50/p90 of the
    * composite quality score plus the below-threshold fraction — the
    * report that decides where a curation pipeline's quality cut should
    * sit per language. Quality scores are already rd4-grid values, so
    * the interpolated percentiles are deterministic; one aggregation
    * over the per-doc projection.
    */
  def qualityPercentiles(docs: DataFrame, threshold: Double): DataFrame =
    withQuality(docs)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        graft.functions.Hashing.rd4(expr("percentile(quality, 0.1)")).as("p10"),
        graft.functions.Hashing.rd4(expr("percentile(quality, 0.5)")).as("p50"),
        graft.functions.Hashing.rd4(expr("percentile(quality, 0.9)")).as("p90"),
        graft.functions.Hashing.rd4(
          sum(when(col("quality") < threshold, 1L).otherwise(0L))
            / count(lit(1))).as("below_cut"))

  /** Unigram language-model scoring (the KenLM-filter shape): vocabulary
    * counts over the corpus, then each doc scored by its mean token
    * negative-log-likelihood, nll(tok) = ln(N_total / cnt(tok)). High
    * avg_nll = rare-token-heavy (unusual/noisy) doc — the corpus-level
    * "perplexity" quality screen. Each per-token ln is rounded to the
    * 1e-6 grid BEFORE averaging (Hashing.rd6) so both engines sum
    * identical addends despite libm ulp differences. The token→vocab
    * equi-join is the classic wordcount shuffle: skewed stopword keys
    * are AQE-split, and the 1-row total is a broadcast, not a shuffle.
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val tk = tokenTable(docs)
    // r16: the per-term NLL is computed ONCE PER DISTINCT TERM on the
    // vocab (build) side of the join, so the occurrence stream pays only
    // the broadcast probe plus a long add — the legacy shape evaluated
    // ln() + the grid snap per OCCURRENCE (real CPU at corpus scale),
    // and the r15-verdict tf-grouped candidate (group occurrences to
    // (doc, term, tf) below the join) was A/B'd in one JVM (ProfileNll)
    // and REJECTED: its extra distinct-stream exchange + double hash
    // aggregation lost to both other shapes at sf0.1 (warm 0.76–0.83 s
    // vs legacy 0.54–0.71 / vocab-side 0.64–0.65), and at scale it
    // shuffles the distinct (doc, term) stream where this shape (like
    // the legacy one) shuffles only vocab rows and per-doc partials.
    //
    // Exactness: the per-term nll is kept as its exact 1e-6-grid
    // NUMERATOR (micro-nats, a LONG); the doc average divides one exact
    // integer Σ nll6 over occurrences = Σ tf·nll6 — order-independent on
    // any engine. The oracle twin accumulates the identical integers
    // (updated in lockstep; value equality vs the old per-occurrence
    // rd6/avg formulation verified in DuckDB at sf0.001/sf0.01/sf0.1 —
    // same rd4 output on every doc).
    val vocab = tk.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("n_total"))
    val vocabNll = vocab.crossJoin(broadcast(tot))
      .select(col("tok"),
        floor(log(col("n_total") / col("cnt")) * 1000000.0 + 0.5)
          .cast("long").as("nll6"))
    // broadcast hint is LOAD-BEARING: without it the planner sized the
    // vocab+BNLJ build side as unknown and flipped to BuildLeft —
    // hashing the ENTIRE exploded occurrence stream into the broadcast
    // relation (measured 2.5x slower at sf1, and corpus-sized at 100 TB).
    // vocabNll is an Aggregate over the vocabulary: bounded by
    // construction (the PlanGuard hinted-build rule).
    tk.join(broadcast(vocabNll), "tok")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        graft.functions.Hashing.rd4(
          sum(col("nll6")).cast("double") / 1000000.0 /
            count(lit(1))).as("avg_nll"))
  }

  /** Deterministic global training-order shuffle + shard assignment: the
    * "shuffle the corpus before training" step, without RNG state. Each
    * doc's position is its exact global rank under the salted content
    * hash (re-salting re-shuffles; adding docs perturbs only ranks at or
    * after the insertion points), shards are round-robin over the rank so
    * every shard gets an equal slice of the pseudorandom order (|shard
    * sizes| differ by ≤ 1, and any contiguous training prefix draws
    * near-uniformly from all shards). The global rank runs through
    * [[graft.core.Ranking.withGlobalRank]] — one range shuffle, no
    * single-task global sort; the downstream writer would
    * `repartition(nShards, $"shard")` + sort by pos_in_shard to lay the
    * files out, which this plan feeds without a further wide exchange.
    */
  def trainingShuffle(docs: DataFrame, nShards: Int, salt: String): DataFrame = {
    val base = docs.select(col("doc_id"),
      graft.functions.Hashing.h60(
        concat(col("doc_id").cast("string"), lit(salt))).as("shuffle_key"))
    graft.core.Ranking
      .withGlobalRank(base, Seq(col("shuffle_key"), col("doc_id")), "pos")
      .select(col("doc_id"), col("shuffle_key"),
        ((col("pos") - 1) % nShards).as("shard"),
        expr(s"(pos - 1) div $nShards").as("pos_in_shard"))
  }

  /** Token-budget sampling: per source, docs are admitted in salted-hash
    * order while the source's running token total stays within `budget` —
    * the "cap each domain at N tokens" curation step (data-mixing caps,
    * epoch budgets). Deterministic (no RNG), and the admitted set is
    * stable under corpus growth ONLY up to the cut point — exactly the
    * real operator's semantics. The per-source prefix sum runs through
    * [[graft.core.Ranking.withRunningSum]], so one giant source spans
    * many partitions instead of serializing into a single task.
    */
  def sampleTokenBudget(docs: DataFrame, budget: Long, salt: String): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      nTokensL(col("text")).as("n_tokens"),
      graft.functions.Hashing.h60(
        concat(col("doc_id").cast("string"), lit(salt))).as("pick"))
    graft.core.Ranking
      .withRunningSum(base, Some("source"), Seq(col("pick"), col("doc_id")),
        col("n_tokens"), "cum_tokens")
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
  }

  /** Token-distribution entropy per doc: H = -Σ p(tok)·ln p(tok) over the
    * doc's own token frequencies, plus the type count — the
    * repetitiveness/diversity signal quality filters cut on (a
    * keyword-stuffed or looping doc has low entropy for its length).
    * Engine-exact arithmetic: ln is the only libm-dependent term, so it
    * is snapped to its integer 1e-6 grid index g = floor(ln(p)·1e6 + .5)
    * (the [[lmScore]] "rd6-stabilized ln" contract, kept as a LONG), and
    * the per-doc accumulation is the exact INTEGER sum S = Σ cnt·g —
    * order-independent, unlike a double sum whose partial-aggregation
    * order could flip a result sitting exactly on the rd4 half-boundary
    * (H = -S / (n·1e6) then lands on the grid for real docs; observed in
    * testdata). One identical final division on both engines makes the
    * rounded output bit-equal even there. Shapes are the wordcount
    * shuffle on (doc_id, tok) then a per-doc aggregate — map-side
    * combinable, no joins, no global windows.
    */
  def tokenEntropy(docs: DataFrame): DataFrame = {
    val cnts = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("doc_id"))
    cnts
      .withColumn("n_tokens", sum(col("cnt")).over(w))
      .select(col("doc_id"), col("n_tokens"),
        (col("cnt") *
          floor(log(col("cnt") / col("n_tokens")) * 1000000.0 + 0.5).cast("long"))
          .as("cg"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        graft.functions.Hashing.rd4(
          -sum(col("cg")) / (max(col("n_tokens")) * 1000000.0)).as("entropy"))
  }

  /** Gopher-style rule filter (Rae et al. 2021's document screens): word
    * count bounds, mean-word-length bounds, minimum alphabetic-token
    * fraction, minimum stopword hits, and a symbol-to-word ceiling, each
    * reported as its own flag plus the conjunction — the classic
    * rule-based pre-filter a curation pipeline runs BEFORE any model
    * scoring. Every metric depends only on the doc's own tokens, so the
    * whole operator is array expressions over one scan: map-only, ZERO
    * shuffle at any corpus size. Ratios are integer-sum quotients on the
    * rd4 grid, and every flag compares the GRIDDED value, so both engines
    * flip the same docs.
    */
  def gopherRules(docs: DataFrame): DataFrame =
    withGopherRules(docs)
      .select(col("doc_id"), col("n_tokens"), col("mean_tok_chars"),
        col("frac_alpha"), col("stop_hits"), col("symbol_ratio"),
        col("flag_word_count"), col("flag_mean_len"), col("flag_alpha"),
        col("flag_stops"), col("flag_symbol"), col("pass"))

  /** Add the [[gopherRules]] metric and flag columns to a frame with a
    * `text` column — pure projections (the withQuality pattern), so the
    * screens fuse with other per-doc transforms in a single scan.
    */
  def withGopherRules(docs: DataFrame): DataFrame = {
    val rd4 = graft.functions.Hashing.rd4 _
    docs
      // single fused byte scan per row — the withQuality TextStats note
      .withColumn("__g", graft.functions.TextStatsExpr.stats(col("text")))
      .withColumn("n_tokens", col("__g.n_tokens"))
      .withColumn("mean_tok_chars", rd4(col("__g.sum_tok_chars") / col("n_tokens")))
      .withColumn("frac_alpha", rd4(col("__g.n_alpha") / col("n_tokens")))
      .withColumn("stop_hits", col("__g.n_stops"))
      .withColumn("symbol_ratio", rd4(col("__g.n_symbol") / col("n_tokens")))
      .drop("__g")
      .withColumn("flag_word_count", col("n_tokens").between(50L, 100000L))
      .withColumn("flag_mean_len", col("mean_tok_chars").between(3.0, 10.0))
      .withColumn("flag_alpha", col("frac_alpha") >= 0.8)
      .withColumn("flag_stops", col("stop_hits") >= 2L)
      .withColumn("flag_symbol", col("symbol_ratio") < 0.1)
      .withColumn("pass",
        col("flag_word_count") && col("flag_mean_len") && col("flag_alpha") &&
          col("flag_stops") && col("flag_symbol"))
  }

  /** DSIR-style hashed-unigram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * tokens hash into `dim` feature buckets, a TARGET distribution is
    * estimated from the high-quality slice (composite quality ≥
    * `qualityCut` — in production, the target is the trusted corpus) and
    * a RAW distribution from the whole corpus, both add-one smoothed;
    * each doc's importance is its token-count-weighted sum of per-bucket
    * log-ratios ln(p_target/p_raw). Docs that look like the target get
    * positive log-weights and are preferentially resampled.
    *
    * Engine-exact: each bucket's two ln terms are snapped to the integer
    * 1e-6 grid separately (the lmScore contract) and the per-doc
    * accumulation is the exact integer Σ cnt·g. Scale shapes: the bucket
    * tables are `dim` rows — broadcast literals, never shuffled; the only
    * corpus-wide exchange is the (doc_id, bucket) wordcount combine.
    */
  def dsirWeights(docs: DataFrame, dim: Int = 64,
      qualityCut: Double = 0.7): DataFrame = {
    // Codegen-first shape (r12 A/B: an in-row run-length variant's
    // interpreted lambdas lost to this at sf1): explode + partial-agged
    // groupBy collapses each task's token stream to its distinct
    // (doc, term) rows before the one exchange; md5 then runs on the
    // POST-aggregate rows only (once per distinct term per doc, not per
    // occurrence — the hash, not the shuffle, dominated the r11 cost).
    // The bucket totals are ≤dim rows per task after map-side combine,
    // and the target side filters the quality column attached once by a
    // doc-count-sized (AQE-broadcast) join to the persisted table —
    // both aggregates and the final per-doc reduction are cache reads.
    val q = withQuality(docs).select(col("doc_id"), col("quality"))
    val d = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .select(col("doc_id"),
        pmod(graft.functions.Hashing.h60(col("t")), lit(dim.toLong)).as("b"),
        col("c"))
      .join(q, "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r15: raw and target bucket totals as ONE conditional aggregate
    // over d (sum(c) + sum(c WHERE quality ≥ cut)) instead of two
    // aggregates left-joined back together — one exchange and no join,
    // and d now has two consumers instead of three. Integer sums, so
    // the fused ct is exactly the former join's coalesce(ct, 0).
    // (A no-persist variant measured FASTER at sf0.1 post-native-
    // tokenizer but re-scans the corpus 4x in the final plan — the
    // scan-watchlist disease; the persist stays, the dropped join is
    // the honest share of that win.)
    val cnts = d.groupBy(col("b")).agg(
      sum(col("c")).as("cr"),
      sum(when(col("quality") >= qualityCut, col("c")).otherwise(0L)).as("ct"))
    val tots = cnts.agg(sum(col("ct")).as("t"), sum(col("cr")).as("r"))
    val g = (floor(log((col("ct") + 1) / (col("t") + dim)) * 1000000.0 + 0.5) -
      floor(log((col("cr") + 1) / (col("r") + dim)) * 1000000.0 + 0.5)).cast("long")
    val lr = cnts.crossJoin(broadcast(tots)).select(col("b"), g.as("g"))
    d.join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("g")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        graft.functions.Hashing.rd4(col("s") / 1000000.0).as("log_weight"),
        graft.functions.Hashing.rd4(
          col("s") / (col("n_tokens") * 1000000.0)).as("avg_log_ratio"))
  }

  /** One BPE merge round over the corpus vocabulary: adjacent
    * character-pair frequencies weighted by word-type counts — the
    * statistic a byte-pair tokenizer trainer computes to pick its next
    * merge (counting over the VOCABULARY with frequencies, as BPE
    * trainers do, not over raw text — the pair explode runs on the
    * distinct-type table, which is ≈√corpus by Zipf, so the heavy text
    * scan contributes only the wordcount combine).
    */
  def bpePairStats(docs: DataFrame, k: Int = 20): DataFrame =
    docs
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .select(col("tok"), col("cnt"),
        explode(expr(
          "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("cnt")).as("occurrences"), countDistinct(col("tok")).as("n_types"))
      .orderBy(col("occurrences").desc, col("pair"))
      .limit(k)

  /** Iterated BPE trainer: `k` merge rounds over the corpus VOCABULARY
    * (word types × frequencies, ≈√corpus by Zipf — the only corpus-wide
    * pass is the wordcount; every round runs on the word-type table,
    * never raw text; Sennrich et al. 2016's trainer loop). Each round is
    * one pair-count aggregate + a 1-row argmax collect + one map-only
    * merge apply, localCheckpointed so lineage stays flat (the k-means
    * driver-loop discipline).
    *
    * Representation: a word's symbol sequence is a string of
    * double-space-joined symbols with single-space pads (`lower` →
    * `" l  o  w  e  r "`), so each symbol owns BOTH its delimiters and
    * applying merge (a, b) is `replace(syms, " a  b ", " ab ")` — the
    * engine-native left-to-right non-overlapping scan IS greedy BPE
    * application, identically in Spark and DuckDB (a single-space join
    * would share the boundary space between occurrences and skip the
    * second of back-to-back matches). Pair occurrences count every
    * adjacent position (overlapping, the classic trainer's statistic);
    * argmax ties break on (sym_a, sym_b) so the merge sequence is
    * deterministic on any engine.
    */
  def bpeMerges(docs: DataFrame, k: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .select(
        concat(lit(" "), rtrim(regexp_replace(col("tok"), "(.)", "$1  ")), lit(" "))
          .as("syms"),
        col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      val best = vocab
        .select(col("cnt"), split(trim(col("syms")), "  ").as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(sy) - 1),
             i -> struct(element_at(sy, i) AS a, element_at(sy, i + 1) AS b))""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("occ"))
        .orderBy(col("occ").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, occ) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r, a, b, a + b, occ))
        vocab = vocab
          .withColumn("syms",
            replace(col("syms"), lit(s" $a  $b "), lit(s" ${a + b} ")))
          .localCheckpoint()
        r += 1
      }
    }
    merges.toSeq.toDF("merge_round", "sym_a", "sym_b", "merged", "occurrences")
  }

  /** The trainer's APPLY step: encode the corpus with the merges
    * [[bpeMerges]] learned and report per-source subword fertility —
    * the number a pipeline owner reads to price a domain's token budget
    * under the TRAINED tokenizer (tokenizer_fertility's heuristic
    * sub-token guess, replaced by the real learned segmentation).
    * Merges apply IN LEARNED ORDER as a chain of k codegen'd replaces
    * over the same double-space symbol encoding (greedy left-to-right,
    * identical in both engines — see [[bpeMerges]]); the corpus pass is
    * one explode + a map-side-combined |sources|-group aggregate, no
    * window, no join.
    */
  def bpeEncodeStats(docs: DataFrame, k: Int = 8): DataFrame =
    bpeEncodeStatsFrom(docs,
      bpeMerges(docs, k).orderBy(col("merge_round")).collect().toSeq)

  /** [[bpeEncodeStats]] over an ALREADY-LEARNED merge table (rows in
    * learned order, [[bpeMerges]]' schema) — the per-ingest-state seam:
    * production encodes read the frozen tokenizer
    * ([[TokenizerStore.collectMerges]]), they never re-run the trainer
    * loop per call.
    */
  def bpeEncodeStatsFrom(docs: DataFrame,
      merges: Seq[org.apache.spark.sql.Row]): DataFrame = {
    val sym = concat(lit(" "),
      rtrim(regexp_replace(col("tok"), "(.)", "$1  ")), lit(" "))
    val applied = merges.foldLeft(sym) { (c, m) =>
      replace(c, lit(s" ${m.getString(1)}  ${m.getString(2)} "),
        lit(s" ${m.getString(3)} "))
    }
    docs
      .select(col("source"), col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 1)
      .select(col("source"), col("doc_id"),
        size(split(trim(applied), "  ")).cast("long").as("nsub"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("nsub")).as("n_subtokens"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_subtokens"),
        graft.functions.Hashing.rd4(col("n_subtokens") / col("n_words"))
          .as("fertility"))
  }

  /** Curriculum staging: the corpus ordered easy→hard by model score and
    * cut into `nStages` equal-count stages, reporting each stage's doc
    * and token mass plus its score range — the schedule table a
    * curriculum-learning data loader consumes. The global ordering runs
    * through [[graft.core.Ranking.withGlobalRank]] (one range shuffle, no
    * single-task sort), the total count rides the same pass as the
    * rank's broadcast total, and the stage id is exact integer
    * arithmetic on (rank, n) — no percentile estimation drift.
    */
  def curriculumStages(docs: DataFrame, nStages: Int = 4): DataFrame =
    curriculumStagesFrom(modelScores(docs), nStages)

  /** The scored-corpus projection (doc_id, model_score, n_tokens) that
    * feeds [[curriculumStagesFrom]]: qualityModel's features all come
    * from withQuality, which also carries n_tokens — ONE projection
    * feeds both the score and the token mass, instead of a second scan
    * + doc_id join.
    */
  def modelScores(docs: DataFrame): DataFrame = {
    val q = withQuality(docs)
    val lenScore = graft.functions.Hashing.rd4(
      least(lit(1.0), col("n_tokens").cast("double") / 100.0))
    val z = lenScore * lit(0.9) - col("punct_ratio") * lit(1.2) +
      col("stop_ratio") * lit(0.6) - lit(0.1)
    q.select(col("doc_id"),
      graft.functions.Hashing.rd4(
        greatest(lit(0.0), least(lit(1.0), z * lit(0.5) + lit(0.5))))
        .as("model_score"),
      col("n_tokens").cast("long").as("n_tokens"))
  }

  /** [[curriculumStages]] over a prebuilt scored projection — any
    * frozen [[modelScores]]-shaped view a caller has already built.
    */
  def curriculumStagesFrom(scored: DataFrame, nStages: Int = 4): DataFrame = {
    graft.core.Ranking
      .withGlobalRank(scored, Seq(col("model_score").desc, col("doc_id")), "rnk",
        totalCol = Some("n_all"))
      .withColumn("stage", expr(s"((rnk - 1) * $nStages) div n_all"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("model_score")).as("min_score"),
        max(col("model_score")).as("max_score"))
  }

  /** Agreement matrix between the pipeline's three quality screens —
    * the Gopher rule conjunction, the linear model's keep decision, and
    * the composite-quality threshold — with doc and token mass per cell:
    * the read that says which screens are redundant, which disagree, and
    * how much data each marginal screen uniquely removes (heavy
    * rules-only-reject cells mean the model misses rule-visible junk;
    * heavy model-only-reject cells mean the rules are too coarse). All
    * three signals derive from the same text, so they are computed in
    * ONE fused projection (withQuality ∘ withGopherRules — both are
    * pure column adders) and the aggregate lands on an ≤8-row key space.
    */
  def filterAgreement(docs: DataFrame, qualityCut: Double = 0.55): DataFrame = {
    val rd4 = graft.functions.Hashing.rd4 _
    // fully fused single-scan projection: the quality screen, the Gopher
    // rules AND the model score all derive from ONE TextStats byte pass
    // (no token array, no regex, no interpreted lambdas; every formula
    // below is bit-identical to the chained derivation, which
    // TextAnalysisSpec, TextStatsSpec and the oracle pin)
    val base = docs
      .withColumn("__s", graft.functions.TextStatsExpr.stats(col("text")))
    val nTokD = col("__s.n_tokens").cast("double")
    val nChars = length(col("text")).cast("double")
    val punctD = col("__s.n_symbol").cast("double")
    val stopsD = col("__s.n_stops").cast("double")
    val quality = rd4(least(lit(1.0), nTokD / 100.0) * 0.4 +
      (lit(1.0) - punctD / nChars) * 0.3 +
      least(lit(1.0), stopsD * 5.0 / nTokD) * 0.3)
    val nTokL = col("__s.n_tokens")
    val meanTok = rd4(col("__s.sum_tok_chars") / nTokL)
    val fracAlpha = rd4(col("__s.n_alpha") / nTokL)
    val symbol = rd4(col("__s.n_symbol") / nTokL)
    val rulesPass = nTokL.between(50L, 100000L) && meanTok.between(3.0, 10.0) &&
      (fracAlpha >= 0.8) && (col("__s.n_stops") >= 2L) && (symbol < 0.1)
    val lenScore = rd4(least(lit(1.0), nTokL.cast("double") / 100.0))
    val z = lenScore * lit(0.9) - rd4(punctD / nChars) * lit(1.2) +
      rd4(stopsD / nTokD) * lit(0.6) - lit(0.1)
    val modelScore = rd4(greatest(lit(0.0), least(lit(1.0), z * lit(0.5) + lit(0.5))))
    base.select(nTokL.as("n_tokens"),
        rulesPass.as("rules_pass"),
        (modelScore >= 0.55).as("model_keep"),
        (quality >= qualityCut).as("quality_keep"))
      .groupBy(col("rules_pass"), col("model_keep"), col("quality_keep"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  /** Zipf-law fit over the corpus vocabulary: least-squares slope and
    * intercept of ln(freq) against ln(rank) over the top-k types — the
    * one-row corpus-health diagnostic (natural text sits near slope −1;
    * a flat curve means boilerplate flooding, a cliff means template
    * spam). The top-k cut is a TakeOrdered over the vocabulary aggregate
    * (the rank window then runs under that Limit — bounded by
    * construction); both ln terms snap to the integer 1e-6 grid and the
    * regression moments are exact integer sums, so the closed-form
    * slope/intercept are single IEEE expressions on both engines.
    */
  def zipfSlope(docs: DataFrame, k: Int = 100): DataFrame = {
    val top = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("tok"))
    val pts = top.withColumn("rnk", row_number().over(w))
      .select(
        floor(log(col("rnk").cast("double")) * 1000000.0 + 0.5).cast("long").as("gx"),
        floor(log(col("cnt").cast("double")) * 1000000.0 + 0.5).cast("long").as("gy"))
    val slope = (col("n_points") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n_points") * col("sxx") - col("sx") * col("sx")).cast("double")
    pts
      .agg(count(lit(1)).as("n_points"), sum(col("gx")).as("sx"),
        sum(col("gy")).as("sy"), sum(col("gx") * col("gy")).as("sxy"),
        sum(col("gx") * col("gx")).as("sxx"))
      .select(col("n_points"),
        graft.functions.Hashing.rd4(slope).as("slope"),
        graft.functions.Hashing.rd4(
          (col("sy") - slope * col("sx")) / (col("n_points") * 1000000.0))
          .as("intercept"))
  }

  /** Context-length sizing report: for each candidate training context
    * length, the padding waste of doc-per-sequence batching (Σ ceil(n/L)·L
    * versus actual tokens) and the sequence counts padded vs packed — the
    * table that decides between padding and [[seqPack]]-style packing,
    * and at which L. Pure integer arithmetic off one token-count
    * projection exploded over the fixed length grid: map-only into a
    * |lengths|-row aggregate.
    */
  def packingEfficiency(docs: DataFrame,
      lengths: Seq[Int] = Seq(128, 256, 512, 1024)): DataFrame =
    docs
      .select(nTokensL(col("text")).as("n"))
      .select(col("n"), explode(array(lengths.map(lit): _*)).as("ctx"))
      .groupBy(col("ctx"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"),
        sum(expr("((n + ctx - 1) div ctx) * ctx")).as("padded_tokens"),
        sum(expr("(n + ctx - 1) div ctx")).as("n_seqs_padded"))
      .withColumn("n_seqs_packed", expr("(total_tokens + ctx - 1) div ctx"))
      .withColumn("pad_waste", graft.functions.Hashing.rd4(
        lit(1.0) - col("total_tokens") / col("padded_tokens")))

  /** Tokenizer-fertility report per source: doc/char/token totals plus
    * fertility (BPE-ish sub-tokens per whitespace token) and sub-token
    * density per 100 chars — the per-domain signal mixture design uses
    * when a domain's text tokenizes expensively (code, non-Latin scripts,
    * log spam) and its token budget must be priced in sub-tokens rather
    * than words. One projection + one hash aggregate on the low-cardinality
    * source key (map-side combinable, no joins); all inputs are exact
    * integer sums, so the two ratios are single correctly-rounded
    * divisions on both engines.
    */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        length(col("text")).cast("long").as("nc"),
        nTokensL(col("text")).as("nws"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"))
          .cast("long").as("nbpe"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"),
        sum(col("nws")).as("n_ws_tokens"),
        sum(col("nbpe")).as("n_bpe_tokens"),
        graft.functions.Hashing.rd4(
          sum(col("nbpe")).cast("double") / sum(col("nws"))).as("fertility"),
        graft.functions.Hashing.rd4(
          sum(col("nbpe")) * lit(100.0) / sum(col("nc"))).as("bpe_per_100_chars"))

  /** RAKE keyphrase extraction (Rose et al. 2010) at corpus level:
    * candidate phrases are maximal stopword-free token runs (islands by
    * running stopword count — per-doc windows only), each word scores
    * degree/frequency over all phrase occurrences, and a phrase scores
    * the sum of its word scores; identical phrase texts aggregate with
    * their corpus frequency. Engine-exact: the single degree/freq
    * division snaps to a 1e-6 integer grid per word, phrase sums are
    * long sums of those grid values, and the final top-k orders on the
    * exact integer score with a phrase-text tie-break. Plan: one
    * explode, two per-doc windows, the word-stats wordcount shuffle
    * (AQE splits stop-adjacent skew), one phrase aggregate, TakeOrdered.
    */
  def rakeKeyphrases(docs: DataFrame, topK: Int): DataFrame = {
    // Phrase segmentation runs IN-ROW (stopword-boundary slices of the
    // token array — codegen'd array expressions), so the plan never
    // shuffles token occurrences and needs no per-doc position window:
    // the explode emits one row per PHRASE occurrence, and every later
    // stage works on the distinct-phrase projection. Word degree/freq
    // come from the phrase-count table exactly (each word occurrence in
    // a phrase occurring n_occur times contributes n_occur to freq and
    // n_occur * plen to degree — the same integers the per-occurrence
    // formulation counts).
    // r16: phrase segmentation is ONE compiled byte scan
    // ([[graft.functions.RakePhrasesExpr]]) — the former in-row chain ran
    // four interpreted HOF lambdas per doc (flag/starts/stops/slice-join,
    // ~1µs per token EACH, guide §4) and materialized the token array
    // plus three derived arrays; RakePhrasesSpec pins bit-equality
    // against that legacy expression tree.
    val phrases = docs
      .select(explode(
        graft.functions.RakePhrasesExpr.phrases(col("text"))).as("phrase"))
    val phraseCounts = phrases
      .groupBy(col("phrase")).agg(count(lit(1)).as("n_occur"))
      .withColumn("words", split(col("phrase"), " "))
      .withColumn("plen", size(col("words")).cast("long"))
    val pw = phraseCounts.select(col("phrase"), col("n_occur"), col("plen"),
      explode(col("words")).as("tok"))
    val wstats = pw.groupBy(col("tok"))
      .agg(sum(col("n_occur")).as("freq"),
        sum(col("n_occur") * col("plen")).as("deg"))
      .select(col("tok"),
        floor(col("deg").cast("double") / col("freq") * 1000000.0 + 0.5)
          .cast("long").as("wscore6"))
    pw.join(wstats, "tok")
      .groupBy(col("phrase"))
      .agg(max(col("n_occur")).as("n_occur"), sum(col("wscore6")).as("ps6"))
      .orderBy(col("ps6").desc, col("phrase"))
      .limit(topK)
      .select(col("phrase"), col("n_occur"),
        graft.functions.Hashing.rd4(col("ps6").cast("double") / 1000000.0).as("score"))
  }

  /** CCNet-style per-language quality terciles: each doc scored by its
    * unigram-LM mean NLL ([[lmScore]]), ranked within its language, and
    * split head / middle / tail (head = most fluent third — what CCNet
    * keeps for LM training). The per-language rank comes from
    * [[graft.core.Ranking.withRunningSum]] (value 1 ⇒ a consecutive
    * per-stratum rank + the stratum size in the same pass — range
    * shuffle on (lang, score), a language may span MANY partitions, no
    * one-task-per-language window) and the tercile from the exact
    * [[graft.core.Ranking.ntileOfRank]] NTILE replica. Per-bucket mean
    * NLL divides an exact integer sum of the 1e-4-grid scores once.
    */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    val scored = lmScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    graft.core.Ranking.withRunningSum(scored, Some("lang"),
      Seq(col("avg_nll"), col("doc_id")), lit(1L), "rnk", Some("n_lang"))
      .withColumn("bucket",
        graft.core.Ranking.ntileOfRank(3, col("rnk"), col("n_lang")))
      .withColumn("tier", element_at(
        array(lit("head"), lit("middle"), lit("tail")), col("bucket").cast("int")))
      .groupBy(col("lang"), col("bucket"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(floor(col("avg_nll") * 10000.0 + 0.5).cast("long")).as("g_nll"))
      .select(col("lang"), col("bucket"), col("tier"), col("n_docs"), col("n_tokens"),
        graft.functions.Hashing.rd4(
          col("g_nll").cast("double") / 10000.0 / col("n_docs")).as("mean_nll"))
  }
}
