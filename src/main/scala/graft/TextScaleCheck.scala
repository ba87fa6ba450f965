package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Scale sanity harness for the training-data preparation operators:
  * runs the corpus shuffle/shard, token-budget sampling, and token
  * entropy on a synthetic corpus ~3 orders of magnitude larger than the
  * sf0.1 `documents` table (default 5M docs / ~200 sources, variable
  * 20-219 token lengths) and asserts the properties the 100-TB design
  * claims:
  *
  *   - `trainingShuffle` emits an EXACT permutation (no dropped or
  *     duplicated positions — the two-phase rank's frozen ids and
  *     broadcast offsets compose correctly at width), with round-robin
  *     shard sizes differing by at most 1;
  *   - `sampleTokenBudget` fills every source to within one document of
  *     its budget and never exceeds it — the per-source distributed
  *     prefix sum cuts exactly where a sequential scan would;
  *   - `tokenEntropy` (run at nDocs/5 — it explodes every token) matches
  *     the closed form H = ln(n) on every all-distinct-token doc and
  *     never exceeds ln(n_types) on any doc.
  *
  * curationFunnel is deliberately not re-proven here: its heavy stage is
  * the MinHash-LSH candidate generation already validated at 2M docs by
  * [[DedupScaleCheck]]; the funnel adds only doc_id-set joins and a
  * 1-row aggregate on top.
  *
  * `runMain graft.TextScaleCheck [nDocs]`.
  */
object TextScaleCheck {

  val V = 200000L // vocabulary for synthetic token draws

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(5000000L)
    val spark = Harness.session()
    import spark.implicits._

    // ids, a source skewed enough to matter (source 0 gets ~10x the docs
    // of the uniform tail — the shape that serialized seq_packing pre-r4),
    // and text whose token count varies 20..219 deterministically
    def corpus(n: Long) = spark.range(n)
      .withColumn("source",
        concat(lit("src"), when(pmod(col("id"), lit(10L)) < 3, lit(0L))
          .otherwise(pmod(xxhash64(col("id"), lit(1)), lit(199L)) + 1)))
      .withColumn("n_tok", (pmod(xxhash64(col("id"), lit(2)), lit(200L)) + 20L))
      .withColumn("text", expr(
        s"array_join(transform(sequence(1, n_tok), i -> concat('w', pmod(xxhash64(id, i), $V))), ' ')"))
      .select(col("id").as("doc_id"), col("source"), col("text"), col("n_tok"))

    val docs = corpus(nDocs).persist()
    val total = docs.count()
    println(s"[text-scale] corpus: $total docs")

    // ---- 1. trainingShuffle: exact permutation + balanced shards ----
    val nShards = 64
    Harness.timed("trainingShuffle") {
      val sh = TextAnalysis.trainingShuffle(docs, nShards, "scale").persist()
      val agg = sh.agg(
        count(lit(1)).as("n"),
        sum(col("shard") + col("pos_in_shard") * nShards).as("possum"),
        max(col("shard") + col("pos_in_shard") * nShards).as("posmax"),
        min(col("shard") + col("pos_in_shard") * nShards).as("posmin"),
        countDistinct(col("doc_id")).as("ndocs")).head()
      require(agg.getAs[Long]("n") == total, "row count changed")
      require(agg.getAs[Long]("posmin") == 0L && agg.getAs[Long]("posmax") == total - 1,
        "global positions not [0, n)")
      require(agg.getAs[Long]("possum") == total * (total - 1) / 2,
        "global positions are not an exact permutation")
      val sizes = sh.groupBy(col("shard")).count()
        .agg(min(col("count")), max(col("count"))).head()
      require(sizes.getLong(1) - sizes.getLong(0) <= 1,
        s"shard sizes spread ${sizes.getLong(0)}..${sizes.getLong(1)} — round-robin broken")
      println(s"[text-scale] shuffle: exact permutation over $total positions, " +
        s"$nShards shards sized ${sizes.getLong(0)}..${sizes.getLong(1)}")
      sh.unpersist()
    }

    // ---- 2. sampleTokenBudget: exact greedy fill per source ----
    val budget = 100000L
    Harness.timed("sampleTokenBudget") {
      val admitted = TextAnalysis.sampleTokenBudget(docs, budget, "scale").persist()
      val perSrc = admitted.groupBy(col("source"))
        .agg(max(col("cum_tokens")).as("filled"), count(lit(1)).as("n_adm"))
        .persist()
      val nSrc = perSrc.count()
      require(nSrc == 200L, s"expected 200 sources, got $nSrc")
      val over = perSrc.filter(col("filled") > budget).count()
      require(over == 0, s"$over sources exceed the budget")
      // every source has far more inventory than budget, so the greedy
      // fill must stop within one max-size doc (219 tokens) of the cap
      val under = perSrc.filter(col("filled") <= budget - 220).count()
      require(under == 0, s"$under sources under-filled (gap > one doc)")
      println(s"[text-scale] budget: 200 sources each filled to ($budget-220, $budget] " +
        s"tokens, ${admitted.count()} docs admitted of $total")
      admitted.unpersist(); perSrc.unpersist()
    }

    // ---- 3. tokenEntropy: closed forms hold doc-by-doc ----
    val nEnt = math.max(nDocs / 5, 1000L)
    Harness.timed(s"tokenEntropy($nEnt docs)") {
      val ent = TextAnalysis.tokenEntropy(corpus(nEnt)).persist()
      val n = ent.count()
      require(n == nEnt, s"entropy rows $n != $nEnt")
      // all-distinct docs: H must equal ln(n_tokens) to grid precision
      val distinctViol = ent.filter(col("n_types") === col("n_tokens"))
        .filter(abs(col("entropy") - log(col("n_tokens"))) > 0.001).count()
      require(distinctViol == 0, s"$distinctViol all-distinct docs off ln(n)")
      // universal bound: H <= ln(n_types) (+ grid slack)
      val boundViol = ent.filter(col("entropy") > log(col("n_types")) + 0.001).count()
      require(boundViol == 0, s"$boundViol docs exceed the ln(n_types) bound")
      val stats = ent.agg(min(col("entropy")), max(col("entropy"))).head()
      println(f"[text-scale] entropy: $n docs, H in [${stats.getDouble(0)}%.4f, " +
        f"${stats.getDouble(1)}%.4f], 0 closed-form violations")
      ent.unpersist()
    }

    // ---- 4. mixture accounting at width: the applied repetition
    // factors must land every source's achieved token share on the
    // equal 1/k target within hash-sampling noise. Per-source deviation
    // is bounded by the frac(w) binomial on that source's docs; assert
    // the loose 20% relative envelope (the skewed source 0 carries ~30%
    // of raw tokens and must still land on 1/200 after rebalancing —
    // a 60x down-weight realized doc-by-doc).
    Harness.timed("mixtureTokenShare") {
      val ms = TextAnalysis.mixtureTokenShare(docs, "scale").persist()
      val k = ms.count()
      require(k == 200L, s"expected 200 sources, got $k")
      val target = 1.0 / k
      val offTarget = ms.filter(
        abs(col("mixed_share") - target) > target * 0.2).count()
      require(offTarget == 0,
        s"$offTarget sources miss the 1/$k token share by > 20%")
      val shareSum = ms.agg(sum(col("mixed_share"))).head().getDouble(0)
      require(math.abs(shareSum - 1.0) < 0.01, s"share sum $shareSum != 1")
      println(f"[text-scale] mixture: 200 sources all within 20%% of " +
        f"target $target%.4f, share sum $shareSum%.4f")
      ms.unpersist()
    }

    // ---- 5. tokenizer fertility: per-source integer accounting must
    // reconcile exactly with the corpus totals (the aggregate is a
    // single map-side-combinable pass, so this also times one full-text
    // regexp scan at width).
    Harness.timed("tokenizerFertility") {
      val tf = TextAnalysis.tokenizerFertility(docs).persist()
      require(tf.count() == 200L, "expected 200 sources")
      val row = tf.agg(sum(col("n_docs")), sum(col("n_ws_tokens"))).head()
      val expectTok = docs.agg(sum(col("n_tok"))).head().getLong(0)
      require(row.getLong(0) == total,
        s"fertility doc total ${row.getLong(0)} != $total")
      require(row.getLong(1) == expectTok,
        s"fertility ws-token total ${row.getLong(1)} != $expectTok")
      val badRatio = tf.filter(col("fertility") < 1.0).count()
      require(badRatio == 0,
        s"$badRatio sources report fertility < 1 (impossible: every " +
          "ws token holds >= 1 sub-token)")
      println(s"[text-scale] fertility: 200 sources reconcile to " +
        s"$expectTok ws tokens exactly")
      tf.unpersist()
    }

    // ---- 6. gopherRules: map-only rule screens reconcile to closed
    // forms at width. Synthetic tokens are 'w<digits>' — all alphabetic
    // (flag_alpha true everywhere), zero punctuation (flag_symbol true),
    // zero stopwords (flag_stops false), and flag_word_count must flip
    // EXACTLY on the n_tok >= 50 boundary the generator controls.
    Harness.timed("gopherRules") {
      val g = TextAnalysis.gopherRules(docs).persist()
      val agg = g.agg(
        count(lit(1)).as("n"),
        sum(when(col("flag_alpha"), 0L).otherwise(1L)).as("badAlpha"),
        sum(when(col("flag_symbol"), 0L).otherwise(1L)).as("badSym"),
        sum(when(col("flag_stops"), 1L).otherwise(0L)).as("anyStops"),
        sum(when(col("flag_word_count"), 1L).otherwise(0L)).as("longEnough")).head()
      require(agg.getAs[Long]("n") == total, "gopher row count changed")
      require(agg.getAs[Long]("badAlpha") == 0L, "alphabetic flag misfired")
      require(agg.getAs[Long]("badSym") == 0L, "symbol flag misfired")
      require(agg.getAs[Long]("anyStops") == 0L,
        "stopword flag fired on a stopword-free corpus")
      val expectLong = docs.filter(col("n_tok") >= 50).count()
      require(agg.getAs[Long]("longEnough") == expectLong,
        s"word-count flag ${agg.getAs[Long]("longEnough")} != generator's $expectLong")
      println(s"[text-scale] gopher: $total docs screened map-only, " +
        s"word-count flag exact on the 50-token boundary ($expectLong pass)")
      g.unpersist()
    }

    // ---- 7. dsirWeights: the synthetic corpus draws every token from
    // the SAME uniform vocabulary regardless of quality, so the target
    // (quality >= 0.7 ⇔ n_tok >= 100 here: no punctuation and no
    // stopwords pin the other two quality terms) and raw distributions
    // coincide — importance weights must vanish to within the hash-
    // bucket sampling noise of ~hundreds of millions of token draws.
    // Also reconciles the per-doc integer token accounting exactly.
    val nDsir = math.max(nDocs / 5, 1000L)
    Harness.timed(s"dsirWeights($nDsir docs)") {
      val dCorpus = corpus(nDsir).persist()
      val w = TextAnalysis.dsirWeights(dCorpus).persist()
      val n = w.count()
      require(n == nDsir, s"dsir rows $n != $nDsir")
      val tokTotal = w.agg(sum(col("n_tokens"))).head().getLong(0)
      val expectTok = dCorpus.agg(sum(col("n_tok"))).head().getLong(0)
      require(tokTotal == expectTok, s"dsir token total $tokTotal != $expectTok")
      val worst = w.agg(max(abs(col("avg_log_ratio")))).head().getDouble(0)
      require(worst < 0.01,
        f"identical target/raw distributions but avg log-ratio reaches $worst%.5f")
      println(f"[text-scale] dsir: $n docs, token accounting exact, " +
        f"max |avg_log_ratio| $worst%.5f on identical distributions")
      w.unpersist(); dCorpus.unpersist()
    }

    // ---- 8. bpePairStats: the pair explode must run over the VOCABULARY
    // (the same 200k types at any corpus slice — token draws are uniform),
    // not the raw token stream — this phase times that claim over the
    // ~120M-token slice (the entropy/dsir width: the full 5M-doc cache +
    // a 600M-token wordcount together overrun the 8g harness heap) and
    // pins the ranking shape.
    Harness.timed(s"bpePairStats($nEnt docs)") {
      val top = TextAnalysis.bpePairStats(corpus(nEnt), 20).collect()
      require(top.length == 20, s"expected 20 pairs, got ${top.length}")
      val occs = top.map(_.getAs[Long]("occurrences"))
      require(occs.sameElements(occs.sorted.reverse), "pairs not rank-ordered")
      // every type is 'w<digits>', so every top pair is w+digit or digit+digit
      require(top.forall(_.getAs[String]("pair").matches("[w0-9][0-9]")),
        "unexpected pair alphabet")
      println(s"[text-scale] bpe: top pair '${top.head.getAs[String]("pair")}' " +
        s"x ${occs.head} from a 200k-type vocabulary explode")
    }

    // ---- 9. corpus diagnostics at width, each with a generator-derived
    // closed form: (a) the Zipf fit over a UNIFORM vocabulary must read
    // ~flat (the "template spam" signature the diagnostic exists to
    // flag); (b) a boilerplate 8-gram planted into 1% of docs must top
    // the boilerplate report with its exact df — through the two-phase
    // inverted fetch, so gram strings never shuffled at width; (c) the
    // filter-agreement matrix must land every doc in the cell its token
    // count dictates (no stopwords ⇒ rules always reject; the model and
    // composite cuts flip at exactly 23 and 63 tokens).
    Harness.timed("zipf + boilerplate + agreement") {
      val dc = corpus(nEnt).persist()
      val z = TextAnalysis.zipfSlope(dc, 100).head()
      require(z.getAs[Long]("n_points") == 100L, "zipf point count")
      val slope = z.getAs[Double]("slope")
      require(slope > -0.2 && slope <= 0.05,
        f"uniform vocabulary should read flat, slope = $slope%.4f")
      val prefix = "pb1 pb2 pb3 pb4 pb5 pb6 pb7 pb8"
      val planted = dc.withColumn("text",
        when(pmod(col("doc_id"), lit(100L)) === 0, concat(lit(prefix + " "), col("text")))
          .otherwise(col("text")))
      val top = graft.operators.Dedup
        .topBoilerplateOf(planted, graft.operators.Dedup.shingles(planted, 8), 8, 3)
        .collect()
      val nPlanted = nEnt / 100 + (if (nEnt % 100 != 0) 1 else 0)
      require(top.head.getAs[String]("gram") == prefix,
        s"planted boilerplate not on top: '${top.head.getAs[String]("gram")}'")
      require(top.head.getAs[Long]("df") == nPlanted,
        s"boilerplate df ${top.head.getAs[Long]("df")} != planted $nPlanted")
      val cells = TextAnalysis.filterAgreement(dc, 0.55).collect()
        .map(r => (r.getAs[Boolean]("rules_pass"), r.getAs[Boolean]("model_keep"),
          r.getAs[Boolean]("quality_keep")) -> r.getAs[Long]("n_docs")).toMap
      def cnt(lo: Long, hi: Long) =
        dc.filter(col("n_tok") >= lo && col("n_tok") <= hi).count()
      require(cells.keys.forall(!_._1), "rules passed on a stopword-free corpus")
      require(cells((false, false, false)) == cnt(20, 22),
        "reject-all cell off the 23-token model boundary")
      require(cells((false, true, false)) == cnt(23, 62),
        "model-only cell off the [23, 62] window")
      require(cells((false, true, true)) == cnt(63, 219),
        "model+quality cell off the 63-token quality boundary")
      println(f"[text-scale] diagnostics: zipf slope $slope%.4f (flat, as a " +
        f"uniform vocab must), planted boilerplate df $nPlanted exact, " +
        s"agreement cells exact on the 23/63-token boundaries")
      dc.unpersist()
    }

    docs.unpersist()
    println("[text-scale] ALL CHECKS PASSED")
    spark.stop()
  }
}
