package graft

/** Plan-shape regression guards over EVERY registered query: properties
  * that must hold for the plans to survive a 100 TB corpus, checked
  * against the real testdata schemas so a refactor that silently
  * introduces an unbounded plan fails CI, not production.
  */
class PlanGuardSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("no registered query plans a CartesianProduct") {
    // Scalar/tiny-side cross joins compile to BroadcastNestedLoopJoin with
    // a 1-row or k-row build — bounded. CartesianProduct (both sides
    // partitioned, |a|x|b| tasks) is never acceptable at scale.
    val offenders = SparkEntry.queries.flatMap { case (name, f) =>
      val plan = f(spark, dir).queryExecution.executedPlan.toString
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian product in: ${offenders.mkString(", ")}")
  }

  test("fetch pattern + range predicates reach the parquet scan") {
    val plan = SparkEntry.queries("ts_fetch_exact")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), "no pushdown section in scan")
    // the range must push on the raw int64 nanos column (row-group stats
    // prune epochs), not only on the derived timestamp
    assert(plan.contains("GreaterThanOrEqual(ts,"), s"nanos range not pushed")
    assert(plan.contains("EqualTo(event_type,purchase)"), "pattern predicate not pushed")
  }

  test("no unpartitioned window over an unbounded input in any query plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
    // A Window with an empty (or all-constant — partitionBy(lit(1)) is the
    // same single task) partitionSpec funnels its whole input through ONE
    // task. That is only acceptable when the input is bounded by
    // construction: under a Limit, or named here with the reason the
    // input cannot grow with the corpus.
    val bounded: Map[String, String] = Map(
      "domain_mix_weights" -> "input = per-source aggregate; sources are a fixed enum",
      "sample_mixture_apply" -> "same mixWeights window: per-source aggregate input",
      "dedup_threshold_curve" -> "input = fixed 10-row threshold-bucket grid",
      "quality_retention_curve" -> "input = fixed 10-row quality-decile grid",
      "dedup_blocking_recall" -> "input = the same fixed 10-row Jaccard-decile grid",
      "embedding_threshold_curve" -> "input = fixed 10-row cosine-decile grid",
      "mixture_token_share" -> "same mixWeights window: per-source aggregate input",
      "embedding_dim_stats" -> "input = per-dimension aggregate; dims fixed at 64",
      "domain_mix_temperature" -> "same mixWeights window: per-source aggregate input")
    def hasLimit(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit | _: LocalLimit => () }.nonEmpty
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, f) =>
      val plan = f(spark, dir).queryExecution.optimizedPlan
      val bad = plan.collect {
        case w: LWindow if (w.partitionSpec.isEmpty ||
          w.partitionSpec.forall(_.foldable)) && !hasLimit(w.child) => w
      }
      if (bad.nonEmpty && !bounded.contains(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned window over unbounded input in: ${offenders.mkString(", ")}")
  }

  test("explicit broadcast hints build only bounded tables") {
    // A broadcast() HINT overrides Spark's size checks at ANY scale (a
    // size-estimate auto-broadcast is AQE's call and reverses itself on a
    // big cluster — hints don't). So every hinted build side must be
    // bounded by construction: a Limit; an Aggregate (ours all group to
    // bounded key spaces — centroids, sketches, thresholds, per-partition
    // offsets); a driver-created local/RDD table; a fixed dim
    // (nation/region); or the fixed query-vector sample (vec_id < k). A
    // corpus-sized scan behind a hint fails here before it OOMs the
    // driver of a 1000-executor job.
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, LessThan, Literal}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def bounded(p: LogicalPlan): Boolean = {
      val shaped = p.collectFirst {
        case _: GlobalLimit | _: LocalLimit => ()
        case _: Aggregate => ()
        case _: LocalRelation => ()
        case _: LogicalRDD => ()
        case f: Filter if f.condition.collectFirst {
          case LessThan(a, _: Literal) if a.toString.contains("vec_id") => ()
          // single-id lookup (the hybrid query-vector fetch): = literal on
          // the id column is a bounded build at any corpus size
          case EqualTo(a, _: Literal) if a.toString.contains("vec_id") => ()
        }.nonEmpty => ()
      }.nonEmpty
      def dimOnly = {
        val leaves = p.collectLeaves()
        leaves.nonEmpty && leaves.forall {
          case lr: LogicalRelation => lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.forall { rp =>
                val s = rp.toString
                s.contains("nation.parquet") || s.contains("region.parquet")
              }
            case _ => false
          }
          case _ => false
        }
      }
      shaped || dimOnly
    }
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, f) =>
      val plan = f(spark, dir).queryExecution.optimizedPlan
      val bad = plan.collect { case j: Join =>
        Seq(j.hint.leftHint -> j.left, j.hint.rightHint -> j.right).collect {
          case (Some(h), side) if h.strategy.exists(_.toString.contains("broadcast"))
            && !bounded(side) => side
        }
      }.flatten
      if (bad.nonEmpty) Some(s"$name (${bad.size})") else None
    }
    assert(offenders.isEmpty,
      s"unbounded explicit broadcast in: ${offenders.mkString(", ")}")
  }

  test("q2 prunes lineitem by the part predicate below its first aggregate") {
    // The r4 plan aggregated ALL of lineitem by (l_partkey, l_suppkey)
    // and only then joined the filtered part table — a full-fact shuffle
    // and a |parts x suppliers| aggregate for a query touching a small
    // fraction of parts. Guard: every Aggregate whose subtree scans
    // lineitem must also contain, BELOW it, the p_size/p_type filter
    // (i.e. the semi-join against qualifying part keys).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    def scansLineitem(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectLeaves().exists {
        case lr: LogicalRelation => lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.exists(_.toString.contains("lineitem.parquet"))
          case _ => false
        }
        case _ => false
      }
    val plan = SparkEntry.queries("q2_min_cost_supplier")(spark, dir)
      .queryExecution.optimizedPlan
    val factAggs = plan.collect { case a: Aggregate if scansLineitem(a.child) => a }
    assert(factAggs.nonEmpty, "q2 lost its lineitem aggregate")
    val unpruned = factAggs.filterNot { a =>
      a.child.collect {
        case f: Filter if f.condition.toString.contains("p_size") => f
      }.nonEmpty
    }
    assert(unpruned.isEmpty,
      s"q2 aggregates lineitem without the part predicate below it (${unpruned.size} aggregate(s))")
  }

  test("column pruning: single-column projections do not scan full rows") {
    val plan = SparkEntry.queries("dedup_exact")(spark, dir)
      .queryExecution.executedPlan.toString
    // only the text column feeds the md5 groupBy — lang/source/n_chars
    // must be pruned from the read schema
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("text") && !readSchema.contains("n_chars"),
      s"unpruned read schema: $readSchema")
  }

  /** Execute the query's own AdaptiveSparkPlanExec to its FINAL plan and
    * return the final section's string (a count()/collect wraps the query
    * in a new QueryExecution, leaving this instance un-finalized, and the
    * initial plan can't show AQE stage reuse).
    */
  private def finalPlan(name: String): String = {
    val exec = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
    exec.execute().count()
    exec.toString.split("== Initial Plan ==").head
  }

  test("shared-subtree fan-outs reuse ONE exchange (the r13 pruning disease)") {
    // Both queries fan one aggregated subtree out to several consumers;
    // ColumnPruning/RemoveRedundantAggregates can silently de-canonicalize
    // a branch (strip an unused count) so AQE stage reuse dies and the
    // fact table is re-scanned + re-shuffled per consumer — caught twice
    // in round 13 (q_market_basket: 5 lineitem scans; text_tfidf_top_terms:
    // corpus tokenized twice). Tautological filters in the operators keep
    // the branches canonical; this pins that they KEEP working.
    val basket = finalPlan("q_market_basket")
    val basketScans = "lineitem.parquet".r.findAllIn(basket).length
    assert(basketScans == 1,
      s"q_market_basket final plan scans lineitem $basketScans times (want 1)")
    assert(basket.contains("ReusedExchange"),
      "q_market_basket final plan lost all exchange reuse")
    val tfidf = finalPlan("text_tfidf_top_terms")
    // the 1-row n_docs count is a metadata-only scan (empty ReadSchema)
    // and is fine; the TEXT column must be read and tokenized only once
    val textScans = tfidf.linesIterator.count(l =>
      l.contains("documents.parquet") && l.contains("ReadSchema") &&
        l.contains("text:string"))
    assert(textScans == 1,
      s"text_tfidf_top_terms final plan reads the text column $textScans times (want 1)")
    assert(tfidf.contains("ReusedExchange"),
      "text_tfidf_top_terms final plan lost the tokenize-exchange reuse")
    // round 14: quality_retention_curve had the same disease (its totals
    // branch `byB.agg(sum nd, sum tok)` pruned sq4 from its copy of the
    // bucket aggregate). The fix derives totals from the threshold-0 row
    // via a 10-row window, leaving the corpus scan single-consumer.
    val curve = finalPlan("quality_retention_curve")
    val curveScans = curve.linesIterator.count(l =>
      l.contains("documents.parquet") && l.contains("ReadSchema") &&
        l.contains("text:string"))
    assert(curveScans == 1,
      s"quality_retention_curve final plan reads the text column $curveScans times (want 1)")
  }

  test("candFromBands consumers plan one scan and exchange count across repeated runs") {
    // Dedup.candFromBands used to self-join its capped band table; AQE
    // re-planned that join's second read per run (a reused exchange in
    // most runs, a second scan of the store's sigs/ in others), so these
    // rows' final plans depended on which query stage finished first.
    // Each capped table now has one consumer; the counts must not move
    // between runs of the same query in one JVM. A first untimed run
    // builds the standing store, whose inline build plans differently.
    // Only consumers with no other swing are pinned: the rows that also
    // verify through Dedup.pairJaccard (dedup_lsh_subblocked,
    // dedup_incremental) or join signatures back (dedup_minhash_estimate)
    // still flip a join's build side with stage timing.
    val swings = Seq("dedup_edit_distance", "dedup_blocking_recall")
      .flatMap { name =>
        SparkEntry.queries(name)(spark, dir).count()
        val counts = (1 to 5).map { _ =>
          graft.core.SharedViews.reclaimEverything(spark)
          val (_, perFile, nExch, nBcast) = Tool.finalPlanScanCounts(spark, name, dir)
          spark.catalog.clearCache()
          (perFile.toSeq.sorted, nExch, nBcast)
        }.distinct
        if (counts.size > 1) Some(s"$name: ${counts.mkString(" | ")}") else None
      }
    assert(swings.isEmpty, s"final-plan counts moved between runs:\n${swings.mkString("\n")}")
  }

  test("final-plan per-file scan counts never exceed the committed watchlist") {
    // Regenerate with:
    //   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 \
    //     sbt --error "runMain graft.Tool plan" > src/test/resources/plan_scan_watchlist.tsv
    // The r13 sweep found 60 queries with a BENIGN duplicate per-file
    // scan (each side re-reads a pruned column slice map-side — cheaper
    // than materializing at 100 TB) and two with a duplicated SHUFFLE
    // (the pruning disease). The disease always shows as a scan-count
    // increase in the EXECUTED final plan, so pinning the per-file scan
    // counts of every registered query turns an optimizer/refactor
    // regression into a loud CI failure. One-sided: fewer scans than the
    // watchlist (better reuse) passes; a new query must be swept and
    // added deliberately. Queries that materialize during construction
    // (driver-loop trainers, localCheckpoint pipelines) legitimately pin
    // to zero final-plan parquet scans.
    // v2 (r15): each query also pins its final-plan SHUFFLE-EXCHANGE
    // count (the __exchanges__ pseudo-file) — the scan axis misses a
    // rewrite that adds a shuffle at constant scan count (the r14
    // ts_topk_movers disease class); both axes are one-sided.
    // v3 (r16): the exchange axis asserts exchanges + bcasts COMBINED.
    // AQE flips a broadcast join to shuffle (or back) on runtime size
    // stats that flicker at sf0.001; a flip converts one BroadcastExchange
    // into one shuffle Exchange, so the sum is invariant under it while
    // still catching the disease the guard hunts (ADDED duplicate work —
    // an extra stage raises the sum no matter which kind it lands as).
    // The independent r15 verify run tripped the exchange-only form on
    // exactly such a flip (dedup_incremental 5 vs pinned 4, with bcasts
    // 1 vs pinned 2). TWO-sided flips (SMJ = 2 shuffle exchanges where a
    // broadcast join = 1 BroadcastExchange) still move the sum by one
    // per flipped join, so the AQE-swingy rows (dedup_incremental's
    // inline corpus/batch chain flips several joins at sf0.001;
    // dedup_minhash_estimate one) are pinned at their WORST observed
    // counts — the guard stays one-sided ≤, and the duplicate-scan
    // disease is still caught exactly by the per-file scan axis.
    val src = scala.io.Source.fromFile("src/test/resources/plan_scan_watchlist.tsv")
    val expected: Map[String, Map[String, Int]] =
      try PlanGuardSpec.parseWatchlist(src.getLines().toSeq)
      finally src.close()
    val missing = SparkEntry.queries.keys.filterNot(expected.contains)
    assert(missing.isEmpty,
      s"queries missing from the scan watchlist (re-sweep it): ${missing.mkString(", ")}")
    val missingExch = SparkEntry.queries.keys.filterNot(q =>
      expected.get(q).exists(e => e.contains(Tool.ExchangesKey) &&
        e.contains(Tool.BcastsKey)))
    assert(missingExch.isEmpty,
      s"queries missing ${Tool.ExchangesKey}/${Tool.BcastsKey} " +
        s"watchlist rows (re-sweep it): ${missingExch.mkString(", ")}")
    // Force-build the standing stores BEFORE the sweep: a query whose
    // /tmp store is absent builds it inline with a different (bigger)
    // final plan than the committed steady-state shape — one flake class
    // the r15 verdict named. One consumer per store is enough; plans are
    // discarded, only the side effect (the persisted store) matters.
    Seq("ann_kmeans_topk", "ann_ivfpq_topk", "ann_knn_join",
        "tokenizer_bpe_merges", "tokenizer_bpe_encode", "dedup_incremental",
        "dedup_minhash_lsh")
      .foreach { n =>
        SparkEntry.queries(n)(spark, dir).count()
        graft.core.SharedViews.reclaimEverything(spark)
        spark.catalog.clearCache()
      }
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      graft.core.SharedViews.reclaimEverything(spark)
      val (_, perFile, nExch, nBcast) = Tool.finalPlanScanCounts(spark, name, dir)
      spark.catalog.clearCache()
      val exp = expected(name)
      val expStages = exp.getOrElse(Tool.ExchangesKey, 0) +
        exp.getOrElse(Tool.BcastsKey, 0)
      perFile.collect { case (f, n) if n > exp.getOrElse(f, 0) =>
        s"$name: $f x$n (watchlist ${exp.getOrElse(f, 0)})" } ++
        (if (nExch + nBcast > expStages)
          Seq(s"$name: ${nExch + nBcast} exchange stages " +
            s"($nExch shuffle + $nBcast broadcast; watchlist $expStages)")
         else Seq.empty)
    }
    assert(offenders.isEmpty,
      s"final-plan scan/exchange counts grew past the watchlist " +
        s"(duplicate-work regression):\n${offenders.mkString("\n")}")
  }
}

object PlanGuardSpec {

  /** Parse watchlist TSV rows (query, file or pseudo-key, count) into
    * query -> file -> count; a "-" file marks a query with no scans.
    */
  def parseWatchlist(lines: Seq[String]): Map[String, Map[String, Int]] =
    lines.map(_.split("\t")).collect {
      case Array(q, f, n) => (q, f, n.toInt)
    }.groupBy(_._1).map { case (q, rows) =>
      q -> rows.collect { case (_, f, n) if f != "-" => f -> n }.toMap }
}
