package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.operators.{Curation, Dedup}
import graft.core.Tables

/** The shared MinHash-LSH pair view: one verified pair table at
  * [[Dedup.SharedPairFloor]] feeding the eight dedup-family queries,
  * with results identical to the cold per-query computations.
  */
class DedupViewSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.load(spark, dir, "documents")

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.except(b).isEmpty && b.except(a).isEmpty

  test("view-based dedup family equals the cold-start computations") {
    val view = Dedup.sharedPairs(spark, dir)
    val at5 = Dedup.pairsAt(view, 0.5)
    assert(sameRows(at5, Dedup.minhashLsh(docs, 0.5)),
      "pairsAt(view, 0.5) != minhashLsh(docs, 0.5)")
    assert(sameRows(Dedup.survivorsOf(docs, at5), Dedup.survivors(docs, 0.5)))
    assert(sameRows(
      Dedup.clustersFromPairs(at5.select("doc_a", "doc_b")),
      Dedup.duplicateClusters(docs, 0.5)))
    assert(sameRows(Dedup.clusterSurvivorsOf(docs, at5),
      Dedup.clusterSurvivors(docs, 0.5)))
    assert(sameRows(Dedup.dedupReportOf(docs, at5), Dedup.dedupReport(docs, 0.5)))
    assert(sameRows(Dedup.thresholdCurveOf(view), Dedup.thresholdCurve(docs, 0.2)))
    assert(sameRows(Curation.materializeFullOf(docs, at5, 0.55, "en"),
      Curation.materializeFull(docs, 0.55, "en", 0.5)))
    assert(sameRows(Curation.curationFunnelOf(docs, at5, 0.55, "en"),
      Curation.curationFunnel(docs, 0.55, "en", 0.5)))
  }

  test("shingle-view consumers equal the cold-start computations") {
    import org.apache.spark.sql.functions.col
    val sh3 = Dedup.sharedShingles(spark, dir)
    val sh8 = Dedup.sharedShingles(spark, dir, 8)
    assert(sameRows(Dedup.ngramJaccardOf(sh3, 0.6), Dedup.ngramJaccard(docs, 0.6)),
      "ngramJaccardOf(sharedShingles) != ngramJaccard(docs)")
    assert(sameRows(Dedup.containmentOf(sh8, 0.6), Dedup.containment(docs, 0.6)),
      "containmentOf(sharedShingles(8)) != containment(docs)")
    assert(sameRows(Dedup.contaminationOf(docs, sh8, col("doc_id") < 50),
      Dedup.contamination(docs, col("doc_id") < 50, 8)),
      "contaminationOf != contamination")
    assert(sameRows(Dedup.contaminationBloomOf(docs, sh8, col("doc_id") < 50),
      Dedup.contaminationBloom(docs, col("doc_id") < 50, 8)),
      "contaminationBloomOf != contaminationBloom")
    // n=3 is the DocPairsStore read; n=8 is a plain plan over the documents
    assert(!(sh8 eq sh3))
  }

  test("exact-pair-view consumers equal the cold-start computations") {
    val view = Dedup.sharedExactPairs(spark, dir)
    assert(sameRows(Dedup.exactPairsAt(view, 0.6),
      Dedup.ngramJaccard(docs, 0.6)),
      "exactPairsAt(view, 0.6) != ngramJaccard(docs, 0.6)")
    assert(sameRows(
      Dedup.blockingRecallFrom(view, Dedup.sharedSigs(spark, dir)),
      Dedup.blockingRecall(docs)),
      "blockingRecallFrom(view) != blockingRecall(docs)")
    // r16: served from the persisted DocPairsStore — a parquet read of
    // ingest state, and a re-open builds nothing
    val before = graft.operators.DocPairsStore.buildCount.get()
    Dedup.sharedExactPairs(spark, dir).count()
    assert(graft.operators.DocPairsStore.buildCount.get() == before,
      "re-open of a valid DocPairsStore rebuilt the pair tables")
  }

  test("sig-view consumers equal the cold-start computations") {
    val sigs = Dedup.sharedSigs(spark, dir)
    assert(sameRows(Dedup.minhashEstimateOf(sigs, 0.5),
      Dedup.minhashEstimate(docs, 0.5)),
      "minhashEstimateOf(sharedSigs) != minhashEstimate(docs)")
    assert(sameRows(Dedup.editDistancePairsOf(docs, sigs, 0.5),
      Dedup.editDistancePairs(docs, 0.5)),
      "editDistancePairsOf(sharedSigs) != editDistancePairs(docs)")
    // r16: the sketch table is DocPairsStore state — a parquet read
    // whose plan never touches the documents source
    val leaves = sigs.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.forall(_.toString.contains("graft_docpairs"))
        case _ => false
      }
      case _ => false
    }, "sharedSigs must read the persisted store, not rebuild")
  }

  test("the registered queries consume ONE shared build per (session, dir)") {
    // r16: the pair table is DocPairsStore state — repeat opens serve the
    // same persisted parquet with zero rebuilds of the LSH chain
    val v1 = Dedup.sharedPairs(spark, dir)
    val before = graft.operators.DocPairsStore.buildCount.get()
    val v2 = Dedup.sharedPairs(spark, dir)
    v2.count()
    assert(graft.operators.DocPairsStore.buildCount.get() == before,
      "sharedPairs re-open rebuilt instead of serving the store")
    // the pure pair listing reads only the view — no documents rescan
    def docLeaves(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collectLeaves().collect {
        case lr: LogicalRelation => lr.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
            .filter(_.contains("documents"))
          case _ => Seq.empty
        }
      }.flatten
    assert(docLeaves(Dedup.pairsAt(v1, 0.5)).isEmpty,
      "pair listing re-scanned documents instead of reading the view")
    assert(docLeaves(Dedup.thresholdCurveOf(v1)).isEmpty,
      "threshold curve re-scanned documents instead of reading the view")
  }

  test("SharedViews.clearAll leaves the store-backed pair view serving identical data") {
    val v1 = Dedup.sharedPairs(spark, dir)
    val n1 = v1.count()
    graft.core.SharedViews.reclaimEverything(spark)
    // the pair table is disk state (no blocks for the reset to drop): the
    // next call serves the same persisted parquet, no rebuild
    val before = graft.operators.DocPairsStore.buildCount.get()
    val v2 = Dedup.sharedPairs(spark, dir)
    assert(v2.count() == n1, "store-backed shared view changed row count")
    assert(graft.operators.DocPairsStore.buildCount.get() == before,
      "reclaimEverything must not invalidate the persisted store")
  }
}
