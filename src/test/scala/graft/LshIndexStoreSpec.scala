package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, LshIndexStore}

/** The persisted LSH index store: batches are decided against parquet
  * state (bands + verify-fetch texts), never against the original
  * corpus — proven by deleting the corpus source after build.
  */
class LshIndexStoreSpec extends SparkSpec {

  /** 20 deterministic tokens per seed; same seed ⇒ identical text. */
  private def docsOf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "seed")
      .withColumn("text", expr(
        "array_join(transform(sequence(1, 20), i -> concat('w', pmod(xxhash64(seed, i), 50000))), ' ')"))
      .select("doc_id", "text")
  }

  // corpus: 200 docs, distinct seeds; batch: 2 exact dups of corpus docs
  // (seeds 7, 42), 1 batch-internal dup pair (seed 900), 2 novel docs
  private val corpusRows = (0L until 200L).map(i => (i, i))
  private val batchRows = Seq(
    (1007L, 7L), (1042L, 42L), (1900L, 900L), (1901L, 900L),
    (1555L, 555L), (1666L, 666L))

  test("store-backed decide equals the direct incremental computation") {
    val corpus = docsOf(corpusRows)
    val batch = docsOf(batchRows)
    withTempDir("lshstore") { dir =>
      val store = new LshIndexStore(spark, dir.toString)
      store.build(corpus)
      val direct = Dedup.incrementalDedupAgainst(corpus, batch, 0.8)
      val viaStore = store.decide(batch, 0.8)
      assert(viaStore.except(direct).isEmpty && direct.except(viaStore).isEmpty,
        "store-backed decisions differ from the direct computation")
      val got = viaStore.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got(1007L) == Some(7L) && got(1042L) == Some(42L))
      assert(got(1901L) == Some(1900L), "batch-internal dup missed")
      assert(got(1900L).isEmpty && got(1555L).isEmpty && got(1666L).isEmpty)
      rmrf(dir)
    }
  }

  test("decisions read ONLY the store: corpus source deleted after build") {
    withTempDir("lshstore") { srcDir =>
      docsOf(corpusRows).write.mode("overwrite").parquet(s"$srcDir/corpus.parquet")
      val corpus = spark.read.parquet(s"$srcDir/corpus.parquet")
      withTempDir("lshstore") { dir =>
        val store = new LshIndexStore(spark, dir.toString)
        store.build(corpus)
        rmrf(srcDir) // FS-level: the original corpus parquet is GONE
        val got = store.decide(docsOf(batchRows), 0.8).collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
        assert(got(1007L) == Some(7L) && got(1555L).isEmpty,
          "decisions wrong when only the persisted store is available")
        rmrf(dir)
      }
    }
  }

  test("ingest appends survivors; later batches dedup against them") {
    withTempDir("lshstore") { dir =>
      val store = new LshIndexStore(spark, dir.toString)
      store.build(docsOf(corpusRows))
      val d1 = store.ingest(docsOf(batchRows), 0.8).collect()
        .map(r => r.getLong(0) -> r.isNullAt(1)).toMap
      assert(d1(1555L) && d1(1666L) && d1(1900L), "batch-1 survivors misflagged")
      // batch 2 re-sends the SAME novel content under new ids → every doc
      // must now be flagged as a dup of the batch-1 survivor that carried it
      val d2 = store.ingest(docsOf(Seq((2555L, 555L), (2666L, 666L))), 0.8)
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(d2(2555L) == Some(1555L) && d2(2666L) == Some(1666L),
        "batch-2 docs not deduped against appended batch-1 survivors")
      // the index grew by exactly the survivors' band rows (4 per doc):
      // 200 corpus + 3 batch-1 survivors (1555, 1666, 1900 — not the dups
      // 1007/1042/1901, and batch 2 appended nothing)
      assert(store.bands.count() == (200L + 3L) * Dedup.Bands)
      rmrf(dir)
    }
  }

  test("noveltyOf scores a batch against the persisted types; ingest folds them") {
    withTempDir("lshstore") { dir =>
      val store = new LshIndexStore(spark, dir.toString)
      store.build(docsOf(corpusRows))
      // one doc repeats corpus seed 7 (all 13 8-shingles seen), one is
      // novel (13 unseen) → 26 types, 13 new, novelty 0.5
      val batch = docsOf(Seq((2007L, 7L), (2777L, 777L)))
      val r = store.noveltyOf(batch).collect().head
      assert(r.getAs[Long]("n_types") == 26L &&
        r.getAs[Long]("n_new_types") == 13L &&
        r.getAs[Double]("novelty") == 0.5)
      // after ingesting, the novel doc's types are part of the store
      store.ingest(batch, 0.8)
      val r2 = store.noveltyOf(batch).collect().head
      assert(r2.getAs[Long]("n_new_types") == 0L &&
        r2.getAs[Double]("novelty") == 0.0)
      rmrf(dir)
    }
  }

  test("streaming novelty gate: per-batch rows sag as the store learns the feed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTempDir("lshstore") { dir =>
      val store = new LshIndexStore(spark, dir.toString)
      store.build(docsOf(corpusRows))
      val in = MemoryStream[(Long, Long)]
      val docs = in.toDF().toDF("doc_id", "seed")
        .withColumn("text", expr(
          "array_join(transform(sequence(1, 20), i -> concat('w', pmod(xxhash64(seed, i), 50000))), ' ')"))
        .select("doc_id", "text")
      val q = graft.streaming.StreamingTracker.noveltyGateStream(
        docs, dir.toString, s"$dir/novelty", s"$dir/nckpt")
      try {
        in.addData((3001L, 801L), (3002L, 802L)) // all-new feed
        q.processAllAvailable()
        in.addData((3003L, 801L), (3004L, 803L)) // half repeats batch 1
        q.processAllAvailable()
        in.addData((3005L, 801L), (3006L, 803L)) // fully saturated
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.read.parquet(s"$dir/novelty").collect()
        .map(r => r.getAs[Long]("batch_id") -> r.getAs[Double]("novelty")).toMap
      assert(rows(0L) == 1.0, s"batch 0 novelty ${rows(0L)} != 1.0 on unseen feed")
      assert(rows(1L) == 0.5, s"batch 1 novelty ${rows(1L)} != 0.5 on half-repeat")
      assert(rows(2L) == 0.0, s"batch 2 novelty ${rows(2L)} != 0.0 when saturated")
      rmrf(dir)
    }
  }

  test("streaming twin: micro-batches decided against the persisted index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTempDir("lshstore") { dir =>
      val store = new LshIndexStore(spark, dir.toString)
      store.build(docsOf(corpusRows))
      val in = MemoryStream[(Long, Long)]
      val docs = in.toDF().toDF("doc_id", "seed")
        .withColumn("text", expr(
          "array_join(transform(sequence(1, 20), i -> concat('w', pmod(xxhash64(seed, i), 50000))), ' ')"))
        .select("doc_id", "text")
      val q = graft.streaming.StreamingTracker.incrementalDedupStream(
        docs, dir.toString, s"$dir/decisions", s"$dir/ckpt", 0.8)
      try {
        in.addData((1007L, 7L), (1555L, 555L)) // dup-of-corpus + novel
        q.processAllAvailable()
        in.addData((2555L, 555L)) // dup of micro-batch-1's survivor
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(s"$dir/decisions").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(got(1007L) == Some(7L), "streamed dup-of-corpus missed")
      assert(got(1555L).isEmpty, "streamed novel doc misflagged")
      assert(got(2555L) == Some(1555L),
        "micro-batch 2 not deduped against micro-batch 1's appended survivor")
      rmrf(dir)
    }
  }
}
