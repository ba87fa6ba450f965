package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndexStore, Similarity}

/** The persisted IVF-PQ index store: searches and appends run against
  * parquet state (cells + codebook + codes), never against the original
  * embedding source — proven by deleting the source after build.
  */
class AnnIndexStoreSpec extends SparkSpec {

  /** Deterministic 64-dim clustered vectors; same seed ⇒ identical vector. */
  private def vecsOf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "seed")
      .withColumn("embedding", expr(
        """transform(sequence(1, 64), j -> CAST(
             (pmod(xxhash64(pmod(seed, 8) + 1000003, j), 2000) - 1000) / 1000.0 +
             (pmod(xxhash64(seed, j + 100), 2000) - 1000) / 1000.0 * 0.15 AS FLOAT))"""))
      .select("vec_id", "embedding")
  }

  private val corpusRows = (0L until 200L).map(i => (i, i))

  test("store-backed search equals the direct ivfPqTopK computation") {
    val corpus = vecsOf(corpusRows)
    withTempDir("annstore") { dir =>
      val store = new AnnIndexStore(spark, dir.toString)
      store.build(corpus)
      val direct = Similarity.ivfPqTopK(corpus, 10, 5)
      val queries = corpus.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val viaStore = store.search(queries, 5)
      assert(viaStore.except(direct).isEmpty && direct.except(viaStore).isEmpty,
        "store-backed search differs from the direct computation")
      assert(store.params == AnnIndexStore.Params(4, 8, 8))
      rmrf(dir)
    }
  }

  test("search reads ONLY the store: embedding source deleted after build") {
    withTempDir("annstore") { srcDir =>
      vecsOf(corpusRows).write.mode("overwrite").parquet(s"$srcDir/emb.parquet")
      val corpus = spark.read.parquet(s"$srcDir/emb.parquet")
      withTempDir("annstore") { dir =>
        val store = new AnnIndexStore(spark, dir.toString)
        store.build(corpus)
        rmrf(srcDir) // FS-level: the original embedding parquet is GONE
        val queries = vecsOf(Seq((9007L, 7L))) // external query, = corpus vec 7
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val got = store.search(queries, 5).collect()
        assert(got.length == 5, "search failed with only the persisted store available")
        // the query IS corpus vector 7: its cell contains 7, whose recon
        // maximizes the query's own ADC score — 7 must appear in the top-5
        assert(got.exists(_.getAs[Long]("neighbor_id") == 7L))
        rmrf(dir)
      }
    }
  }

  test("append encodes against the persisted quantizers, no retraining") {
    withTempDir("annstore") { dir =>
      val store = new AnnIndexStore(spark, dir.toString)
      store.build(vecsOf(corpusRows))
      val before = store.codes.count()
      store.append(vecsOf(Seq((1007L, 7L), (1042L, 42L)))) // copies of 7, 42
      assert(store.codes.count() == before + 2, "codes must grow by the batch size")
      // identical vectors must encode to identical codes + recon norm —
      // the proof that the batch used the PERSISTED centroids/codebook
      val rows = store.codes
        .filter(col("vec_id").isin(7L, 1007L, 42L, 1042L)).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Int]("cid"), r.getAs[Int]("c0"), r.getAs[Int]("c1"),
            r.getAs[Int]("c2"), r.getAs[Int]("c3"), r.getAs[Double]("rnrm"))).toMap
      assert(rows(1007L) == rows(7L), "appended copy of 7 encoded differently")
      assert(rows(1042L) == rows(42L), "appended copy of 42 encoded differently")
      rmrf(dir)
    }
  }

  test("streaming twin: micro-batches appended to the persisted index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTempDir("annstore") { dir =>
      val store = new AnnIndexStore(spark, dir.toString)
      store.build(vecsOf(corpusRows))
      val before = store.codes.count()
      val in = MemoryStream[(Long, Long)]
      val vectors = in.toDF().toDF("vec_id", "seed")
        .withColumn("embedding", expr(
          """transform(sequence(1, 64), j -> CAST(
               (pmod(xxhash64(pmod(seed, 8) + 1000003, j), 2000) - 1000) / 1000.0 +
               (pmod(xxhash64(seed, j + 100), 2000) - 1000) / 1000.0 * 0.15 AS FLOAT))"""))
        .select("vec_id", "embedding")
      val q = graft.streaming.StreamingTracker.annIngestStream(
        vectors, dir.toString, s"$dir/ckpt")
      try {
        in.addData((1007L, 7L)) // copy of corpus vec 7
        q.processAllAvailable()
        in.addData((1042L, 42L)) // copy of corpus vec 42
        q.processAllAvailable()
      } finally q.stop()
      assert(store.codes.count() == before + 2, "stream appends missing")
      // streamed copies must encode exactly like their indexed originals
      val rows = store.codes
        .filter(col("vec_id").isin(7L, 1007L, 42L, 1042L)).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          (r.getAs[Int]("cid"), r.getAs[Int]("c0"), r.getAs[Int]("c1"),
            r.getAs[Int]("c2"), r.getAs[Int]("c3"), r.getAs[Double]("rnrm"))).toMap
      assert(rows(1007L) == rows(7L) && rows(1042L) == rows(42L),
        "streamed batch encoded against different quantizers")
      rmrf(dir)
    }
  }

  test("streaming contamination gate flags train copies of test vectors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTempDir("annstore") { dir =>
      val testSet = vecsOf(Seq((9001L, 5L))) // held-out eval vector
      val in = MemoryStream[(Long, Long)]
      val vectors = in.toDF().toDF("vec_id", "seed")
        .withColumn("embedding", expr(
          """transform(sequence(1, 64), j -> CAST(
               (pmod(xxhash64(pmod(seed, 8) + 1000003, j), 2000) - 1000) / 1000.0 +
               (pmod(xxhash64(seed, j + 100), 2000) - 1000) / 1000.0 * 0.15 AS FLOAT))"""))
        .select("vec_id", "embedding")
      val q = graft.streaming.StreamingTracker.contaminationGateStream(
        vectors, testSet, s"$dir/flagged", s"$dir/ckpt", 0.9)
      try {
        in.addData((2005L, 5L), (2100L, 100L)) // leaked copy + novel doc
        q.processAllAvailable()
      } finally q.stop()
      val flagged = spark.read.parquet(s"$dir/flagged").collect()
      assert(flagged.exists(r => r.getAs[Long]("train_id") == 2005L &&
        r.getAs[Long]("test_id") == 9001L && r.getAs[Double]("cos_sim") == 1.0),
        "leaked train copy of the test vector not flagged")
      assert(!flagged.exists(_.getAs[Long]("train_id") == 2100L),
        "novel train doc wrongly flagged")
      rmrf(dir)
    }
  }

  test("probe search prunes codes/ by cell partition, results unchanged") {
    withTempDir("annstore") { dir =>
      val store = new AnnIndexStore(spark, dir.toString)
      store.build(vecsOf(corpusRows))
      val queries = vecsOf(Seq((9001L, 3L), (9002L, 5L)))
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val res = store.search(queries, 5, nProbe = 2)
      // the executed codes/ scan opens only the probed cells' partitions —
      // the read that makes a probe O(probed cells), not O(index)
      val q = queries.select(col("query_id"), col("qv"),
        graft.functions.VectorFunctions.normF(col("qv")).as("qnrm"))
      val probed = Similarity.ivfProbes(q, store.cells, 2).select(col("cid")).distinct().count()
      val cidParts = store.codes.select(col("cid")).distinct().count()
      val (_, cellsRead) = partitionsRead(res, "cid")
      assert(probed < cidParts && cellsRead == probed,
        s"probe search read $cellsRead of $cidParts cid partitions for $probed probed cells")
      // pruning is semantically a no-op: identical to searching the full table
      val full = Similarity.ivfPqSearch(q, store.cells, store.codebook,
        store.codes, 5, 2, store.params.nSub)
      assert(res.except(full).isEmpty && full.except(res).isEmpty,
        "partition-pruned search differs from the full-scan search")
      rmrf(dir)
    }
  }

  test("params are validated: a directory without params.json is refused") {
    withTempDir("annstore") { dir =>
      val store = new AnnIndexStore(spark, dir.toString)
      val err = intercept[IllegalArgumentException] { store.params }
      assert(err.getMessage.contains("params.json"))
      rmrf(dir)
    }
  }
}
