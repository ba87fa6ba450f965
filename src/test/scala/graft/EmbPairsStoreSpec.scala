package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{EmbPairsStore, Similarity}

/** The disk-persisted kNN-graph edge store: consumers build nothing once
  * the store exists (bit-identical read of the banded-LSH verified
  * pairs), [[EmbPairsStore.append]] equals a full rebuild on the enlarged
  * corpus without touching indexed rows, ingest survives source deletion
  * (the store is self-contained), and a regenerated corpus under the same
  * path rebuilds via the fingerprint guard.
  */
class EmbPairsStoreSpec extends SparkSpec {

  private def vecsOf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "seed")
      .withColumn("label", pmod(col("seed"), lit(3L)).cast("int"))
      .withColumn("embedding", expr(
        """transform(sequence(1, 64), j -> CAST(
             (pmod(xxhash64(pmod(seed, 6) + 1000003, j), 2000) - 1000) / 1000.0 +
             (pmod(xxhash64(seed, j + 100), 2000) - 1000) / 1000.0 * 0.1 AS FLOAT))"""))
      .select("vec_id", "label", "embedding")
  }

  private def withCorpusDir[T](rows: Seq[(Long, Long)])(f: Path => T): T =
    withTempDir("embpairs") { d =>
      vecsOf(rows).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      f(d)
    }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("re-open after a handle drop builds nothing and serves bit-identical edges") {
    withCorpusDir((0L until 150L).map(i => (i, i))) { dir =>
      val before = EmbPairsStore.buildCount.get()
      val p1 = sortedRows(EmbPairsStore.pairs(spark, dir.toString))
      assert(EmbPairsStore.buildCount.get() == before + 1, "first open must build")
      assert(p1.nonEmpty, "banded corpus produced no verified pairs")

      EmbPairsStore.dropHandles()
      val p2 = sortedRows(EmbPairsStore.pairs(spark, dir.toString))
      assert(EmbPairsStore.buildCount.get() == before + 1,
        "re-open of a valid store must build nothing")
      assert(p2 == p1, "store round-trip changed the edge set")

      // persisted edges equal a from-scratch embeddingDedup run (persisting
      // is plumbing, not a value change — the oracle replay contract)
      val fresh = sortedRows(Similarity.embeddingDedup(
        graft.core.Tables.load(spark, dir.toString, "embeddings"),
        Similarity.SharedEmbFloor, EmbPairsStore.Bands, EmbPairsStore.RowsPerBand))
      assert(p1 == fresh, "persisted pairs differ from a fresh build")
    }
  }

  test("append == full rebuild on the enlarged corpus, and never re-scans the source") {
    val baseRows = (0L until 120L).map(i => (i, i))
    val batchRows = (200L until 260L).map(i => (i, i - 197)) // seeds overlap base's
    withCorpusDir(baseRows) { dir =>
      withTempDir("embpairs_store") { storeRoot =>
        val store = new graft.operators.EmbPairsStore(spark, storeRoot.toString)
        store.build(graft.core.Tables.load(spark, dir.toString, "embeddings"))

        // source-deletion proof: the append below runs with the corpus
        // parquet GONE — ingest state lives entirely in the store
        val deleted = Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        deleted.forEach(p => Files.deleteIfExists(p))
        store.append(vecsOf(batchRows))

        val viaAppend = sortedRows(store.pairs)
        val rebuilt = sortedRows(Similarity.embeddingDedup(
          vecsOf(baseRows ++ batchRows),
          Similarity.SharedEmbFloor, EmbPairsStore.Bands, EmbPairsStore.RowsPerBand))
        assert(viaAppend == rebuilt,
          "incremental append diverged from a full rebuild of the enlarged corpus")
        assert(store.vecs.count() == (baseRows.size + batchRows.size).toLong,
          "vecs/ must grow by exactly the batch")
      }
    }
  }

  test("a regenerated corpus under the same path triggers a rebuild") {
    withCorpusDir((0L until 100L).map(i => (i, i))) { dir =>
      EmbPairsStore.pairs(spark, dir.toString).count()
      vecsOf((0L until 100L).map(i => (i, i + 500)))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      EmbPairsStore.dropHandles()
      val before = EmbPairsStore.buildCount.get()
      EmbPairsStore.pairs(spark, dir.toString).count()
      assert(EmbPairsStore.buildCount.get() == before + 1,
        "fingerprint mismatch must rebuild, not serve stale edges")
    }
  }
}
