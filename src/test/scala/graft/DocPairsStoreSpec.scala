package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DocPairsStore}

/** The disk-persisted document shingle/sketch/pair store (r16): consumers
  * build nothing once the store exists and every persisted table is
  * value-identical to the direct computation (persisting is plumbing),
  * [[DocPairsStore.append]] equals a full rebuild on the enlarged corpus
  * without re-tokenizing indexed docs, ingest survives source deletion
  * (the store is self-contained), and a regenerated corpus under the
  * same path rebuilds via the fingerprint guard.
  */
class DocPairsStoreSpec extends SparkSpec {

  /** Seed-determined ~40-word text; docs sharing a seed are near-dups
    * (identical body + a doc-specific tail word), so both pair tables
    * get real within-group edges.
    */
  private def docsOf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "seed")
      .withColumn("text", expr(
        """concat(array_join(transform(sequence(1, 40),
             j -> concat('w', pmod(xxhash64(seed, j), 97))), ' '),
             ' tail', CAST(doc_id AS STRING))"""))
      .select("doc_id", "text")
  }

  private def withCorpusDir[T](rows: Seq[(Long, Long)])(f: Path => T): T =
    withTempDir("docpairs") { d =>
      docsOf(rows).write.mode("overwrite").parquet(s"$d/documents.parquet")
      f(d)
    }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  // 90 docs in 30 near-dup triples
  private def baseRows = (0L until 90L).map(i => (i, i / 3))

  test("re-open builds nothing; every table is value-identical to the direct computation") {
    withCorpusDir(baseRows) { dir =>
      val before = DocPairsStore.buildCount.get()
      val e1 = sortedRows(DocPairsStore.exactPairs(spark, dir.toString))
      val l1 = sortedRows(DocPairsStore.lshPairs(spark, dir.toString))
      val s1 = sortedRows(DocPairsStore.sigs(spark, dir.toString))
      val sh1 = sortedRows(DocPairsStore.shingles(spark, dir.toString))
      assert(DocPairsStore.buildCount.get() == before + 1, "first open must build once")
      assert(e1.nonEmpty && l1.nonEmpty, "dup-planted corpus produced no pairs")

      DocPairsStore.dropHandles()
      assert(sortedRows(DocPairsStore.exactPairs(spark, dir.toString)) == e1)
      assert(DocPairsStore.buildCount.get() == before + 1,
        "re-open of a valid store must build nothing")

      val docs = graft.core.Tables.load(spark, dir.toString, "documents")
      assert(sh1 == sortedRows(Dedup.shingles(docs, DocPairsStore.ShingleN)),
        "persisted shingles differ from a fresh build")
      assert(s1 == sortedRows(Dedup.minhashSignatures(docs)),
        "persisted sigs differ from a fresh build")
      assert(e1 == sortedRows(Dedup.ngramJaccard(docs, Dedup.SharedExactFloor)),
        "persisted exact pairs differ from a fresh build")
      assert(l1 == sortedRows(Dedup.minhashLsh(docs, Dedup.SharedPairFloor)),
        "persisted LSH pairs differ from a fresh build")
    }
  }

  test("each reader infers its table's schema once per session: a re-read starts no job") {
    withCorpusDir(baseRows) { dir =>
      val readers = Seq[(String, (SparkSession, String) => DataFrame)](
        "shingles" -> DocPairsStore.shingles _, "sigs" -> DocPairsStore.sigs _,
        "exactPairs" -> DocPairsStore.exactPairs _, "lshPairs" -> DocPairsStore.lshPairs _)
      readers.foreach { case (_, read) => read(spark, dir.toString) } // first open + reads
      val jobs = readers.map { case (name, read) => name -> jobsDuring(read(spark, dir.toString)) }
      assert(jobs.forall(_._2 == 0), s"re-reading a persisted table started jobs: $jobs")
    }
  }

  test("append == full rebuild on the enlarged corpus, and never re-scans the source") {
    // batch doc 200+i extends dup group i/3 (seeds overlap the base's),
    // so the append must surface batch-batch AND batch-store pairs
    val batchRows = (200L until 230L).map(i => (i, (i - 200) / 3))
    withCorpusDir(baseRows) { dir =>
      withTempDir("docpairs_store") { storeRoot =>
        val store = new DocPairsStore(spark, storeRoot.toString)
        store.build(graft.core.Tables.load(spark, dir.toString, "documents"))

        // source-deletion proof: the append below runs with the corpus
        // parquet GONE — ingest state lives entirely in the store
        val deleted = Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        deleted.forEach(p => Files.deleteIfExists(p))
        store.append(docsOf(batchRows))

        val full = docsOf(baseRows ++ batchRows)
        assert(sortedRows(store.exactPairs) ==
          sortedRows(Dedup.ngramJaccard(full, Dedup.SharedExactFloor)),
          "exact-pair append diverged from a full rebuild of the enlarged corpus")
        assert(sortedRows(store.lshPairs) ==
          sortedRows(Dedup.minhashLsh(full, Dedup.SharedPairFloor)),
          "LSH-pair append diverged from a full rebuild of the enlarged corpus")
        assert(store.sigs.count() == (baseRows.size + batchRows.size).toLong,
          "sigs/ must grow by exactly the batch")
      }
    }
  }

  test("a regenerated corpus under the same path triggers a rebuild") {
    withCorpusDir(baseRows) { dir =>
      DocPairsStore.exactPairs(spark, dir.toString).count()
      docsOf((0L until 90L).map(i => (i, i / 3 + 500)))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      DocPairsStore.dropHandles()
      val before = DocPairsStore.buildCount.get()
      DocPairsStore.exactPairs(spark, dir.toString).count()
      assert(DocPairsStore.buildCount.get() == before + 1,
        "fingerprint mismatch must rebuild, not serve stale pairs")
    }
  }
}
