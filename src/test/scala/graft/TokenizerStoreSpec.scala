package graft

import java.nio.file.Path

import org.apache.spark.sql.DataFrame

import graft.operators.{TextAnalysis, TokenizerStore}

/** The disk-persisted BPE tokenizer store: the encode path trains NOTHING
  * once the store exists (a fresh open reads the k-row parquet), the
  * persisted merge table equals a from-scratch trainer run, and a
  * regenerated corpus under the same path retrains via the fingerprint
  * guard — the [[QuantizerStoreSpec]] contract on the tokenizer side.
  */
class TokenizerStoreSpec extends SparkSpec {

  private def corpusOf(seed: Int): DataFrame = {
    import spark.implicits._
    val words = Seq("lower", "lowest", "newer", "newest", "wider", "low", "new")
    (0 until 60).map { i =>
      val w1 = words((i + seed) % words.size)
      val w2 = words((i * 3 + seed) % words.size)
      (i.toLong, s"$w1 $w2 $w1", "webz")
    }.toDF("doc_id", "text", "source")
  }

  private def withCorpusDir[T](seed: Int)(f: Path => T): T =
    withTempDir("tokstore") { d =>
      corpusOf(seed).write.mode("overwrite").parquet(s"$d/documents.parquet")
      f(d)
    }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("re-open after a handle drop trains nothing and serves the trained merges") {
    withCorpusDir(0) { dir =>
      val before = TokenizerStore.trainCount.get()
      val m1 = sortedRows(TokenizerStore.merges(spark, dir.toString, 8))
      assert(TokenizerStore.trainCount.get() == before + 1, "first open must train")
      assert(m1.nonEmpty, "trainer learned no merges on a mergeable corpus")

      // simulate a fresh session: drop in-process handles, keep the disk
      // store — the encode path must NOT retrain
      TokenizerStore.dropHandles()
      val m2 = sortedRows(TokenizerStore.merges(spark, dir.toString, 8))
      assert(TokenizerStore.trainCount.get() == before + 1,
        "re-open of a valid store must train nothing")
      assert(m2 == m1, "store round-trip changed the merge table")

      // persisted merges equal a from-scratch trainer run (persisting is a
      // plumbing change, not a value change — the oracle replay contract)
      val fresh = sortedRows(TextAnalysis.bpeMerges(
        graft.core.Tables.load(spark, dir.toString, "documents"), 8))
      assert(m1 == fresh, "persisted merges differ from fresh training")
    }
  }

  test("encode over stored merges equals the inline-training encode") {
    withCorpusDir(1) { dir =>
      val docs = graft.core.Tables.load(spark, dir.toString, "documents")
      val viaStore = TextAnalysis.bpeEncodeStatsFrom(docs,
        TokenizerStore.collectMerges(spark, dir.toString, 8))
      val inline = TextAnalysis.bpeEncodeStats(docs, 8)
      assert(sortedRows(viaStore) == sortedRows(inline),
        "store-backed encode diverged from the inline-training encode")
      // and the store-backed call after the first open runs zero trainer loops
      val before = TokenizerStore.trainCount.get()
      TextAnalysis.bpeEncodeStatsFrom(docs,
        TokenizerStore.collectMerges(spark, dir.toString, 8)).count()
      assert(TokenizerStore.trainCount.get() == before,
        "encode re-trained the tokenizer despite an open store")
    }
  }

  test("a regenerated corpus under the same path triggers a retrain") {
    withCorpusDir(2) { dir =>
      val m1 = sortedRows(TokenizerStore.merges(spark, dir.toString, 8))
      assert(m1.nonEmpty)
      // rewrite the corpus in place: same path, different text mixture
      corpusOf(5).withColumn("text",
          org.apache.spark.sql.functions.concat_ws(" ",
            org.apache.spark.sql.functions.col("text"),
            org.apache.spark.sql.functions.lit("zzqq zzqq zzqq")))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      TokenizerStore.dropHandles()
      val before = TokenizerStore.trainCount.get()
      TokenizerStore.merges(spark, dir.toString, 8).count()
      assert(TokenizerStore.trainCount.get() == before + 1,
        "fingerprint mismatch must retrain, not serve the stale tokenizer")
    }
  }
}
