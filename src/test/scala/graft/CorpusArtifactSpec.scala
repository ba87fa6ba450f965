package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CorpusArtifact, DocPairsStore, EmbPairsStore, QuantizerStore, TokenizerStore}

/** The shared standing-store lifecycle behind the four corpus stores:
  * freshness compares EVERY recorded params.json value (not just the
  * fingerprint and algo version), and concurrent opens of a fresh store
  * build it exactly once behind the per-path lock.
  */
class CorpusArtifactSpec extends SparkSpec {

  /** One corpus dir holding both source tables the stores read. */
  private def withCorpusDir[T](f: String => T): T = withTempDir("artifact") { d =>
    import spark.implicits._
    (0L until 60L).toDF("doc_id")
      .withColumn("text", expr(
        """concat(array_join(transform(sequence(1, 30),
             j -> concat('w', pmod(xxhash64(doc_id div 3, j), 41))), ' '),
             ' tail', CAST(doc_id AS STRING))"""))
      .write.parquet(s"$d/documents.parquet")
    (0L until 120L).toDF("vec_id")
      .withColumn("label", pmod(col("vec_id"), lit(3L)).cast("int"))
      .withColumn("embedding", expr(
        """transform(sequence(1, 64), j -> CAST(
             (pmod(xxhash64(pmod(vec_id, 6) + 1000003, j), 2000) - 1000) / 1000.0 +
             (pmod(xxhash64(vec_id, j + 100), 2000) - 1000) / 1000.0 * 0.1 AS FLOAT))"""))
      .write.parquet(s"$d/embeddings.parquet")
    f(d.toString)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** (store, key, open, counter, dropHandles, recorded key, forged value) */
  private val stores: Seq[(String, String, (SparkSession, String) => Unit, AtomicLong,
      () => Unit, String, String)] = Seq(
    ("docpairs", s"n${DocPairsStore.ShingleN}",
      (s, d) => DocPairsStore.exactPairs(s, d).count(),
      DocPairsStore.buildCount, () => DocPairsStore.dropHandles(), "exact_floor", "0.3"),
    ("embpairs", s"f${EmbPairsStore.Bands}x${EmbPairsStore.RowsPerBand}",
      (s, d) => EmbPairsStore.pairs(s, d).count(),
      EmbPairsStore.buildCount, () => EmbPairsStore.dropHandles(), "rows_per_band", "3"),
    ("tokenizers", "k8",
      (s, d) => TokenizerStore.collectMerges(s, d, 8),
      TokenizerStore.trainCount, () => TokenizerStore.dropHandles(), "k", "9"),
    ("quantizers", "pp8x3",
      (s, d) => QuantizerStore.kmeansPp(s, d)._1.count(),
      QuantizerStore.trainCount, () => QuantizerStore.dropHandles(), "nCent", "16"))

  test("a forged recorded value in params.json rebuilds each of the four stores") {
    withCorpusDir { dir =>
      val stale = stores.flatMap { case (store, key, open, counter, drop, recordedKey, forged) =>
        open(spark, dir)
        val pj = Paths.get(CorpusArtifact.root(store, dir, key), "params.json")
        val txt = Files.readString(pj)
        val edited = s""""$recordedKey": [^,}]+""".r
          .replaceAllIn(txt, s""""$recordedKey": $forged""")
        assert(edited != txt, s"$store: $recordedKey not recorded in $txt")
        Files.writeString(pj, edited)
        drop()
        val before = counter.get()
        open(spark, dir)
        val builds = counter.get() - before
        // a rebuild also rewrites the manifest with the true value
        if (builds == 1 && Files.readString(pj) == txt) None
        else Some(s"$store ($recordedKey forged to $forged): $builds builds")
      }
      assert(stale.isEmpty,
        s"a changed recorded value must rebuild, not serve the stale artifact: ${stale.mkString("; ")}")
    }
  }

  test("a params.json in the hand-formatted {\"k\": v, ...} spelling opens each store without a rebuild") {
    withCorpusDir { dir =>
      val rebuilt = stores.flatMap { case (store, key, open, counter, drop, _, _) =>
        open(spark, dir)
        val pj = Paths.get(CorpusArtifact.root(store, dir, key), "params.json")
        Files.writeString(pj, CorpusArtifact.mapper.readTree(Files.readString(pj))
          .properties().asScala.map { e =>
            val v = e.getValue
            s""""${e.getKey}": ${if (v.isTextual) s""""${v.asText}"""" else v.asText}"""
          }.mkString("{", ", ", "}"))
        drop()
        val before = counter.get()
        open(spark, dir)
        if (counter.get() == before) None else Some(store)
      }
      assert(rebuilt.isEmpty, s"a hand-formatted manifest rebuilt: ${rebuilt.mkString(", ")}")
    }
  }

  test("two threads opening the same fresh store build it once and read identical rows") {
    withCorpusDir { dir =>
      val before = EmbPairsStore.buildCount.get()
      val barrier = new CyclicBarrier(2)
      val pool = Executors.newFixedThreadPool(2)
      try {
        // separate sessions: distinct open-memo keys, so both threads reach
        // the per-path lock instead of sharing one memo entry
        val results = Seq.fill(2)(spark.newSession()).map { s =>
          pool.submit(() => {
            barrier.await()
            sortedRows(EmbPairsStore.pairs(s, dir))
          })
        }.map(_.get(300, TimeUnit.SECONDS))
        assert(EmbPairsStore.buildCount.get() == before + 1,
          "concurrent opens of one store must build it exactly once")
        assert(results.head.nonEmpty, "banded corpus produced no verified pairs")
        assert(results(0) == results(1), "concurrent opens served different edge sets")
      } finally pool.shutdownNow()
    }
  }
}
