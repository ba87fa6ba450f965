package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._

/** Kernel layer: the codegen'd `graft.functions` expressions over the
  * in-memory `documents.text` and `embeddings.embedding` columns, as
  * input bytes per second per core, beside a `length(text)` baseline
  * over the same cached column. Each kernel's output is written to the
  * `noop` sink, so it is evaluated for every row.
  */
object Kernels {
  private def secondsOf(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def measure(spark: SparkSession, o: Opts): Seq[Metric] = {
    val cores = Runtime.getRuntime.availableProcessors
    val copies = if (o.tiny) 2 else 32
    def replicated(table: String, c: String): DataFrame = {
      val one = graft.core.Tables.load(spark, o.dataDir, table).select(col(c))
      Seq.fill(copies)(one).reduce(_ union _).repartition(cores).cache()
    }
    val text = replicated("documents", "text")
    val emb = replicated("embeddings", "embedding")
    try {
      val textBytes = text.agg(sum(octet_length(col("text")))).head().getLong(0).toDouble
      val embBytes = emb.agg(sum(size(col("embedding")))).head().getLong(0) * 4.0
      val textKernels: Seq[(String, Column)] = Seq(
        "length" -> length(col("text")),
        "fingerprint" -> FingerprintExpr.fp(col("text")),
        "simhash_fp" -> SimhashFpExpr.fp(col("text")),
        "shingles" -> ShinglesExpr.hashes(col("text"), 3),
        "ws_tokens" -> WsTokensExpr.tokens(col("text")),
        "ngrams" -> NgramsExpr.grams(col("text"), 2, false),
        "rake_phrases" -> RakePhrasesExpr.phrases(col("text")),
        "text_stats" -> TextStatsExpr.stats(col("text")))
      val runs = textKernels.map { case (n, c) => (n, text.select(c.as("out")), textBytes) } :+
        (("dot_f", emb.select(VectorFunctions.dotF(col("embedding"), col("embedding")).as("out")),
          embBytes))
      runs.map { case (name, df, bytes) =>
        secondsOf(df) // warm: codegen + JIT
        val t = Seq.fill(3)(secondsOf(df)).sorted.apply(1)
        Metric(s"functions.$name.bytes_per_s_core", bytes / t / cores, "B/s", 3)
      }
    } finally {
      text.unpersist()
      emb.unpersist()
    }
  }
}
