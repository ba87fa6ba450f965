package graft

import org.apache.spark.sql.{AnalysisException, Column, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.functions._

/** The seven text kernels pinned differentially on seeded random strings
  * built from the six ASCII separators, multi-byte codepoints that Java
  * `\s` does not match (U+00A0, U+3000, an emoji) and short words: every
  * kernel equals the legacy builtin chain its own spec pins, with the
  * shared token walk's boundary empties (leading, trailing, both, and the
  * empty text) drawn on purpose, on the codegen and the interpreted path.
  * `Hashing.h60jvm` must equal the `Hashing.h60` column on the same
  * strings. A non-STRING child must fail analysis with an error naming
  * the kernel.
  */
class TextKernelPropertySpec extends SparkSpec {

  private val Trials = 12
  private val DocsPerTrial = 40

  private val pieces = Seq(" ", "\t", "\n", "\u000B", "\f", "\r", "  ",
    "\u00A0", "\u3000", "\uD83D\uDE00",
    "a", "the", "of", "and", "to", "in", "is", "der", "el", "le",
    "x", "ab", "Q7", "caf\u00E9", "the the", "!?")

  private val genText: Gen[String] =
    Gen.choose(0, 24).flatMap(k => Gen.listOfN(k, Gen.oneOf(pieces))).map(_.mkString)

  private val genDocs: Gen[Seq[String]] = Gen.listOfN(DocsPerTrial, genText)

  private val tk = "split(text, '\\\\s+')"

  private def gramsSql(n: Int): String =
    s"""CASE WHEN size($tk) >= $n
            THEN transform(sequence(1, size($tk) - ${n - 1}),
                           i -> array_join(slice($tk, i, $n), ' '))
            ELSE slice($tk, 1, 0) END"""

  private val h60Sql = "CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)"

  private val bits = graft.operators.Dedup.SimhashBits

  private val stopArr = "array('the','a','of','and','to','in','is','')"

  /** (name, native kernel, legacy builtin chain) — one column pair each. */
  private val pairs: Seq[(String, Column, Column)] = Seq(
    ("ws_tokens", WsTokensExpr.tokens(col("text")), split(col("text"), "\\s+")),
    ("doc_fingerprint", FingerprintExpr.fp(col("text")), expr(
      s"""aggregate(
            transform($tk,
                      x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT) % 1000003),
            0L, (acc, x) -> (acc * 31 + x) % 2147483647)""")),
    ("simhash_fp", SimhashFpExpr.fp(col("text")), expr(
      s"""aggregate(
            transform(array_distinct($tk),
                      t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)),
            array_repeat(0L, $bits),
            (acc, h) -> zip_with(acc, sequence(0L, ${bits - 1}L),
              (a, i) -> a + CASE WHEN (h div shiftleft(1L, CAST(i AS INT))) % 2 = 1
                                 THEN 1L ELSE -1L END),
            acc -> aggregate(
              zip_with(acc, sequence(0L, ${bits - 1}L),
                (s, i) -> CASE WHEN s > 0 THEN shiftleft(1L, CAST(i AS INT))
                               ELSE 0L END),
              0L, (x, y) -> x + y))""")),
    ("shingle_hashes n=1", ShinglesExpr.hashes(col("text"), 1),
      expr(s"transform(array_distinct(${gramsSql(1)}), g -> $h60Sql)")),
    ("shingle_hashes n=3", ShinglesExpr.hashes(col("text"), 3),
      expr(s"transform(array_distinct(${gramsSql(3)}), g -> $h60Sql)")),
    ("ngrams n=1", NgramsExpr.grams(col("text"), 1, false), expr(gramsSql(1))),
    ("ngrams n=2 distinct", NgramsExpr.grams(col("text"), 2, true),
      expr(s"array_distinct(${gramsSql(2)})")),
    ("ngrams n=3", NgramsExpr.grams(col("text"), 3, false), expr(gramsSql(3))),
    ("rake_phrases", RakePhrasesExpr.phrases(col("text")), expr(
      s"""transform(
            CASE WHEN size(tk) < 1 THEN CAST(array() AS ARRAY<INT>)
                 ELSE filter(sequence(1, size(tk)),
                      i -> NOT element_at(flag, i)
                           AND (i = 1 OR element_at(flag, i - 1))) END,
            s -> array_join(
              slice(tk, s,
                coalesce(array_min(filter(
                  CASE WHEN size(tk) < 1 THEN CAST(array() AS ARRAY<INT>)
                       ELSE filter(sequence(1, size(tk)), i -> element_at(flag, i)) END,
                  x -> x > s)), size(tk) + 1) - s),
              ' '))""")),
    ("text_stats", TextStatsExpr.stats(col("text")), struct(
      expr(s"size($tk)").cast("long"),
      expr(s"aggregate($tk, 0L, (a, x) -> a + length(x))"),
      expr(s"size(filter($tk, x -> x rlike '[a-z]'))").cast("long"),
      expr(s"size(filter($tk, x -> x IN ('the','a','of','and','to','in','is')))").cast("long"),
      regexp_count(col("text"), lit("[^a-z0-9\\s]")).cast("long"),
      expr(s"size(filter($tk, x -> x = 'the'))").cast("long"),
      expr(s"size(filter($tk, x -> x = 'der'))").cast("long"),
      expr(s"size(filter($tk, x -> x = 'el'))").cast("long"),
      expr(s"size(filter($tk, x -> x = 'le'))").cast("long"))))

  private def plain(v: Any): Any = v match {
    case r: Row => r.toSeq
    case other => other
  }

  /** The kernel/legacy mismatches on `texts`, plus any h60jvm != h60. */
  private def mismatches(texts: Seq[String]): Seq[String] = {
    import spark.implicits._
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .repartition(2) // evaluate in tasks, not folded into a local relation
      .withColumn("tk", split(col("text"), "\\s+"))
      .withColumn("flag", expr(s"transform(tk, t -> array_contains($stopArr, t))"))
      .select(col("text") +: Hashing.h60(col("text")) +:
        pairs.flatMap { case (_, n, l) => Seq(n, l) }: _*)
      .collect()
    rows.toSeq.flatMap { r =>
      val text = r.getString(0)
      val h60 = if (Hashing.h60jvm(text) == r.getLong(1)) Nil
        else Seq(s"h60jvm ${Hashing.h60jvm(text)} != h60 ${r.getLong(1)}")
      h60 ++ pairs.indices.flatMap { k =>
        val (native, legacy) = (plain(r.get(2 + 2 * k)), plain(r.get(3 + 2 * k)))
        if (native == legacy) None
        else Some(s"${pairs(k)._1} on ${text.map(_.toInt).mkString("[", ",", "]")}: " +
          s"native $native, legacy $legacy")
      }
    }
  }

  // Both runs evaluate in tasks, so both ship the kernel expressions by
  // Java serialization; the interpreted run goes through each `compute`.
  Seq("codegen" -> Nil,
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).foreach { case (path, confs) =>
    test(s"every text kernel equals its legacy builtin chain on random strings ($path)") {
      var trial = 0
      val shapes = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
      val ws = (c: Char) => " \t\n\u000B\f\r".indexOf(c) >= 0
      val prop = Prop.forAllNoShrink(genDocs) { texts =>
        trial += 1
        texts.foreach { t =>
          if (t.isEmpty) shapes("empty") += 1
          else {
            if (ws(t.head)) shapes("leading") += 1
            if (ws(t.last)) shapes("trailing") += 1
            if (t.forall(ws)) shapes("all-separators") += 1
          }
        }
        val bad = withConf(confs: _*)(mismatches(texts))
        Prop(bad.isEmpty) :| s"trial $trial: ${bad.take(5).mkString("; ")}"
      }
      val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(Trials)
        .withInitialSeed(Seed(20261020L)).withWorkers(1), prop)
      assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
      info(shapes.toSeq.sorted.map { case (k, n) => s"$k in $n" }.mkString(", "))
      assert(Seq("empty", "leading", "trailing", "all-separators").forall(shapes(_) > 0), shapes)
    }
  }

  test("a non-STRING child fails analysis naming the kernel") {
    val kernels: Seq[(String, Column => Column)] = Seq(
      "ws_tokens" -> (c => WsTokensExpr.tokens(c)),
      "doc_fingerprint" -> (c => FingerprintExpr.fp(c)),
      "simhash_fp" -> (c => SimhashFpExpr.fp(c)),
      "shingle_hashes" -> (c => ShinglesExpr.hashes(c, 3)),
      "ngrams" -> (c => NgramsExpr.grams(c, 2, false)),
      "rake_phrases" -> (c => RakePhrasesExpr.phrases(c)),
      "text_stats" -> (c => TextStatsExpr.stats(c)))
    kernels.foreach { case (name, kernel) =>
      val e = intercept[AnalysisException] {
        spark.range(3).select(kernel(col("id").cast("int")).as("k")).collect()
      }
      assert(e.getMessage.contains(s"$name expects a STRING child, got INT"),
        s"$name: ${e.getMessage}")
    }
  }
}
