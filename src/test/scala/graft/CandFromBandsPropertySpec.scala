package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.operators.Dedup

/** `Dedup.candFromBands` pinned differentially: seeded random band tables
  * (doc_id, band, key, sk0..sk2) with a small cap, bucket sizes drawn
  * just under, at and over the cap and sub-keys skewed so sub-buckets
  * straddle it too, must yield exactly the pairs of [[CandFromBandsModel]]
  * — every (a < b) pair of a bucket of size ≤ cap, plus every (a < b)
  * pair sharing a sub-bucket of size ≤ cap inside an oversized bucket,
  * each pair once.
  */
class CandFromBandsPropertySpec extends SparkSpec {
  import CandFromBandsModel._

  private val Trials = 30

  private def candidates(c: Case): Seq[(Long, Long)] = {
    import spark.implicits._
    val bands = c.rows.map(r => (r.doc, r.band, r.key, r.sk(0), r.sk(1), r.sk(2)))
      .toDF("doc_id", "band", "key", "sk0", "sk1", "sk2")
    Dedup.candFromBands(bands, c.cap).collect().toSeq
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
  }

  test("candFromBands equals the capped-bucket model on random band tables") {
    var trial = 0
    val seen = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAllNoShrink(genCase) { c =>
      trial += 1
      coverage(c).foreach(k => seen(k) += 1)
      val got = candidates(c).sorted
      val want = pairs(c).toSeq.sorted
      Prop(got == want) :| s"trial $trial cap ${c.cap} rows ${c.rows.mkString("; ")}: " +
        s"got ${got.mkString(",")}, want ${want.mkString(",")}"
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(Trials)
      .withInitialSeed(Seed(20241020L)).withWorkers(1), prop)
    assert(result.passed, Pretty.pretty(result, Pretty.Params(2)))
    info(seen.toSeq.sorted.map { case (k, n) => s"$k in $n" }.mkString(", "))
    // every cap boundary was exercised, on both levels
    assert(Coverage.forall(k => seen(k) > 0), seen)
  }
}

object CandFromBandsModel {
  case class Row(doc: Long, band: Int, key: String, sk: Seq[String])
  case class Case(cap: Long, rows: Seq[Row])

  private val SubBands = Dedup.SubBands

  /** (band, key) → member docs. */
  private def buckets(c: Case): Map[(Int, String), Seq[Row]] = c.rows.groupBy(r => (r.band, r.key))

  private def allPairs(docs: Seq[Long]): Set[(Long, Long)] =
    (for (a <- docs; b <- docs if a < b) yield (a, b)).toSet

  /** The pairs candFromBands must return. */
  def pairs(c: Case): Set[(Long, Long)] =
    buckets(c).values.flatMap { members =>
      if (members.size <= c.cap) allPairs(members.map(_.doc))
      else (0 until SubBands).flatMap { sb =>
        members.groupBy(_.sk(sb)).values.filter(_.size <= c.cap)
          .flatMap(sub => allPairs(sub.map(_.doc)))
      }
    }.toSet

  val Coverage = Seq("bucket < cap", "bucket = cap", "bucket > cap",
    "sub-bucket = cap", "sub-bucket > cap")

  /** Which cap boundaries a case exercises (buckets of two or more docs). */
  def coverage(c: Case): Set[String] = buckets(c).values.filter(_.size >= 2).flatMap { m =>
    val n = m.size.toLong
    val subs = if (n > c.cap) (0 until SubBands).flatMap(sb => m.groupBy(_.sk(sb)).values
      .map(_.size.toLong).collect {
        case s if s == c.cap => "sub-bucket = cap"
        case s if s > c.cap => "sub-bucket > cap"
      }) else Nil
    Seq(if (n < c.cap) "bucket < cap" else if (n == c.cap) "bucket = cap" else "bucket > cap") ++ subs
  }.toSet

  /** 1–2 bands over a pool of docs; each band splits a shuffle of
    * the pool into buckets of sizes around the cap. A doc's sub-keys are
    * the same in every band (as in `lshBands`), drawn from {p, q} with a
    * skew, so an oversized bucket's sub-buckets land under, at and over
    * the cap.
    */
  val genCase: Gen[Case] = for {
    cap <- Gen.choose(2L, 4L)
    nDocs <- Gen.choose(6, 16)
    sks <- Gen.listOfN(nDocs, Gen.listOfN(SubBands, Gen.frequency(3 -> "p", 2 -> "q")))
    nBands <- Gen.choose(1, 2)
    perBand <- Gen.listOfN(nBands, for {
      rank <- Gen.listOfN(nDocs, Gen.choose(0, Int.MaxValue))
      sizes <- Gen.listOfN(6, Gen.oneOf(1L, cap - 1, cap, cap, cap + 1, cap + 2, 2 * cap + 1))
    } yield ((0 until nDocs).sortBy(rank(_)), sizes))
  } yield {
    val rows = perBand.zipWithIndex.flatMap { case ((docs, sizes), band) =>
      val ends = sizes.scanLeft(0L)(_ + _).takeWhile(_ < docs.size) :+ docs.size.toLong
      ends.sliding(2).zipWithIndex.flatMap { case (Seq(from, to), bucket) =>
        docs.slice(from.toInt, to.toInt).map(d => Row(d.toLong, band, s"k$bucket", sks(d)))
      }
    }
    Case(cap, rows)
  }
}
