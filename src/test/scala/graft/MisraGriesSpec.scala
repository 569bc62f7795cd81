package graft

import org.scalacheck.{Gen, Properties, Test => ScTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.MisraGriesAgg
import graft.queries.LlmText

/** Misra–Gries sketch contract (SURVEY.md §2.9 `q_heavy_hitters`, §2.11):
  * the candidate set must be COMPLETE for every item above n/(k+1) — that
  * completeness is what makes the sketch-then-verify two-pass bit-exact —
  * and residual counts may underestimate truth by at most n/(k+1), under
  * any reduce order and any merge tree (the map-side-partial execution
  * shuffles arbitrary splits of the stream through merge()). */
class MisraGriesSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("q_heavy_hitters equals the vocabulary-wide exact aggregation") {
    import org.apache.spark.sql.functions._
    val got = LlmText.qHeavyHitters(spark, TestSpark.sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val exactCounts = Tables.documents(spark, TestSpark.sfDir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = exactCounts.map(_._2).sum
    val want = exactCounts.filter { case (_, n) => n.toDouble >= total * 0.02 }.toSet
    assert(got === want, "sketch-then-verify diverged from the exact GROUP BY")
    assert(got.nonEmpty)
  }

  test("sketch survives forced partial/merge execution (many partitions)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // vocab (40) > k (8): decrements and merge-trims must actually fire,
    // and the two heavy words must still be in the candidate keys.
    val heavy = Seq.fill(500)("alpha") ++ Seq.fill(400)("beta")
    val tail = (0 until 40).flatMap(i => Seq.fill(10)(s"w$i"))
    val words = scala.util.Random.shuffle(heavy ++ tail).toDF("word")
      .repartition(16)
    val mg = udaf(new MisraGriesAgg(8))
    val keys = words.agg(mg(col("word")).as("sk"))
      .select(explode(map_keys(col("sk"))).as("w"))
      .as[String].collect().toSet
    assert(keys.size <= 8, s"buffer exceeded k: $keys")
    assert(keys.contains("alpha") && keys.contains("beta"),
      s"heavy items lost by partial/merge execution: $keys")
  }
}

/** Generative MG guarantees, pure Scala (no Spark jobs — reduce/merge are
  * plain functions), so many cases are cheap. */
object MisraGriesProps extends Properties("MisraGries") {

  override def overrideParameters(p: ScTest.Parameters): ScTest.Parameters =
    p.withMinSuccessfulTests(60)
      .withInitialSeed(org.scalacheck.rng.Seed(0x5EEDA16L)) // reproducible-by-artifact

  private val genStream: Gen[List[String]] = for {
    n <- Gen.choose(1, 400)
    // skewed alphabet: small ids much more likely, vocabulary up to 30
    s <- Gen.listOfN(n, Gen.frequency(
      (8, Gen.choose(0, 2)), (3, Gen.choose(3, 9)), (1, Gen.choose(10, 29))))
  } yield s.map(i => s"w$i")

  private val genK: Gen[Int] = Gen.choose(1, 12)

  private def truth(s: List[String]): Map[String, Long] =
    s.groupBy(identity).view.mapValues(_.size.toLong).toMap

  property("sequential reduce keeps every item above n/(k+1)") =
    forAll(genStream, genK) { (s, k) =>
      val a = new MisraGriesAgg(k)
      val sketch = a.finish(s.foldLeft(a.zero)(a.reduce))
      val bound = s.size.toDouble / (k + 1)
      sketch.size <= k &&
        truth(s).forall { case (w, c) => c <= bound || sketch.contains(w) }
    }

  property("arbitrary merge tree keeps the guarantee and the residual bound") =
    forAll(genStream, genK, Gen.choose(2, 6)) { (s, k, parts) =>
      val a = new MisraGriesAgg(k)
      val chunks = s.grouped(math.max(1, s.size / parts)).toList
      val sketch = a.finish(chunks.map(_.foldLeft(a.zero)(a.reduce))
        .foldLeft(a.zero)(a.merge))
      val bound = s.size.toDouble / (k + 1)
      val t = truth(s)
      sketch.size <= k &&
        t.forall { case (w, c) => c <= bound || sketch.contains(w) } &&
        sketch.forall { case (w, r) =>
          r <= t.getOrElse(w, 0L) && t(w) - r <= bound + 1e-9 }
    }

  property("buffer invariant: live prefix stays strictly sorted and positive") =
    forAll(genStream, genK) { (s, k) =>
      val a = new MisraGriesAgg(k)
      val buf = s.foldLeft(a.zero)(a.reduce)
      (0 until buf.n - 1).forall(i => buf.words(i).compareTo(buf.words(i + 1)) < 0) &&
        (0 until buf.n).forall(i => buf.counts(i) > 0) &&
        buf.words.length == k && buf.counts.length == k
    }
}
