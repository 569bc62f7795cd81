package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.MinhashBands
import graft.queries.Llm

/** The row-local MinHash and RP-LSH kernels ([[graft.expr.MinhashBands]],
  * [[graft.expr.RpBuckets]]) against the explode → group-by forms they
  * replaced, kept here as the reference: the same rows, compared with
  * `exceptAll` both ways, on the real tables and on edge cases; the
  * builders' plans are map-only; and the star exit of [[Llm.dedupGroups]]
  * skips the rounds exactly when the seed labels are the fixpoint. */
class LshKernelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val sfDirs =
    Seq(TestSpark.sfDir, Paths.get(TestSpark.sfDir).resolveSibling("sf0.01").toString)

  /** The reference MinHash postings: explode every bigram shingle, take
    * string minima of md5 slices per doc, md5 the band concatenations. */
  private def minhashBandRowsRef(docs: DataFrame, bands: Int,
                                 rowsPerBand: Int): DataFrame = {
    val nHashes = bands * rowsPerBand
    val nSeeds = (nHashes + 3) / 4
    val sh = Llm.shingleRows(docs).select(
      col("doc_id") +: (0 until nSeeds).map { s =>
        md5(concat(lit(('a' + s).toChar.toString + ":"), col("gram"))).as(s"m$s")
      }: _*)
    val mins = (0 until nHashes).map { h =>
      min(substring(col(s"m${h / 4}"), (h % 4) * 8 + 1, 8)).as(s"h$h")
    }
    val sig = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val bandKeys = (0 until bands).map { b =>
      md5(concat((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*))
        .as(s"bk$b")
    }
    sig.select(col("doc_id") +: bandKeys: _*)
      .select(col("doc_id"),
        posexplode(array((0 until bands).map(b => col(s"bk$b")): _*))
          .as(Seq("band", "bkey")))
  }

  /** The reference RP-LSH buckets: explode every coordinate, sum the
    * signed coordinates back per vector. */
  private def rpBandBucketsRef(e: DataFrame, bands: Int, bits: Int): DataFrame = {
    val ex = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xd", col("x").cast("double"))
    val dots = for (b <- 0 until bands; j <- 0 until bits) yield
      sum(when(pmod(xxhash64(lit(b), lit(j), col("pos")), lit(2)) === 0,
        col("xd")).otherwise(-col("xd"))).as(s"d_${b}_$j")
    val agg = ex.groupBy("vec_id").agg(dots.head, dots.tail: _*)
    val bandCols = (0 until bands).map { b =>
      (0 until bits).map(j => when(col(s"d_${b}_$j") > 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _).as(s"bkt$b")
    }
    agg.select(col("vec_id") +: bandCols: _*)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: kernel-only rows ${extra.take(5).mkString(", ")}; " +
        s"reference-only rows ${missing.take(5).mkString(", ")}")
  }

  private val edgeDocs = Seq[(Long, String)](
    (1L, null), (2L, ""), (3L, "one"), (4L, "doubled  spaces  here"),
    (5L, " leading and trailing "), (6L, "héllo wörld 日本語 ünïcode ok"),
    (7L, "two words"), (8L, "one")).toDF("doc_id", "text")

  test("minhash_bands kernel: the reference postings on documents and edge cases") {
    for (dir <- sfDirs; (bands, rpb) <- Seq((4, 2), (3, 3), (5, 1))) {
      val d = Tables.documents(spark, dir).select("doc_id", "text")
      assertSameRows(Llm.minhashBandRows(d, bands, rpb),
        minhashBandRowsRef(d, bands, rpb), s"documents $dir ($bands, $rpb)")
    }
    for ((bands, rpb) <- Seq((4, 2), (3, 3), (5, 1))) {
      val got = Llm.minhashBandRows(edgeDocs, bands, rpb)
      assertSameRows(got, minhashBandRowsRef(edgeDocs, bands, rpb),
        s"edge docs ($bands, $rpb)")
      // null text has no signature; every other doc posts `bands` rows
      assert(got.filter(col("doc_id") === 1L).isEmpty)
      assert(got.count() === 7L * bands)
    }
    // identical texts share every band key
    val keys = Llm.minhashBandRows(edgeDocs).filter(col("doc_id").isin(3L, 8L))
      .groupBy("band").agg(countDistinct("bkey").as("n")).collect()
    assert(keys.forall(_.getLong(1) == 1L))
  }

  test("rp_buckets kernel: the reference buckets on embeddings and edge cases") {
    for (dir <- sfDirs; (bands, bits) <- Seq((3, 8), (4, 6))) {
      val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
      assertSameRows(Llm.rpBandBuckets(e, bands, bits),
        rpBandBucketsRef(e, bands, bits), s"embeddings $dir ($bands, $bits)")
    }
    val nan = Float.NaN
    val edge = Seq[(Long, Seq[java.lang.Float])](
      (1L, null), (2L, Seq()), (3L, Seq(null, 1.5f, null)), (4L, Seq(null, null)),
      (5L, Seq(nan, 1f, -2f)), (6L, Seq(-0.0f, -0.0f)), (7L, Seq(0.0f, -0.0f, 0.0f)),
      (8L, Seq(1e30f, -1e30f, 3f, Float.PositiveInfinity)),
      (9L, Seq(0.25f, -0.5f, 0.75f, -1f, 1.25f, -1.5f)))
      .toDF("vec_id", "embedding")
    for ((bands, bits) <- Seq((3, 8), (4, 6))) {
      val got = Llm.rpBandBuckets(edge, bands, bits)
      assertSameRows(got, rpBandBucketsRef(edge, bands, bits), s"edge vectors ($bands, $bits)")
      // null and empty vectors have no row, like the reference
      assert(got.select("vec_id").as[Long].collect().sorted.toSeq === (3L to 9L))
    }
    // a double-typed vector buckets like its float twin
    val asDouble = edge.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    assertSameRows(Llm.rpBandBuckets(asDouble, 3, 8), Llm.rpBandBuckets(edge, 3, 8),
      "double vs float vectors")
  }

  test("the kernels' plans: no exchange, no aggregate, no generator over shingles") {
    val d = Tables.documents(spark, TestSpark.sfDir)
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    // every node of the final plan, stages entered (PlanBudgets' walk)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    def executed(df: DataFrame): Seq[SparkPlan] = {
      df.collect()
      nodes(df.queryExecution.executedPlan)
    }
    val mh = executed(Llm.minhashBandRows(d))
    assert(!mh.exists(_.isInstanceOf[ShuffleExchangeLike]), "minhash plans an exchange")
    assert(!mh.exists(_.isInstanceOf[BaseAggregateExec]), "minhash plans an aggregate")
    val gens = mh.collect { case g: GenerateExec => g }
    assert(gens.size === 1, s"minhash plans ${gens.size} generators")
    assert(gens.head.generator.children.exists(_.isInstanceOf[MinhashBands]),
      s"the one generator explodes band keys, not shingles: ${gens.head.generator}")
    val rp = executed(Llm.rpBandBuckets(e, 3, 8))
    assert(!rp.exists(_.isInstanceOf[ShuffleExchangeLike]), "rp buckets plan an exchange")
    assert(!rp.exists(_.isInstanceOf[BaseAggregateExec]), "rp buckets plan an aggregate")
    assert(!rp.exists(_.isInstanceOf[GenerateExec]), "rp buckets plan a generator")
  }

  private def groups(edges: Seq[(Long, Long)], maxIters: Int = 25): Map[Long, Long] =
    Llm.dedupGroups(edges.toDF("doc_a", "doc_b"), maxIters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dedupGroups star exit: star components take no round") {
    // maxIters = 0 admits no round at all, so only the star exit can
    // return; repeated edges, a one-edge component, a lone self-loop and
    // a centre with several leaves are all stars
    val stars = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 2L), (10L, 11L),
      (20L, 22L), (20L, 21L), (30L, 30L))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L)
    assert(groups(stars, maxIters = 0) === want)
    assert(groups(stars) === want)
  }

  test("dedupGroups star exit: non-stars still reach the min label") {
    // a leaf with two roots: 3 hangs off both 1 and 2
    val twoRoots = Seq((1L, 3L), (2L, 3L))
    // a root that is also a leaf: 2 is the centre of {5, 6} and a leaf of 1
    val rootLeaf = Seq((2L, 5L), (2L, 6L), (1L, 2L))
    // self-loops on a leaf and on a centre
    val loops = Seq((1L, 3L), (3L, 3L), (7L, 7L), (7L, 8L), (8L, 9L))
    for ((edges, want) <- Seq(
        twoRoots -> Map(1L -> 1L, 2L -> 1L, 3L -> 1L),
        rootLeaf -> Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L),
        loops -> Map(1L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))) {
      assert(groups(edges) === want, s"edges $edges")
      // these need rounds: with none allowed the loop must refuse
      val e = intercept[IllegalStateException](groups(edges, maxIters = 0))
      assert(e.getMessage.contains("did not converge"))
    }
  }
}
