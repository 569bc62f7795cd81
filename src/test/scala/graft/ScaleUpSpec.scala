package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the 10× replica constructor the scale gate measures on —
  * the harness itself is part of the scale claim, so its invariants are
  * proven: exact row scaling, cross-copy key disjointness (joins stay
  * per-copy), and the two perturbation claims (text structure preserved
  * while shingles change; embedding norms and within-copy cosines
  * preserved while cross-copy similarity scrambles). Runs at sf0.001 ×3 —
  * the construction is factor- and SF-agnostic. */
class ScaleUpSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val out: String = {
    val dir = Files.createTempDirectory("graft_scaleup").toString
    ScaleUp.replicate(spark, TestSpark.sfDir, dir, copies = 3)
    dir
  }

  test("every table scales by exactly the copy count; copies are key-disjoint") {
    for (t <- Tables.names) {
      val src = spark.read.parquet(s"${TestSpark.sfDir}/$t.parquet")
      val rep = spark.read.parquet(s"$out/$t.parquet")
      assert(rep.count() === 3 * src.count(), s"$t row count")
    }
    val doc = spark.read.parquet(s"$out/documents.parquet")
    assert(doc.select("doc_id").distinct().count() === doc.count(),
      "shifted keys collide nowhere")
    // referential integrity holds WITHIN each copy: every lineitem order
    // key resolves (the shifts move fact and dimension keys in lockstep)
    val li = spark.read.parquet(s"$out/lineitem.parquet")
    val o = spark.read.parquet(s"$out/orders.parquet")
    assert(li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
      .count() === 0L, "fact keys resolve after the shift")
  }

  test("text perturbation preserves length/whitespace but kills cross-copy identity") {
    val rep = spark.read.parquet(s"$out/documents.parquet")
    val src = spark.read.parquet(s"${TestSpark.sfDir}/documents.parquet")
    val n = src.count()
    // per-copy length distribution identical (translate is 1:1)
    val lenBySrc = src.select(sum(length(col("text")))).head.getLong(0)
    val lenByCopy = rep.withColumn("copy", (col("doc_id") / 100000000L).cast("int"))
      .groupBy("copy").agg(sum(length(col("text"))).as("s"))
      .orderBy("copy").collect().map(_.getLong(1)).toSeq
    assert(lenByCopy === Seq(lenBySrc, lenBySrc, lenBySrc))
    // cross-copy texts differ: no document's copy-1 text equals its copy-0
    // text (unless the text carries no ring characters at all)
    val joined = rep.filter(col("doc_id") < 100000000L).as("a")
      .join(rep.filter(col("doc_id") >= 100000000L && col("doc_id") < 200000000L).as("b"),
        col("a.doc_id") === col("b.doc_id") - 100000000L)
      .select(col("a.text").as("t0"), col("b.text").as("t1"))
    val same = joined.filter(col("t0") === col("t1"))
      .filter(col("t0").rlike("[aeioustnrlAEIOUSTNRL]")).count()
    assert(same === 0L, "ring rotation must change every ring-bearing text")
    assert(joined.filter(length(col("t0")) =!= length(col("t1"))).count() === 0L,
      "rotation is length-preserving")
    assert(n > 0)
  }

  test("hot-key skew variant: ~30% bands, disjoint, referentially intact, other tables shared (r16)") {
    val dir = Files.createTempDirectory("graft_skewvar").toString
    ScaleUp.materializeSkew(spark, TestSpark.sfDir, dir)
    val src = spark.read.parquet(s"${TestSpark.sfDir}/lineitem.parquet")
    val skew = spark.read.parquet(s"$dir/lineitem.parquet")
    val n = src.count().toDouble
    assert(skew.count().toLong === n.toLong, "same volume, different key distribution")
    val topOrder = skew.groupBy("l_orderkey").count()
      .orderBy(col("count").desc).head
    val topSupp = skew.groupBy("l_suppkey").count()
      .orderBy(col("count").desc).head
    assert(topOrder.getLong(1) / n > 0.25 && topOrder.getLong(1) / n < 0.35,
      s"one orderkey must carry ~30%: ${topOrder.getLong(1) / n}")
    assert(topSupp.getLong(1) / n > 0.25 && topSupp.getLong(1) / n < 0.40,
      s"one supplier must carry ~30%+its organic share: ${topSupp.getLong(1) / n}")
    // DISJOINT bands: the hot supplier's rows keep diverse orderkeys (this
    // is what lets q_skew_salt's orderkey-derived salt split the hot
    // supplier — correlated skew would collapse it onto one salt value)
    val hotSupp = topSupp.getLong(0)
    val saltCount = skew.filter(col("l_suppkey") === hotSupp)
      .select(pmod(col("l_orderkey"), lit(8L))).distinct().count()
    assert(saltCount === 8L, "the hot supplier's rows must span all 8 salts")
    // referential integrity: the hot orderkey is an EXISTING order
    val o = spark.read.parquet(s"$dir/orders.parquet")
    assert(skew.join(o, skew("l_orderkey") === o("o_orderkey"), "left_anti")
      .count() === 0L)
    // non-fact tables ride by symlink (same bytes, zero copy cost)
    assert(Files.isSymbolicLink(java.nio.file.Paths.get(dir, "orders.parquet")))
  }

  test("auditJoins: scalar stacks and global-agg exchanges are benign; real products and 1-partition shuffles trip (r16)") {
    def audited(df: org.apache.spark.sql.DataFrame): (Boolean, Boolean, Boolean) = {
      df.collect() // finalize the adaptive plan — the audit's own contract
      ScaleUp.auditJoins(df.queryExecution.executedPlan)
    }
    val big = spark.range(1000).toDF("k")
    val big2 = spark.range(1000).toDF("j")
    // scalar-aggregate crossJoin stack (the q_warehouse_etl report shape)
    val scalarStack = big.agg(sum("k").as("a"))
      .crossJoin(big2.agg(count(lit(1)).as("b")))
      .crossJoin(big.agg(max("k").as("c")))
    val (n1, s1, _) = audited(scalarStack)
    assert(!n1, "scalar product stack must not read as a nested-loop hazard")
    assert(!s1, "global-agg SinglePartition exchanges are the 1-row shape")
    // a genuine non-scalar product IS the hazard
    val (n2, _, _) = audited(big.crossJoin(big2))
    assert(n2, "a real 1000x1000 product must trip the audit")
    // a 1-partition shuffle OUTSIDE a global agg is the one-reducer smell
    val (_, s3, _) = audited(big.repartition(1).groupBy("k").count())
    assert(s3, "repartition(1) must trip the single-reducer check")
    // an ordinary keyed join is clean
    val (n4, s4, _) = audited(
      big.join(big2.withColumnRenamed("j", "k"), "k").groupBy("k").count())
    assert(!n4 && !s4)
  }

  test("annRecall helper clears the unit-gate floors on the real sf corpus (r16)") {
    val hits = ScaleUp.annRecall(spark, TestSpark.sfDir).toMap
    val floors = graft.etl.AnnQuality.minRecall
    Seq("lsh", "ivf", "ivfpq").foreach { p =>
      assert(hits(p) >= floors(p),
        s"$p: ${hits(p)} below floor ${floors(p)} with the fixture planted " +
          "inside the real embeddings corpus")
    }
  }

  test("embedding sign flips preserve norms exactly and scramble cross-copy cosine") {
    val rep = spark.read.parquet(s"$out/embeddings.parquet")
    val pairs = rep.filter(col("vec_id") < 100000000L).as("a")
      .join(rep.filter(col("vec_id") >= 100000000L && col("vec_id") < 200000000L).as("b"),
        col("a.vec_id") === col("b.vec_id") - 100000000L)
      .select(
        expr("aggregate(a.embedding, 0D, (s, x) -> s + cast(x as double) * x)").as("n0"),
        expr("aggregate(b.embedding, 0D, (s, x) -> s + cast(x as double) * x)").as("n1"),
        expr("aggregate(zip_with(a.embedding, b.embedding, (x, y) -> cast(x as double) * y), 0D, (s, v) -> s + v)").as("dot"))
    // norms bit-preserved (sign flip only)
    assert(pairs.filter(col("n0") =!= col("n1")).count() === 0L)
    // cross-copy cosine scrambled: mean |cos| well under self-similarity 1
    val meanAbs = pairs
      .select(avg(abs(col("dot") / sqrt(col("n0") * col("n1"))))).head.getDouble(0)
    assert(meanAbs < 0.5, s"cross-copy |cosine| should collapse, got $meanAbs")
  }
}
