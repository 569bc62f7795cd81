package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Llm, LlmEmbed, LlmKnn, LlmMix, LlmRetrieval, LlmText}

/** Properties for the hash-based near-dup pipelines (SURVEY.md §2.9
  * `q_dedup_minhash` collision behavior — golden values are meaningless for
  * LSH, collision structure is the contract) and recall for the LSH ANN
  * variant vs the brute-force baseline. */
class LlmSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val base =
    "spark scan filter join hash merge sort window batch vector line data key value table part"

  test("bigram perplexity flags scrambled twins the unigram form provably cannot (r15 judge #4)") {
    // 16 fluent docs built from cyclic rotations of one 10-word sentence
    // (every adjacent pair is a cyclic FORWARD pair) plus 2 reversed twins
    // (same BAG of words, every pair a backward pair). The bag is identical
    // across all 18 docs, so the order-0 model scores every doc the same —
    // the order-1 model is the smallest one that can see the difference.
    val dir = java.nio.file.Files.createTempDirectory("graft_ppl2").toString
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo",
                    "foxtrot", "golf", "hotel", "india", "juliet")
    def rot(r: Int) = words.drop(r) ++ words.take(r)
    val fluent = (1 to 16).map(i =>
      (i.toLong, Seq.fill(3)(rot(i % 4)).flatten.mkString(" ")))
    val reversedText = Seq.fill(3)(words.reverse).flatten.mkString(" ")
    val all = fluent ++ Seq(17L -> reversedText, 18L -> reversedText)
    all.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("src0"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val uni = LlmText.qLmPerplexity(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(uni.values.map(_._1).toSet.size === 1,
      "identical bags of words: the unigram model scores all 18 docs equally")
    assert(uni.values.forall(!_._2), "order-0 flags nothing here")

    val bi = LlmText.qLmPerplexity2(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getBoolean(3))).toMap
    val fluentMax = (1L to 16L).map(bi(_)._1).max
    val scrambledMin = Seq(17L, 18L).map(bi(_)._1).min
    assert(scrambledMin > fluentMax,
      f"backward pairs must score strictly worse: $scrambledMin%.3f vs $fluentMax%.3f")
    assert(bi.filter(_._2._2).keySet === Set(17L, 18L),
      "the P90 cut flags exactly the scrambled twins (the worst decile)")
    // P90-cut PARITY with the unigram form: identical decile discipline —
    // same output schema, same flag rule; on this corpus the forms differ
    // exactly where word ORDER is the only signal
    assert(LlmText.qLmPerplexity2(spark, dir).columns.toSeq ===
      LlmText.qLmPerplexity(spark, dir).columns.toSeq)
  }

  test("MMR reranking trades redundant high-relevance hits for coverage; plain top-k cannot (r16)") {
    // Planted geometry: a REDUNDANT cluster of 8 near-identical vectors at
    // rel≈0.90 and 7 mutually-diverse vectors at rel≈0.85. Plain top-10 by
    // relevance is dominated by the cluster; under λ=0.7 a second cluster
    // pick scores 7·9000−3·9999 ≈ 33k while a diverse pick scores
    // 7·8500−3·7650 ≈ 36.5k — MMR takes ONE cluster representative, then
    // covers the diverse directions, then backfills.
    val dir = java.nio.file.Files.createTempDirectory("graft_mmr").toString
    val dim = 9 // axis 0 probe, axis 1 cluster residual, axes 2..8 diverse
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def axis(i: Int, a: Double, j: Int, b: Double): Array[Double] = {
      val v = Array.fill(dim)(0.0); v(i) = a; v(j) = b; v
    }
    val probe = 0L -> unit(axis(0, 1.0, 1, 0.0))
    val cluster = (1L to 8L).map(i =>
      i -> unit(axis(0, 0.9, 1, 0.436 + 0.0001 * i)))
    val diverse = (9L to 15L).map(i =>
      i -> unit(axis(0, 0.85, (i - 7).toInt, 0.5268)))
    val rows = (probe +: (cluster ++ diverse)).map { case (id, v) =>
      (id, (id % 4).toInt, v) }
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val clusterIds = (1L to 8L).toSet
    val plain = LlmKnn.qKnnCosine(spark, TestSpark.sfDir) // warm registration
    val top10 = graft.SparkEntry.queries("q_knn_cosine")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(top10.intersect(clusterIds).size >= 8,
      s"plain top-10 must be cluster-dominated: $top10")
    val mmr = LlmRetrieval.qMmrRerank(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(mmr.length === 10)
    val mmrIds = mmr.map(_._2).toSet
    assert(mmrIds.intersect(clusterIds).size <= 3,
      s"MMR must not hoard the redundant cluster: $mmrIds")
    assert((9L to 15L).forall(mmrIds.contains),
      s"MMR must cover every diverse direction: $mmrIds")
    assert(clusterIds.contains(mmr.head._2),
      "the seed pick is still pure argmax relevance (a cluster member)")
    // deterministic across runs (greedy over snapped integers)
    val again = LlmRetrieval.qMmrRerank(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(again.toSeq === mmr.toSeq)
    assert(plain.columns.nonEmpty)
  }

  test("minhash: identical docs collide; disjoint-vocabulary docs do not") {
    val other = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val pairs = Llm.minhashPairs(docs(1L -> base, 2L -> base, 3L -> other))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "identical docs must collide in every band")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "doc with disjoint shingles must not share any band bucket")
  }

  test("minhash: near-duplicate (one token edited) still collides in some band") {
    val edited = base.replace("part", "unit")
    val pairs = Llm.minhashPairs(docs(1L -> base, 2L -> edited))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "docs sharing 13/17 bigrams should collide in >=1 of 4 bands")
  }

  test("minhash is deterministic across runs") {
    val d = docs(1L -> base, 2L -> base.replace("part", "unit"), 3L -> "a b c d e")
    val r1 = Llm.minhashPairs(d).collect().toSeq
    val r2 = Llm.minhashPairs(d).collect().toSeq
    assert(r1 === r2)
  }

  test("dedupGroups: chained pairs merge into one component, others stay apart") {
    import spark.implicits._
    // edges: 1-2, 2-3, 9-1 (one component via chaining), 5-6 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 1L)).toDF("doc_a", "doc_b")
    val groups = Llm.dedupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("dedupGroups frontier propagation: a long path graph still reaches the fixpoint") {
    import spark.implicits._
    // A 40-node path (multi-round propagation — exercises the r18 frontier
    // optimization: from round 2 the neighbor join ships only changed
    // labels) plus a 5-clique and an isolated edge. Expected: every path
    // node labels 0, the clique labels 100, the edge labels 200.
    val path = (0L until 39L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val pairs = (path ++ clique :+ (200L, 201L)).toDF("doc_a", "doc_b")
    val groups = Llm.dedupGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 39L).forall(groups(_) == 0L))
    assert((100L to 104L).forall(groups(_) == 100L))
    assert(groups(200L) == 200L && groups(201L) == 200L)
  }

  test("bandStarEdges: star CC input yields components identical to the pair cliques") {
    // The r18 CC-input optimization: per-bucket (min, member) star edges
    // instead of the k²/2 member pairs. Must cover the same vertex set and
    // produce IDENTICAL connected components on the real corpus.
    val d = graft.Tables.documents(spark, TestSpark.sfDir)
    val viaPairs = Llm.dedupGroups(Llm.minhashPairs(d)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStars = Llm.dedupGroups(Llm.minhashCcEdges(d)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStars === viaPairs)
    // canonical-form contract: doc_a is the bucket min, so strictly smaller
    val stars = Llm.minhashCcEdges(d).collect()
    assert(stars.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("simhash: identical docs have hamming 0; pair survives the <=3 filter") {
    val rows = Llm.simhashPairs(docs(1L -> base, 2L -> base))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.toSeq === Seq((1L, 2L, 0)))
  }

  test("simhash: banded OR-join recovers EVERY true Hamming<=3 pair (pigeonhole)") {
    // Corpus of one-token edits of a long base doc: small true Hamming
    // distances, with the differing bits landing in arbitrary bands. The 4x16
    // band OR-join must emit exactly the pairs at exact-64-bit Hamming <= 3 —
    // including any pair whose diffs all fall inside a single band (the class
    // the r2 top-byte blocking could miss).
    val longBase = (base + " " + base.toUpperCase + " extra tokens for width").split(" ")
    val corpus = (0 until 12).map { i =>
      val edited = longBase.updated(i % longBase.length, s"edit$i")
      i.toLong -> edited.mkString(" ")
    } :+ (99L -> "totally disjoint vocabulary zeta eta theta")
    val d = docs(corpus: _*)

    val fps = Llm.simhashFingerprints(d).collect()
      .map(r => r.getLong(0) -> Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toMap
    def ham(a: Seq[Int], b: Seq[Int]): Int =
      a.zip(b).map { case (x, y) => java.lang.Integer.bitCount(x ^ y) }.sum
    val ids = fps.keys.toSeq.sorted
    val truePairs = (for {
      i <- ids; j <- ids if i < j
      h = ham(fps(i), fps(j)) if h <= 3
    } yield (i, j, h)).toSet

    val got = Llm.simhashPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === truePairs,
      s"banded pairs != exact Hamming<=3 pairs:\n got=$got\n true=$truePairs")
    assert(truePairs.exists(p => p._3 >= 1),
      "vacuous corpus: no pair at Hamming 1..3 — tighten the edit distance")
    // at least one recovered pair agrees on only ONE band (all diffs in the
    // other bands) — the case constant-prefix blocking misses by construction
    val bandAgree = truePairs.map { case (i, j, _) =>
      fps(i).zip(fps(j)).count { case (x, y) => x == y } }
    assert(bandAgree.nonEmpty && bandAgree.min >= 1, "pigeonhole violated?")
  }

  test("native cosine_similarity matches the HOF formulation bit-exactly, in codegen") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(org.apache.spark.sql.functions.col("vec_id"),
              org.apache.spark.sql.functions.col("embedding"))
    import org.apache.spark.sql.functions._
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("pv"))
    val both = e.crossJoin(broadcast(probe))
      .withColumn("native", call_function("cosine_similarity", col("embedding"), col("pv")))
      .withColumn("hof", Llm.cosineHof(col("embedding"), col("pv")))
    // bit-exact: same float->double promotions, same sequential fold order
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    // codegen check on a native-only projection (the HOF baseline column is
    // CodegenFallback and would evict any shared projection from WSCG);
    // execute first — AQE shows the starred WSCG markers only in the final plan
    val nativeOnly = e.crossJoin(broadcast(probe))
      .select(call_function("cosine_similarity", col("embedding"), col("pv")).as("native"))
    nativeOnly.collect()
    val plan = nativeOnly.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project.*"),
      s"cosine_similarity projection fell out of whole-stage codegen:\n$plan")
    // SQL surface works too (registered via GraftExtensions / ensureRegistered)
    val viaSql = spark.sql(
      "SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
      "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").collect()(0).getDouble(0)
    assert(math.abs(viaSql - 1.0) < 1e-12)
  }

  test("content-defined chunks re-align after an insertion (fixed-size chunks cannot)") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    // a long pseudo-doc; insert one word near the front of the copy
    val words = (0 until 400).map(i => s"tok${i % 60}_${(i * 7) % 13}")
    val orig = words.mkString(" ")
    val edited = (words.take(10) ++ Seq("INSERTED") ++ words.drop(10)).mkString(" ")
    def chunkTexts(id: Long, text: String): Set[String] = {
      val ws = text.split(" ")
      LlmText.contentChunkFrame(docs(id -> text)).collect()
        .map(r => ws.slice(r.getAs[Int]("start_pos"),
                           r.getAs[Int]("end_pos") + 4).mkString(" "))
        .toSet
    }
    val a = chunkTexts(1L, orig)
    val b = chunkTexts(2L, edited)
    // every chunk not touching the insertion point must re-align exactly:
    // only the chunk(s) containing the edit may differ on either side
    val shared = a.intersect(b)
    assert(a.size - shared.size <= 2 && b.size - shared.size <= 2,
      s"insertion destroyed ${a.size - shared.size}/${a.size} chunks — " +
        "boundaries are not content-defined")
    assert(shared.nonEmpty && a != b)
  }

  test("native word_ngrams matches the HOF formulation exactly, in codegen") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    import org.apache.spark.sql.functions._
    // corpus docs + every short-doc edge case (0..3 words yield EMPTY)
    val edge = docs(100L -> "", 101L -> "a", 102L -> "a b", 103L -> "a b c",
                    104L -> "a b c d", 105L -> "x x x x x")
    val corpus = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text")).unionByName(edge)
      .withColumn("w", split(col("text"), " "))
    val both = corpus
      .withColumn("native", call_function("word_ngrams", col("w"), lit(4)))
      .withColumn("hof", expr(
        """CASE WHEN size(w) >= 4
          |THEN transform(sequence(1, size(w) - 3), i -> array_join(slice(w, i, 4), ' '))
          |ELSE CAST(array() AS array<string>) END""".stripMargin))
    assert(both.filter(not(col("native") <=> col("hof"))).count() === 0,
      "native gram arrays diverge from the HOF formulation")
    // the native projection must stay inside whole-stage codegen
    val nativeOnly = corpus
      .select(call_function("word_ngrams", col("w"), lit(4)).as("g"))
    nativeOnly.collect()
    val plan = nativeOnly.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project.*"),
      s"word_ngrams projection fell out of whole-stage codegen:\n$plan")
  }

  test("near-dup pair stages are blocked equi-joins — never all-pairs") {
    // The 100 TB contract: candidate pairs must come from hash-partitionable
    // equi-joins on bucket keys, not nested-loop/cartesian expansion.
    Seq(
      Llm.qDedupMinhash(spark, TestSpark.sfDir),
      Llm.qDedupSimhash(spark, TestSpark.sfDir),
      Llm.qDedupCosine(spark, TestSpark.sfDir)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"all-pairs join in plan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in plan:\n$plan")
    }
  }

  test("knn top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = LlmKnn.qKnnCosine(spark, TestSpark.sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered in plan:\n$plan")
  }

  test("knn LSH on the real table: probe first, sorted desc, candidate set << n") {
    val df = LlmKnn.qKnnCosineLsh(spark, TestSpark.sfDir)
    val lsh = df.collect()
    assert(lsh.length === 10)
    // probe (vec_id 0) has cos 1.0 with itself and always probes its own bucket
    assert(lsh.head.getLong(0) === 0L)
    val sims = lsh.map(_.getDouble(2)).toSeq
    assert(sims === sims.sorted(Ordering[Double].reverse), "not sorted by cos desc")
    // the DECLARED query path reads the persisted posting lists through a
    // partition-pruned scan (bands×(bits+1) = 27 of 768 cells), not an
    // in-query corpus hash — the same contract the IVF twin certifies
    val postingScans = fileScans(df.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("PartitionFilters", "").contains("band"))
    assert(postingScans.nonEmpty,
      "declared LSH query has no partition-filtered posting-list scan")
    postingScans.foreach { s =>
      val read = s.metrics("numPartitions").value
      assert(read <= 27, s"posting scan read $read cells — expected ≤ 27 of 768")
    }
    // the coarse stage must prune, not scan: candidates well under the corpus
    val e = Tables.embeddings(spark, TestSpark.sfDir)
    val n = e.count()
    val nCand = LlmKnn.knnLshCandidates(e, 0L, bands = 3, bits = 8, radius = 1).count()
    assert(nCand < n / 3, s"ANN candidate set is not sublinear: $nCand of $n")
  }

  test("ANN index cache key: same-size regenerated corpus changes the key") {
    // Byte size alone can alias a regenerated corpus; the key must derive
    // from content. Write two same-size, different-content "corpora" and
    // assert their default index dirs differ (and rename-stability: the
    // same bytes give the same key).
    val dir = java.nio.file.Files.createTempDirectory("graft_fp").toString
    val f = java.nio.file.Paths.get(dir, "embeddings.parquet")
    java.nio.file.Files.write(f, Array.fill[Byte](8192)(1))
    val k1 = graft.etl.AnnIndex.defaultIvfDir(dir, nlist = 16)
    val k1b = graft.etl.AnnIndex.defaultIvfDir(dir, nlist = 16)
    assert(k1 === k1b, "fingerprint must be deterministic")
    val bytes = Array.fill[Byte](8192)(1); bytes(5000) = 2 // same size, one byte differs
    java.nio.file.Files.write(f, bytes)
    val k2 = graft.etl.AnnIndex.defaultIvfDir(dir, nlist = 16)
    assert(k1 !== k2, "same-size different-content corpus must change the index key")
    val l1 = graft.etl.AnnIndex.defaultLshDir(dir, bands = 3, bits = 8)
    java.nio.file.Files.write(f, Array.fill[Byte](8192)(1))
    val l2 = graft.etl.AnnIndex.defaultLshDir(dir, bands = 3, bits = 8)
    assert(l1 !== l2, "LSH key must track content too")
  }

  test("knn LSH: recall clears the shared floor on a corpus with genuine near neighbors") {
    // LSH recall is similarity-dependent: on uniform-random vectors the
    // exact "top-10" sit at cos~0.3 (indistinguishable from the bulk — no
    // sublinear method recovers them), so the recall contract is stated
    // where ANN is meaningful: planted near-duplicates of the probe. The
    // fixture and the per-path floors are SHARED with the unified quality
    // harness (AnnQuality.plantedCorpus / minRecall, r10) — this test adds
    // the persisted-index-free in-query candidate path, which AnnQualitySpec
    // does not cover.
    import graft.etl.AnnQuality
    val (probe, e) = AnnQuality.plantedCorpus(spark)

    val exact = LlmKnn.knnExact(e, 0L, 11).collect().map(_.getLong(0)).toSet
    assert((0L to 9L).forall(exact) && exact(99L), "planted dups must top brute force")

    val lsh = LlmKnn.knnLsh(e, 0L, 11, bands = 3, bits = 8, radius = 1)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(lsh).size
    assert(recall >= AnnQuality.minRecall("lsh"),
      s"ANN recall too low: $recall/11 (lsh=$lsh)")

    val nCand = LlmKnn.knnLshCandidates(e, 0L, 3, 8, 1).count()
    assert(nCand < AnnQuality.CorpusRows / 3,
      s"candidate set is not sublinear on planted corpus: $nCand of ${AnnQuality.CorpusRows}")

    // IVF path on the same corpus, through the PERSISTED index: build once
    // to a temp dir (the ingest job), then probe — no training anywhere in
    // the query path. Near-dups share the probe's centroid list, so
    // nprobe/nlist of the data suffices for high recall.
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    graft.etl.AnnIndex.build(e, idxDir, nlist = 16)
    val ivf = LlmKnn.knnIvfProbe(spark, idxDir, probe.map(_.toDouble), 0L, 11, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    val ivfRecall = exact.intersect(ivf).size
    assert(ivfRecall >= graft.etl.AnnQuality.minRecall("ivf"),
      s"IVF recall too low: $ivfRecall/11 (ivf=$ivf)")

    // SQ8 path on the same corpus, through the persisted quantized index:
    // int8 cosine error is ~1e-2, so at 4x oversampling recall on planted
    // near-dups should be essentially perfect (>=10/11).
    val sq8Dir = java.nio.file.Files.createTempDirectory("graft_sq8_idx").toString
    graft.etl.AnnIndex.buildSq8(e, sq8Dir)
    val sq8 = LlmKnn.knnSq8Probe(spark, sq8Dir, e, probe.map(_.toDouble), 0L,
        k = 11, oversample = 4)
      .collect().map(_.getLong(0)).toSet
    val sq8Recall = exact.intersect(sq8).size
    assert(sq8Recall >= graft.etl.AnnQuality.minRecall("sq8"),
      s"SQ8 recall too low: $sq8Recall/11 (sq8=$sq8)")

    // PQ path on the same corpus: m-byte codes are far coarser than int8
    // (4 bytes for 64 dims), but planted near-dups quantize to the probe's
    // own codes, so at 8x oversampling the re-rank recovers them.
    val pqDir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    graft.etl.AnnIndex.buildPq(e, pqDir, m = 4, k = 16)
    val pq = LlmKnn.knnPqProbe(spark, pqDir, e, probe.map(_.toDouble), 0L,
        k = 11, oversample = 8)
      .collect().map(_.getLong(0)).toSet
    val pqRecall = exact.intersect(pq).size
    assert(pqRecall >= graft.etl.AnnQuality.minRecall("pq"),
      s"PQ recall too low: $pqRecall/11 (pq=$pq)")
  }

  test("ivfpq residual encoding (r18): exact rnorm contract, measured win over raw-budget flat PQ; probe scan partition-prunes; recall holds") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val ivfDir = graft.etl.AnnIndex.defaultIvfDir(TestSpark.sfDir, nlist = 16)
    graft.etl.AnnIndex.ensure(e, ivfDir, nlist = 16)
    val flatDir = graft.etl.AnnIndex.defaultPqDir(TestSpark.sfDir, m = 4, k = 16)
    graft.etl.AnnIndex.ensurePq(e, flatDir, m = 4, k = 16)
    val compDir = graft.etl.AnnIndex.defaultIvfPqDir(TestSpark.sfDir, nlist = 16, m = 4, k = 16)
    graft.etl.AnnIndex.ensureIvfPq(e, ivfDir, compDir, m = 4, k = 16)
    // (a) the generation is self-describing: rotation + means + books all
    // ride the codes snapshot
    val model = graft.etl.AnnIndex.ivfPqModel(spark, ivfDir, compDir)
    assert(model.rot.nonEmpty, "residual codes must carry their OPQ rotation")
    val rot = model.rot
    val dim = 64
    assert(rot.length === dim && rot.forall(_.length === dim))
    // the rotation is orthonormal (rows from the deterministic PCA basis)
    for (i <- 0 until dim; j <- i until dim) {
      val d = (0 until dim).map(t => rot(i)(t) * rot(j)(t)).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"rotation rows $i,$j not orthonormal: $d")
    }
    val bookMap = model.books.map { case (s, c, v) => (s, c) -> v }.toMap
    // residual anchors are the per-list MEANS (not the unit cosine
    // centroids — see IvfPqModel's scaladoc for the measured reason)
    val meanMap = model.means.toMap
    assert(meanMap.nonEmpty, "residual generation must carry _list_means")
    val sub = dim / 4
    def decode(code: Array[Byte], list: Int): Array[Double] = {
      // x̂ = mean_list + Rᵀ·(concatenated chosen residual sub-centroids)
      val anchor = meanMap.getOrElse(list, Array.fill(dim)(0.0))
      val rhatRot = (0 until 4).flatMap(s => bookMap((s, code(s) & 0xFF))).toArray
      Array.tabulate(dim)(i =>
        anchor(i) + (0 until dim).map(t => rot(t)(i) * rhatRot(t)).sum)
    }
    val embs = e.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val compRows = spark.read.parquet(graft.etl.Compaction.currentPath(s"$compDir/codes"))
      .select("vec_id", "code", "rnorm", "list_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Array[Byte]]("code").toSeq,
        r.getAs[Double]("rnorm"), r.getAs[Int]("list_id")))
    assert(compRows.length === embs.size)
    // (b) rnorm contract: the stored norm IS ‖c_list + Rᵀ·decode(code)‖ —
    // the per-row exact reconstruction norm (replaces the retired r9-r17
    // flat-code parity contract: residual codes deliberately diverge)
    // (c) measured: residual coding reconstructs the corpus strictly better
    // than the flat rotated-raw coding at the SAME (m=4, k=16) byte budget
    var errResid = 0.0
    compRows.foreach { case (id, code, rnorm, list) =>
      val xhat = decode(code.toArray, list)
      val rn = math.sqrt(xhat.map(x => x * x).sum)
      assert(math.abs(rnorm - rn) < 1e-9,
        s"vec $id: stored rnorm $rnorm != recomputed reconstruction norm $rn")
      val emb = embs(id)
      errResid += (0 until dim).map(i => { val d = emb(i) - xhat(i); d * d }).sum
    }
    val flatModel = graft.etl.AnnIndex.pqModel(spark, flatDir)
    val flatRot = flatModel.rot
    val flatBookMap = flatModel.books.map { case (s, c, v) => (s, c) -> v }.toMap
    var errRaw = 0.0
    graft.etl.AnnIndex.pqScan(spark, flatDir)
      .select("vec_id", "code").collect().foreach { r =>
        val code = r.getAs[Array[Byte]]("code")
        val xhatRot = (0 until 4).flatMap(s => flatBookMap((s, code(s) & 0xFF))).toArray
        val xhat = Array.tabulate(dim)(i =>
          (0 until dim).map(t => flatRot(t)(i) * xhatRot(t)).sum)
        val emb = embs(r.getLong(0))
        errRaw += (0 until dim).map(i => { val d = emb(i) - xhat(i); d * d }).sum
      }
    assert(errResid < errRaw,
      f"residual coding must beat raw at the same budget: resid MSE=${errResid / embs.size}%.4f raw MSE=${errRaw / embs.size}%.4f")
    assert(sub === 16) // fixture sanity: 4 subspaces of 16 dims
    // probe path: pruned scan reads <= nprobe of nlist partitions
    val probeVec = e.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    val df = LlmKnn.knnIvfPqProbe(spark, ivfDir, compDir, e, probeVec, 0L,
      k = 10, nprobe = 4, oversample = 8)
    val rows = df.collect()
    df.queryExecution // finalize
    assert(rows.length === 10)
    assert(rows.head.getLong(0) === 0L, "probe must top its own pruned lists")
    val listScans = fileScans(df.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("PartitionFilters", "").contains("list_id"))
    assert(listScans.nonEmpty, "no partition-filtered scan over the IVF-PQ code table")
    listScans.foreach { s =>
      val read = s.metrics("numPartitions").value
      assert(read <= 4, s"IVF-PQ probe read $read list partitions, expected <= nprobe=4")
    }
    // registered query end to end
    assert(LlmKnn.qKnnCosineIvfPq(spark, TestSpark.sfDir).collect().length === 10)
  }

  test("batch IVF-PQ: per-probe results equal the single-probe composite path") {
    // list-equality ADC scoring over ONE pruned union scan must reproduce,
    // per probe, exactly what m independent single-probe composite queries
    // return (same candidate domain, same coarse order, same re-rank).
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val ivfDir = graft.etl.AnnIndex.defaultIvfDir(TestSpark.sfDir, nlist = 16)
    graft.etl.AnnIndex.ensure(e, ivfDir, nlist = 16)
    val compDir = graft.etl.AnnIndex.defaultIvfPqDir(TestSpark.sfDir, nlist = 16, m = 4, k = 16)
    graft.etl.AnnIndex.ensureIvfPq(e, ivfDir, compDir, m = 4, k = 16)
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val batch = LlmKnn.knnIvfPqBatchProbe(spark, ivfDir, compDir, e, probes,
        k = 10, nprobe = 4, oversample = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(batch.length === probes.length * 10, "expected k rows per probe")
    probes.foreach { case (pid, pv) =>
      val single = LlmKnn.knnIvfPqProbe(spark, ivfDir, compDir, e, pv, pid,
          k = 10, nprobe = 4, oversample = 8)
        .collect().map(r => (pid, r.getLong(0), r.getDouble(2))).toSeq
      val got = batch.filter(_._1 == pid).toSeq
      assert(got === single, s"probe $pid: batch IVF-PQ diverges from single-probe path")
    }
    assert(LlmKnn.qKnnBatchIvfPq(spark, TestSpark.sfDir).collect().length === 25)
  }

  test("IVF-PQ serve core: lists-table re-rank equals the corpus-frame batch path") {
    // knnIvfPqBatchServe differs from the batch query core in where the
    // probe vectors and the exact-re-rank vectors COME FROM (the probe
    // broadcast and the partition-pruned lists scan, not a corpus frame) —
    // for corpus-member probes those are the same vectors, so the answers
    // must be identical row-for-row.
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val ivfDir = graft.etl.AnnIndex.defaultIvfDir(TestSpark.sfDir, nlist = 16)
    graft.etl.AnnIndex.ensure(e, ivfDir, nlist = 16)
    val compDir = graft.etl.AnnIndex.defaultIvfPqDir(TestSpark.sfDir, nlist = 16, m = 4, k = 16)
    graft.etl.AnnIndex.ensureIvfPq(e, ivfDir, compDir, m = 4, k = 16)
    val rows = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
    val probesF = rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val probesD = rows.map(r =>
      (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    def shape(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSeq
    val served = shape(LlmKnn.knnIvfPqBatchServe(spark, ivfDir, compDir, probesF,
      k = 10, nprobe = 4, oversample = 8))
    val queried = shape(LlmKnn.knnIvfPqBatchProbe(spark, ivfDir, compDir, e, probesD,
      k = 10, nprobe = 4, oversample = 8))
    assert(served === queried,
      "the serve core must answer exactly like the batch query core")
  }

  test("pq_adc: codegen lookup equals the driver-side ADC sum; codes address the right book") {
    import org.apache.spark.sql.functions._
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_pq_adc").toString
    graft.etl.AnnIndex.buildPq(e, idxDir, m = 4, k = 16)
    val books = graft.etl.AnnIndex.pqCodebooks(spark, idxDir)
    assert(books.map(_._1).distinct.sorted === Seq(0, 1, 2, 3))
    assert(books.count(_._1 == 0) === 16)
    val dim = 64
    val sub = dim / 4
    assert(books.forall(_._3.length === sub))
    // LUT of an arbitrary probe; expression result must equal the plain
    // Scala sum over the row's code bytes
    val probe = e.filter(col("vec_id") === 3L)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toArray
    val lut = new Array[Double](4 * 16)
    books.foreach { case (s, c, cent) =>
      lut(s * 16 + c) =
        (0 until sub).map(j => probe(s * sub + j) * cent(j)).sum
    }
    val rows = graft.etl.AnnIndex.pqScan(spark, idxDir)
      .withColumn("adc", call_function("pq_adc", col("code"), typedLit(lut)))
      .select("vec_id", "code", "adc").collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val code = r.getAs[Array[Byte]]("code")
      assert(code.length === 4)
      val expected = (0 until 4).map(s => lut(s * 16 + (code(s) & 0xFF))).sum
      assert(math.abs(r.getDouble(2) - expected) < 1e-12,
        s"pq_adc diverges from driver sum for vec ${r.getLong(0)}")
    }
    // rnorm is exactly the codebook-reconstruction norm
    val bookMap = books.map { case (s, c, v) => (s, c) -> v }.toMap
    graft.etl.AnnIndex.pqScan(spark, idxDir).collect().foreach { r =>
      val code = r.getAs[Array[Byte]]("code")
      val rn = math.sqrt((0 until 4).flatMap(s =>
        bookMap((s, code(s) & 0xFF)).map(x => x * x)).sum)
      assert(math.abs(r.getAs[Double]("rnorm") - rn) < 1e-9)
    }
  }

  test("pq incremental append: frozen codebooks, appended batch probes consistently") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val idxDir = java.nio.file.Files.createTempDirectory("graft_pq_app").toString
    val base = e.filter(col("vec_id") < 400)
    graft.etl.AnnIndex.buildPq(base, idxDir, m = 4, k = 16)
    val booksBefore = graft.etl.AnnIndex.pqCodebooks(spark, idxDir)
    graft.etl.AnnIndex.appendPq(e.filter(col("vec_id") >= 400), idxDir)
    val booksAfter = graft.etl.AnnIndex.pqCodebooks(spark, idxDir)
    def cmp(b: Seq[(Int, Int, Array[Double])]) =
      b.map { case (s, c, v) => (s, c, v.toSeq) }.toSet
    assert(cmp(booksBefore) === cmp(booksAfter), "append must not retrain codebooks")
    assert(graft.etl.AnnIndex.pqScan(spark, idxDir).count() === 500)
    // appended rows encode against the SAME books: re-encoding the full
    // corpus from scratch with identical books yields identical codes
    val fullDir = java.nio.file.Files.createTempDirectory("graft_pq_full").toString
    graft.etl.AnnIndex.buildPq(e, fullDir, m = 4, k = 16)
    // (codebooks retrain on the full corpus there — compare via append path)
    val appended = graft.etl.AnnIndex.pqScan(spark, idxDir)
      .collect().map(r => r.getLong(0) -> (r.getAs[Array[Byte]]("code").toSeq, r.getAs[Double]("rnorm"))).toMap
    assert(appended.size === 500 && appended.keySet === (0L until 500L).toSet)
  }

  test("cross_source_keep: one survivor per component, priority-min wins") {
    val rows = Llm.qCrossSourceKeep(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3), r.getBoolean(4)))
    val byGroup = rows.groupBy(_._3)
    byGroup.foreach { case (g, members) =>
      val kept = members.filter(_._5)
      assert(kept.length === 1, s"component $g must keep exactly one member")
      val best = members.minBy(m => (m._4, m._1))
      assert(kept.head._1 === best._1,
        s"component $g kept ${kept.head._1}, expected priority-min ${best._1}")
    }
    // the priority rule must actually bite somewhere: some multi-source
    // component keeps a member that is NOT its min doc_id
    val overridden = byGroup.values.exists { members =>
      members.length > 1 && members.filter(_._5).head._1 != members.map(_._1).min
    }
    assert(overridden, "no component exercised the priority-over-min-id rule " +
      "(corpus may lack cross-source near-dups; widen the fixture)")
  }

  test("knn SQ8 on the real table: probe first, sorted desc, quantized coarse scan") {
    val df = LlmKnn.qKnnCosineInt8(spark, TestSpark.sfDir)
    val rows = df.collect()
    assert(rows.length === 10)
    assert(rows.head.getLong(0) === 0L, "probe must rank first (cos 1.0 with itself)")
    val sims = rows.map(_.getDouble(2)).toSeq
    assert(sims === sims.sorted(Ordering[Double].reverse), "not sorted by cos desc")
  }

  test("int8 quantization: driver twin matches the expression; cosine error bounded") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, TestSpark.sfDir).limit(200)
    graft.expr.GraftFunctions.ensureRegistered(spark)
    // driver-side quantizeInt8 must be byte-identical to the codegen
    // int8_pack (a probe arriving with the query scores consistently)
    val packed = e.select(col("vec_id"), col("embedding"),
        call_function("int8_pack", col("embedding")).as("qvec"))
      .collect()
    packed.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val fromExpr = r.getAs[Array[Byte]]("qvec")
      assert(java.util.Arrays.equals(fromExpr, graft.etl.AnnIndex.quantizeInt8(v)),
        s"driver quantizer diverged from int8_pack for vec ${r.getLong(0)}")
    }
    // quantized cosine (int8_dot over quantized norms — scales cancel) must
    // track exact cosine within the int8 error budget
    val q = e.select(col("vec_id"), col("embedding"),
      call_function("int8_pack", col("embedding")).as("qvec"))
    val probeRow = q.filter(col("vec_id") === 0L)
      .select(col("embedding").as("p_emb"), col("qvec").as("p_q")).head()
    val err = q.select(
        call_function("cosine_similarity", col("embedding"),
          lit(probeRow.getSeq[Float](0).toArray)).as("exact_cos"),
        (call_function("int8_dot", col("qvec"), lit(probeRow.getAs[Array[Byte]](1)))
          .cast("double") /
          (sqrt(call_function("int8_dot", col("qvec"), col("qvec")).cast("double")) *
           math.sqrt(graft.etl.AnnIndex.quantizeInt8(
             probeRow.getSeq[Float](0).map(_.toDouble).toArray)
             .map(b => b.toDouble * b).sum))).as("approx_cos"))
      .select(max(abs(col("exact_cos") - col("approx_cos"))).as("max_err"))
      .head().getDouble(0)
    assert(err < 0.03, s"int8 cosine error too large: $err")
  }

  test("BPE tokenizer: greedy merge ladder segments known words; counts are plausible") {
    import org.apache.spark.sql.functions.{explode, split}
    import graft.functions.Bpe
    // full ladders collapse these corpus words to one token
    assert(Bpe.tokenize("table") === Vector("table"))
    assert(Bpe.tokenize("window") === Vector("window"))
    assert(Bpe.tokenize("scan") === Vector("scan"))
    assert(Bpe.tokenize("fast") === Vector("fast"))
    // no applicable merge: stays fully character-split
    assert(Bpe.tokenize("value") === Vector("v", "a", "l", "u", "e"))
    // partial merges, rank order decides: s t -> st first, then r e -> re
    assert(Bpe.tokenize("stream") === Vector("st", "re", "a", "m"))
    assert(Bpe.tokenize("the") === Vector("the"))
    assert(Bpe.tokenize("a") === Vector("a"))
    // every corpus word: 1 <= n_bpe <= chars, and the distributed pass agrees
    val words = Tables.documents(spark, TestSpark.sfDir)
      .select(explode(split(col("text"), " ")).as("w")).distinct()
    val counts = Bpe.tokenCounts(spark, words).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(counts.nonEmpty)
    counts.foreach { case (w, n) =>
      assert(n === Bpe.tokenCount(w), s"distributed count diverges for '$w'")
      assert(n >= 1 && n <= w.length)
    }
  }

  test("source budget / seq pack in BPE mode meter exactly q_token_bpe's counts") {
    val bpeCounts = LlmText.qTokenBpe(spark, TestSpark.sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val budget = LlmMix.sourceBudget(spark, TestSpark.sfDir, useBpe = true).collect()
    assert(budget.nonEmpty)
    budget.foreach { r =>
      assert(r.getInt(2).toLong === bpeCounts(r.getLong(0)),
        s"budget n_tokens diverges from q_token_bpe for doc ${r.getLong(0)}")
    }
    // admission stays a prefix per source: ordered by cum, each row's cum is
    // the previous cum plus its own BPE token count (a true running sum)
    budget.groupBy(_.getString(1)).foreach { case (src, rows) =>
      val ordered = rows.sortBy(_.getLong(3))
      ordered.foldLeft(0L) { (prev, r) =>
        assert(r.getLong(3) === prev + r.getInt(2),
          s"source $src: cum_tokens is not a running sum of BPE counts")
        r.getLong(3)
      }
    }
    val pack = LlmMix.seqPack(spark, TestSpark.sfDir, useBpe = true).collect()
    pack.foreach { r =>
      assert(r.getInt(2).toLong === bpeCounts(r.getLong(0)),
        s"seq pack n_tokens diverges from q_token_bpe for doc ${r.getLong(0)}")
    }
  }

  test("int8_pack: a null element nulls the whole result, in both eval paths") {
    import org.apache.spark.sql.functions._
    graft.expr.GraftFunctions.ensureRegistered(spark)
    // array<float> with containsNull=true: element 1 of row "bad" is null
    val df = spark.sql(
      """SELECT id, CASE WHEN id = 'bad'
        |  THEN array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))
        |  ELSE array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)) END AS v
        |FROM VALUES ('good'), ('bad') AS t(id)""".stripMargin)
    // codegen path (projection over a relation stays in whole-stage codegen)
    val gen = df.select(col("id"), call_function("int8_pack", col("v")).as("q"))
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    assert(gen("bad") == null, "null element must null the packed vector")
    assert(gen("good") != null)
    // interpreted path (eval via an explicit filter on the expression result)
    val interp = graft.expr.Int8Pack(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, -2.0f), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true)))
      .eval(null)
    assert(interp != null)
    val interpNull = graft.expr.Int8Pack(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq[java.lang.Float](1.0f, null),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = true)))
      .eval(null)
    assert(interpNull == null, "interpreted eval must also null on null element")
  }

  test("int8_pack: containsNull=false input compiles codegen (non-nullable branch)") {
    import org.apache.spark.sql.functions._
    graft.expr.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    // a typed Array[Float] encoder yields ArrayType(FloatType, containsNull
    // = false) on a non-nullable column — the shape whose generated code
    // must NOT reference the undeclared isNull variable (it would fail
    // janino compilation and silently fall back to interpreted mode)
    val df = Seq((1L, Array(1.0f, -2.0f, 0.5f)), (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("id", "v")
    val at = df.schema("v").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
    assert(!at.containsNull, "precondition: typed encoder gives containsNull=false")
    val got = df.select(col("id"), call_function("int8_pack", col("v")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("q")).toMap
    assert(java.util.Arrays.equals(got(1L),
      graft.etl.AnnIndex.quantizeInt8(Array(1.0f, -2.0f, 0.5f))))
    assert(java.util.Arrays.equals(got(2L), Array[Byte](0, 0, 0)),
      "all-zero vector packs to zero bytes")
  }

  test("knn IVF on the real table: 10 rows, probe first, sorted desc") {
    val ivf = LlmKnn.qKnnCosineIvf(spark, TestSpark.sfDir).collect()
    assert(ivf.length === 10)
    assert(ivf.head.getLong(0) === 0L, "probe is in its own list with cos 1.0")
    val sims = ivf.map(_.getDouble(2)).toSeq
    assert(sims === sims.sorted(Ordering[Double].reverse))
  }

  test("batch IVF: per-probe results equal the single-probe IVF path; union scan pruned") {
    // The batch path shares one centroid ranking + one pruned union scan
    // across m probes, but per probe it must return EXACTLY what m
    // independent single-probe queries would — the list-equality join means
    // a candidate only ever scores against probes that probe its list, so
    // parity with knnIvfProbe is the whole correctness contract.
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val idxDir = graft.etl.AnnIndex.defaultIvfDir(TestSpark.sfDir, nlist = 16)
    graft.etl.AnnIndex.ensure(e, idxDir, nlist = 16)
    val batch = LlmKnn.qKnnBatchIvf(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    assert(batch.length === probes.length * 5, "expected k rows per probe")
    probes.foreach { case (pid, pv) =>
      val single = LlmKnn.knnIvfProbe(spark, idxDir, pv, pid, k = 5, nprobe = 4)
        .collect().map(r => (pid, r.getLong(0), r.getDouble(2))).toSeq
      val got = batch.filter(_._1 == pid).toSeq
      assert(got === single, s"probe $pid: batch result diverges from single-probe IVF")
    }
    // pruning proof: the ONE candidate scan reads exactly the union of the
    // probed lists, not all nlist partitions
    val union = graft.etl.AnnIndex.nearestListsBatch(spark, idxDir,
      probes.map(_._2).toSeq, nprobe = 4).flatten.distinct
    val df = LlmKnn.qKnnBatchIvf(spark, TestSpark.sfDir)
    df.collect()
    val listScans = fileScans(df.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("PartitionFilters", "").contains("list_id"))
    assert(listScans.nonEmpty, "no partition-filtered scan over the IVF lists table")
    listScans.foreach { s =>
      val read = s.metrics("numPartitions").value
      assert(read <= union.size,
        s"batch probe scan read $read list partitions — expected ≤ union=${union.size}")
    }
  }

  /** Walk an executed (post-AQE) plan down into its query stages and
    * collect every parquet scan node, for partition-pruning assertions. */
  private def fileScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
    }.flatten
  }

  test("IVF probe partition-prunes: every lists-scan reads ≤ nprobe of nlist dirs") {
    val df = LlmKnn.qKnnCosineIvf(spark, TestSpark.sfDir)
    df.collect() // finalize AQE and populate the scan's driver metrics
    val listScans = fileScans(df.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("PartitionFilters", "").contains("list_id"))
    assert(listScans.nonEmpty, "no partition-filtered scan over the IVF lists table")
    listScans.foreach { s =>
      val read = s.metrics("numPartitions").value
      assert(read <= 4,
        s"probe scan read $read list partitions — expected ≤ nprobe=4 of nlist=16")
    }
  }

  test("batch LSH: per-probe results equal the single-probe LSH path") {
    // Same contract as the batch-IVF parity test: one shared pruned posting
    // scan + broadcast cell-table join must reproduce, per probe, exactly
    // what the single-probe candidates-then-re-rank path returns.
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val batch = LlmKnn.qKnnBatchLsh(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(batch.map(_._1).distinct.length === 5, "expected results for all 5 probes")
    (0L until 5L).foreach { pid =>
      val single = LlmKnn.knnLsh(e, pid, k = 10, bands = 3, bits = 8, radius = 1)
        .collect().map(r => (pid, r.getLong(0), r.getDouble(2))).toSeq
      val got = batch.filter(_._1 == pid).toSeq
      assert(got === single, s"probe $pid: batch LSH diverges from single-probe path")
    }
  }

  test("batch SQ8: per-probe results equal the single-probe SQ8 path") {
    // One quantized-index scan scores all probes (map-side literal explode);
    // per probe the coarse TopKPerGroup cut at oversample*k uses the same
    // (score8 desc, vec_id) order as the single-probe TakeOrdered, so the
    // candidate set — and therefore the exact re-rank — must match m
    // independent single-probe queries row for row.
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val idxDir = graft.etl.AnnIndex.defaultSq8Dir(TestSpark.sfDir)
    graft.etl.AnnIndex.ensureSq8(e, idxDir)
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val batch = LlmKnn.knnSq8BatchProbe(spark, idxDir, e, probes, k = 10, oversample = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(batch.length === probes.length * 10, "expected k rows per probe")
    probes.foreach { case (pid, pv) =>
      val single = LlmKnn.knnSq8Probe(spark, idxDir, e, pv, pid, k = 10, oversample = 4)
        .collect().map(r => (pid, r.getLong(0), r.getDouble(2))).toSeq
      val got = batch.filter(_._1 == pid).toSeq
      assert(got === single, s"probe $pid: batch SQ8 diverges from single-probe path")
    }
    // registered query: k=5 over the same 5 probes, 25 rows
    val reg = LlmKnn.qKnnBatchInt8(spark, TestSpark.sfDir).collect()
    assert(reg.length === 25)
  }

  test("batch PQ: per-probe results equal the single-probe PQ path") {
    // Same contract as the other batch-ladder parity tests: the per-probe
    // ADC coarse cut at oversample*k uses the single-probe (score desc,
    // vec_id) order, so candidates — and the exact re-rank — must match m
    // independent single-probe queries row for row.
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val idxDir = graft.etl.AnnIndex.defaultPqDir(TestSpark.sfDir, m = 4, k = 16)
    graft.etl.AnnIndex.ensurePq(e, idxDir, m = 4, k = 16)
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val batch = LlmKnn.knnPqBatchProbe(spark, idxDir, e, probes, k = 10, oversample = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(batch.length === probes.length * 10, "expected k rows per probe")
    probes.foreach { case (pid, pv) =>
      val single = LlmKnn.knnPqProbe(spark, idxDir, e, pv, pid, k = 10, oversample = 8)
        .collect().map(r => (pid, r.getLong(0), r.getDouble(2))).toSeq
      val got = batch.filter(_._1 == pid).toSeq
      assert(got === single, s"probe $pid: batch PQ diverges from single-probe path")
    }
    val reg = LlmKnn.qKnnBatchPq(spark, TestSpark.sfDir).collect()
    assert(reg.length === 25)
  }

  test("persisted LSH posting lists: pruned probe matches the in-query candidates") {
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    graft.etl.AnnIndex.buildLsh(e, idx, bands = 3, bits = 8)
    // probe cells: the probe's own buckets (seeded data-independent
    // hyperplanes -> a 1-row job) plus every Hamming-1 XOR neighbor
    val own = Llm.rpBandBuckets(e.filter(col("vec_id") === 0L), 3, 8).head()
    val cells = for {
      b <- 0 until 3
      m <- 0 +: (0 until 8).map(1 << _).toList
    } yield (b, own.getInt(1 + b) ^ m)
    val probe = graft.etl.AnnIndex.lshProbeScan(spark, idx, cells)
    val got = probe.collect().map(_.getLong(0)).toSet
    val expected = LlmKnn.knnLshCandidates(e, 0L, 3, 8, 1)
      .collect().map(_.getLong(0)).toSet
    assert(got === expected,
      "persisted-index candidate set diverges from the in-query LSH path")
    // pruning proof: the posting scan reads only the probed bands' (band,
    // batch_id) partitions — one batch level per band after a build — and
    // pushes bkt down as a data filter for row-group skipping
    val postingScans = fileScans(probe.queryExecution.executedPlan)
      .filter(_.metadata.getOrElse("PartitionFilters", "").contains("band"))
    assert(postingScans.nonEmpty, "no partition-filtered scan over the posting lists")
    val probedBands = cells.map(_._1).distinct.size
    postingScans.foreach { s =>
      val read = s.metrics("numPartitions").value
      assert(read <= probedBands,
        s"posting scan read $read partitions — expected ≤ $probedBands probed bands")
      val dataFilters = s.metadata.getOrElse("DataFilters", "")
      assert(dataFilters.contains("bkt"),
        s"bkt is not a pushed data filter of the posting scan: $dataFilters")
    }
  }

  test("LSH index append: incremental batches probe identically to a full build") {
    // Seeded data-independent hyperplanes make ingest incremental: bucket
    // assignment for a vector is the same whenever it is computed, so a
    // half-then-half build must equal the one-shot build cell for cell.
    val e = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val full = java.nio.file.Files.createTempDirectory("graft_lsh_full").toString
    val inc = java.nio.file.Files.createTempDirectory("graft_lsh_inc").toString
    graft.etl.AnnIndex.buildLsh(e, full, bands = 3, bits = 8)
    graft.etl.AnnIndex.buildLsh(e.filter(col("vec_id") < 250), inc, bands = 3, bits = 8)
    graft.etl.AnnIndex.appendLsh(e.filter(col("vec_id") >= 250), inc, bands = 3, bits = 8)
    def postings(dir: String) = spark.read.parquet(s"$dir/buckets")
      .select("vec_id", "band", "bkt").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(postings(inc) === postings(full),
      "incrementally-built posting lists diverge from the one-shot build")
    // and a pruned probe over the appended index returns the same candidates
    val own = Llm.rpBandBuckets(e.filter(col("vec_id") === 0L), 3, 8).head()
    val cells = for { b <- 0 until 3; m <- 0 +: (0 until 8).map(1 << _).toList }
      yield (b, own.getInt(1 + b) ^ m)
    val got = graft.etl.AnnIndex.lshProbeScan(spark, inc, cells)
      .collect().map(_.getLong(0)).toSet
    val expected = graft.etl.AnnIndex.lshProbeScan(spark, full, cells)
      .collect().map(_.getLong(0)).toSet
    assert(got === expected, "probe over the appended index diverges")
  }

  test("IVF index append: frozen-centroid assignment, appended near-dups probeable") {
    // The IVF ingest discipline: centroids train once (build), later
    // batches ASSIGN to the frozen centroids and append into the list
    // partitions — a probe immediately sees old + new vectors through the
    // same pruned scan. Near-copies of the probe arriving in the append
    // batch share the probe's centroid geometry, so nprobe lists recover
    // them.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val probe = vec()
    val base = ((0L -> probe) +: (100L until 300L).map(i => i -> vec()))
      .map { case (id, v) => (id, (id % 10).toInt, v) }
      .toDF("vec_id", "label", "embedding")
    val batch = (1000L to 1009L)
      .map(i => (i, (i % 10).toInt,
        probe.map(x => x + 0.15f * rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "label", "embedding")
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    graft.etl.AnnIndex.build(base, idxDir, nlist = 16)
    graft.etl.AnnIndex.appendIvf(batch, idxDir)
    // every appended vector lands in exactly ONE list partition
    val lists = spark.read.parquet(s"$idxDir/lists")
      .filter(col("vec_id") >= 1000L)
      .groupBy("vec_id").count().collect()
    assert(lists.length === 10, s"expected 10 appended vectors, got ${lists.length}")
    assert(lists.forall(_.getLong(1) === 1L), "a vector appended into multiple lists")
    // the pruned probe recovers the appended near-dups
    val found = LlmKnn.knnIvfProbe(spark, idxDir, probe.map(_.toDouble),
        probeId = 0L, k = 11, nprobe = 4)
      .collect().map(_.getLong(0)).filter(_ >= 1000L).toSet
    assert(found.size >= 8,
      s"appended near-dups not recovered by the pruned probe: $found")
  }

  test("dedupGroups: reliable-checkpoint mode produces identical components") {
    // Cluster-durability option: with a checkpoint dir configured, each CC
    // round pins to a RELIABLE checkpoint (survives executor loss) instead
    // of executor-local blocks. Same unique fixpoint either way.
    val pairs = Llm.minhashPairs(Tables.documents(spark, TestSpark.sfDir))
    def run() = Llm.dedupGroups(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val local = run()
    // The same pin policy (Exprs) behind the other pinning paths: the
    // triangle edge pins, the curation flag frame, pinShared,
    // pinPrePartitioned and the CDC fold's lazy pin.
    val pinned = Seq("q_graph_triangles", "q_corpus_curate",
      "q_join_range_scd2", "q_pagerank", "q_cdc_batches")
    def rows(q: String) = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      .collect().map(_.toString).sorted.toSeq
    val localRows = pinned.map(q => q -> rows(q)).toMap
    // TestSpark is shared across suites: restore the (unset) checkpoint dir
    // afterwards so later dedupGroups calls don't silently switch modes, and
    // remove the temp checkpoint files (cleanCheckpoints defaults to false).
    val prev = spark.sparkContext.getCheckpointDir
    val tmp = java.nio.file.Files.createTempDirectory("graft_cc_ckpt")
    try {
      spark.sparkContext.setCheckpointDir(tmp.toString)
      val reliable = run()
      assert(reliable === local,
        "reliable-checkpoint CC diverged from the executor-local run")
      pinned.foreach { q =>
        val r = rows(q)
        assert(r.nonEmpty, s"$q: empty result proves nothing")
        assert(r === localRows(q),
          s"$q: reliable-checkpoint run diverged from the executor-local run")
      }
    } finally {
      spark.sparkContext.setCheckpointDir(prev.orNull)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("seq_pack: offsets stay inside the budget and packs advance monotonically") {
    val rows = LlmMix.qSeqPack(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val off = r.getLong(4)
      assert(off >= 0 && off < 512, s"pack_offset $off outside [0, 512)")
    }
    rows.groupBy(_.getString(1)).foreach { case (lang, docs) =>
      val packs = docs.sortBy(_.getLong(0)).map(_.getLong(3)).toSeq
      assert(packs === packs.sorted, s"$lang: pack ids not monotone over doc order")
      assert(packs.head === 0L, s"$lang: first pack is not 0")
    }
  }

  test("mix_interleave: upweighted source dominates the mixture prefix 3:1") {
    val first = LlmMix.qMixInterleave(spark, TestSpark.sfDir).collect()
      .sortBy(_.getLong(2)).take(120).map(_.getString(1))
    val n0 = first.count(_ == "src0")
    val n2 = first.count(_ == "src2")
    assert(n0 > 2 * n2,
      s"weight-3 src0 ($n0) should outnumber weight-1 src2 ($n2) ~3:1 in the prefix")
  }

  test("mix_interleave: mix_pos IS the dense (pos, source, doc_id) sort rank") {
    // Guard for the one undocumented-contract dependency in the repo:
    // zipWithIndex after orderBy relies on the range-sorted partition order
    // surviving .rdd. If Spark ever stops preserving it, this fails loudly
    // instead of only at oracle time.
    val out = LlmMix.qMixInterleave(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.map(_._3).toSeq === (1L to out.length).toSeq,
      "mix_pos is not a dense 1..n sequence in output order")
    // independently recompute the intended interleave order on the driver
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      val wt = if (src == "src0" || src == "src1") 3.0 else 1.0
      rows.map(_._1).sorted.zipWithIndex.map { case (id, i) =>
        ((i + 1).toDouble / wt, src, id)
      }
    }.sortBy(identity).map(_._3)
    assert(out.map(_._1).toSeq === expected,
      "mix_pos order diverged from the (pos, source, doc_id) sort")
  }

  test("source_overlap: in-row pair expansion equals the self-join formulation") {
    import org.apache.spark.sql.functions._
    // the declared query expands source pairs from one collect_set row per
    // gram; re-state it as the textbook self-join on gram (what the DuckDB
    // oracle also does, but HERE both run in-engine on identical input)
    val got = Llm.qSourceOverlap(spark, TestSpark.sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val toks = split(col("text"), " ")
    val grams = Tables.documents(spark, TestSpark.sfDir)
      .filter(size(toks) >= 2)
      .select(col("source"), explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as("p"))
      .select(col("source"),
        concat_ws(" ", col("p").getField("0"), col("p").getField("1")).as("gram"))
      .distinct()
    val joined = grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got === joined,
      "collect_set pair expansion diverged from the self-join on gram")
  }

  test("fuzzy_match: every pair is ordered, within distance, and block-local") {
    val rows = LlmRetrieval.qFuzzyMatch(spark, TestSpark.sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not ordered id_a < id_b")
      assert(r.getInt(4) <= 3, s"distance ${r.getInt(4)} above threshold")
      assert(r.getString(2).take(4) === r.getString(3).take(4),
        "pair crosses the prefix block — blocking is broken")
    }
  }

  test("containment: catches the short-doc-pasted-in-long-doc case Jaccard misses") {
    // doc 2 = doc 1 verbatim + 5x unrelated filler: 4-gram containment of
    // the smaller side is ~1.0 while Jaccard is ~0.2 — the asymmetric
    // near-dup the symmetric metrics under-score. doc 3 shares nothing
    // (4 words → exactly one 4-gram, absent from both others).
    val filler = (1 to 80).map(i => s"w$i").mkString(" ")
    val d = docs(1L -> base, 2L -> s"$base $filler", 3L -> "alpha beta gamma delta")
    val rows = Llm.containmentPairs(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(5))).toMap
    assert(rows.contains((1L, 2L)), "pasted containment pair missed")
    assert(rows((1L, 2L)) >= 0.99, "smaller side is fully contained")
    assert(!rows.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc must not pair")
  }

  test("containment: prefix filter is lossless vs the naive all-pairs formulation") {
    // Independent naive Spark restatement (full gram x gram join) over the
    // real corpus — the prefix-filtered candidates must reproduce it
    // exactly (the pigeonhole argument, checked empirically; the DuckDB
    // oracle re-proves it cross-engine at the gate).
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, TestSpark.sfDir)
    val tok = d.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .filter(size(col("tk")) >= 4)
    val g = tok.select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(tk)-3), i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1], tk[i+2]))"))
          .as("gram"))
      .distinct()
    val sz = g.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val naive = g.as("a").join(g.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("o"))
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .filter(lit(5) * col("o") >= lit(4) * least(col("na"), col("nb")))
      .select("id_a", "id_b", "o")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toSet
    val pruned = Llm.qContainment(spark, TestSpark.sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(4))).toSet
    assert(pruned === naive, "prefix filter dropped or invented a qualifying pair")
    assert(pruned.nonEmpty)
  }

  test("embed whiten: per-dim z-scores have ~zero mean and ~unit variance") {
    val out = LlmEmbed.qEmbedWhiten(spark, TestSpark.sfDir).collect()
      .map(r => (r.getInt(1), r.getLong(2) / 1e6))
    val byDim = out.groupBy(_._1).values
    byDim.foreach { zs =>
      val n = zs.length
      val mean = zs.map(_._2).sum / n
      val variance = zs.map(z => (z._2 - mean) * (z._2 - mean)).sum / n
      assert(math.abs(mean) < 1e-3, s"dim mean $mean not ~0")
      assert(math.abs(variance - 1.0) < 1e-2, s"dim variance $variance not ~1")
    }
  }

  test("embed covariance: upper triangle complete, matches covar_pop within snap tolerance") {
    import org.apache.spark.sql.functions.{covar_pop, posexplode}
    val out = LlmEmbed.qEmbedCovariance(spark, TestSpark.sfDir).collect()
    val d = 64
    assert(out.length === d * (d + 1) / 2, "expected the full upper triangle")
    val ex = Tables.embeddings(spark, TestSpark.sfDir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .withColumn("x", col("x").cast("double"))
    val ref = ex.as("a")
      .join(ex.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.i") <= col("b.i"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(covar_pop(col("a.x"), col("b.x")).as("c"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    out.foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val got = r.getLong(3) / 1e6
      assert(math.abs(got - ref((i, j))) < 1e-4,
        s"cov($i,$j): snapped $got vs covar_pop ${ref((i, j))}")
    }
  }

  test("sample decay: keep rate falls with age, and all survivors beat their threshold") {
    val out = LlmMix.qSampleDecay(spark, TestSpark.sfDir).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getString(3) < f"${r.getLong(2) * 1048576 / 1000000}%05x"))
    val total = Tables.events(spark, TestSpark.sfDir).count()
    assert(out.length < total, "decay must drop something")
    // weight is monotonically non-increasing in age
    val byAge = out.map(r => (r.getLong(1), r.getLong(2))).distinct.sortBy(_._1)
    byAge.sliding(2).foreach {
      case Array((a1, w1), (a2, w2)) => assert(a1 < a2 && w1 >= w2)
      case _ =>
    }
  }

  test("semdedup: near-identical vector dropped, its lower-id twin and distinct vectors kept") {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val base = Array.tabulate(64)(i => (if (i % 2 == 0) 0.2f else -0.2f))
    val twin = base.clone(); twin(3) = twin(3) + 0.01f // same signs, dot >> threshold
    val ortho = Array.tabulate(64)(i => (if (i % 2 == 0) -0.2f else 0.2f)) // different bucket
    val e = Seq((1L, 0, base.toSeq), (2L, 0, twin.toSeq), (3L, 1, ortho.toSeq))
      .toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<float>").as("embedding"))
    val out = Llm.semDedupFrame(e).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out(1L) === false, "group minimum must survive")
    assert(out(2L) === true, "near-identical higher id must drop")
    assert(out(3L) === false, "other-bucket vector must survive")
  }

  test("dot_micro and bloom_probe: interpreted eval matches the contract") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val a = Array(0.5f, -1.25f, 2.0f, 0.0f)
    val b = Array(1.0f, 2.0f, -0.5f, 3.5f)
    val dm = graft.expr.DotMicro(
      Literal.create(a, ArrayType(FloatType)), Literal.create(b, ArrayType(FloatType)))
    val expected = a.zip(b)
      .map { case (x, y) => math.floor(x.toDouble * y.toDouble * 1e6).toLong }.sum
    assert(dm.eval(null) === expected)
    assert(graft.expr.DotMicro(Literal.create(null, ArrayType(FloatType)),
      Literal.create(b, ArrayType(FloatType))).eval(null) === null)

    val bloom = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    bloom.putString("present")
    val bytes = { val bos = new java.io.ByteArrayOutputStream(); bloom.writeTo(bos); bos.toByteArray }
    def probe(s: String) = graft.expr.BloomProbe(
      Literal.create(s, org.apache.spark.sql.types.StringType), Literal.create(bytes)).eval(null)
    assert(probe("present") === true)
    assert(probe("definitely-absent-key") === false, "1% fpp sketch of 1 key must reject this")
  }

  test("dot_micro native expression is bit-equal to the HOF formulation") {
    import org.apache.spark.sql.functions.{aggregate, call_function, expr => _, floor, lit, zip_with}
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, TestSpark.sfDir).select("vec_id", "embedding")
    val pairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .limit(2000)
      .select(
        call_function("dot_micro", col("a.embedding"), col("b.embedding")).as("native"),
        aggregate(
          zip_with(col("a.embedding"), col("b.embedding"),
            (x, y) => floor(x.cast("double") * y.cast("double") * lit(1e6)).cast("long")),
          lit(0L), (acc, v) => acc + v).as("hof"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("ANN hard negatives: recall vs the exhaustive miner on the same anchors") {
    val exact = LlmKnn.qHardNegatives(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = LlmKnn.qHardNegativesAnn(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ann.intersect(exact).size.toDouble / exact.size
    // measured 0.829 on r10 testdata at nprobe=8/16; floor leaves margin
    // for per-round corpus regeneration (hard negatives are NOT planted
    // near-dups, so IVF recall here is genuinely index-dependent)
    assert(recall >= 0.7,
      f"ANN miner recall $recall%.3f below floor (|exact|=${exact.size}, |ann|=${ann.size})")
  }

  test("NB quality gate matches a brute-force driver-side computation") {
    val rows = Tables.documents(spark, TestSpark.sfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).split(" ").toSeq))
    val cp = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val cn = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    rows.foreach { case (_, src, ws) =>
      ws.foreach(w => if (src == "src0") cp(w) += 1 else cn(w) += 1)
    }
    val vocab = (cp.keySet ++ cn.keySet).size
    val (np, nn) = (cp.values.sum, cn.values.sum)
    val expected = rows.map { case (id, _, ws) =>
      id -> ws.map { w =>
        math.floor((math.log((cp(w) + 1).toDouble / (np + vocab)) -
          math.log((cn(w) + 1).toDouble / (nn + vocab))) * 1e6).toLong
      }.sum
    }.toMap
    val out = LlmText.qQualityNb(spark, TestSpark.sfDir).collect()
    assert(out.length === rows.length)
    out.foreach { r =>
      assert(r.getLong(2) === expected(r.getLong(0)),
        s"doc ${r.getLong(0)}: llr ${r.getLong(2)} vs ${expected(r.getLong(0))}")
      assert(r.getBoolean(4) === (r.getLong(2) > 0))
    }
  }

  test("hard negatives: label-disjoint, rank-complete, matches brute force") {
    val out = LlmKnn.qHardNegatives(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    val vecs = Tables.embeddings(spark, TestSpark.sfDir)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    val labelOf = vecs.map(v => v._1 -> v._2).toMap
    val anchors = vecs.filter(_._1 % 37 == 0)
    assert(out.map(_._1).distinct.length === anchors.length)
    out.foreach { case (aId, _, vId, lbl, _) =>
      assert(lbl === labelOf(vId))
      assert(lbl !== labelOf(aId), s"negative $vId shares anchor $aId's label")
    }
    // brute-force the expected top-5 with the same snapped integer dot
    anchors.foreach { case (aId, aLbl, av) =>
      val expected = vecs.filter(_._2 != aLbl)
        .map { case (vId, _, v) =>
          val dot = av.zip(v).map { case (x, y) => math.floor(x * y * 1e6).toLong }.sum
          (vId, dot)
        }
        .sortBy { case (vId, dot) => (-dot, vId) }.take(5).map(_._1).toSeq
      val got = out.filter(_._1 == aId).sortBy(_._2).map(_._3).toSeq
      assert(got === expected, s"anchor $aId: $got vs $expected")
    }
  }

  test("bloom dedup: crafted corpus — shared-prefix doc flagged, unique docs not") {
    val prefixA = "alpha beta gamma delta epsilon zeta eta theta"
    val d = Seq(
      (1L, "src0", prefixA + " tail one two three"),
      (2L, "src0", "totally different base document opening words here indeed"),
      (3L, "src1", prefixA + " a completely divergent continuation"), // syndicated copy
      (4L, "src1", "unique incoming document nothing shared at all ok"),
      (5L, "src2", "short doc") // < 8 words: prefix = whole doc, no match
    ).toDF("doc_id", "source", "text")
    val out = Llm.bloomDedupFrame(d).collect().map(_.getLong(0)).toSet
    assert(out === Set(3L), s"expected only the shared-prefix doc, got $out")
  }

  test("bloom dedup equals the exact semi-join (confirm step removes all FPs)") {
    import org.apache.spark.sql.functions.{concat_ws, md5, slice, split}
    val d = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))).as("prefix_md5"))
    val baseKeys = d.filter(col("source") === "src0").select("prefix_md5").distinct()
    val exact = d.filter(col("source") =!= "src0")
      .join(baseKeys, Seq("prefix_md5"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = Llm.qDedupBloom(spark, TestSpark.sfDir)
      .collect().map(_.getLong(0)).toSet
    assert(bloom === exact, "bloom+confirm must be bit-equal to the exact semi-join")
  }

  test("Bpe.train: learns the hand-computable merges on a tiny vocabulary") {
    // "abab"×3, "ab"×2: pair counts a·b = 2·3 + 1·2 = 8, b·a = 3 → merge (a,b).
    // After: [ab,ab]×3, [ab]×2 → only pair ab·ab = 3 → merge (ab,ab). Then
    // the single remaining word form has no adjacent pair repeated ≥2 → stop.
    val merges = graft.functions.Bpe.train(Seq(("abab", 3L), ("ab", 2L)), 10)
    assert(merges === IndexedSeq(("a", "b", 8L), ("ab", "ab", 3L)))
  }

  test("Bpe.train tie-break is total: equal counts resolve by (left, right) ascending") {
    // "xy"×2 and "yz"×2 both give their pair count 2 — (x,y) < (y,z)
    val merges = graft.functions.Bpe.train(Seq(("xy", 2L), ("yz", 2L)), 1)
    assert(merges.head === (("x", "y", 2L)))
  }

  test("q_bpe_train: learned merges compress the corpus monotonically and deterministically") {
    val out1 = LlmText.qBpeTrain(spark, TestSpark.sfDir).collect()
    assert(out1.nonEmpty, "corpus must yield learnable merges")
    // ranks are dense from 0 and pair counts never increase with rank
    assert(out1.map(_.getInt(0)).toSeq === out1.indices)
    // applying the learned table must shorten tokenizations: avg BPE tokens
    // per word strictly below avg chars per word on the training vocabulary
    val learned = out1.map(r => (r.getString(1), r.getString(2))).toIndexedSeq
    val rk = learned.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val words = Tables.documents(spark, TestSpark.sfDir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .filter(org.apache.spark.sql.functions.length(col("w")) > 0)
      .distinct().collect().map(_.getString(0))
    val charTotal = words.map(_.length).sum.toDouble
    val bpeTotal = words.map(w => graft.functions.Bpe.tokenize(w, rk).length).sum.toDouble
    assert(bpeTotal < charTotal, s"learned merges must compress: $bpeTotal vs $charTotal")
    val out2 = LlmText.qBpeTrain(spark, TestSpark.sfDir).collect()
    assert(out1.map(_.toString).toSeq === out2.map(_.toString).toSeq,
      "training must be deterministic")
  }

  test("Pca.topComponents: recovers a known eigenbasis, orthonormal, descending eigenvalues") {
    // diag(4, 1, 0.25): principal axes are the coordinate axes in order
    val cov = Array(
      Array(4.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 0.25))
    val (vals, vecs) = graft.etl.Pca.topComponents(cov, 2)
    assert(math.abs(vals(0) - 4.0) < 1e-9 && math.abs(vals(1) - 1.0) < 1e-9)
    assert(math.abs(math.abs(vecs(0)(0)) - 1.0) < 1e-9, "pc1 must be e0")
    assert(math.abs(math.abs(vecs(1)(1)) - 1.0) < 1e-9, "pc2 must be e1")
    assert(vecs(0)(0) > 0 && vecs(1)(1) > 0, "sign canonicalization")
    val dot12 = vecs(0).zip(vecs(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot12) < 1e-9, "components must be orthogonal")
  }

  test("q_embed_pca: variance ordering holds and the projection is deterministic") {
    val out1 = LlmEmbed.qEmbedPca(spark, TestSpark.sfDir).collect()
    assert(out1.length ===
      Tables.embeddings(spark, TestSpark.sfDir).count().toInt)
    def variance(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val v1 = variance(out1.map(_.getLong(2).toDouble))
    val v2 = variance(out1.map(_.getLong(3).toDouble))
    assert(v1 >= v2, s"pc1 variance $v1 must dominate pc2 variance $v2")
    // pc1 captures at least as much variance as any single coordinate axis
    val maxAxisVar = (0 until 64).map { i =>
      variance(Tables.embeddings(spark, TestSpark.sfDir)
        .select(col("embedding")).collect()
        .map(r => r.getSeq[Float](0)(i).toDouble * 1e6))
    }.max
    assert(v1 >= maxAxisVar * 0.999,
      s"pc1 variance $v1 below best axis variance $maxAxisVar")
    val out2 = LlmEmbed.qEmbedPca(spark, TestSpark.sfDir).collect()
    assert(out1.map(_.toString).toSeq === out2.map(_.toString).toSeq,
      "projection must be bit-stable across runs")
  }

  test("char_entropy: single-pass expression is bit-identical to the 27-replace composition") {
    import org.apache.spark.sql.functions.{expr, length, when, lit}
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val d = Tables.documents(spark, TestSpark.sfDir)
    // independent composition: counts via length/replace, terms in the same
    // fixed a..z/space/other order, left-associative sum (the oracle's shape)
    val n = length(col("text")).cast("double")
    val counts = (('a' to 'z').map(_.toString) :+ " ").map { ch =>
      (length(col("text")) - length(expr(s"replace(text, '$ch', '')"))).cast("double")
    }
    val other = n - counts.reduce(_ + _)
    val terms = (counts :+ other).map { c =>
      when(c > 0, -(c / n) * org.apache.spark.sql.functions.log(c / n)).otherwise(lit(0.0))
    }
    val composed = terms.reduce(_ + _)
    val rows = d.select(expr("char_entropy(text)").as("e"), composed.as("c")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
             java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"expression ${r.getDouble(0)} != composition ${r.getDouble(1)}")
    }
  }

  test("char_entropy: known values, empty and null inputs, non-ASCII lands in the other bucket") {
    import org.apache.spark.sql.functions.expr
    graft.expr.GraftFunctions.ensureRegistered(spark)
    val d = Seq((1L, Some("aabb")), (2L, Some("")), (3L, None),
                (4L, Some("aä")), (5L, Some("zzzz"))).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), expr("char_entropy(text)").as("h"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(math.abs(out(1L).get - math.log(2.0)) < 1e-12) // two equal buckets
    assert(out(2L).get === 0.0)                           // empty text
    assert(out(3L) === None)                              // null propagates
    assert(math.abs(out(4L).get - math.log(2.0)) < 1e-12) // 'ä' counts once as other
    assert(out(5L).get === 0.0)                           // single bucket, -0.0 normalized away is fine
  }

  test("q_substring_dedup: offset-drift duplicates form maximal spans that fixed 10-word blocks miss by construction (r17 judge #5)") {
    import spark.implicits._
    // doc 1: 30 distinct words; doc 2 embeds doc 1's words 4..23 (a 20-word
    // verbatim copy) at offset 3 — every fixed 10-word block boundary is
    // straddled, so block-grain dedup sees zero shared blocks
    val w1 = (0 until 30).map(i => s"a$i")
    val copied = w1.slice(4, 24)
    val w2 = Seq("z0", "z1", "z2") ++ copied ++ Seq("z3", "z4")
    val docs = Seq((1L, w1.mkString(" ")), (2L, w2.mkString(" ")))
      .toDF("doc_id", "text")
    val spans = graft.queries.Llm.substringSpans(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    // doc 1: duplicated 10-windows start at 4..14 → one maximal span
    // [4, 23] (20 words); doc 2: starts 3..13 → [3, 22] (20 words)
    assert(spans === Set((1L, 1, 4, 20), (2L, 1, 3, 20)),
      s"maximal spans must recover the exact copied region, got $spans")
    // the gap this query closes: at these offsets the two docs share NO
    // fixed-aligned 10-word block, so qBlockDedup's grain cannot see the
    // duplicate at all
    val blocks1 = w1.grouped(10).map(_.mkString(" ")).toSet
    val blocks2 = w2.grouped(10).map(_.mkString(" ")).toSet
    assert(blocks1.intersect(blocks2).isEmpty,
      "fixture invariant: the copy must straddle every fixed block boundary")
    // sub-anchor-length duplicates (< 10 words) emit nothing: trim the
    // copy to 9 words and the span disappears
    val w3 = Seq("y0", "y1") ++ w1.slice(4, 13) ++ Seq("y2")
    val short = Seq((1L, w1.mkString(" ")), (3L, w3.mkString(" ")))
      .toDF("doc_id", "text")
    assert(graft.queries.Llm.substringSpans(short).count() === 0,
      "a 9-word overlap is below the anchor grain and must emit no span")
  }

  test("q_substring_excise: the offset-drift COPY loses its duplicated words, the original keeps them (r18 judge #2)") {
    import spark.implicits._
    // same fixture as the span test: doc 2 embeds doc 1's words 4..23 at
    // offset 3 (straddling every fixed block boundary)
    val w1 = (0 until 30).map(i => s"a$i")
    val copied = w1.slice(4, 24)
    val w2 = Seq("z0", "z1", "z2") ++ copied ++ Seq("z3", "z4")
    val docs = Seq((1L, w1.mkString(" ")), (2L, w2.mkString(" ")))
      .toDF("doc_id", "text")
    val out = graft.queries.Llm.exciseSpans(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // doc 1 holds the FIRST corpus-wide occurrence of the span text —
    // nothing excised, text byte-identical
    assert(out(1L) === ((30L, 30L, w1.mkString(" "))),
      s"the original must keep every word, got ${out(1L)}")
    // doc 2's copy is the LATER occurrence: exactly the 20 copied words
    // drop, the z-words survive in order
    assert(out(2L) === ((25L, 5L, "z0 z1 z2 z3 z4")),
      s"the copy must lose exactly its duplicated span, got ${out(2L)}")
    // a doc with no duplicated spans passes through untouched
    val solo = Seq((1L, w1.mkString(" ")),
      (3L, (0 until 15).map(i => s"q$i").mkString(" ")))
      .toDF("doc_id", "text")
    val soloOut = graft.queries.Llm.exciseSpans(solo).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(soloOut(3L) === (0 until 15).map(i => s"q$i").mkString(" "))
    // registered query end to end on the real corpus: row per document,
    // kept ≤ total everywhere
    val real = graft.queries.Llm.qSubstringExcise(spark, TestSpark.sfDir)
      .collect()
    assert(real.length ===
      Tables.documents(spark, TestSpark.sfDir).count())
    real.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }
}
