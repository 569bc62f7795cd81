package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.CorpusPipeline
import graft.queries.{Llm, LlmText}

/** End-to-end curation funnel contracts (SURVEY.md §2.9 `q_corpus_curate`).
  * The oracle already proves the per-stage COUNTS against an independent
  * DuckDB restatement; these assert the set-level invariants the counts
  * can't see. */
class CorpusPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val stages = CorpusPipeline.stages(spark, TestSpark.sfDir)
  private lazy val ids: Seq[(String, Set[Long])] = stages.map { case (n, df) =>
    n -> df.select("doc_id").collect().map(_.getLong(0)).toSet
  }

  test("funnel is monotone: every stage is a subset of its predecessor") {
    ids.sliding(2).foreach { case Seq((pn, prev), (cn, cur)) =>
      assert(cur.subsetOf(prev), s"stage $cn is not a subset of $pn")
      assert(cur.nonEmpty, s"stage $cn emptied the corpus")
    }
  }

  test("curated corpus carries no holdout doc, no exact dup, and no gate failure") {
    val curated = stages.last._2
    assert(curated.filter(col("source") === "src0").count() === 0)
    val n = curated.count()
    assert(curated.select(md5(col("text"))).distinct().count() === n,
      "exact duplicates survived curation")
    val failed = LlmText.qQualityScore(spark, TestSpark.sfDir)
      .filter(!col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(ids.last._2.intersect(failed).isEmpty, "quality-gate failures survived")
  }

  test("near-dedup is complete: curated docs share no MinHash band bucket") {
    // any surviving collision pair would have been in one CC component,
    // where only the min-id member survives — so pairs over the curated
    // frame must be empty (banding is per-doc, so no new pairs can appear)
    val curated = stages.last._2.select("doc_id", "text")
    assert(Llm.minhashPairs(curated).count() === 0,
      "curated corpus still contains MinHash candidate pairs")
  }

  test("no curated doc shares a 4-gram with the holdout source") {
    val curated = stages.last._2
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(w) - 3), i -> array_join(slice(w, i, 4), ' '))"))
          .as("gram"))
    val holdout = Tables.documents(spark, TestSpark.sfDir)
      .filter(col("source") === "src0")
      .withColumn("w", split(col("text"), " "))
      .select(explode(expr(
        "transform(sequence(1, size(w) - 3), i -> array_join(slice(w, i, 4), ' '))"))
        .as("gram")).distinct()
    assert(curated.join(holdout, "gram").count() === 0,
      "contaminated docs survived decontamination")
  }

  test("flag-frame report equals the stage-frame counts (two in-engine formulations)") {
    val report = CorpusPipeline.qCorpusCurate(spark, TestSpark.sfDir).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val fromStages = stages.map { case (n, df) => n -> df.count() }.toMap
    assert(report === fromStages,
      "single-pass flag counting diverged from the materialized stage frames")
  }

  test("per-doc audit flags equal stage-frame membership; drop_stage names the first failed gate") {
    val audit = CorpusPipeline.qCurationAudit(spark, TestSpark.sfDir).collect()
    assert(audit.length === ids.head._2.size, "one audit row per input doc")
    val stageSets = ids.toMap
    val flagCols = Seq("s1_holdout" -> "holdout_excluded",
      "s2_quality" -> "quality_gate", "s3_repetition" -> "repetition_filter",
      "s4_exact" -> "exact_dedup", "s5_neardup" -> "near_dedup",
      "s6_decontam" -> "decontaminate")
    audit.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      flagCols.foreach { case (flag, stage) =>
        assert(r.getAs[Boolean](flag) === stageSets(stage).contains(id),
          s"doc $id: $flag must equal membership in stage '$stage'")
      }
      assert(r.getAs[Boolean]("kept") === r.getAs[Boolean]("s6_decontam"))
      val expectedDrop = flagCols.find { case (f, _) => !r.getAs[Boolean](f) }
        .map(_._2).getOrElse("kept")
      assert(r.getAs[String]("drop_stage") === expectedDrop,
        s"doc $id: drop_stage must name the first failed gate")
    }
  }

  test("resuming from a published stage-4 snapshot equals the in-memory funnel") {
    // the production shape: the exact-dedup boundary is materialized through
    // the atomic manifest layer, and the expensive near-dedup +
    // decontamination stages restart from the snapshot
    val tableDir = java.nio.file.Files
      .createTempDirectory("graft_funnel_stage4").toString
    val d4 = stages(4)._2.select("doc_id", "text")
    graft.etl.Warehouse.publish(tableDir,
      dir => d4.write.mode("overwrite").parquet(dir))
    val resumed = graft.etl.CorpusPipeline.finishFromExactDeduped(
        graft.etl.Warehouse.readCurrent(spark, tableDir),
        Tables.documents(spark, TestSpark.sfDir).filter(col("source") === "src0"))
      .last._2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(resumed === ids.last._2,
      "snapshot-resumed curation diverged from the in-memory funnel")
  }

  test("curation is deterministic across runs") {
    val a = CorpusPipeline.qCorpusCurate(spark, TestSpark.sfDir).collect().toSeq
    val b = CorpusPipeline.qCorpusCurate(spark, TestSpark.sfDir).collect().toSeq
    assert(a === b)
  }
}
