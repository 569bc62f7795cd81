package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev utility: dump post-AQE formatted plans for the headline queries into
  * PLANS.md — the audited evidence that each plan is the one we want
  * (broadcasts where expected, pushdown at the scan, partial aggregation,
  * banded equi-joins, TakeOrderedAndProject — no surprises at 100 TB).
  *
  * Usage: `sbt "runMain graft.PlanDump [sfDir] [outFile] [query ...]"`
  * (defaults: sf0.001, `PLANS.md`). With no query names it writes the
  * headline set plus one CC round under the PLANS.md header; with names it
  * writes only those queries' sections, e.g. before/after plans of the
  * queries a change touches. Each query is fully evaluated first (AQE final
  * plan; a lazy plan shows no codegen spans and isFinalPlan=false), and each
  * section carries the executed plan's stage-reuse count: shuffle/broadcast
  * query stages in total and distinct (equal counts mean no stage is
  * reused, so every shared subtree recomputes) and its parquet scans.
  */
object PlanDump {
  /** Headline queries, each annotated with what its plan must show. */
  private val headline: Seq[(String, String)] = Seq(
    "q_join_broadcast" -> "dimension side broadcast (BroadcastHashJoin), fact scan pruned",
    "q_join_shuffle" -> "large equi-join under AQE (sort-merge or runtime-converted), partial aggregation",
    "q_agg_hash" -> "hash aggregation with map-side partials; pushdown reaches the scan",
    "q_join_range_scd2" -> "point-in-time join as equi-key sort-merge with the interval residual as join condition",
    "q_win_topk_group" -> "per-group top-N: window over pre-aggregated rows, rank filter",
    "q_sort_limit" -> "global top-k as TakeOrderedAndProject (no full sort)",
    "q_dedup_minhash" -> "banded LSH: row-local MinHash kernel, posexplode band frame, bucket equi-join (no all-pairs)",
    "q_knn_cosine" -> "one scan + native codegen cosine_similarity + TakeOrderedAndProject",
    "q_gap_fill" -> "1-row spine aggregate exploded and broadcast into the daily-count join",
    "q_skew_salt" -> "salted composite-key equi-join: dim replicated per salt, no hot reducer",
    "q_agg_topk" -> "custom Aggregator with partial_topklongsagg map-side partials",
    "q_fuzzy_match" -> "distinct-name scoring then map-back equi-joins (vocabulary-bounded Levenshtein)",
    "q_dedup_keep" -> "end-to-end dedup action: components (checkpointed scan) -> keyed LEFT ANTI join back to the corpus scan",
    "q_knn_cosine_ivf" -> "persisted IVF probe: lists scan carries PartitionFilters on list_id (nprobe of nlist dirs), then codegen cosine + TakeOrderedAndProject",
    "q_join_interval_bin" -> "no-equi-key overlap join as bucket EQUI-join (explode 32-day bins both sides) + overlap residual + distinct - no nested loop",
    "q_topk_plan_native" -> "custom whole-operator path: TopKPerGroupPartial -> ONE hash exchange -> TopKPerGroupFinal (bounded heaps; no Window, no full sort before the exchange)",
    "q_heavy_hitters" -> "sketch-then-verify: partial_misragriesagg map-side partials -> 1-row sketch, candidate broadcast semi-join, exact re-count of candidates only (vocabulary never shuffles)",
    "q_word_pmi" -> "unigram/bigram hash aggs, vocabulary-bounded broadcast probability joins, TakeOrderedAndProject top-20",
    "q_span_dup" -> "gram explode -> per-gram doc-frequency hash agg -> equi-join back on gram -> per-doc counting agg; every exchange keyed on gram or doc_id",
    "q_cdc_scd2" -> "historized CDC apply: keyed batch window + ONE merged left equi-join over the history (close + pass-through in the same pass), union of new versions",
    "q_lm_perplexity" -> "broadcast unigram model join (map-side inference), doc-keyed agg of micro-snapped nll longs, 1-row P90 broadcast cut",
    "q_corpus_curate" -> "single-pass funnel report over the PINNED gate frame (stage 1-3 predicates + md5 fused into one scan projection, materialized once as flags+hash ~50 B/row — shown as a checkpoint scan; the corpus text itself is never checkpointed) -> canonical groups on the pinned hash, CC-drop re-reads (doc_id, text) from parquet + semi-join, contamination joins computed once -> one 7-sum aggregation -> stack",
    "q_knn_cosine_int8" -> "SQ8 coarse pass: persisted (qvec BINARY, qnorm) scan + codegen int8_dot scoring + TakeOrderedAndProject top-4k, then exact codegen cosine re-rank of the semi-joined survivors",
    "q_cross_source_keep" -> "banded-LSH pairs -> iterative CC (checkpointed) -> left join back to the corpus scan -> one row_number window over (priority, doc_id) within components",
    "q_source_budget" -> "narrow (id, hash, n_tokens) projection -> one running-sum window per source partition -> kept flag; the text column never reaches the exchange",
    "q_profile_columns" -> "ONE scan: stack to (col_name, v) pairs -> two-level cascade agg (map-side combine collapses to distinct pairs before the shuffle; exact distinct falls out as a plain count) - no Expand, no per-column re-scan (r9)",
    "q_token_bpe" -> "(doc, word) hash agg once; the distinct-word frame feeds the vocabulary-sized BPE mapPartitions (merges broadcast), whose word->count map broadcast-joins back - the token stream is never re-walked per merge (r9)",
    "q_hybrid_rrf" -> "both arms cut to <=100 rows BEFORE fusion; rank windows run single-partition over bounded frames (by design); full-outer doc_id join of two tiny frames; integer-micro rank arithmetic only (r9)",
    "q_knn_cosine_pq" -> "PQ ADC coarse pass: persisted (code BINARY(m), rnorm) scan + codegen pq_adc LUT lookups + TakeOrderedAndProject top-8k, exact codegen cosine re-rank of the semi-joined survivors (r9)",
    "q_knn_cosine_ivfpq" -> "composite: code-table scan carries PartitionFilters on list_id (nprobe of nlist dirs) AND reads only m-byte codes - the two compressions multiply; bounded exact re-rank (r9)",
    "q_warehouse_etl" -> "TPC-DI historical load: CSV/FINWIRE/XML file scans with reject capture -> SCD2 version window -> fact resolve as equi+interval sort-merge -> broadcast dim enrichments -> six 1-row audit aggs cross-joined into the funnel stack (r10)",
    "q_dedup_bloom" -> "map-side codegen bloom_probe gate on the incoming scan BEFORE any exchange (the sketch ships in the plan); exact-confirm left-semi join sees only the surviving candidates (r10)",
    "q_embed_covariance" -> "augmented-Gram one-pass: two chained generators -> hash agg with map-side partials (<=2,145 rows/partition reach the ONLY data shuffle) -> broadcast row-0 self-enrich of the pinned gram frame (r10)",
    "q_hard_negatives" -> "m-row anchor broadcast with label-mismatch residual -> native codegen dot_micro per pair -> per-anchor rank window cut to 5 (r10)",
    "q_quality_nb" -> "NB train+infer in one plan: vocabulary hash agg pinned + broadcast (the model), explode -> broadcast model join -> per-doc micro-snapped LLR agg (r10)",
    "q_semdedup" -> "bucket-keyed self-join confines pair expansion within sign-bucket cells; codegen dot_micro filter -> distinct drop set -> one join back (r10)",
    "q_sql_recursive" -> "recursive month spine (bounded metadata UNION-ALL loop) LEFT-joined onto the monthly rollup with the tiny spine broadcast (r10)",
    "q_event_dedup" -> "ONE hash agg with map-side partials; min_by keyed on the unique event_id resurrects the kept payload inside the agg - no window, no join-back (r10)",
    "q_char_entropy" -> "map-side only: single-pass codegen char_entropy + one replace length diff; zero data shuffles beyond the output sort (r10)",
    "q_anomaly_mad" -> "pinned (type, day) hash agg -> two |types|-row percentile aggs broadcast back -> map-side pure-integer 3*MAD cut (r10)",
    "q_embed_pca" -> "distributed augmented-Gram agg (only data-scaled pass) -> driver eigen solve -> literal components in a map-side codegen dot_micro projection (r10)",
    "q_zorder_layout" -> "1-row bounds broadcast -> exact integer grid quantization -> codegen morton32 interleave -> global range sort on the z key (r10)",
    "q_zorder_probe" -> "the z-layout read path: OR of a few contiguous zval BETWEEN ranges (quadtree box decomposition, no residual 2-D filter) over the same map-side grid frame (r10)")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val named = args.drop(2).toSeq
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not declared queries: ${unknown.mkString(" ")}")
    val spark = GraftSession.start()
    val expected = headline.toMap
    val sections = (if (named.isEmpty) headline.map(_._1) else named).map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE so the dumped plan is the executed one
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      val stageIds = "(ShuffleQueryStage|BroadcastQueryStage) (\\d+)".r
        .findAllMatchIn(executed).map(_.group(2)).toSeq
      val reuse = s"stages_total=${stageIds.length} " +
        s"stages_distinct=${stageIds.distinct.length} " +
        s"scans=${"Scan parquet".r.findAllIn(executed).length}"
      val expect = expected.get(name).fold("")(e => s"Expected shape: $e\n\n")
      s"## `$name`\n\n${expect}Stage reuse: `$reuse`\n\n```\n${plan.trim}\n```\n"
    }
    val header =
      s"""# PLANS — audited physical plans for the headline queries
         |
         |Generated by `graft.PlanDump` (post-AQE formatted plans at $sfDir,
         |fully evaluated before dumping). Each section states the plan shape
         |the query is DESIGNED to have; PlanAuditSpec enforces the suite-wide
         |invariants (no cartesian products, codegen span in every query) on
         |every build.
         |""".stripMargin
    val doc =
      if (named.nonEmpty) sections.mkString("\n")
      else {
        // The converged q_dedup_groups plan is only the final checkpoint
        // scan; the per-round shape is what costs at scale, so dump ONE
        // un-pinned round explicitly.
        val ccDf = graft.queries.Llm.ccRoundForAudit(spark, sfDir)
        ccDf.collect()
        val ccSection =
          "## `q_dedup_groups` — one CC round\n\n" +
          "Expected shape: the loop materializes this each round — keyed " +
          "neighbor equi-join + min hash-aggregate + pointer-jump equi-join; " +
          "no cartesian anywhere, O(log d) rounds total.\n\n" +
          s"```\n${ccDf.queryExecution.explainString(ExplainMode.fromString("formatted")).trim}\n```\n"
        header + "\n" + (sections :+ ccSection).mkString("\n")
      }
    Files.writeString(Paths.get(out), doc)
    println(s"[plandump] wrote ${sections.size} query plans to $out")
    spark.stop()
  }
}
