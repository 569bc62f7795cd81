package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** §2.9 sampling / splitting / mixture curation (split from Llm.scala
  * along the SURVEY family seams, r14 judge #7 — pure move, zero behavior):
  * seeded samplers, split assignment, source budgets, sequence packing,
  * weighted interleave & temperature mixing, label balance, clipping. */
object LlmMix {
  /** §2.9 Deterministic stratified corpus sampling: keep a per-language
    * fraction of documents chosen by the first md5 byte of a seeded doc key —
    * the downsample-by-source/language knob every training-data pipeline
    * needs. Hash-bucket sampling (vs rand()) is reproducible run-to-run,
    * stable under repartitioning, and pure map-side — properties `sample()`
    * cannot give. Hex strings compare identically in both engines, so the
    * bucket threshold ('40' = 64/256 = 25% for en, '20' = 12.5% for the
    * long tail) is oracle-checkable as a plain string comparison. */
  def qSampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket",
        substring(md5(concat(lit("sample:"), col("doc_id").cast("string"))), 1, 2))
      .filter(when(col("lang") === "en", col("bucket") < "40")
        .otherwise(col("bucket") < "20"))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  /** §2.9 Quality-WEIGHTED downsampling (r8): each document survives with
    * probability equal to its own quality score — the importance-sampling
    * cut (DoReMi-style reweighting by deletion) that keeps high-quality
    * documents almost surely while thinning the low end, where
    * [[qSampleHash]]'s flat per-language rate treats a spam page and an
    * encyclopedia entry identically.
    *
    * Exact cross-engine Bernoulli: the uniform draw is the first 5 hex
    * chars of a seeded md5 (an integer in [0, 16^5) that both engines
    * derive identically) and the acceptance threshold is the micro-snapped
    * sigmoid score ([[qualityZ]] — the SAME model the quality gate runs)
    * rescaled to hex range in integer arithmetic (·2^20 div 10^6) and
    * rendered as a zero-padded hex string: equal-length hex compare IS the
    * numeric compare, so `u5 < thr` is bit-identical in both engines with
    * no float thresholds anywhere. The score is clamped to 999999 so the
    * threshold can never overflow 5 hex digits (a sigmoid that rounds to
    * exactly 1.0 in double would otherwise render 6 and break the padding).
    *
    * Pure map-side projection — zero shuffles beyond the output sort; a
    * doc's fate never depends on other rows (stable under corpus growth,
    * same as every sampling op here). */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val z = LlmText.qualityZ(col("text"), split(col("text"), " "))
    Tables.documents(spark, dir)
      .withColumn("score_micro",
        least(floor(lit(1.0) / (lit(1.0) + exp(-z)) * 1e6).cast("long"), lit(999999L)))
      .withColumn("u5",
        substring(md5(concat(lit("wsample:"), col("doc_id").cast("string"))), 1, 5))
      .withColumn("thr",
        lpad(lower(hex(expr("score_micro * 1048576 div 1000000"))), 5, "0"))
      .filter(col("u5") < col("thr"))
      .select(col("doc_id"), col("lang"), col("score_micro"), col("u5"))
      .orderBy("doc_id")
  }

  /** §2.9 Recency-decay downsampling over the event stream — the freshness
    * rule a training-data mix applies to aged interaction data: keep
    * probability `exp(-age_days/τ)` (τ = 10 days) relative to the corpus's
    * own newest timestamp, decided per row by the same seeded-md5 threshold
    * acceptance as [[qSampleWeighted]] (deterministic across runs, engines
    * and partitionings — no RNG state to coordinate at 1000 executors).
    * Age uses INTEGER day division of epoch micros (exact in both
    * engines), the weight micro-snaps before the threshold, and the
    * reference timestamp is a 1-row broadcast — the whole query is one
    * scan + map-side math. */
  def qSampleDecay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val maxTs = ev.agg(max(col("ts")).as("max_ts"))
    ev.crossJoin(broadcast(maxTs))
      .withColumn("age_days",
        expr("(unix_micros(cast(max_ts as timestamp)) - " +
          "unix_micros(cast(ts as timestamp))) div 86400000000"))
      .withColumn("w_micro",
        least(floor(exp(-col("age_days").cast("double") / lit(10.0)) * 1e6)
          .cast("long"), lit(999999L)))
      .withColumn("u5",
        substring(md5(concat(lit("decay:"), col("event_id").cast("string"))), 1, 5))
      .withColumn("thr",
        lpad(lower(hex(expr("w_micro * 1048576 div 1000000"))), 5, "0"))
      .filter(col("u5") < col("thr"))
      .select(col("event_id"), col("age_days"), col("w_micro"), col("u5"))
      .orderBy("event_id")
  }

  /** §2.9 Deterministic train/val/test split: each document's split follows
    * the first hex byte of a seeded md5 of its id — 80/10/10 by hash range
    * ('cc' = 204/256 ≈ 80%, 'e6' = 230/256 ≈ 90%), reproducible across
    * runs/engines/partitionings, and stable under corpus growth (a doc's
    * split never depends on other rows). Pure map-side projection — zero
    * shuffles beyond the output sort. */
  def qSplitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket",
        substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2))
      .withColumn("split",
        when(col("bucket") < "cc", "train")
          .when(col("bucket") < "e6", "val")
          .otherwise(lit("test")))
      .select(col("doc_id"), col("lang"), col("bucket"), col("split"))
      .orderBy("doc_id")

  /** §2.9 Exact k-per-stratum sample: the k smallest-hash docs per language
    * — deterministic eval-set construction with a FIXED stratum size (vs
    * [[qSampleHash]]'s rate-based Bernoulli sampling). One window over hash
    * order per stratum; the window sees only (id, hash) rows, and at 100 TB
    * the same semantics run as a per-partition top-k + merge (the TopKAgg
    * pattern) — the window form is the declared, oracle-checkable shape. */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val k = 20
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("h", md5(concat(lit("strat:"), col("doc_id").cast("string"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("h"), col("rk"))
      .orderBy("lang", "rk")
  }

  /** §2.9 Per-source token-budget curation cut: each source contributes at
    * most `budget` tokens to the mixture, docs admitted in seeded-hash
    * order until the budget is exhausted — how a mixture spec ("≤ N tokens
    * from source X") is enforced deterministically: the admitted set is a
    * pure function of (doc_id, source), independent of partitioning or
    * arrival order, and STABLE under corpus growth in other sources. One
    * running-sum window per source partition over (id, hash, n_tokens)
    * rows only — never the text; at 100 TB each source's window is a
    * per-partition prefix sum over a few-byte frame. Emits the full audit
    * frame (every doc with its cumulative position and kept flag), the
    * same report-not-filter discipline as [[qCorpusCurate]]. */
  def qSourceBudget(spark: SparkSession, dir: String): DataFrame =
    sourceBudget(spark, dir, useBpe = false)

  /** `useBpe = true` meters the budget in REAL model tokens from the
    * [[graft.functions.Bpe]] merges table instead of the whitespace proxy
    * (same admission order, same window — only the metered unit changes);
    * the declared oracle query keeps the proxy, the BPE mode is
    * spec-asserted against [[qTokenBpe]]'s per-doc counts (LlmSpec). */
  private[graft] def sourceBudget(spark: SparkSession, dir: String,
                                  useBpe: Boolean): DataFrame = {
    val budget = if (useBpe) 1200 else 1000 // BPE counts run higher than whitespace
    val w = Window.partitionBy("source").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = Tables.documents(spark, dir)
    val counted =
      if (!useBpe)
        base.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).as("n_tokens"))
      else {
        val wf = Exprs.pinShared(
          base.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
            .groupBy("doc_id", "w").agg(count(lit(1)).as("n")))
        val wtok = graft.functions.Bpe.tokenCounts(spark, wf.select("w").distinct())
        base.select(col("doc_id"), col("source"))
          .join(wf.join(broadcast(wtok), "w")
            .groupBy("doc_id")
            .agg(sum(col("n") * col("n_bpe")).cast("int").as("n_tokens")), "doc_id")
      }
    counted
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept", col("cum_tokens") <= budget)
      .select("doc_id", "source", "n_tokens", "cum_tokens", "kept")
      .orderBy("doc_id")
  }

  /** §2.9 Sequence packing: assign documents to fixed-token-budget training
    * bins (budget 512) by cumulative token count per language — the
    * pack-short-documents step before batching for training. The running
    * sum is one window per language partition; pack_id derives from the
    * document's START offset, so assignment is deterministic and
    * reproducible under re-partitioning (it depends only on the ordered
    * prefix sums, not on physical row order). */
  def qSeqPack(spark: SparkSession, dir: String): DataFrame =
    seqPack(spark, dir, useBpe = false)

  /** `useBpe = true` packs by REAL model-token counts ([[qTokenBpe]]'s
    * unit) instead of the whitespace proxy — same windows, same pack
    * arithmetic; spec-asserted consistent with [[qTokenBpe]] (LlmSpec). */
  private[graft] def seqPack(spark: SparkSession, dir: String,
                             useBpe: Boolean): DataFrame = {
    val budget = 512
    val w = Window.partitionBy("lang").orderBy("doc_id")
    val base = Tables.documents(spark, dir)
    val counted =
      if (!useBpe)
        base.select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tokens"))
      else {
        val wf = Exprs.pinShared(
          base.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
            .groupBy("doc_id", "w").agg(count(lit(1)).as("n")))
        val wtok = graft.functions.Bpe.tokenCounts(spark, wf.select("w").distinct())
        base.select(col("doc_id"), col("lang"))
          .join(wf.join(broadcast(wtok), "w")
            .groupBy("doc_id")
            .agg(sum(col("n") * col("n_bpe")).cast("int").as("n_tokens")), "doc_id")
      }
    counted
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / budget.toDouble).as("pack_id"),
        (col("cum") - col("n_tokens")
          - floor((col("cum") - col("n_tokens")) / budget.toDouble) * budget)
          .cast("bigint").as("pack_offset"))
      .orderBy("lang", "doc_id")
  }

  /** §2.9 Dataset mixing: weighted interleave of the per-source document
    * streams (upweighted sources appear proportionally earlier/more often
    * in the mixture prefix) — the corpus-mixing knob training pipelines
    * schedule with. Each doc gets a virtual position rank/weight inside its
    * source; the mixture is the global order of those positions.
    *
    * The global index is CLOSED-FORM, not enumerated (r8 — this removed
    * the query layer's one RDD/zipWithIndex touch): a row's mix_pos is the
    * number of rows at-or-before its key in the (pos, source, doc_id)
    * order, and for any OTHER source that count depends only on the row's
    * ordinal and the two weights — #{rn' : rn'/w' < rn/w} =
    * ⌊(rn·w' − 1)/w⌋ clamped to that source's row count, +1 on the exact-
    * tie boundary (rn·w' ≡ 0 mod w) when the other source sorts first.
    * Cross-multiplied INTEGER comparisons throughout (never the double
    * `pos` itself), so the assignment is exact, byte-stable under any
    * partitioning, and equal to the oracle's global row_number. Per-source
    * (count, weight) stats ride along as one broadcast 1-row array; the
    * summation is a per-row `aggregate` over |sources| entries — zero
    * shuffles beyond one keyed window for the ordinal, and whole-stage
    * codegen instead of an RDD hop. */
  def qMixInterleave(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Window.partitionBy("source").orderBy("doc_id")
    val r = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("w",
        when(col("source").isin("src0", "src1"), 3L).otherwise(1L))
      .withColumn("rn", row_number().over(perSource).cast("long"))
    val stats = r.groupBy(col("source").as("s2"))
      .agg(count(lit(1)).as("n2"), max(col("w")).as("w2"))
      .agg(collect_list(struct(col("s2"), col("n2"), col("w2"))).as("ss"))
    // exact integer floor/exact-division via pmod (a − a mod b) / b: the
    // double division is of an exact multiple, so no rounding anywhere
    def exDiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    r.crossJoin(broadcast(stats))
      .withColumn("mix_pos",
        col("rn") + aggregate(
          filter(col("ss"), s => s.getField("s2") =!= col("source")),
          lit(0L),
          (acc, s) => {
            val aw = col("rn") * s.getField("w2") // rn·w' (cross-multiplied)
            val lt = least(s.getField("n2"), exDiv(aw - 1, col("w")))
            val eq = when(pmod(aw, col("w")) === 0 &&
                          exDiv(aw, col("w")) <= s.getField("n2") &&
                          s.getField("s2") < col("source"), 1L).otherwise(0L)
            acc + lt + eq
          }))
      .select(col("doc_id"), col("source"), col("mix_pos"))
      .orderBy("mix_pos")
  }

  /** §2.9 Outlier winsorization: clip document lengths to the per-language
    * [p05, p95] band — the heavy-tail taming step before length-based
    * quality filtering. The percentile frame is one row per language, so it
    * broadcasts; the clip itself is pure map-side `least`/`greatest`. At
    * 100 TB swap the exact percentile for the mergeable approx sketch. */
  def qClipOutliers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // micro-unit floor-snap (§5.3): Spark's percentile and DuckDB's
    // quantile_cont may differ in the last ulp when interpolating, which
    // could flip a boundary row's was_clipped — snap both engines to 1e-6
    val p = docs.groupBy("lang").agg(
      (floor(expr("percentile(cast(n_chars as double), 0.05)") * 1e6) / 1e6).as("p05"),
      (floor(expr("percentile(cast(n_chars as double), 0.95)") * 1e6) / 1e6).as("p95"))
    docs.join(broadcast(p), "lang")
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        floor(least(greatest(col("n_chars").cast("double"), col("p05")), col("p95")))
          .cast("bigint").as("n_chars_clipped"),
        (col("n_chars") < col("p05") || col("n_chars") > col("p95")).as("was_clipped"))
      .orderBy("doc_id")
  }

  /** §2.9 Class balance: per-language document share and inverse-frequency
    * weight N/(K·n) — the rebalancing factors a skewed training corpus is
    * sampled or loss-weighted with. One hash aggregation; the (N, K) totals
    * are a 1-row broadcast. Ratios of exact longs divide identically in
    * both engines; floor-snapped. */
  def qLabelBalance(spark: SparkSession, dir: String): DataFrame = {
    // |langs| rows feeding the totals AND the weight projection — pinned
    // so the corpus count scan runs once
    val perLang = Exprs.pinShared(Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs")))
    val totals = perLang.agg(
      sum(col("n_docs")).as("n_total"), count(lit(1)).as("k_classes"))
    perLang.crossJoin(broadcast(totals))
      .select(
        col("lang"), col("n_docs"),
        (floor(col("n_docs") / col("n_total").cast("double") * 1e6) / 1e6)
          .as("share"),
        (floor(col("n_total") / (col("k_classes") * col("n_docs")).cast("double")
               * 1e6) / 1e6).as("weight"))
      .orderBy("lang")
  }

  /** §2.9 Temperature-scaled source mixture (the T5/UniMax sampling
    * schedule): per-source sampling share ∝ n^α with α = 1/2 — flattens the
    * natural distribution so small high-quality sources aren't drowned by
    * bulk web text.
    *
    * §5.3 exactness: each source's sqrt weight is snapped to integer
    * MICRO-units first (`floor(sqrt(n)·1e6)` — sqrt is deterministic IEEE,
    * identical in both engines), so the denominator is an exact integer sum
    * (order-independent — no float-summation-order divergence) and every
    * share is a ratio of exact integers. The totals frame is one broadcast
    * row. */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    // |sources| rows feeding the totals AND the share projection — pinned
    // so the corpus count scan runs once
    val per = Exprs.pinShared(Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_micro",
        floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("bigint")))
    val tot = per.agg(sum(col("n_docs")).as("n_total"), sum(col("w_micro")).as("w_total"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        (floor(col("n_docs").cast("double") / col("n_total") * 1e6) / 1e6).as("nat_share"),
        (floor(col("w_micro").cast("double") / col("w_total") * 1e6) / 1e6).as("temp_share"),
        (floor((col("w_micro").cast("double") * col("n_total"))
          / (col("w_total").cast("double") * col("n_docs")) * 1e6) / 1e6).as("boost"))
      .orderBy("source")
  }
}
