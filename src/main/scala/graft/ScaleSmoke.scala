package graft

/** Scale-growth smoke harness: times a headline slice of the declared
  * queries at sf0.001 / sf0.01 / sf0.1 and ASSERTS sub-quadratic growth —
  * the automated version of the audit that caught the r4 `q_fuzzy_match`
  * SF-quadratic shape by hand.
  *
  * Contract per query, with `t(sf)` = min of 2 timed noop-write runs after
  * a warmup, floored at `Floor` seconds (below the floor, scheduling
  * overhead — not the operator — is being measured, and tiny-denominator
  * ratios are noise):
  *
  *   t(0.1) / max(t(0.01),  Floor) ≤ 10^1.3  ≈ 20    (decade growth)
  *   t(0.1) / max(t(0.001), Floor) ≤ 100^1.3 ≈ 400   (two-decade growth)
  *
  * Rows grow ~linearly in SF across the testdata tables, so a linear
  * operator shows ~10× per decade, a linearithmic one slightly more, and a
  * quadratic one ~100× per decade minus fixed overhead — far past the cap.
  * The floor makes the check one-sided: it can only under-claim growth for
  * queries whose absolute cost is trivial at every SF (which cannot be
  * 100 TB bottlenecks in the first place).
  *
  * The slice covers every operator family with super-linear risk: banded
  * near-dup (minhash/simhash/ngram-jaccard/fuzzy — pair expansion),
  * iterative CC (rounds × join), ANN (candidate fetch), heavy hitters
  * (sketch merge), the full curation funnel, plus a plain shuffle join,
  * hash agg, and window as linear controls.
  *
  * Exit 0 + one JSON line on stdout when all queries hold the bound;
  * exit 1 with the offending ratios otherwise. Run:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleSmoke"   # default base and sfs
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleSmoke <base> <sf> <sf> ..."
  */
object ScaleSmoke {
  private val Floor = 0.3 // seconds; ~32-task stage scheduling cost at local[32]

  private val Headline = Seq(
    "q_agg_hash", "q_join_shuffle", "q_win_running", "q_join_range_scd2",
    "q_dedup_minhash", "q_dedup_simhash", "q_ngram_jaccard", "q_fuzzy_match",
    "q_dedup_groups", "q_knn_cosine_lsh", "q_heavy_hitters", "q_tfidf",
    "q_corpus_curate",
    "q_cross_source_keep", // CC + priority window (r8)
    "q_knn_cosine_int8",   // quantized coarse scan — must stay linear (r8)
    "q_source_budget",     // per-source running-sum window (r8)
    "q_containment",       // prefix-filtered set join — the naive shape IS quadratic (r8)
    "q_pagerank",          // 5 × (edge join + agg) rounds (r8)
    "q_graph_triangles",   // degree-ordered wedge closure, O(m^1.5) cap (r8)
    "q_token_bpe",         // vocabulary-sized BPE pass + corpus agg (r9)
    "q_hybrid_rrf",        // two arm cuts + bounded fusion — arms dominate (r9)
    "q_knn_batch_int8",    // batch quantized coarse scan — m× map cost, linear (r9)
    "q_knn_cosine_pq",     // PQ ADC coarse scan — m byte lookups/row, linear (r9)
    "q_knn_cosine_ivfpq",  // composite: pruned lists × byte codes (r9)
    "q_knn_batch_ivfpq",   // batch composite: union-pruned, list-equality ADC (r9)
    "q_profile_columns",   // stack + cascade distinct — the r9 one-scan rewrite
    "q_content_chunks",    // gram explode + per-doc running-sum window (r10)
    "q_chunk_dedup",       // chunk frame + positional slice + hash aggs (r10)
    "q_embed_pca",         // d²/2 explode per row — linear with a big constant (r10)
    "q_event_dedup",       // one hash agg; shuffle = hourly support, not events (r10)
    "q_sql_recursive",     // depth-bounded spine + linear rollup (r10)
    "q_anomaly_mad",       // pinned daily agg + two percentile aggs (r10)
    "q_zorder_layout",     // bounds broadcast + map-side morton + global sort (r10)
    "q_warehouse_etl",     // full TPC-DI composition: ingest -> SCD2 -> resolve (r11)
    "q_cdc_batches")       // sequential incremental-batch folds (r11)

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata")
    val sfs = if (args.length > 1) args.drop(1).toSeq
              else Seq("sf0.001", "sf0.01", "sf0.1")
    require(sfs.length >= 2, "need at least two scale factors to measure growth")
    val spark = GraftSession.start()

    def time(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup at this SF (codegen/JIT for this plan shape)
      (1 to 2).map(_ => once()).min
    }

    // ascending SF order so JVM-global warmup lands on the cheapest dir
    val times: Map[String, Seq[Double]] =
      Headline.map { q => q -> sfs.map(sf => time(q, s"$base/$sf")) }.toMap

    // decade cap between ADJACENT measured SFs (10x rows -> rows^1.3), and
    // the compounded cap between the endpoints
    val decadeCap = math.pow(10, 1.3)
    case class Violation(q: String, from: String, to: String, ratio: Double, cap: Double)
    val violations = times.toSeq.flatMap { case (q, ts) =>
      val adjacent = ts.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if b / math.max(a, Floor) > decadeCap =>
          Violation(q, sfs(i), sfs(i + 1), b / math.max(a, Floor), decadeCap)
      }
      val endCap = math.pow(decadeCap, sfs.length - 1)
      val ends =
        if (ts.last / math.max(ts.head, Floor) > endCap)
          Seq(Violation(q, sfs.head, sfs.last, ts.last / math.max(ts.head, Floor), endCap))
        else Nil
      adjacent ++ ends
    }

    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val qs = Headline.map { q =>
      "\"" + q + "\":[" + times(q).map(f).mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_growth","sfs":[${sfs.map("\"" + _ + "\"").mkString(",")}],"floor_sec":$Floor,"decade_cap":${f(decadeCap)},"times":$qs,"violations":${violations.length}}""")
    violations.foreach { v =>
      System.err.println(
        s"[scale] ${v.q}: ${v.from}->${v.to} grew ${f(v.ratio)}x > cap ${f(v.cap)}x")
    }
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
