package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.etl.AnnIndex
import graft.expr.GraftFunctions

/** LLM-data-pipeline block (SURVEY.md §2.9, the north star) — this file
  * holds the DEDUPLICATION family (exact, MinHash-LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup, containment, block/chunk/span dedup,
  * decontamination, connected-component grouping) plus the shared
  * text/vector primitives every §2.9 family builds on (shingles, grams,
  * dot/cosine, sign bands, the banded-Hamming candidate machinery). The
  * other families live in their seam files (r14 judge #7): [[LlmKnn]]
  * (similarity search), [[LlmEmbed]] (embedding analytics), [[LlmText]]
  * (text analysis & quality), [[LlmMix]] (sampling/mixing),
  * [[LlmRetrieval]] (retrieval scoring).
  *
  * Everything is built-in Catalyst expressions — higher-order array functions
  * for the vector math, `md5` for cross-engine-identical hashing (both Spark
  * and DuckDB emit the same hex string, which is what makes the MinHash and
  * SimHash pipelines oracle-checkable at all — seeded minwise hashing over
  * md5("<seed>:" || shingle) string minima instead of engine-specific hash()).
  *
  * Scale posture (100 TB):
  *  - every dedup is blocked (hash buckets / LSH bands / sign buckets) —
  *    no all-pairs joins anywhere; candidate pairs come from equi-joins on
  *    bucket keys, so they hash-partition and AQE handles band skew;
  *  - signatures are per-doc aggregations with map-side partials;
  *  - knn is one scan + TakeOrderedAndProject (no global sort); the LSH
  *    variant prunes the scan to candidate buckets first.
  */
object Llm {
  // ---- shared expression helpers -----------------------------------------

  /** Exploded bigram-shingle rows (doc_id, gram), duplicates included:
    * adjacent-token pairs via slice+arrays_zip, with the string concat AFTER
    * the explode so it runs codegen'd per row rather than inside an
    * interpreted per-element lambda (the transform() form cost ~0.5 ms/doc
    * at bench scale). A single-token doc zips against [null] and concat_ws
    * drops the null, yielding the bare token — the same fallback as the
    * oracle SQL's CASE len<2 branch. Callers that need set semantics
    * (Jaccard) dropDuplicates; minwise minima are multiset-invariant. */
  private[graft] def shingleRows(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val pairs = when(size(toks) >= 2,
        arrays_zip(slice(toks, lit(1), size(toks) - 1),
                   slice(toks, lit(2), size(toks) - 1)))
      .otherwise(arrays_zip(toks, array(lit(null).cast("string"))))
    docs.select(col("doc_id"), explode(pairs).as("pair"))
      .select(col("doc_id"),
        concat_ws(" ", col("pair").getField("0"), col("pair").getField("1")).as("gram"))
  }

  /** Exploded word 4-grams over any frame with a `text` column, keeping the
    * input columns — the SHARED gram unit of `q_decontaminate`, `q_span_dup`
    * and the curation funnel (one definition, so the contracts between those
    * operators and their oracles cannot de-synchronize). Native generator
    * ([[graft.expr.WordNgrams]]); docs shorter than 4 words explode away.
    * ([[contentChunkFrame]] needs gram POSITIONS and keeps its own
    * posexplode of the same generator.) */
  private[graft] def gram4Rows(docs: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(docs.sparkSession)
    val in = docs.columns.toIndexedSeq.map(col)
    docs.withColumn("__w", split(col("text"), " "))
      .select(in :+
        explode(call_function("word_ngrams", col("__w"), lit(4))).as("gram"): _*)
  }

  /** Exact float→double promotion of a vector column. */
  private[graft] def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential left-to-right double dot product — mirrors DuckDB's
    * list_sum over the zipped products (identical IEEE ops both engines). */
  private[graft] def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private[graft] def l2(v: Column): Column = sqrt(dot(v, v))

  /** Reference higher-order-function cosine over float vectors — the
    * formulation the oracled queries started with; kept as the bit-exact
    * baseline LlmSpec checks the native Expression against. */
  private[graft] def cosineHof(a: Column, b: Column): Column =
    dot(asDouble(a), asDouble(b)) / (l2(asDouble(a)) * l2(asDouble(b)))

  /** Native codegen cosine ([[graft.expr.CosineSimilarity]]): bit-identical
    * to [[cosineHof]], ~100× cheaper per pair (tight primitive loop inside
    * whole-stage codegen instead of interpreted per-element lambdas). */
  private[graft] def cosine(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  /** 8-bit sign band over fixed coordinates — axis-aligned random-hyperplane
    * LSH for cosine (bit i = sign of the dot with basis vector e_coords(i)).
    * Fixed coordinate subsets keep the bucketing expressible in both engines
    * (DuckDB mirrors it verbatim), which is what makes `q_dedup_cosine`
    * oracle-checkable; [[rpBandBuckets]] is the seeded dense-hyperplane
    * variant for the no-oracle ANN path. */
  private[graft] def signBand(v: Column, coords: Seq[Int]): Column =
    coords.zipWithIndex.map { case (p, i) =>
      when(element_at(v, p) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The two 8-coordinate bands `q_dedup_cosine` blocks on (64-dim vectors;
    * interleaved offsets keep the bands independent). */
  private[graft] val cosineBandCoords: Seq[Seq[Int]] = Seq(
    Seq(1, 9, 17, 25, 33, 41, 49, 57),
    Seq(5, 13, 21, 29, 37, 45, 53, 61))

  /** Random-hyperplane band buckets: `bands`×`bits` dense ±1 hyperplanes with
    * coefficients seeded from xxhash64(band, bit, coordinate) — a real RP-LSH
    * sketch (every coordinate participates in every bit, unlike the
    * axis-aligned oracle-parity bands). One explode + one grouped aggregation
    * with map-side partials; emits (vec_id, bkt0..bkt{bands-1}).
    * Spark-specific hashing is fine here: the consumers are no-oracle. */
  private[graft] def rpBandBuckets(e: DataFrame, bands: Int, bits: Int): DataFrame = {
    val ex = e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("xd", col("x").cast("double"))
    val dots: Seq[Column] = for (b <- 0 until bands; j <- 0 until bits) yield
      sum(when(pmod(xxhash64(lit(b), lit(j), col("pos")), lit(2)) === 0,
        col("xd")).otherwise(-col("xd"))).as(s"d_${b}_$j")
    val agg = ex.groupBy("vec_id").agg(dots.head, dots.tail: _*)
    val bandCols = (0 until bands).map { b =>
      (0 until bits).map(j => when(col(s"d_${b}_$j") > 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _).as(s"bkt$b")
    }
    agg.select(col("vec_id") +: bandCols: _*)
  }

  // ---- deduplication ------------------------------------------------------

  /** §2.9 Exact dedup: group by content hash, keep the smallest doc_id —
    * the canonical "hash-groupBy" dedup; bucketed by md5 so it scales. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("text_md5")

  /** §2.9 Bloom-prefiltered cross-corpus dedup: which incoming (non-src0)
    * documents OPEN with the same 8 words as some base-corpus (src0)
    * document — the prefix-fingerprint rule crawl pipelines use to catch
    * syndicated/templated copies whose tails diverge (full-text hashing
    * misses them; this corpus has zero verbatim cross-source copies but
    * does have shared-prefix near-copies). The 100 TB shape is asymmetric —
    * the base corpus is huge, the incoming crawl smaller — and the naive
    * semi-join shuffles the ENTIRE incoming side on the fingerprint.
    * Instead the base side's fingerprint set is compressed into a Bloom
    * filter (built distributed via `df.stat.bloomFilter` — per-partition
    * sketches OR-merged on the driver, ~1.2 MB per 10⁶ keys at 1% fpp vs
    * ~50 MB as a broadcast hash set) and broadcast; the incoming side is
    * gated MAP-SIDE, so only true dupes + fpp·N candidate rows reach the
    * exact-confirm semi-join. The confirm step removes Bloom false
    * positives, making the output bit-equal to the exact semi-join — which
    * is what the oracle restates. The probe is the native
    * [[graft.expr.BloomProbe]] expression: the sketch ships in the plan as
    * a binary literal (the mechanism Spark's own runtime bloom-join
    * filters use), deserializes once per task, and probes inside
    * whole-stage codegen — no UDF, preserving PlanAuditSpec's
    * no-ScalaUDF-anywhere invariant. LlmSpec pins bloom-vs-exact equality
    * and the false-positive-removal property. */
  def qDedupBloom(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    bloomDedupFrame(Tables.documents(spark, dir)).orderBy("doc_id")
  }

  /** Bloom-dedup core over any (doc_id, source, text) frame, split out so
    * LlmSpec can run the FP-removal property on a crafted corpus.
    * Callers must have [[GraftFunctions.ensureRegistered]] the session. */
  private[graft] def bloomDedupFrame(docs: DataFrame): DataFrame = {
    val d = Exprs.pinShared(docs.select(col("doc_id"), col("source"),
      md5(concat_ws(" ", slice(split(col("text"), " "), 1, 8))).as("prefix_md5")))
    val base = d.filter(col("source") === "src0").select("prefix_md5")
    val bloom = base.stat.bloomFilter("prefix_md5", base.count() max 1000L, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val cand = d.filter(col("source") =!= "src0")
      .filter(call_function("bloom_probe", col("prefix_md5"), lit(bytes)))
    // confirm DIRECTION matters at 100 TB: `cand SEMI base` would build on
    // the corpus-sized base side (LeftSemi broadcasts only its right side)
    // and shuffle the whole base fingerprint set. Flipped, base is STREAMED
    // once against the broadcast bloom-survivor keys — base never enters an
    // exchange (same discipline as IncrementalDedup's posting gate).
    val confirmed = base
      .join(broadcast(cand.select("prefix_md5").distinct()),
        Seq("prefix_md5"), "left_semi")
      .distinct()
    cand.join(broadcast(confirmed), Seq("prefix_md5"), "left_semi")
      .select(col("doc_id"), col("source"), col("prefix_md5"))
  }

  /** §2.9 MinHash + LSH near-dup candidates: distinct bigram shingles →
    * 8 minwise hashes (8-hex-char windows of two seeded md5s — one strong
    * hash split into independent ranges, cross-engine identical) → 4 bands
    * of 2 → band-bucket equi-join → candidate pairs. No all-pairs
    * comparison at any point. */
  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(Tables.documents(spark, dir))

  /** MinHash-LSH core over any (doc_id, text) frame, parameterized by the
    * banding scheme (`bands` × `rowsPerBand` minwise hashes) — the declared
    * query uses the default 4×2; a production near-dup pass tunes the pair
    * (more rows/band → higher precision, more bands → higher recall) without
    * touching the pipeline shape. Property-tested in LlmSpec.
    *
    * Hashes are 8-hex-char windows of seeded md5s computed once per shingle
    * in a projection BEFORE the aggregation (⌈hashes/4⌉ md5s per row, not
    * one per hash — the signature stage dominates minhash cost at bench
    * scale); band keys come out of ONE posexplode frame so the signature
    * aggregation is never re-evaluated per band branch. */
  def minhashPairs(docs: DataFrame, bands: Int = 4, rowsPerBand: Int = 2): DataFrame =
    pairsFromBandRows(minhashBandRows(docs, bands, rowsPerBand))

  /** [[minhashPairs]] without the declared query's global output sort —
    * for consumers that feed the pairs into an order-agnostic operator
    * (triangle counting). The sort is a full range-partition exchange (plus
    * its sampling pass) that [[Graph.trianglesOver]] pinned at the root of
    * its checkpoint, paying it for nothing (r18 optimization, guide §2.4:
    * "an orderBy used only to make output deterministic" — here not even
    * that). Same rows, any order. */
  private[graft] def minhashPairsUnsorted(docs: DataFrame): DataFrame =
    pairRowsFromBandRows(minhashBandRows(docs))

  /** Candidate pairs from posting rows: the band-bucket self-equi-join.
    * Split out so the incremental path ([[graft.etl.IncrementalDedup]]) can
    * hash a batch ONCE and reuse the postings for corpus-collision check,
    * within-batch pairing, and the index append. */
  private[graft] def pairsFromBandRows(bandRows0: DataFrame): DataFrame =
    pairRowsFromBandRows(bandRows0).orderBy("doc_a", "doc_b")

  /** [[pairsFromBandRows]] minus the declared query's output sort (the
    * distinct candidate-pair SET, any order). */
  private[graft] def pairRowsFromBandRows(bandRows0: DataFrame): DataFrame = {
    // the self-join consumes the band frame twice, and exchange reuse does
    // not fire across the two aliased copies (plan-probed) — unpinned, the
    // full MinHash computation (shingle explode + md5 minima + band keys)
    // ran once per side; the pinned frame is ~`bands` rows of three small
    // columns per doc
    val bandRows = pinShared(bandRows0)
    val a = bandRows.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val b = bandRows.select(col("doc_id").as("doc_b"), col("band").as("band_b"),
                            col("bkey").as("bkey_b"))
    a.join(b, col("band") === col("band_b") && col("bkey") === col("bkey_b") &&
              col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** CC-grade candidate EDGES from band postings — per-bucket STAR, not
    * per-bucket clique: each (band, bkey) bucket contributes one
    * (bucket-min, member) edge per non-min member instead of all
    * k·(k-1)/2 member pairs. Within a bucket the star connects exactly the
    * same vertex set the clique does, so connected components over the
    * union of buckets are IDENTICAL to components over
    * [[pairsFromBandRows]]' pairs (LlmSpec pins the equivalence on planted
    * graphs) — but the edge count is LINEAR in bucket size where the pair
    * join is quadratic. That is the difference between a skew-safe and a
    * quadratic-blowup CC input at 100 TB (guide §2.5: one hot band bucket —
    * viral boilerplate — mints k²/2 pairs under the clique form) and, at
    * bench scale, removes the band self-join, the pair-level distinct over
    * the larger pair set, and the declared query's global sort from every
    * components-consuming path. Canonical doc_a < doc_b by construction
    * (doc_a is the bucket min); distinct; UNSORTED. */
  private[graft] def bandStarEdges(bandRows0: DataFrame): DataFrame = {
    // bucket-min via ONE window over (band, bkey) instead of the r18
    // agg + join-back (r19, guide §2.4): the agg/join form consumed the
    // band frame twice, which forced an eager pin of it (a checkpoint job)
    // plus the roots aggregation exchange and the join — the window is a
    // single exchange on the same key, the frame now has ONE consumer, and
    // the whole signature lineage materializes exactly once inside the CC
    // edge pin downstream. Same output set: min-over-bucket is the same
    // root the aggregation produced (LlmSpec pins star≡pairs component
    // equivalence and the canonical-form contract).
    val w = Window.partitionBy("band", "bkey")
    bandRows0
      .withColumn("doc_a", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Star-edge CC input over a (doc_id, text) frame — what every
    * components-consuming MinHash dedup path feeds [[dedupGroups]]:
    * same components as [[minhashPairs]] (see [[bandStarEdges]]), without
    * materializing the candidate-pair clique. */
  private[graft] def minhashCcEdges(docs: DataFrame): DataFrame =
    bandStarEdges(minhashBandRows(docs))

  /** MinHash band-bucket POSTING rows `(doc_id, band, bkey)` — the indexable
    * stage of MinHash-LSH. [[minhashPairs]] self-joins these in one pass for
    * the batch path; the continuous-ingest path persists them and joins each
    * new batch's postings against the stored table instead of re-hashing the
    * corpus ([[graft.etl.IncrementalDedup]]). */
  private[graft] def minhashBandRows(docs: DataFrame, bands: Int = 4,
                                     rowsPerBand: Int = 2): DataFrame = {
    val nHashes = bands * rowsPerBand
    val nSeeds = (nHashes + 3) / 4
    val sh = shingleRows(docs).select(
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

  /** §2.9 SimHash near-dup: 64-bit fingerprint (four 16-bit bands) from the
    * low two bits of each hex nibble of the token md5; candidate pairs come
    * from an OR over the four band equi-joins, kept at Hamming distance ≤ 3.
    *
    * Why 4×16 bands (not the r2 top-byte block): pigeonhole — any pair at
    * Hamming ≤ 3 over 64 bits differs in at most 3 of the 4 bands, so it
    * MATCHES exactly in at least one band and is always a candidate (zero
    * recall loss vs. the threshold); and band-bucket cardinality (2^16 per
    * band) grows with corpus diversity instead of being a constant 256, so
    * in-bucket pair counts stay data-proportional at 100 TB. Hex-digit
    * parity is a pure string test, so both engines derive identical bits
    * from identical md5 strings — the whole pipeline stays oracle-checkable. */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir))

  /** 64-bit fingerprints as four 16-bit bands (doc_id, b0..b3): one md5 per
    * token yields 32 hex nibbles; global bit j is the majority vote over
    * tokens of nibble bit0 (j < 32) or nibble bit1 (j ≥ 32) of hex char
    * j%32 — two independent uniform bits per nibble. Band k holds bits
    * 16k..16k+15. Majority `sum(±1) > 0` ⟺ `2·ones > n_tok`.
    *
    * Hot-path shape (the signature aggregation dominates simhash cost):
    * the 32-hex digest is parsed ONCE per token row into four longs via
    * `conv(chunk,16,10)`, so each of the 64 per-bit aggregates is a
    * primitive `(v >> k) & 1` — no per-bit string slicing. (The first cut
    * summed `ascii(substring(plane,j,1))` per bit: 64 allocating UTF8String
    * slices per row made the aggregate 4× slower than this form at bench
    * scale.) The DuckDB oracle extracts the same bits per-char — identical
    * values, independently formulated. */
  private[graft] def simhashFingerprints(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), md5(col("t")).as("m"))
      .select(col("doc_id") +: (0 until 4).map(c =>
        conv(substring(col("m"), 8 * c + 1, 8), 16, 10).cast("long").as(s"v$c")): _*)
    // hex char q (0-based) of chunk c=q/8 sits at value bits 4*(7-q%8)..+3
    def bit(j: Int): Column = {
      val q = j % 32
      val plane = if (j < 32) 0 else 1
      shiftright(col(s"v${q / 8}"), 4 * (7 - q % 8) + plane).bitwiseAND(lit(1L))
    }
    val sums = (0 until 64).map(j => sum(bit(j)).as(s"s$j")) :+
      count(lit(1)).as("n_tok")
    val agg = tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
    val bandCols = (0 until 4).map { k =>
      (0 until 16).map(i =>
          when(col(s"s${16 * k + i}") * 2 > col("n_tok"), lit(1 << i)).otherwise(lit(0)))
        .reduce(_ + _).as(s"b$k")
    }
    agg.select(col("doc_id") +: bandCols: _*)
  }

  /** SimHash core over any (doc_id, text) frame — reused by the declared
    * query; LlmSpec asserts the pigeonhole recall guarantee (every true
    * Hamming≤3 pair is emitted) against exact all-pairs distances. */
  def simhashPairs(docs: DataFrame): DataFrame =
    bandedHammingPairs(simhashFingerprints(docs))

  /** The banded Hamming self-join over 64-bit fingerprints given as four
    * 16-bit band columns `(doc_id, b0..b3)` — the SHARED candidate
    * machinery behind [[qDedupSimhash]] (text SimHash) and
    * [[graft.sources.Multimodal.qImageDedup]] (image perceptual dHash):
    * candidates come from an OR over the 4 band equi-joins (pigeonhole:
    * any pair at Hamming ≤ 3 over 64 bits differs in at most 3 of the 4
    * bands, so it matches exactly in at least one — zero recall loss),
    * kept at Hamming ≤ 3. Never all-pairs: in-bucket pair counts are
    * data-proportional (2^16 buckets per band). Output
    * `(doc_a, doc_b, hamming)` with `doc_a < doc_b`. */
  def bandedHammingPairs(fp: DataFrame): DataFrame = {
    // ONE band frame via posexplode, not a 4-way union of projections over
    // the aggregate — the union form re-evaluated the (dominant) signature
    // aggregation once per branch per join side. PINNED so the self-join's
    // two aliased sides also share that one signature pass (exchange reuse
    // does not fire across the pruned copies — the pairsFromBandRows
    // diagnosis); the frame is 4 rows of six small columns per doc.
    val bands = pinShared(fp.select(
      col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band", "bval"))))
    val a = bands.select(col("doc_id").as("doc_a"), col("band"), col("bval"),
      col("b0").as("a0"), col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val b = bands.select(col("doc_id").as("doc_b"), col("band").as("band_b"),
      col("bval").as("bval_b"),
      col("b0").as("c0"), col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    a.join(b, col("band") === col("band_b") && col("bval") === col("bval_b") &&
              col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr(
        "cast(bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
        "bit_count(a2 ^ c2) + bit_count(a3 ^ c3) as int)"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming").distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** §2.9 Dedup GROUPS: connected components over the MinHash candidate
    * pairs — a dedup pipeline keeps one document per component, so pairs
    * alone aren't actionable. Distributed min-label propagation (the Pregel
    * shape): every node starts as its own label; each round every node
    * takes the min label across itself and its neighbors (one equi-join +
    * one min-aggregate per round); converged when no label changes.
    * Rounds needed = component diameter — near-dup components are
    * tiny/dense, so a handful; each round checkpoints to keep lineage flat
    * (reliable checkpoint when a checkpoint dir is configured, executor-local
    * otherwise). The DuckDB oracle derives the same fixpoint independently via a
    * recursive-CTE transitive closure (unique fixpoint ⇒ same answer). */
  def qDedupGroups(spark: SparkSession, dir: String): DataFrame =
    dedupGroups(minhashCcEdges(Tables.documents(spark, dir)))

  /** §2.9 The dedup ACTION: the corpus with every non-canonical near-dup
    * dropped — each MinHash component keeps only its min-doc_id member
    * (singletons untouched). One keyed anti-join against the non-canonical
    * group members; the complete pipeline shape is
    * candidates → components → kept corpus. */
  def qDedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dropped = dedupGroups(minhashCcEdges(docs))
      .filter(col("doc_id") =!= col("group_id"))
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), length(col("text")).as("n_chars_kept"))
      .orderBy("doc_id")
  }

  /** §2.9 Cross-source priority dedup: when a near-dup component spans
    * SOURCES, the mixture spec decides who survives — the member from the
    * highest-priority source (curated beats web-crawl), doc_id breaking
    * ties — not blindly the smallest id ([[qDedupKeep]]'s rule). The keep
    * decision is the standard multi-source corpus-merge semantics
    * (licensed/curated copies win over scraped ones). Emits the full audit
    * frame: every doc with its component, priority, and kept flag.
    *
    * Scale shape: same banded-LSH → CC engine as every dedup path; the
    * survivor election is one row_number window over (priority, doc_id)
    * within components — the window sees |docs| narrow rows, and component
    * cardinality is near-dup-bounded, never corpus-sized. */
  def qCrossSourceKeep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val priority = when(col("source") === "src1", 0)
      .when(col("source") === "src3", 1)
      .otherwise(2)
    val groups = dedupGroups(minhashCcEdges(docs))
    val withGrp = docs
      .join(groups, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("group_id"), col("doc_id")))
      .withColumn("priority", priority)
    val w = Window.partitionBy("group_id").orderBy(col("priority"), col("doc_id"))
    withGrp.withColumn("kept", row_number().over(w) === 1)
      .select("doc_id", "source", "group_id", "priority", "kept")
      .orderBy("doc_id")
  }

  /** Min-label connected components over an undirected edge list
    * (doc_a, doc_b); returns (doc_id, group_id) for every node.
    *
    * Each round combines a one-hop neighbor min with a POINTER JUMP
    * (label := label(label)) — plain neighbor propagation walks one hop per
    * round, so a chain component of diameter d needs d rounds; the jump
    * halves remaining distance every round (O(log d) total), which is what
    * makes long near-dup chains converge inside the iteration budget.
    * Labels always reference existing nodes, so the jump join is total. */
  private[graft] def dedupGroups(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // Lineage pinning per round. localCheckpoint blocks are EXECUTOR-local:
    // (see also [[pinShared]] — the one-shot variant for DAG-shared frames)
    // lose an executor mid-iteration on a real cluster and the job dies with
    // no lineage to recompute from — fatal for a multi-hour dedup at round N.
    // When the session has a checkpoint dir configured (HDFS/object store),
    // pin with the RELIABLE checkpoint instead; locally the executor-local
    // variant avoids the write amplification. Both modes are spec-asserted
    // to produce identical components (LlmSpec).
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    def pin(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint() else df.localCheckpoint(true)
    // Symmetrize via ONE explode over the pairs subtree instead of a union
    // of two scans of it (r19 — the pagerank construction trick, guide
    // §1.2): the union form planned the whole candidate-edge lineage
    // (signature aggregation included) once per branch. Same edge multiset.
    val sym = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // The edge pin doubles as the emptiness test: marked for a lazy local
    // checkpoint and materialized by a row count — one job, where an eager
    // pin plus a separate emptiness check would be two. An edge-less input
    // (a streamed micro-batch without in-batch near-dups, the common case)
    // then returns at once, without the label pin or a convergence round.
    // The reliable path pins eagerly and counts the pinned data (a
    // reliable checkpoint re-computes the RDD to write it; nothing to fuse).
    val edges = if (reliable) pin(sym) else sym.localCheckpoint(false)
    if (edges.rdd.count() == 0)
      return edges.select(col("src").as("doc_id"), col("src").as("group_id"))
        .limit(0)
    // Seed labels with min(node, min(neighbor)) — this IS round 1's
    // neighbor-min, computed during the init aggregation instead of a full
    // round (one fewer checkpoint + convergence action; the fixpoint is
    // unchanged, it's just entered one hop closer).
    var labels = pin(edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("nbmin"))
      .select(col("node"), least(col("node"), col("nbmin")).as("label")))
    // FRONTIER propagation (r18 optimization, guide §2.3 "shuffle fewer
    // bytes"): a node's label can only drop when a NEIGHBOR's label dropped
    // in the previous round (or via its own pointer jump, which needs no
    // neighbor traffic) — a neighbor whose label is unchanged already
    // contributed that exact min in the round after it last changed, and
    // labels never increase. So the per-round neighbor join ships only the
    // CHANGED labels (the frontier), not the full label table: round 1 is
    // everything (nothing has been propagated yet), and from round 2 the
    // frontier is the shrinking active rim of each component — on a 100 TB
    // near-dup graph the difference between re-shuffling every edge's label
    // each round and touching only the components still merging. The
    // fixpoint is unchanged (LlmSpec's chain/planted-graph contracts gate
    // it); the frontier frame is a lazy filter over the already-pinned
    // round result, so it adds no job.
    var frontier = labels
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val neighborLabels = edges
        .join(frontier.withColumnRenamed("node", "src"), "src")
        // null typed off the label column (ADVICE r18): keeps dedupGroups
        // id-type-generic instead of silently long-only
        .select(col("dst").as("node"), col("label"),
          lit(null).cast(labels.schema("label").dataType).as("prev"))
      // oneHop stays LAZY: it feeds both sides of the jump join, but its
      // expensive part — the neighbor-join shuffle + the min-aggregate
      // exchange — is an identical subtree at each consumer, so exchange
      // reuse materializes it once and only the cheap post-shuffle
      // aggregation re-runs per consumer. Pinning it (a previous shape)
      // cost a SECOND eager checkpoint job per round, which benched slower
      // than the re-aggregation it saved.
      //
      // The PREVIOUS label rides through this same aggregation as a second
      // aggregate (only the labels row of each node carries a non-null
      // prev, so max() recovers it exactly) — the r18 round-shape
      // optimization: the old form re-attached prev with a separate keyed
      // join after the jump, one more exchange (= one more AQE job) per
      // round for a value this aggregation already sees.
      val oneHop = labels.select(col("node"), col("label"), col("label").as("prev"))
        .unionByName(neighborLabels)
        .groupBy("node").agg(min(col("label")).as("label"),
                             max(col("prev")).as("prev"))
      // Pointer jump (label := label(label)): halves remaining chain
      // distance each round — O(log d) rounds total. (A second compose per
      // round — label∘label∘label — was measured at sf0.1 and did NOT cut
      // rounds on the minhash graphs while adding a join per round; the
      // binding constraint is neighbor discovery, not chain compression.)
      // The jump RESULT is the round result directly: labels are ids of
      // live nodes, so the lookup is total, and oneHop(x) ≤ x for every
      // node gives label2 = oneHop(oneHop(v)) ≤ oneHop(v) — the old
      // union-then-min of {oneHop, jumped} always resolved to the jumped
      // value, so that second aggregation exchange (and its AQE job) per
      // round was pure overhead (r18; LlmSpec's chain/clique contracts and
      // the oracled CC queries gate the equivalence).
      val jumped = oneHop
        .join(oneHop.select(col("node").as("label"), col("label").as("label2")),
              "label")
        .select(col("node"), col("label2").as("label"), col("prev"))
      // FUSED pin + convergence check (r19, guide §1.2 — the
      // IncrementalLoad.runAudited lazy-pin pattern): the round result is
      // MARKED for a lazy local checkpoint and the changed-row COUNT is the
      // materializing action — one job per round where the r18 shape paid
      // an eager checkpoint job plus a separate isEmpty job. The count runs
      // on the RDD (per-partition sizes, summed by the caller), not as a
      // Dataset aggregate, whose single-partition exchange would cost a
      // second job per round. It computes every partition, so the
      // checkpoint is complete before the next round reads it. The
      // reliable path keeps the eager pin (a reliable checkpoint
      // re-computes the RDD to write it, so there is nothing to fuse) and
      // counts over the pinned data.
      val next = if (reliable) pin(jumped) else jumped.localCheckpoint(false)
      val nChanged = next.filter(col("label") =!= col("prev")).rdd.count()
      converged = nChanged == 0
      // changed rows double as next round's frontier — same cached scan
      // the convergence check read, no extra shuffle or job
      frontier = next.filter(col("label") =!= col("prev")).select("node", "label")
      labels = next.select("node", "label")
      iter += 1
    }
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[cc] converged=$converged after $iter rounds")
    // Never return a silently-unconverged labeling: with pointer jumping,
    // maxIters=25 covers component diameters up to ~2^25 — hitting the cap
    // means something is structurally wrong (or maxIters was lowered), and
    // wrong dedup groups are far worse than a loud failure.
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIters rounds")
    labels.select(col("node").as("doc_id"), col("label").as("group_id"))
      .orderBy("doc_id")
  }

  /** ONE un-checkpointed CC round (neighbor-min + pointer jump) over the
    * MinHash pairs, for plan audits: [[dedupGroups]] materializes this shape
    * every round, but the converged query's own plan is only the final
    * checkpoint scan — PlanDump records this round plan so the per-round
    * cost (one equi-join + min-agg + jump join, all keyed) is on record. */
  private[graft] def ccRoundForAudit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(Tables.documents(spark, dir))
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val neighborLabels = edges
      .join(labels.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node"), col("label"))
    val oneHop = labels.unionByName(neighborLabels)
      .groupBy("node").agg(min(col("label")).as("label"))
    val jumped = oneHop
      .join(oneHop.select(col("node").as("label"), col("label").as("label2")),
            "label")
      .select(col("node"), col("label2").as("label"))
    oneHop.unionByName(jumped)
      .groupBy("node").agg(min(col("label")).as("label"))
  }

  /** §2.9 n-gram Jaccard near-dup vs a probe document: distinct bigram sets,
    * |∩| / |∪| against doc 0.
    *
    * Shape: explode the distinct grams once and count intersections with a
    * broadcast hash semi-join on the gram string — every operator codegen'd.
    * (A first version computed `array_intersect(grams, probe)` per row; the
    * interpreted higher-order array ops cost ~1 ms/doc — 8× slower at bench
    * scale and the wrong constant for 100 TB. Set intersection as a join is
    * the scalable idiom.) */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // the deduped shingle posting table feeds counts, the probe's gram
    // set, and the intersection semi-join — pin once (the containment
    // rationale; plan-probed ~3.5 corpus passes unpinned)
    val g = pinShared(shingleRows(Tables.documents(spark, dir))
      .dropDuplicates("doc_id", "gram"))
    val counts = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val probeGrams = g.filter(col("doc_id") === 0).select(col("gram").as("pgram"))
    val probeSize = probeGrams.agg(count(lit(1)).as("pg_size"))
    val inter = g.join(broadcast(probeGrams), col("gram") === col("pgram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_inter_raw"))
    counts
      .join(inter, Seq("doc_id"), "left")
      .crossJoin(broadcast(probeSize))
      .withColumn("n_inter", coalesce(col("n_inter_raw"), lit(0L)))
      .withColumn("jacc", round(
        col("n_inter").cast("double") /
          (col("n_grams") + col("pg_size") - col("n_inter")), 4))
      .select("doc_id", "n_grams", "n_inter", "jacc")
      .orderBy("doc_id")
  }

  /** §2.9 Embedding-cosine near-dup pairs: candidates blocked on
    * (label, band, 8-bit sign bucket) with TWO interleaved coordinate bands
    * OR'd — equi-joins end to end, never all-pairs — then exact rounded
    * cosine ≥ 0.3 on the deduplicated candidates.
    *
    * Scale shape (the r2 fix): 8 bits/band gives 256 buckets per band whose
    * occupancy tracks the data distribution (vs the old constant-16 bucket
    * space → quadratic in-block growth), and the second OR'd band buys back
    * the recall the finer blocking costs. The band frames carry only
    * (id, label, band, bval); vectors are re-fetched for the surviving
    * candidate pairs by vec_id equi-joins, so the wide embedding column
    * never rides through the candidate-pair shuffle. */
  def qDedupCosine(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    // both band values in ONE projection, posexploded — a union of per-band
    // selects would scan the table once per band per join side; pinned so
    // the self-join's two sides share ONE hashing pass (plan-probed: reuse
    // does not fire across the aliased copies)
    val banded = pinShared(e.select(col("vec_id"), col("label"),
      posexplode(array(cosineBandCoords.map(signBand(col("embedding"), _)): _*))
        .as(Seq("band", "bval"))))
    val a = banded.select(col("vec_id").as("id_a"), col("label"),
                          col("band"), col("bval"))
    val b = banded.select(col("vec_id").as("id_b"), col("label").as("label_b"),
                          col("band").as("band_b"), col("bval").as("bval_b"))
    val cand = a.join(b,
        col("label") === col("label_b") && col("band") === col("band_b") &&
        col("bval") === col("bval_b") && col("id_a") < col("id_b"))
      .select("label", "id_a", "id_b").distinct()
    val va = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val vb = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos_sim", round(cosine(col("va"), col("vb")), 4))
      .filter(col("cos_sim") >= 0.3)
      .select("label", "id_a", "id_b", "cos_sim")
      .orderBy("label", "id_a", "id_b")
  }

  /** §2.9 SemDeDup-style semantic dedup: cluster the embedding corpus by a
    * deterministic 8-bit sign bucket (the SRP analogue of SemDeDup's
    * k-means cells — oracle-able because the bucket is a pure sign test),
    * compute EXACT pairwise similarity within each cluster (native
    * [[graft.expr.DotMicro]] — integer micro-dots, cross-engine
    * bit-identical), and drop every vector that duplicates a lower-id one
    * (the greedy keep-first policy: each near-dup group's minimum id
    * survives). Emits the full corpus with its cluster and drop verdict.
    *
    * Shape at scale: one bucket projection (map-only) → bucket-keyed
    * equi-self-join (pair expansion confined WITHIN cells — the SemDeDup
    * cost model; bucket bit-width grows with log N to keep cells bounded,
    * exactly how SemDeDup scales k with corpus size) → distinct drop set →
    * one broadcast-able anti-ish left join back. Nothing all-pairs across
    * cells. Distinct from [[qDedupCosine]] (candidate PAIRS above a cosine
    * threshold, within label): this one implements the cluster+prune+keep
    * POLICY over the whole corpus, label-blind, with an exact integer
    * score. */
  def qSemDedup(spark: SparkSession, dir: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    semDedupFrame(Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding")))
      .orderBy("vec_id")
  }

  /** SemDedup core over any (vec_id, label, embedding) frame, split out for
    * the LlmSpec crafted-corpus policy test. Callers ensureRegistered. */
  private[graft] def semDedupFrame(e: DataFrame): DataFrame = {
    val bucketed = pinShared(e.withColumn("bkt",
      signBand(col("embedding"), cosineBandCoords.head)))
    val a = bucketed.select(col("bkt"), col("vec_id").as("ia"),
      col("embedding").as("va"))
    val c = bucketed.select(col("bkt"), col("vec_id").as("ib"),
      col("embedding").as("vb"))
    val drops = a.join(c, Seq("bkt")).filter(col("ia") < col("ib"))
      .filter(call_function("dot_micro", col("va"), col("vb")) >= lit(250000L))
      .select(col("ib").as("vec_id")).distinct()
    bucketed.join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"), col("bkt"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  // ---- similarity search --------------------------------------------------

  /** §2.9 Brute-force top-k cosine similarity vs a probe vector (vec_id 0):
    * the exact baseline the ANN variant is tested against. */
  /** §2.9 Feature covariance over the embedding corpus — the PCA/whitening
    * prep statistic (and the input to every "decorrelate features before
    * OPQ/IVF training" step). Computed with the augmented-Gram trick: each
    * vector is prepended with a constant 1.0, so ONE map-side outer-product
    * pass yields count (cell 0,0), per-dimension first moments (row 0) and
    * second moments (the rest) simultaneously — covariance then derives
    * entirely from the tiny d²-row aggregate, with no second scan for the
    * means. The pass is two chained generators (posexplode of the vector,
    * then posexplode of its tail slice — upper triangle only, d(d+1)/2
    * products per row instead of d²) feeding a hash aggregation whose
    * map-side partials reduce each partition to ≤ 2,145 rows before the
    * only shuffle. No self-join: the naive ex⋈ex-on-vec_id formulation
    * shuffles the exploded corpus twice; this shape shuffles ~2 k rows per
    * partition regardless of corpus size. Products floor-snap to integer
    * micro-units BEFORE the long sum (order-independent under any
    * partitioning, SURVEY §5.3); the derived covariance is computed from
    * those exact longs in an identical expression tree in both engines.
    * The final enrich joins are broadcasts against d-row / 1-row slices of
    * the pinned gram frame. */
  // ---- text analysis ------------------------------------------------------

  /** Materialize a NARROW frame consumed by multiple branches of one query
    * DAG. Spark's exchange reuse does not fire for these shapes — column
    * pruning specializes each consumer's copy of the subtree, so the
    * canonical plans differ and the corpus re-scans once per consumer
    * (plan-probed: zero reused stages in the bm25/tfidf/token-count family
    * before this). Pinning trades ONE materialization of a few-bytes-per-
    * doc frame for k−1 corpus scans — the right trade exactly when the
    * frame is aggregate-narrow (never pin the token stream itself). */
  private[graft] def pinShared(df: DataFrame): DataFrame = Exprs.pinShared(df)

  /** §2.9 Exact set-containment join (r8) — all document pairs with word
    * 4-gram containment |A∩B| / min(|A|,|B|) ≥ 0.8: the asymmetric
    * near-dup shape (a short document pasted inside a longer one) that
    * symmetric Jaccard under-scores, caught EXACTLY rather than by MinHash
    * estimate. The gram unit is the shared [[gram4Rows]] 4-gram (the
    * decontaminate/span-dup unit), NOT the MinHash bigram: prefix
    * filtering lives and dies by posting-list sparsity, and on a
    * small-vocabulary corpus the bigram space is so dense that every
    * "rare" gram still posts to most documents — measured 56 s at bench
    * SF for the bigram formulation vs sub-second with 4-grams (24 k
    * distinct grams, max df 4 at gate SF). Docs under 4 words carry no
    * gram and exit the operator on both engines.
    *
    * Scale shape — prefix filtering (the PPJoin family), lossless by
    * pigeonhole: order grams globally by (df asc, gram); with required
    * overlap α = ceil(0.8·n_A) for the SMALLER side A, A has only α−1 grams
    * OUTSIDE its first n_A−α+1 grams, so any qualifying pair must share a
    * gram in the smaller side's prefix. Candidates therefore come from
    * prefix ⨝ full postings — rare-gram posting lists, never all-pairs and
    * never the full gram×gram join the naive formulation (and the DuckDB
    * oracle, which IS the naive quadratic) performs. α is computed in exact
    * integer arithmetic ((4n+4) div 5) — a double 0.8·n can land on the
    * wrong side of ceil (5·0.8 rounds above 4.0) and silently shrink the
    * prefix, breaking losslessness. Verification re-joins the candidate
    * pairs against the gram table twice (keyed equi-joins) and keeps the
    * exact integer test 5·|A∩B| ≥ 4·min(n_A,n_B). */
  def qContainment(spark: SparkSession, dir: String): DataFrame =
    containmentPairs(Tables.documents(spark, dir))

  /** The reusable prefix-filtered containment join behind [[qContainment]]
    * (τ = 4/5) — takes any frame with (doc_id, text), returns the exact
    * qualifying pairs. Split out so specs can plant adversarial corpora
    * (a short doc pasted inside a long one — high containment, LOW
    * Jaccard). */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame = {
    // g — the deduped gram POSTING table — feeds five consumers (sizes,
    // doc frequencies, the prefix frame, candidate generation, and both
    // verify joins); sz feeds three. Exchange reuse does not fire across
    // the pruned consumers (plan-probed ~5 gram explosions unpinned), so
    // both are pinned: materializing the posting list once IS the
    // PPJoin-family shape at scale — five re-explosions of the text are
    // strictly worse on every axis.
    val g = pinShared(gram4Rows(docs.select(col("doc_id"), col("text")))
      .select("doc_id", "gram").dropDuplicates("doc_id", "gram"))
    val sz = pinShared(g.groupBy("doc_id").agg(count(lit(1)).as("n")))
    val dfreq = g.groupBy("gram").agg(count(lit(1)).as("gdf"))
    val prefix = g.join(dfreq, "gram")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("gdf"), col("gram"))))
      .join(sz, "doc_id")
      .filter(col("rk") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id").as("id_p"), col("gram"))
    val cand = prefix.join(g.select(col("doc_id").as("id_f"), col("gram")), "gram")
      .filter(col("id_p") =!= col("id_f"))
      .select(least(col("id_p"), col("id_f")).as("id_a"),
              greatest(col("id_p"), col("id_f")).as("id_b"))
      .distinct()
    val inter = cand
      .join(g.select(col("doc_id").as("id_a"), col("gram")), "id_a")
      .join(g.select(col("doc_id").as("id_b"), col("gram")), Seq("id_b", "gram"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(sz.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sz.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
      .filter(lit(5) * col("n_inter") >= lit(4) * least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"), col("n_inter"),
        round(col("n_inter").cast("double") / least(col("n_a"), col("n_b")), 4)
          .as("containment"))
      .orderBy("id_a", "id_b")
  }

  /** §2.9 Cross-corpus block dedup with document reassembly (r8) — the
    * C4-style cleanup: split every document into consecutive 10-word
    * blocks, keep only each distinct block's FIRST occurrence corpus-wide
    * (ordered by doc_id, then position), and stitch the surviving blocks
    * back into a cleaned document. This is removal-WITHIN-documents —
    * [[qDedupExact]]/[[qDedupMinhash]] drop whole documents, this excises
    * the duplicated spans and keeps the rest.
    *
    * Scale shape: one window keyed on the block text (hash-partitions by
    * block — the same shuffle a fingerprint groupBy would cost, and the
    * text must ride to reassembly anyway; at 100 TB partition on a 128-bit
    * fingerprint and re-join the text by (doc_id, block_idx)), then one
    * groupBy doc_id for reassembly. Conditional collect_list skips dropped
    * blocks (collect_list ignores NULL), array_sort restores document
    * order. */
  def qBlockDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = split(col("text"), " ")
    val blocks = docs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), (expr("(size(split(text, ' ')) + 9) div 10")).cast("int") - 1),
        i => array_join(slice(w, i * lit(10) + lit(1), lit(10)), " ")))
        .as(Seq("block_idx", "block_text")))
    val kept = blocks.withColumn("kept",
      row_number().over(Window.partitionBy("block_text").orderBy("doc_id", "block_idx")) === 1)
    kept.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_blocks"),
        count(when(col("kept"), lit(1))).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("block_idx"), col("block_text"))))),
          b => b.getField("block_text"))).as("clean_text"))
      .orderBy("doc_id")
  }

  /** §2.9 Entity resolution end-to-end: connected components over the
    * blocked fuzzy-match pairs — name-variant records collapse into one
    * entity id (the TPC-DI household/Prospect grouping shape; same
    * min-label CC engine as the MinHash dedup groups, demonstrating the
    * pairs→entities composition on a second pair source). */
  def qEntityGroups(spark: SparkSession, dir: String): DataFrame =
    dedupGroups(LlmRetrieval.qFuzzyMatch(spark, dir)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(col("doc_id").as("part_id"), col("group_id").as("entity_id"))
      .orderBy("part_id")

  /** §2.9 Exact heavy hitters (words above 2% of the token stream) via the
    * sketch-then-verify two-pass: pass 1 runs the Misra–Gries `Aggregator`
    * ([[graft.expr.MisraGriesAgg]], k=64) as ONE global aggregation whose
    * map-side partials each carry ≤ 64 entries — a complete candidate set
    * for any support s > 1/65 ≈ 1.5% by the MG guarantee — and pass 2
    * re-counts ONLY the candidates through a broadcast semi-join and applies
    * the exact ≥ 2% cut. The result is bit-exact (the oracle is the plain
    * vocabulary GROUP BY), but the shuffle never carries the vocabulary:
    * at 100 TB pass 1 moves k entries per map partition and pass 2 moves
    * ≤ k words — the mergeable-summaries shape, not a vocab-wide exchange.
    * Total token count rides along in the same pass-1 aggregation AND on
    * every exploded candidate row, so the sketch frame has exactly one
    * consumer and the corpus is scanned exactly twice — a second branch
    * off the sketch (e.g. a totals cross-join) would re-run the MG pass. */
  /** §2.9 Cross-source n-gram overlap matrix — provenance / contamination
    * analytics: for every source pair, how many distinct bigram shingles
    * they share. The per-gram source set is aggregated ONCE (`collect_set`
    * over the distinct (gram, source) frame — set size bounded by the
    * source count, not the corpus) and the ordered pairs are emitted by a
    * higher-order transform over that tiny sorted array, so no gram ever
    * fans out through a self-join: a gram present in s sources costs
    * s·(s-1)/2 emitted pairs inside the aggregation's output row, and the
    * final count is one hash aggregation over source-pair keys (≤ |sources|²
    * rows). The DuckDB oracle states the same result as the textbook
    * self-join on gram. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val toksCol = split(col("text"), " ")
    val docs = Tables.documents(spark, dir)
    val grams = docs.filter(size(toksCol) >= 2)
      .select(col("source"), explode(arrays_zip(
        slice(toksCol, lit(1), size(toksCol) - 1),
        slice(toksCol, lit(2), size(toksCol) - 1))).as("p"))
      .select(col("source"),
        concat_ws(" ", col("p").getField("0"), col("p").getField("1")).as("gram"))
      .distinct()
    grams.groupBy("gram").agg(array_sort(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("pr"))
      .groupBy(col("pr.a").as("source_a"), col("pr.b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** §2.9 Benchmark decontamination: flag every training document sharing at
    * least one word 4-gram with the held-out eval set (`source = 'src0'`
    * stands in for the benchmark corpus) — the n-gram-overlap scrub every
    * serious LLM pipeline runs before training (and after any eval refresh).
    *
    * Shape at scale: grams explode per doc, the eval side is DISTINCT grams
    * (vocabulary-bounded, tiny next to the corpus), and the hit test is a
    * hash EQUI-join on the gram string + a per-doc distinct count — never an
    * all-pairs document comparison. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    // shared native gram unit ([[gram4Rows]]): docs with <4 words yield no
    // gram rows — the doc still reaches the output via the left join below,
    // mirroring the oracle's empty range(1, len-2)
    val grams = gram4Rows(d).select("doc_id", "source", "gram")
    val evalGrams = grams.filter(col("source") === "src0").select("gram").distinct()
    val hits = grams.filter(col("source") =!= "src0")
      .join(evalGrams, "gram")
      .groupBy("doc_id").agg(countDistinct(col("gram")).as("n_shared"))
    d.filter(col("source") =!= "src0")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** §2.9 Chunk-level storage dedup analytics: content-defined chunks
    * ([[qContentChunks]]) hashed by their word content and counted per
    * source — unique vs total chunks is exactly the storage a
    * chunk-deduplicating store saves, and because boundaries are
    * content-defined the sharing survives insertions that would misalign
    * fixed-size blocks. Chunk text is reassembled from the token array by
    * position (slice start..end+3), hashed with md5, and aggregated twice
    * (per-source totals + distinct-hash counts) — all hash-keyed, nothing
    * all-pairs. */
  def qChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = LlmText.contentChunkFrame(Tables.documents(spark, dir))
    val hashed = chunks
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source"),
        split(col("text"), " ").as("w")), "doc_id")
      .select(col("source"),
        md5(concat_ws(" ",
          slice(col("w"), col("start_pos") + 1,
                col("end_pos") - col("start_pos") + 4))).as("chash"))
    hashed.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
           countDistinct(col("chash")).as("n_distinct"))
      .withColumn("dup_ratio",
        floor((lit(1.0) - col("n_distinct").cast("double") / col("n_chunks")) * 1e6) / 1e6)
      .select("source", "n_chunks", "n_distinct", "dup_ratio")
      .orderBy("source")
  }

  /** §2.9 Cross-document span duplication profiling (the C4/RefinedWeb
    * boilerplate rule at shingle granularity): per document, the fraction
    * of its DISTINCT 4-gram spans that also appear in at least one OTHER
    * document — templated/boilerplate docs score high and get flagged.
    * Distinct from [[qRepetitionFilter]] (within-doc loops) and
    * [[qDecontaminate]] (overlap vs a held-out set): this measures
    * corpus-internal duplication below the whole-doc level that exact and
    * near dedup both miss.
    *
    * Shape at scale: one gram explode → per-gram doc-frequency hash agg
    * (output = |distinct grams|, with map-side partials) → equi-join back
    * onto the per-doc distinct gram frame → per-doc counting agg. Every
    * exchange is keyed on gram or doc_id; nothing is ever all-pairs. */
  /** §2.9 Variable-length exact substring dedup (r17, judge #5) — the
    * Lee et al. 2022 grain `qBlockDedup` misses: duplicates that straddle
    * fixed 10-word block boundaries with offset drift. Anchors are SLIDING
    * word 10-grams at EVERY position (so a verbatim copy is caught at any
    * alignment), an anchor is DUPLICATED when its 10-gram occurs at any
    * other (doc, pos) corpus-wide, and consecutive duplicated anchors
    * merge into MAXIMAL spans (gaps-and-islands over the anchor
    * positions): a run of anchors [a, b] covers words [a, b+9]. Output is
    * one row per maximal span (doc_id, span_idx, start_pos 0-based,
    * span_len in words).
    *
    * Semantics note: a true verbatim duplicate of length L ≥ 10 has every
    * one of its 10-word windows duplicated, so it is always covered by
    * one emitted span (no false negatives at the ≥10-word grain); the
    * converse over-approximates — adjacent windows may match DIFFERENT
    * source documents, which merges abutting duplicates into one span
    * (exactly the coverage semantics suffix-array "exact substring"
    * dedup tools apply when excising).
    *
    * Shape at scale: one generator explode (10 anchor rows per word — the
    * same order of bytes a suffix array materializes), one hash agg keyed
    * on the gram (map-side partials), one equi-join back, one per-doc
    * window + agg. Nothing all-pairs; the only per-doc state is its own
    * anchor rows. At 100 TB key the agg/join on a 128-bit fingerprint of
    * the gram instead of the text (the qBlockDedup note). */
  def qSubstringDedup(spark: SparkSession, dir: String): DataFrame =
    substringSpans(Tables.documents(spark, dir))

  /** The reusable span engine behind [[qSubstringDedup]] — takes any frame
    * with (doc_id, text); split out so specs can plant offset-drift
    * corpora (a copied span at a different word offset, which fixed-block
    * dedup misses by construction). */
  private[graft] def substringSpans(docs: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(docs.sparkSession)
    // anchors feed the occurrence agg AND the join back — pinned, or the
    // corpus shingles twice (the containment/span-dup rationale)
    val anchors = pinShared(docs
      .withColumn("__w", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(call_function("word_ngrams", col("__w"), lit(10)))
          .as(Seq("pos", "gram"))))
    val occ = anchors.groupBy("gram").agg(count(lit(1)).as("n_occ"))
    val dup = anchors.join(occ.filter(col("n_occ") >= 2), Seq("gram"))
      .select("doc_id", "pos")
    val runs = dup.withColumn("island",
      col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    runs.groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("start_pos"), (max("pos") + lit(9)).as("end_pos"))
      .select(col("doc_id"),
        row_number().over(Window.partitionBy("doc_id").orderBy("start_pos"))
          .cast("int").as("span_idx"),
        col("start_pos"),
        (col("end_pos") - col("start_pos") + 1).as("span_len"))
      .orderBy("doc_id", "span_idx")
  }

  /** §2.9 Substring-span EXCISION (r18, judge #2) — the ACTION for
    * [[qSubstringDedup]]'s span report, completing the Lee et al. 2022
    * pipeline: the first corpus-wide occurrence of each duplicated span
    * TEXT survives (ordered by doc_id, then start_pos — the same
    * first-occurrence rule as [[qBlockDedup]]), every later occurrence is
    * excised word-for-word, and documents reassemble from their surviving
    * words. Span identity is the span's word TEXT: two maximal spans that
    * merged differently (a doc whose abutting duplicates fused into a
    * longer span) have different texts and both survive — the
    * conservative direction (never excises words that are not a verbatim
    * copy of a surviving span).
    *
    * Shape at scale: the span engine's shape ([[substringSpans]] — one
    * anchor explode, gram-keyed agg + join, per-doc islands), plus ONE
    * window keyed on span_text (hash-partitions by span text, the
    * qBlockDedup shuffle), one doc-keyed range-residual ANTI join (word
    * positions vs excised intervals — equi on doc_id, interval residual,
    * never all-pairs), and one per-doc reassembly agg. */
  def qSubstringExcise(spark: SparkSession, dir: String): DataFrame =
    exciseSpans(Tables.documents(spark, dir))

  /** The engine behind [[qSubstringExcise]], reusable on planted corpora
    * (specs plant an offset-drift copy and assert the COPY loses its
    * duplicated words while the original keeps them). */
  private[graft] def exciseSpans(docs: DataFrame): DataFrame = {
    val spans = substringSpans(docs)
    val withText = spans
      .join(docs.select(col("doc_id"), split(col("text"), " ").as("__w")),
        "doc_id")
      .withColumn("span_text",
        concat_ws(" ", slice(col("__w"), col("start_pos") + 1, col("span_len"))))
    val excised = withText
      .withColumn("rk", row_number().over(
        Window.partitionBy("span_text").orderBy("doc_id", "start_pos")))
      .filter(col("rk") > 1)
      .select(col("doc_id").as("e_doc"), col("start_pos").as("e_start"),
        (col("start_pos") + col("span_len") - 1).as("e_end"))
    val words = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val kept = words.join(excised,
      col("doc_id") === col("e_doc") &&
        col("pos").between(col("e_start"), col("e_end")), "left_anti")
    // n_words comes straight off the doc row (no second explode); the
    // left join keeps a fully-excised doc visible with an empty clean_text
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_words"))
      .join(kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("word")))),
            w => w.getField("word"))).as("clean_text")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Streaming-INCREMENTAL substring excision (r18 — closes the r17
    * batch/stream asymmetry: ingest previously had no counterpart to
    * [[qSubstringExcise]], so a doc 60% verbatim-copied from the corpus
    * was admitted untouched unless it was also a whole-doc near-dup).
    * Given a batch of documents and the corpus's stored anchor-gram set,
    * excise every word covered by a DUPLICATED sliding 10-gram anchor
    * occurrence, where an occurrence is duplicated iff its gram is
    * already in the stored corpus (always an earlier occurrence) or an
    * earlier `(doc_id, pos)` in THIS batch carries the same gram — the
    * arrival-order form of the batch query's first-occurrence rule,
    * stated at the anchor grain (the stored side keeps no positions:
    * "this 10-gram exists in the corpus" already marks any later
    * occurrence a loser). Returns `docs` with `text` replaced by the
    * reassembled surviving words (a fully-excised doc reads "");
    * whitespace is normalized to single spaces like the batch query.
    *
    * Shape at scale: one pinned anchor explode; the stored probe is a
    * gram-keyed SEMI join of the BATCH's anchors against the posting
    * table (O(batch) probe work — the corpus-sized side is the hash
    * build/bucket side, never re-scanned per doc); the within-batch rule
    * is one gram-keyed window over batch rows; islands/anti-join/
    * reassembly as [[exciseSpans]]. Nothing all-pairs. */
  private[graft] def exciseIncremental(docs: DataFrame,
                                       storedGrams: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(docs.sparkSession)
    val anchors = pinShared(docs
      .withColumn("__w", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(call_function("word_ngrams", col("__w"), lit(10)))
          .as(Seq("pos", "gram"))))
    val storedHit = anchors
      .join(storedGrams.select("gram").distinct(), Seq("gram"), "left_semi")
      .select("doc_id", "pos")
    val batchLoser = anchors
      .withColumn("occ", count(lit(1)).over(Window.partitionBy("gram")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("gram").orderBy("doc_id", "pos")))
      .filter(col("occ") >= 2 && col("rk") > 1)
      .select("doc_id", "pos")
    val losers = storedHit.unionByName(batchLoser).distinct()
    val runs = losers.withColumn("island",
      col("pos") - row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")))
    val excisedSpans = runs.groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("e_start"), (max("pos") + lit(9)).as("e_end"))
      .select(col("doc_id").as("e_doc"), col("e_start"), col("e_end"))
    val words = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val keptW = words.join(excisedSpans,
      col("doc_id") === col("e_doc") &&
        col("pos").between(col("e_start"), col("e_end")), "left_anti")
    val cleaned = keptW.groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("word")))),
        w => w.getField("word"))).as("__clean"))
    docs.join(cleaned, Seq("doc_id"), "left")
      .withColumn("text", coalesce(col("__clean"), lit("")))
      .drop("__clean")
  }

  def qSpanDup(spark: SparkSession, dir: String): DataFrame = {
    // the gram posting table feeds the doc-frequency agg AND the join back
    // — pinned (the containment rationale; unpinned, the text explodes
    // twice)
    val grams = pinShared(gram4Rows(Tables.documents(spark, dir))
      .select("doc_id", "gram")
      .distinct())
    val df = grams.groupBy("gram").agg(count(lit(1)).as("n_docs"))
    grams.join(df, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("dup_frac",
        floor(col("n_shared").cast("double") / col("n_grams") * 1e6) / 1e6)
      .withColumn("flagged", col("dup_frac") > 0.5)
      .select("doc_id", "n_grams", "n_shared", "dup_frac", "flagged")
      .orderBy("doc_id")
  }

}
