package graft.etl


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Llm

/** Continuous-ingest near-duplicate control — the 100 TB reality of dedup:
  * a corpus is never re-MinHashed per ingest; the pipeline keeps ONE
  * append-only posting table `(band, bkey, doc_id)` and each batch does
  * O(batch) work against it.
  *
  * Per [[ingest]] call:
  *   1. posting rows are computed for the BATCH only
  *      ([[graft.queries.Llm.minhashBandRows]] — the same signatures as the
  *      batch dedup path, so batch and incremental agree);
  *   2. batch docs colliding with a stored posting are dropped (hash
  *      EQUI-join on `(band, bkey)` — candidates stay data-proportional,
  *      no all-pairs anything);
  *   3. the surviving batch self-dedups with the full connected-components
  *      semantics of `q_dedup_keep` (min doc per component wins);
  *   4. the kept docs' postings APPEND to the index — the only write.
  *
  * Invariant after any ingest sequence: every `(band, bkey)` cell holds at
  * most ONE kept doc (two docs sharing a cell are by construction a
  * candidate pair, and one of them always loses) — spec-asserted. A
  * replayed doc that is already in the index is always dropped (it collides
  * with its own stored postings). Docs with no shingle signature (null
  * text) are indexed under a whole-text-hash cell in sentinel band -1, so
  * the replay guarantee covers them too — spec-asserted.
  *
  * Cross-batch chains are resolved GREEDILY: a doc whose only near-dups
  * were themselves dropped earlier (never indexed) is admitted — the
  * standard streaming dedup semantics, since an ingest cannot see future
  * members of a component, and its duplicates are genuinely absent from
  * the kept corpus. */
object IncrementalDedup {

  /** The postings table's CURRENT generation — resolved through the
    * compaction pointer, so reads and batch-keyed commits keep targeting one
    * immutable tree across in-stream compactions ([[Compaction.currentPath]]). */
  private def postingsPath(indexDir: String) =
    Compaction.currentPath(s"$indexDir/postings")

  private def hasIndex(indexDir: String): Boolean = {
    val fs = graft.GraftFs.default
    val root = postingsPath(indexDir)
    // legacy append layout marks the root with _SUCCESS; the batch_id-keyed
    // dynamic-overwrite path ([[commitPostings]] with a batch id) only
    // creates its partition dir — either signals a committed index
    if (fs.exists(s"$root/_SUCCESS")) return true
    if (!fs.isDirectory(root)) return false
    fs.list(root).exists(
      p => java.nio.file.Paths.get(p).getFileName.toString.startsWith("batch_id="))
  }

  /** Dedup `batch` (`doc_id`, `text`, …) against the index at `indexDir`
    * and within itself, append the survivors' postings, and return the kept
    * rows (original batch columns). `imageCol` / `audioCol` / `videoCol`
    * name optional binary media-payload columns: decodable images/clips/
    * videos then ALSO post their perceptual fingerprint bands, extending
    * the near-dup gate across those modalities (see [[keptPostings]]).
    *
    * INDEX-FORMAT NOTE (r13): when a media column is configured, the
    * sentinel band -1 bkey for signature-less docs hashes the text AND
    * every configured media payload ("|"-delimited) — an index whose
    * sentinel cells were written by the pre-r13 text-only md5 will
    * re-admit an exact replay of such a doc ONCE (its new-format cell then
    * sticks). Rebuild media-configured indexes written before that change,
    * or accept the one-time re-admission per legacy signature-less doc. */
  def ingest(batch: DataFrame, indexDir: String,
             bands: Int = 4, rowsPerBand: Int = 2,
             imageCol: Option[String] = None,
             audioCol: Option[String] = None,
             videoCol: Option[String] = None): DataFrame = {
    val keptPosts = keptPostings(batch, indexDir, bands, rowsPerBand,
      imageCol = imageCol, audioCol = audioCol, videoCol = videoCol)
    commitPostings(keptPosts, indexDir)
    batch.join(keptPosts.select("doc_id").distinct(), Seq("doc_id"), "left_semi")
  }

  /** Steps 1–2 of [[ingest]] as a PURE computation — the batch's surviving
    * posting rows against the CURRENT index, no writes. Exposed so a
    * composed at-least-once pipeline can stage its effects BEFORE
    * [[commitPostings]] ([[graft.stream.Streams.corpusIngest]] uses the
    * per-doc form, [[gateBatch]]). Deterministic for a fixed index state,
    * so a preview and a later commit in the same micro-batch agree.
    *
    * `excludeBatchKey`: a streaming pipeline passes its LINEAGE-SCOPED
    * batch key (`<queryId prefix>-<batchId>`) so the stored-index read
    * SKIPS that batch's own `batch_id=` posting partition (a pruned
    * partition filter — no extra scan cost). A replayed micro-batch then
    * sees the exact pre-batch index state — even if its own commit
    * partially landed before the crash — and re-derives the ORIGINAL
    * survivor set deterministically, which is what makes every downstream
    * batch-keyed overwrite exactly-once in effect. Batch-mode callers (no
    * stable batch id) leave it None and get the collision semantics
    * instead: a replayed doc collides with its own stored postings and is
    * dropped. */
  def keptPostings(batch: DataFrame, indexDir: String,
                   bands: Int = 4, rowsPerBand: Int = 2,
                   excludeBatchKey: Option[String] = None,
                   imageCol: Option[String] = None,
                   audioCol: Option[String] = None,
                   videoCol: Option[String] = None): DataFrame = {
    val posts = postings(batch, bands, rowsPerBand, imageCol, audioCol, videoCol)
      .localCheckpoint(true)
    // 1) drop batch docs colliding with the stored corpus (see
    // [[storedHitCells]] for the join direction)
    val survivorPosts = storedHitCells(posts, indexDir, excludeBatchKey) match {
      case None => posts
      case Some(cells) =>
        val hit = posts
          .join(broadcast(cells), Seq("band", "bkey"), "left_semi")
          .select("doc_id").distinct()
        posts.join(hit, Seq("doc_id"), "left_anti")
    }
    // 2) full CC dedup within the surviving batch (q_dedup_keep semantics)
    val nonCanonical = Llm.dedupGroups(Llm.bandStarEdges(survivorPosts))
      .filter(col("doc_id") =!= col("group_id"))
      .select("doc_id")
    survivorPosts.join(nonCanonical, Seq("doc_id"), "left_anti")
  }

  /** The near-dup gate of ONE streamed micro-batch
    * ([[graft.stream.Streams.corpusIngest]]): [[keptPostings]]' decisions
    * plus the DROP-GATE diagnosis, staged so the caller decides every doc
    * in one frame. Returns
    *   - the batch's posting rows `(doc_id, band, bkey)`, PINNED — the
    *     rows the caller commits for its admitted docs;
    *   - a LAZY per-doc verdict `(doc_id, dd, gate)` over that pin: `dd`
    *     is true when the doc survives both the stored-index gate and the
    *     in-batch CC (exactly [[keptPostings]]' doc set); for a dropped doc
    *     `gate` names WHICH modality's collision decided it (the "why isn't
    *     my doc in the corpus?" question). The gate comes from the doc's
    *     posting rows IMPLICATED in a collision — a stored-index hit cell,
    *     or an in-batch cell shared by two or more index survivors — mapped
    *     through the structural band namespaces: -1 → `exact` (the
    *     signature-less content-hash sentinel), 0–999 → `text`, 1000+ →
    *     `image`, 2000+ → `audio`, 3000+ → `video`; several implicated
    *     namespaces report the LOWEST (exact < text < image < audio <
    *     video).
    *
    * After the postings pin, one more pin carries all the evidence: every
    * posting row with its stored-hit flag (the same single index scan, streamed into a broadcast
    * gate join), whether its doc hit the index, and its cell's lowest and
    * highest index-survivor doc. The in-batch star edges
    * ([[graft.queries.Llm.bandStarEdges]]' rule: cell root = lowest
    * survivor, one edge per other survivor) and the collision cells are
    * projections of that pin, so the CC input costs no further exchange;
    * edges may repeat across bands, which the components do not care
    * about. */
  private[graft] def gateBatch(batch: DataFrame, indexDir: String,
                               bands: Int = 4, rowsPerBand: Int = 2,
                               excludeBatchKey: Option[String] = None,
                               imageCol: Option[String] = None,
                               audioCol: Option[String] = None,
                               videoCol: Option[String] = None)
      : (DataFrame, DataFrame) = {
    // pinned on its own first: the stored probe's broadcast side and the
    // flagged rows both read it, and the two copies of the signature
    // aggregation do not share an exchange (the probe side carries a
    // pushed-down null filter)
    val posts0 = postings(batch, bands, rowsPerBand, imageCol, audioCol, videoCol)
      .localCheckpoint(true)
    val flagged = storedHitCells(posts0, indexDir, excludeBatchKey) match {
      case Some(cells) => posts0
        .join(broadcast(cells.withColumn("hit", lit(true))),
          Seq("band", "bkey"), "left")
        .withColumn("hit", coalesce(col("hit"), lit(false)))
      case None => posts0.withColumn("hit", lit(false))
    }
    val byCell = Window.partitionBy("band", "bkey")
    val survivorId = when(!col("doc_hit"), col("doc_id"))
    val posts = flagged
      .withColumn("doc_hit", max(col("hit")).over(Window.partitionBy("doc_id")))
      .withColumn("root", min(survivorId).over(byCell))
      .withColumn("crowded",
        coalesce(col("root") =!= max(survivorId).over(byCell), lit(false)))
      .localCheckpoint(true)
    val edges = posts.filter(!col("doc_hit") && col("doc_id") =!= col("root"))
      .select(col("root").as("doc_a"), col("doc_id").as("doc_b"))
    val ccDrop = Llm.dedupGroups(edges)
      .filter(col("doc_id") =!= col("group_id"))
      .select(col("doc_id"), lit(true).as("cc_drop"))
    val verdict = posts
      .join(broadcast(ccDrop), Seq("doc_id"), "left")
      .groupBy("doc_id").agg(
        (!max(col("doc_hit")) && max(col("cc_drop")).isNull).as("dd"),
        min(when(col("hit") || col("crowded"), col("band"))).as("b"))
      .select(col("doc_id"), col("dd"),
        when(!col("dd"),
          when(col("b") === -1, "exact")
            .when(col("b") < 1000, "text")
            .when(col("b") < 2000, "image")
            .when(col("b") < 3000, "audio")
            .otherwise("video")).as("gate"))
    (posts.select("doc_id", "band", "bkey"), verdict)
  }

  /** Every posting row `(doc_id, band, bkey)` of a batch: MinHash bands,
    * the configured media fingerprint bands, and the content-hash sentinel
    * for docs with no signature. Lazy; posting rows of one doc never depend
    * on another doc. */
  private def postings(batch: DataFrame, bands: Int, rowsPerBand: Int,
                       imageCol: Option[String],
                       audioCol: Option[String],
                       videoCol: Option[String]): DataFrame = {
    val spark = batch.sparkSession
    // the media namespaces (image 1000+, audio 2000+, video 3000+) are
    // disjoint from text minhash bands STRUCTURALLY, not by convention: a
    // caller asking for >= 1000 text bands would silently collide text
    // posting cells with the image namespace (ADVICE r13)
    require(bands < 1000,
      s"IncrementalDedup: text band count must stay below the media band " +
        s"namespaces (image 1000+, audio 2000+, video 3000+), got $bands")
    // hash the batch ONCE; every later step reuses these postings
    val hashed = Llm.minhashBandRows(batch, bands, rowsPerBand)
    // IMAGE MODALITY (r12 #5): decodable image payloads post their four
    // 16-bit dHash bands into the SAME table under a disjoint band-id
    // range — cross-batch image near-dups (Hamming ≤ 3 always shares a
    // band; pigeonhole) then collide exactly like text minhash dups, and
    // every downstream step (collision gate, in-batch CC, batch-keyed
    // commit, replay exclusion) applies unchanged.
    val imagePosts = imageCol match {
      case Some(c) =>
        // FAIL LOUDLY on a missing column: a structured stream's schema is
        // fixed, so a name typo would otherwise disable the image gate for
        // the stream's whole lifetime, indistinguishable from "no dups"
        require(batch.columns.contains(c),
          s"IncrementalDedup: imageCol '$c' is not a column of the batch " +
            s"(columns: ${batch.columns.mkString(", ")})")
        // pin the fingerprints: the frame feeds BOTH the posting union and
        // the signed-docs anti-join below — without the checkpoint every
        // image would be PNG-decoded and dHashed twice per batch
        graft.sources.Multimodal.imagePostingRows(batch, c)
          .localCheckpoint(true)
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bkey")
    }
    // AUDIO MODALITY (r13): decodable clips post their four 16-bit
    // slice-gradient fingerprint bands under band ids 2000+ — the third
    // disjoint namespace in the one posting table; everything downstream
    // applies unchanged (see [[Multimodal.audioPostingRows]]).
    val audioPosts = audioCol match {
      case Some(c) =>
        require(batch.columns.contains(c),
          s"IncrementalDedup: audioCol '$c' is not a column of the batch " +
            s"(columns: ${batch.columns.mkString(", ")})")
        graft.sources.Multimodal.audioPostingRows(batch, c)
          .localCheckpoint(true)
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bkey")
    }
    // VIDEO MODALITY (r14): demuxable MJPEG-in-AVI clips post their four
    // 16-bit temporal-gradient fingerprint bands under band ids 3000+ —
    // the fourth disjoint namespace, closing the dedup × modality matrix
    // (see [[Multimodal.videoPostingRows]]).
    val videoPosts = videoCol match {
      case Some(c) =>
        require(batch.columns.contains(c),
          s"IncrementalDedup: videoCol '$c' is not a column of the batch " +
            s"(columns: ${batch.columns.mkString(", ")})")
        graft.sources.Multimodal.videoPostingRows(batch, c)
          .localCheckpoint(true)
      case None =>
        import spark.implicits._
        Seq.empty[(Long, Int, String)].toDF("doc_id", "band", "bkey")
    }
    // A doc with NO signature of any modality (null text, no decodable
    // image or clip) still gets ONE posting — an exact-content hash cell in
    // sentinel band -1 — so an exact replay collides with its own stored
    // posting and is dropped like any other duplicate, instead of being
    // re-admitted on every batch. The cell hashes the text AND every
    // configured media payload (md5 over the raw bytes, "|"-delimited):
    // when a media column is configured, UNDECODABLE payloads (codecs
    // outside the supported subset — for audio that is everything but
    // 16-bit PCM WAV, the COMMON case for real media) land here, and a
    // text-only md5 would collapse every null-text one onto the md5("")
    // cell, silently greedy-dropping distinct clips as duplicates of the
    // first. Distinct payloads now get distinct cells; identical
    // (text, payload) tuples still collide — exact-dup semantics. Near-dups
    // of signature-less docs remain undetectable by construction; only
    // EXACT repeats carry evidence, and the content-hash cell is it.
    // Without media columns the signature-less docs are exactly the
    // null-text ones (a non-null text always shingles: a one-word or empty
    // text shingles as itself, see Llm.shingleRows), so no anti-join
    // against the signed docs is needed.
    val mediaCols = imageCol.toSeq ++ audioCol.toSeq ++ videoCol.toSeq
    val mediaSig = mediaCols.map(c => coalesce(md5(col(c)), lit("")))
    val unsigned =
      if (mediaCols.isEmpty) batch.filter(col("text").isNull)
      else batch.join(hashed.select("doc_id")
        .union(imagePosts.select("doc_id"))
        .union(audioPosts.select("doc_id"))
        .union(videoPosts.select("doc_id")).distinct(), Seq("doc_id"), "left_anti")
    val unshingled = unsigned
      .select(col("doc_id"), lit(-1).as("band"),
              md5(concat_ws("|",
                (coalesce(col("text"), lit("")) +: mediaSig): _*)).as("bkey"))
    hashed.unionByName(imagePosts).unionByName(audioPosts)
      .unionByName(videoPosts)
      .unionByName(unshingled)
  }

  /** The stored-index cells a batch's postings hit, or None before the
    * index exists. Join DIRECTION matters at scale: `posts SEMI stored`
    * builds on the stored table (LeftSemi can only broadcast its
    * right/build side), and since the index is the corpus-sized side Spark
    * would shuffle the ENTIRE posting table per micro-batch. Flipped —
    * `stored SEMI broadcast(batch cells)` — the index is STREAMED once
    * against a broadcast probe set bounded by the batch's own postings,
    * and never shuffles; only the batch-bounded hits go on (one row per
    * matching stored posting). Bit-identical
    * result (set intersection is symmetric), spec-asserted shuffle-free on
    * the stored side. */
  private def storedHitCells(posts: DataFrame, indexDir: String,
                             excludeBatchKey: Option[String]): Option[DataFrame] =
    if (!hasIndex(indexDir)) None
    else {
      val root = postingsPath(indexDir)
      val batchLayout = graft.GraftFs.default.list(root).exists(p =>
        java.nio.file.Paths.get(p).getFileName.toString.startsWith("batch_id="))
      // the gate reads only the cell columns, so it declares them: no
      // schema-inference job per batch, and `batch_id` reads as the STRING
      // it is written as (inference would type an all-numeric batch_id dir
      // set as int, and int-vs-string comparison would cast the
      // non-numeric key to null and drop every stored row from the gate)
      val storedAll = posts.sparkSession.read
        .schema("band INT, bkey STRING" + (if (batchLayout) ", batch_id STRING" else ""))
        .parquet(root)
      val storedOwn = excludeBatchKey match {
        case Some(k) if batchLayout => storedAll.filter(col("batch_id") =!= k)
        case _ => storedAll
      }
      // neither side is de-duplicated: a semi join's build side needs no
      // distinct, and a cell stored twice only repeats a HIT posting,
      // whose doc is dropped whatever its multiplicity (each distinct
      // would cost an exchange, i.e. a job per batch)
      Some(storedOwn.select(col("band"), col("bkey"))
        .join(broadcast(posts.select("band", "bkey")),
          Seq("band", "bkey"), "left_semi"))
    }

  /** Step 3 of [[ingest]]: land the kept docs' postings — the only write,
    * and the batch's commit point. The index stays bucket-unique: EVERY doc
    * carries at least one posting (minhash bands or the band=-1 whole-text
    * cell), so the kept corpus is exactly the kept-posting docs.
    *
    * The table is laid out in `batch_id=` partitions. A streaming caller
    * passes a LINEAGE-SCOPED batch key (`<queryId prefix>-<batchId>`): the
    * commit then OVERWRITES its own partition, so an at-least-once replay
    * (which, with the matching `excludeBatchKey` on [[keptPostings]],
    * recomputes the identical survivor set) rewrites the same rows instead
    * of duplicating them — a partially-landed commit is healed whole — and
    * a fresh-checkpoint restart's restarting batch numbers land under NEW
    * keys, never over a prior lineage's committed postings. Batch-mode
    * callers (None) append under the `batch_id=-1` base partition; a
    * pre-r11 flat table is first upgraded in place (file moves, no
    * rewrite) by [[AnnIndex.migrateFlatLayout]]. */
  def commitPostings(keptPosts: DataFrame, indexDir: String,
                     batchKey: Option[String] = None): Unit = {
    if (batchKey.isDefined) AnnIndex.migrateFlatLayout(postingsPath(indexDir), depth = 0)
    val rows = keptPosts.select("band", "bkey", "doc_id")
      .withColumn("batch_id", lit(batchKey.getOrElse("-1")))
      .write.partitionBy("batch_id")
    (batchKey match {
      case Some(_) => rows.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
      case None => rows.mode("append")
    }).parquet(postingsPath(indexDir))
  }
}
