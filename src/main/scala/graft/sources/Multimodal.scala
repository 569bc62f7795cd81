package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (SURVEY.md §2.9 "multimodal columns"): image/audio/
  * video payloads travel as opaque `binary` columns next to typed metadata,
  * and per-asset processing (decode / feature-extract / resize / frame-
  * sample) runs as a partition-parallel typed transformation.
  *
  * The Spark-side plumbing here is REAL and tested (schema, parquet
  * round-trip, Dataset mapPartitions batching, deterministic output) — and
  * so are ALL THREE modality decoders, each on JDK-shipped codecs (no
  * external library): the IMAGE path decodes genuine PNG payloads
  * pixel-exactly with `javax.imageio` ([[decodePng]]), the AUDIO path
  * (r13) decodes genuine WAV/PCM payloads sample-exactly with
  * `javax.sound.sampled` ([[decodeWav]] — duration, RMS, zero-crossing
  * rate, peak, DC offset over the decoded samples), and the VIDEO path
  * (r14) demuxes genuine MJPEG-in-AVI payloads with a hand-rolled RIFF
  * chunk walk ([[demuxAvi]] — the AVI container is a public spec and a
  * plain length-prefixed chunk list, the same no-external-codec move as
  * the WAV leg) whose frames are ordinary JPEGs `javax.imageio` decodes
  * ([[decodeAviFrames]]). Codecs OUTSIDE those subsets (H.264, MP3, …)
  * fall back to the deterministic `decodeStub` — swapping a real codec in
  * changes only the decode body (same signature, same batched
  * per-partition call shape an FFmpeg JNI codec would want).
  */
object Multimodal {

  /** One asset row: payload + typed metadata, the storage schema. */
  final case class Asset(asset_id: Long, kind: String, payload: Array[Byte],
                         width: Int, height: Int, sample_rate: Int, format: String)

  /** Extracted per-asset features (fixed-width vector + scalar stats). */
  final case class AssetFeatures(asset_id: Long, kind: String, n_bytes: Int,
                                 checksum: Long, features: Array[Float])

  /** Deterministic synthetic corpus. IMAGE assets carry a REAL PNG payload
    * (a seeded RGB pattern encoded with ImageIO on the executor — the
    * metadata dims are the true encoded dims); AUDIO assets carry a REAL
    * WAV payload (a seeded two-tone PCM mixture, encoded with the JDK's
    * AudioSystem — the metadata sample_rate is the true encoded rate);
    * VIDEO assets (r14) carry a REAL MJPEG-in-AVI payload (17 seeded
    * block-card frames JPEG-encoded into the hand-rolled RIFF container —
    * the metadata dims are the true encoded frame dims). */
  def syntheticAssets(spark: SparkSession, n: Int): Dataset[Asset] = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val kind = if (i % 3 == 0) "image" else if (i % 3 == 1) "audio" else "video"
      val (w, h) = (16 + (i % 16).toInt, 12 + (i % 12).toInt)
      val payload = kind match {
        case "image" => syntheticPng(i, w, h)
        case "audio" => syntheticWav(i, 8000, 400 + (i % 37).toInt * 8)
        case _ => syntheticAvi(i, w, h)
      }
      Asset(i, kind, payload, w, h,
            if (kind == "audio") 8000 else 0,
            kind match { case "image" => "png"; case "audio" => "wav"; case _ => "avi" })
    }
  }

  /** THE one PCM→WAV encoder (16-bit mono little-endian, samples clamped to
    * ±32767) — every WAV producer in main and test code delegates here, so
    * the container details live in exactly one place. */
  private[graft] def encodeWav(samples: Array[Int], sr: Int): Array[Byte] = {
    val bytes = new Array[Byte](samples.length * 2)
    var k = 0
    while (k < samples.length) {
      val v = math.max(-32767, math.min(32767, samples(k)))
      bytes(2 * k) = (v & 0xff).toByte
      bytes(2 * k + 1) = ((v >> 8) & 0xff).toByte
      k += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sr.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    try javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    finally ais.close()
    bos.toByteArray
  }

  /** A GENUINELY different container over the same samples: append a
    * benign `JUNK` chunk and patch the RIFF length — the bytes differ, the
    * decoded PCM does not. This is what makes the planted "re-container"
    * near-dup (and the container-invariance checksum assertion) test real
    * container variation instead of degenerating to a byte-identity check
    * against the deterministic writer. */
  private[graft] def withTrailingJunkChunk(wav: Array[Byte]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(wav, wav.length + 12)
    out(wav.length) = 'J'; out(wav.length + 1) = 'U'
    out(wav.length + 2) = 'N'; out(wav.length + 3) = 'K'
    out(wav.length + 4) = 4 // chunk payload size, little-endian
    val riff = (wav(4) & 0xffL) | ((wav(5) & 0xffL) << 8) |
      ((wav(6) & 0xffL) << 16) | ((wav(7) & 0xffL) << 24)
    val patched = riff + 12
    out(4) = (patched & 0xff).toByte
    out(5) = ((patched >> 8) & 0xff).toByte
    out(6) = ((patched >> 16) & 0xff).toByte
    out(7) = ((patched >> 24) & 0xff).toByte
    out
  }

  /** A seeded two-tone 16-bit mono PCM clip, WAV-encoded (lossless
    * container over raw PCM — decoders recover the exact samples, which is
    * what makes [[decodeWav]]'s stats assertable). Tone frequencies/
    * amplitude derive from the seed so distinct assets carry genuinely
    * different signals. */
  private[graft] def syntheticWav(seed: Long, sr: Int, nFrames: Int): Array[Byte] = {
    val f1 = 200.0 + (seed % 17) * 40.0
    val f2 = 950.0 + (seed % 13) * 70.0
    val a1 = 0.35 + (seed % 5) * 0.08
    val samples = Array.tabulate(nFrames) { i =>
      val t = i.toDouble / sr
      val v = a1 * math.sin(2 * math.Pi * f1 * t) + 0.2 * math.sin(2 * math.Pi * f2 * t)
      math.round(v * 20000).toInt
    }
    encodeWav(samples, sr)
  }

  /** A seeded w×h RGB test card, PNG-encoded (lossless — decoders recover
    * the exact per-pixel values, which is what makes [[decodePng]]'s stats
    * assertable). */
  private[graft] def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((seed * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((seed * 17 + x * 11 + y * 3) % 256).toInt
        val b = ((seed * 23 + x * 5 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** STUB decoder — deterministic features from payload bytes. A real
    * implementation decodes the media (JPEG/WAV/frame-sampled video) here;
    * everything around this call — batching, schema, partition parallelism —
    * is production plumbing. */
  private[graft] def decodeStub(payload: Array[Byte]): (Long, Array[Float]) = {
    var checksum = 0L
    var i = 0
    while (i < payload.length) { checksum = checksum * 131 + (payload(i) & 0xff); i += 1 }
    val feats = Array.tabulate(8) { k =>
      var acc = 0L
      var j = k
      while (j < payload.length) { acc += (payload(j) & 0xff); j += 8 }
      (acc % 997).toFloat / 997f
    }
    (checksum, feats)
  }

  /** REAL WAV/PCM decode via the JDK's `javax.sound.sampled` (ships in
    * every JRE — no external codec needed for WAV): sample-exact signal
    * stats over the decoded 16-bit PCM stream:
    * `[duration_s, rms, zcr, peak, channels, sr/48000, dc_offset,
    * size_bucket]` (amplitudes normalized by 2¹⁵; zcr per sample over the
    * interleaved stream — exact for the mono corpus, a documented
    * approximation for multi-channel), plus a sample checksum (the same
    * rolling polynomial as [[decodePng]]'s raster hash, over DECODED
    * samples — two containers of the same PCM agree). Restricted to the
    * PCM_SIGNED 16-bit subset the synthetic corpus writes; anything else —
    * or an unparsable payload — returns None so callers fall back to the
    * stub rather than mis-decoding. */
  private[graft] def decodeWav(payload: Array[Byte]): Option[(Long, Array[Float])] =
    decodePcm(payload).map { case (samples, sr, channels) =>
      val n = samples.length
      var checksum = 0L
      var sum = 0.0; var sum2 = 0.0; var zc = 0L; var peak = 0
      var prevSign = 0
      var i = 0
      while (i < n) {
        val s = samples(i)
        checksum = checksum * 131 + (s & 0xffff)
        val a = math.abs(s)
        if (a > peak) peak = a
        sum += s; sum2 += s.toDouble * s
        val sign = Integer.signum(s)
        if (sign != 0 && prevSign != 0 && sign != prevSign) zc += 1
        if (sign != 0) prevSign = sign
        i += 1
      }
      val frames = n / channels
      (checksum, Array[Float](
        frames / sr,
        (math.sqrt(sum2 / n) / 32768.0).toFloat,
        zc.toFloat / math.max(1, n - 1),
        peak / 32768f,
        channels.toFloat,
        sr / 48000f,
        (sum / n / 32768.0).toFloat,
        math.min(1f, n / 65536f)))
    }

  /** The ONE decode entry point (every image path shares it — a decoder
    * fix or format addition lands here once): any ImageIO-supported
    * payload to its raster; None when undecodable. */
  private[graft] def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    catch { case _: Exception => None }

  /** REAL PNG decode via the JDK's `javax.imageio` (ships in every JRE —
    * no external codec needed for PNG): pixel-exact per-channel stats over
    * the decoded raster, all normalized to [0, 1]:
    * `[w/1024, h/1024, meanR, meanG, meanB, meanLuma, stdLuma, w/(w+h)]`,
    * plus a pixel checksum (the polynomial hash over the RGB raster — the
    * same rolling form as [[decodeStub]]'s byte hash, but over DECODED
    * pixels, so two different encodings of the same image agree). Returns
    * None for an undecodable payload so callers fall back to the stub. */
  private[graft] def decodePng(payload: Array[Byte]): Option[(Long, Array[Float])] =
    decodeImage(payload).map { img =>
      {
        val w = img.getWidth
        val h = img.getHeight
        var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0; var sl2 = 0.0
        var checksum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val argb = img.getRGB(x, y)
            val r = (argb >> 16) & 0xff
            val g = (argb >> 8) & 0xff
            val b = argb & 0xff
            val l = (0.299 * r + 0.587 * g + 0.114 * b) / 255.0
            sr += r; sg += g; sb += b; sl += l; sl2 += l * l
            checksum = checksum * 131 + (argb & 0xffffff)
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toDouble
        val meanL = sl / n
        (checksum, Array[Float](
          w / 1024f, h / 1024f,
          (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat, (sb / n / 255.0).toFloat,
          meanL.toFloat,
          math.sqrt(math.max(0.0, sl2 / n - meanL * meanL)).toFloat,
          w.toFloat / (w + h)))
      }
    }

  /** Partition-parallel feature extraction: one `mapPartitions` pass so a
    * real codec could amortize per-partition init (model load, JNI handle)
    * across its batch — the Scala twin of the Arrow-batched Python UDF
    * pattern. PNG images take the REAL image decode ([[decodePng]]), WAV
    * audio the REAL PCM decode ([[decodeWav]]), AVI video the REAL demux +
    * per-frame JPEG decode ([[decodeAviVideo]]); formats outside those
    * subsets (and undecodable payloads of any of them) fall back to the
    * stub. */
  def extractFeatures(assets: Dataset[Asset]): Dataset[AssetFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition init for a real decoder would go here
      it.map { a =>
        val real =
          if (a.kind == "image" && a.format == "png") decodePng(a.payload)
          else if (a.kind == "audio" && a.format == "wav") decodeWav(a.payload)
          else if (a.kind == "video" && a.format == "avi") decodeAviVideo(a.payload)
          else None
        val (checksum, feats) = real.getOrElse(decodeStub(a.payload))
        AssetFeatures(a.asset_id, a.kind, a.payload.length, checksum, feats)
      }
    }
  }

  /** Feature table as a DataFrame keyed for downstream joins. */
  def featureFrame(assets: Dataset[Asset]): DataFrame =
    extractFeatures(assets).toDF()
      .repartition(col("kind")) // co-locate per-modality processing downstream

  /** §2.9 multimodal (no-oracle; rows/schema smoke in CORRECTNESS, contracts
    * in MultimodalSpec): the declared feature-extraction query over the
    * deterministic synthetic corpus — the sfDir carries no media, so the
    * corpus is generated (`sfDir` ignored); the feature vector is flattened
    * to a CSV string so every output column is scalar. */
  def qMultimodalFeatures(spark: SparkSession,
      @scala.annotation.unused dir: String): DataFrame =
    featureFrame(syntheticAssets(spark, 300))
      .select(col("asset_id"), col("kind"), col("n_bytes"), col("checksum"),
        array_join(transform(col("features"), f => f.cast("string")), ",")
          .as("features_csv"))
      .orderBy("asset_id")

  // ---- image near-dup dedup (perceptual hash × banded Hamming join) ------

  /** 64-bit dHash (difference hash) of a decoded image: the luma raster is
    * area-averaged onto a 9×8 grid and bit (y·8 + x) is set when
    * `grid[x+1][y] > grid[x][y]` — the standard gradient fingerprint.
    * Robust by construction against exactly the transforms a dedup pipeline
    * must see through: RE-ENCODING a lossless format reproduces the raster
    * (identical hash), and a GLOBAL BRIGHTNESS shift adds the same constant
    * to both cells of every comparison, leaving each `>` unchanged except
    * where channel clamping bites — a handful of bit flips at most, inside
    * the Hamming ≤ 3 candidate threshold. Two unrelated images disagree on
    * ~half the gradient signs (expected Hamming ≈ 32), far outside it. */
  private[graft] def dHash64(img: java.awt.image.BufferedImage): Long = {
    val (gw, gh) = (9, 8)
    val w = img.getWidth
    val h = img.getHeight
    val grid = Array.ofDim[Double](gw, gh)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        // cell pixel range [x0, x1) × [y0, y1) — never empty (ceil'd end)
        val x0 = gx * w / gw; val x1 = math.max((gx + 1) * w / gw, x0 + 1)
        val y0 = gy * h / gh; val y1 = math.max((gy + 1) * h / gh, y0 + 1)
        var s = 0.0
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            val argb = img.getRGB(x, y)
            s += 0.299 * ((argb >> 16) & 0xff) + 0.587 * ((argb >> 8) & 0xff) +
              0.114 * (argb & 0xff)
            x += 1
          }
          y += 1
        }
        grid(gx)(gy) = s / ((math.min(x1, w) - x0).toLong * (math.min(y1, h) - y0))
        gx += 1
      }
      gy += 1
    }
    var hash = 0L
    var j = 0
    while (j < 64) {
      val x = j % 8; val y = j / 8
      if (grid(x + 1)(y) > grid(x)(y)) hash |= (1L << j)
      j += 1
    }
    hash
  }

  /** Per-image perceptual fingerprints as four 16-bit bands
    * `(doc_id, b0..b3)` — the exact input shape of
    * [[graft.queries.Llm.bandedHammingPairs]], so image near-dup reuses the
    * text SimHash candidate machinery unchanged. Decode is partition-
    * parallel (one `mapPartitions` pass, zero shuffle); non-image or
    * undecodable payloads are skipped — an asset that cannot be decoded
    * cannot be perceptually compared. */
  def imageFingerprints(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        if (a.kind != "image") None
        else decodeImage(a.payload).map { img =>
          val hsh = dHash64(img)
          (a.asset_id, (hsh & 0xffffL).toInt,
            ((hsh >>> 16) & 0xffffL).toInt, ((hsh >>> 32) & 0xffffL).toInt,
            ((hsh >>> 48) & 0xffffL).toInt)
        }
      }
    }.toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** Per-image DEDUP POSTING rows `(doc_id, band, bkey)` — the exact row
    * shape of [[graft.queries.Llm.minhashBandRows]], so an image-carrying
    * ingest stream feeds the SAME [[graft.etl.IncrementalDedup]] posting
    * table and admission machinery as text (band ids offset by `bandBase`
    * so the two modalities' cells can never collide in one table). Each
    * decodable image contributes its four 16-bit dHash bands as hex bkeys;
    * by pigeonhole, any stored image within Hamming ≤ 3 shares at least
    * one band with the incoming one, so banded-cell collision admission
    * has FULL recall over the near-dup threshold — with the same
    * probabilistic precision as minhash LSH bands (an unrelated pair
    * sharing one 16-bit band is a greedy false drop, ~4·2⁻¹⁶ per stored
    * pair per cell — the standard LSH admission trade, tunable by band
    * width). Undecodable or null payloads contribute no rows (they fall to
    * the caller's whole-payload fallback). */
  def imagePostingRows(batch: DataFrame, imageCol: String,
                       bandBase: Int = 1000): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("doc_id").cast("long"), col(imageCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          if (payload == null) Iterator.empty
          else decodeImage(payload) match {
            case Some(img) =>
              val h = dHash64(img)
              (0 until 4).iterator.map { b =>
                (id, bandBase + b, f"${(h >>> (16 * b)) & 0xffffL}%04x")
              }
            case None => Iterator.empty[(Long, Int, String)]
          }
        }
      }.toDF("doc_id", "band", "bkey")
  }

  /** Near-dup pairs over an image corpus: perceptual dHash fingerprints →
    * the shared banded Hamming join. Output `(asset_a, asset_b, hamming)`. */
  def imageDedupPairs(assets: Dataset[Asset]): DataFrame =
    graft.queries.Llm.bandedHammingPairs(imageFingerprints(assets))
      .select(org.apache.spark.sql.functions.col("doc_a").as("asset_a"),
        org.apache.spark.sql.functions.col("doc_b").as("asset_b"),
        org.apache.spark.sql.functions.col("hamming"))

  /** A synthetic image corpus with PLANTED near-duplicates, for
    * [[qImageDedup]] and the MultimodalSpec recall cases: `nBase` distinct
    * PNG test cards (ids `0 until nBase`), and for every `everyK`-th base
    * THREE planted variants — a pure RE-ENCODE (id + nBase; identical
    * raster, Hamming 0), a BRIGHTNESS-SHIFTED copy (id + 2·nBase; +6 per
    * channel, clamped), and a LOCAL BLOCK EDIT (id + 3·nBase): dHash grid
    * cells (4,4)–(5,4) painted black, which pins the three touched
    * gradient comparisons (bits 35/36/37) to (0,0,1) and leaves every
    * other cell mean untouched — the planted pair lands at the measured
    * Hamming ∈ [0, 3], usually ≥ 1, exercising the banded join's
    * TOLERANCE band rather than only its exact-match path. Fully
    * deterministic, generated on executors. */
  /** A seeded BLOCK-RANDOM test card (4×4-pixel blocks of hash-derived
    * color), PNG-encoded. Chosen over [[syntheticPng]]'s linear ramps for
    * the dedup corpus because dHash compares area-averaged cell means:
    * ramp patterns give adjacent cells a seed-independent mean gradient
    * (many fingerprint bits would agree across unrelated cards), while
    * per-block hashes make each cell mean an independent draw — unrelated
    * cards land at the expected Hamming ≈ 32. Channels stay in [10, 240]
    * so a +6 brightness shift never clamps (the planted near-dup is then
    * fingerprint-exact; real-world clamping costs at most a few bits,
    * still inside the ≤ 3 threshold). */
  private[graft] def syntheticBlockCard(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var v = seed * 2654435761L + (x / 4) * 40503L + (y / 4) * 65027L
        v ^= (v >>> 21); v *= -7046029254386353131L; v ^= (v >>> 28)
        def ch(shift: Int) = 10 + (((v >>> shift) & 0xff) % 231).toInt
        img.setRGB(x, y, (ch(8) << 16) | (ch(24) << 8) | ch(40))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  def syntheticImageCorpus(spark: SparkSession, nBase: Int,
                           everyK: Int = 5): Dataset[Asset] = {
    import spark.implicits._
    spark.range(nBase.toLong).flatMap { i =>
      val (w, h) = (32 + (i % 7).toInt, 24 + (i % 5).toInt)
      val png = syntheticBlockCard(i, w, h)
      def asset(id: Long, payload: Array[Byte]) =
        Asset(id, "image", payload, w, h, 0, "png")
      val base = asset(i, png)
      if (i % everyK != 0) Seq(base)
      else {
        val img = decodeImage(png).get // own just-encoded PNG: always decodes
        def encode(im: java.awt.image.BufferedImage): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(im, "png", bos)
          bos.toByteArray
        }
        val shifted = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val argb = img.getRGB(x, y)
            def c(v: Int) = math.min(255, v + 6)
            shifted.setRGB(x, y, (c((argb >> 16) & 0xff) << 16) |
              (c((argb >> 8) & 0xff) << 8) | c(argb & 0xff))
            x += 1
          }
          y += 1
        }
        // LOCAL BLOCK EDIT: blacken exactly the pixel ranges of dHash grid
        // cells (4,4) and (5,4) — the same integer-division bounds
        // [[dHash64]] uses, so no neighboring cell mean moves
        val edited = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val inEdit = x >= 4 * w / 9 && x < 6 * w / 9 &&
              y >= 4 * h / 8 && y < 5 * h / 8
            edited.setRGB(x, y, if (inEdit) 0 else img.getRGB(x, y))
            x += 1
          }
          y += 1
        }
        Seq(base, asset(i + nBase, encode(img)),
          asset(i + 2L * nBase, encode(shifted)),
          asset(i + 3L * nBase, encode(edited)))
      }
    }
  }

  /** §2.9 image near-dup dedup (no-oracle; declared smoke + MultimodalSpec
    * planted-recall cases): the dedup family extended across modalities —
    * perceptual dHash over REAL decoded PNG rasters, candidates via the
    * same banded Hamming join the text SimHash path uses. The sfDir
    * carries no media, so the corpus is the deterministic planted-dup
    * synthetic (`dir` ignored): every (base, re-encode),
    * (base, brightness-shift) and (base, block-edit) pair must surface;
    * unrelated test cards sit at Hamming ≈ 32 and never join.
    *
    * TRANSFORM ENVELOPE — what dHash does and does NOT survive. Survives:
    * lossless re-encode (identical raster), global brightness/contrast
    * shifts (per-comparison constants cancel; clamping costs ≤ a few
    * bits), small localized edits (only the touched cells' comparisons
    * move), and aspect-PRESERVING rescale (cell means are area averages).
    * Does NOT survive: CROP (every cell boundary shifts — effectively a
    * new fingerprint), RESIZE TO A DIFFERENT ASPECT RATIO (cell contents
    * re-bin), ROTATION or mirroring (the gradient direction itself
    * changes), and heavy recompression that moves cell means. A corpus
    * where those transforms matter needs a rotation/crop-invariant
    * fingerprint family (e.g. keypoint or radial-projection hashes) — a
    * deliberate non-goal here; do not over-trust image dedup beyond this
    * envelope. */
  def qImageDedup(spark: SparkSession,
      @scala.annotation.unused dir: String): DataFrame =
    imageDedupPairs(syntheticImageCorpus(spark, 200, everyK = 5))
      .orderBy("asset_a", "asset_b")

  // ---- audio near-dup dedup (perceptual hash × banded Hamming join) ------

  /** 64-bit perceptual audio fingerprint over decoded 16-bit PCM — the
    * audio member of the dHash/SimHash family: the clip is cut into 17
    * equal time slices, four per-slice features are measured (RMS,
    * zero-crossing rate, and Goertzel band power at sr/16 and sr/4), and
    * bit (plane·16 + j) is set when feature(slice j+1) > feature(slice j) —
    * 4 planes × 16 gradient comparisons = 64 bits, the exact band shape
    * [[graft.queries.Llm.bandedHammingPairs]] consumes.
    *
    * Robust by construction against the transforms audio dedup must see
    * through: a lossless RE-CONTAINER reproduces the samples (identical
    * hash), and a VOLUME CHANGE scales every slice's RMS and band power by
    * the same factor while leaving ZCR untouched — every `>` comparison is
    * unchanged short of clipping (a few bit flips at most, inside the
    * Hamming ≤ 3 threshold). A LOCAL edit moves only the touched slice's
    * comparisons. Does NOT survive: time-shift/trim (slice boundaries
    * move — the crop analogue), resampling or pitch/tempo change (ZCR and
    * band centers move), lossy transcode (MP3/AAC move the fine features).
    * The same envelope honesty as [[qImageDedup]]'s scaladoc: a corpus
    * where those matter needs a beat/chroma-class fingerprint, a declared
    * non-goal here. */
  private[graft] def audioHash64(samples: Array[Int], sr: Float): Long = {
    val nSlices = 17
    val n = samples.length
    def goertzelPower(from: Int, until: Int, f: Double): Double = {
      val w = 2 * math.Pi * f / sr
      val coeff = 2 * math.cos(w)
      var s1 = 0.0; var s2 = 0.0
      var i = from
      while (i < until) {
        val s0 = samples(i) + coeff * s1 - s2
        s2 = s1; s1 = s0
        i += 1
      }
      val len = math.max(1, until - from).toDouble
      (s1 * s1 + s2 * s2 - coeff * s1 * s2) / (len * len)
    }
    val rms = new Array[Double](nSlices)
    val zcr = new Array[Double](nSlices)
    val eLo = new Array[Double](nSlices)
    val eHi = new Array[Double](nSlices)
    var s = 0
    while (s < nSlices) {
      // long intermediate: s*n overflows Int for clips >= 2^27 samples
      // (~23 min of 48 kHz stereo) — a valid decode must fingerprint, not
      // crash the task
      val from = (s.toLong * n / nSlices).toInt
      val until = math.max(((s + 1).toLong * n / nSlices).toInt, from + 1)
      var sum2 = 0.0; var zc = 0; var prevSign = 0
      var i = from
      while (i < math.min(until, n)) {
        val v = samples(i)
        sum2 += v.toDouble * v
        val sign = Integer.signum(v)
        if (sign != 0 && prevSign != 0 && sign != prevSign) zc += 1
        if (sign != 0) prevSign = sign
        i += 1
      }
      val len = math.max(1, math.min(until, n) - from).toDouble
      rms(s) = math.sqrt(sum2 / len)
      zcr(s) = zc / len
      eLo(s) = goertzelPower(from, math.min(until, n), sr / 16.0)
      eHi(s) = goertzelPower(from, math.min(until, n), sr / 4.0)
      s += 1
    }
    var hash = 0L
    val planes = Array(rms, zcr, eLo, eHi)
    var p = 0
    while (p < 4) {
      var j = 0
      while (j < 16) {
        if (planes(p)(j + 1) > planes(p)(j)) hash |= (1L << (p * 16 + j))
        j += 1
      }
      p += 1
    }
    hash
  }

  /** THE one WAV→PCM decoder core: format gate (PCM_SIGNED 16-bit — the
    * subset the synthetic corpus writes), endianness-aware sample
    * extraction, `(samples, sampleRate, channels)`. [[decodeWav]] (feature
    * stats) and the fingerprint paths ([[audioFingerprints]] /
    * [[audioPostingRows]]) both build on it — a format widening or
    * extraction fix lands here once. None when unparsable or outside the
    * subset. */
  private[graft] def decodePcm(payload: Array[Byte])
      : Option[(Array[Int], Float, Int)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val f = in.getFormat
        if (f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
            f.getSampleSizeInBits != 16) None
        else {
          val bytes = in.readAllBytes()
          val n = bytes.length / 2
          if (n == 0) None
          else {
            val be = f.isBigEndian
            val out = new Array[Int](n)
            var i = 0
            while (i < n) {
              out(i) =
                if (be) (bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)
                else (bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)
              i += 1
            }
            Some((out, f.getSampleRate, f.getChannels))
          }
        }
      } finally in.close()
    } catch { case _: Exception => None }

  /** Per-clip perceptual fingerprints as four 16-bit bands `(doc_id,
    * b0..b3)` — the audio twin of [[imageFingerprints]], feeding the SAME
    * banded Hamming machinery. Decode is partition-parallel, zero shuffle;
    * non-audio or unparsable payloads are skipped. */
  def audioFingerprints(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        if (a.kind != "audio") None
        else decodePcm(a.payload).collect {
          // shorter than one sample per slice: no meaningful fingerprint
          case (samples, sr, _) if samples.length >= 17 =>
          val hsh = audioHash64(samples, sr)
          (a.asset_id, (hsh & 0xffffL).toInt,
            ((hsh >>> 16) & 0xffffL).toInt, ((hsh >>> 32) & 0xffffL).toInt,
            ((hsh >>> 48) & 0xffffL).toInt)
        }
      }
    }.toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** Per-clip DEDUP POSTING rows `(doc_id, band, bkey)` — the audio twin of
    * [[imagePostingRows]]: an audio-carrying ingest stream feeds the SAME
    * [[graft.etl.IncrementalDedup]] posting table and admission machinery,
    * under its own disjoint band namespace (`bandBase` 2000 vs the image
    * leg's 1000 — the three modalities' cells can never collide in one
    * table). Each decodable clip contributes its four 16-bit fingerprint
    * bands as hex bkeys; pigeonhole gives full recall over Hamming ≤ 3,
    * with the standard banded-LSH precision trade. Unparsable or null
    * payloads contribute no rows (they fall to the caller's whole-payload
    * fallback). */
  def audioPostingRows(batch: DataFrame, audioCol: String,
                       bandBase: Int = 2000): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("doc_id").cast("long"), col(audioCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          if (payload == null) Iterator.empty
          else decodePcm(payload) match {
            case Some((samples, sr, _)) if samples.length >= 17 =>
              val h = audioHash64(samples, sr)
              (0 until 4).iterator.map { b =>
                (id, bandBase + b, f"${(h >>> (16 * b)) & 0xffffL}%04x")
              }
            case _ => Iterator.empty[(Long, Int, String)]
          }
        }
      }.toDF("doc_id", "band", "bkey")
  }

  /** Near-dup pairs over an audio corpus: perceptual fingerprints → the
    * shared banded Hamming join. Output `(asset_a, asset_b, hamming)`. */
  def audioDedupPairs(assets: Dataset[Asset]): DataFrame =
    graft.queries.Llm.bandedHammingPairs(audioFingerprints(assets))
      .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
        col("hamming"))

  /** A synthetic audio corpus with PLANTED near-duplicates — the audio twin
    * of [[syntheticImageCorpus]]: `nBase` distinct piecewise-stationary
    * clips (per fingerprint slice, tone frequency and amplitude are
    * independent seeded draws — the audio analogue of the block-random
    * test card, so unrelated clips land at the expected Hamming ≈ 32), and
    * for every `everyK`-th base THREE planted variants: a pure
    * RE-CONTAINER (id + nBase; identical samples, Hamming 0), a VOLUME
    * scale ×1.2 (id + 2·nBase; clip-free by construction — amplitudes cap
    * at 24000·1.2 < 2¹⁵ — so every gradient comparison survives, Hamming
    * 0), and a LOCAL TONE BURST (id + 3·nBase): a low-amplitude sr/4
    * component added to slice 8 only, which moves that slice's high-band
    * Goertzel power and flips (at most) its two e_hi comparisons — the
    * planted pair lands at measured Hamming ∈ [1, 3], exercising the
    * banded join's tolerance band. Fully deterministic, generated on
    * executors. */
  def syntheticAudioCorpus(spark: SparkSession, nBase: Int,
                           everyK: Int = 5): Dataset[Asset] = {
    import spark.implicits._
    val sr = 8000
    val nSlices = 17
    val sliceLen = 160 // 20 ms per slice, 340 ms per clip
    spark.range(nBase.toLong).flatMap { i =>
      val n = nSlices * sliceLen
      def draw(slice: Int, salt: Long): Long = {
        var v = i * 2654435761L + slice * 40503L + salt * 65027L
        v ^= (v >>> 21); v *= -7046029254386353131L; v ^= (v >>> 28)
        v & 0x7fffffffffffffffL
      }
      val pcm = new Array[Int](n)
      var s = 0
      while (s < nSlices) {
        val f = 200.0 + (draw(s, 1) % 2600)          // 200..2800 Hz
        val amp = 8000.0 + (draw(s, 2) % 16001)      // 8000..24000
        var j = 0
        while (j < sliceLen) {
          val idx = s * sliceLen + j
          pcm(idx) = math.round(amp * math.sin(2 * math.Pi * f * idx / sr)).toInt
          j += 1
        }
        s += 1
      }
      def wav(samples: Array[Int]): Array[Byte] = encodeWav(samples, sr)
      def asset(id: Long, payload: Array[Byte]) =
        Asset(id, "audio", payload, 0, 0, sr, "wav")
      val base = asset(i, wav(pcm))
      if (i % everyK != 0) Seq(base)
      else {
        val scaled = pcm.map(v => math.round(v * 1.2).toInt)
        val burst = pcm.clone()
        var j = 8 * sliceLen
        while (j < 9 * sliceLen) {
          // amp 600 keeps the combined signal monotone through the main
          // tone's zero crossings (ripple slope 2π·2000·600/8000 ≈ 942 <
          // minimum main slope 2π·200·8000/8000 ≈ 1256 per sample), so the
          // slice's ZCR is UNCHANGED; the burst's dominant effect is the
          // slice's high-band Goertzel power (2 bit flips). It also nudges
          // the slice's RMS/e_lo by <1%, so a near-tie with a neighbor
          // COULD flip one more bit — the Hamming ∈ [0, 3] bound the spec
          // asserts is MEASURED on this seeded corpus (and deterministic
          // for it), not proven for arbitrary parameters; re-measure if
          // nBase/amplitudes/burst change
          burst(j) += math.round(600 * math.sin(2 * math.Pi * (sr / 4.0) * j / sr)).toInt
          j += 1
        }
        Seq(base, asset(i + nBase, withTrailingJunkChunk(wav(pcm))),
          asset(i + 2L * nBase, wav(scaled)),
          asset(i + 3L * nBase, wav(burst)))
      }
    }
  }

  /** §2.9 audio near-dup dedup (no-oracle; declared smoke + MultimodalSpec
    * planted-recall cases): the dedup family across the THIRD modality —
    * perceptual gradient fingerprints over REAL decoded PCM, candidates
    * via the same banded Hamming join as text SimHash and image dHash.
    * The sfDir carries no media, so the corpus is the deterministic
    * planted-dup synthetic (`dir` ignored): every (base, re-container),
    * (base, volume-scale) and (base, tone-burst) pair must surface;
    * unrelated clips sit at Hamming ≈ 32 and never join. Transform
    * envelope on [[audioHash64]]. */
  def qAudioDedup(spark: SparkSession,
      @scala.annotation.unused dir: String): DataFrame =
    audioDedupPairs(syntheticAudioCorpus(spark, 200, everyK = 5))
      .orderBy("asset_a", "asset_b")

  // ---- MJPEG-in-AVI container (pure JDK — RIFF chunk walk + ImageIO) ------

  /** THE one JPEG encoder (explicit quality so the raster survives well
    * enough for gradient fingerprints; the JDK writer is deterministic) —
    * every JPEG producer in main and test code delegates here. */
  private[graft] def encodeJpeg(img: java.awt.image.BufferedImage,
                                quality: Float = 0.9f): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    } finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** THE one MJPEG→AVI encoder — a structurally complete RIFF/AVI tree
    * (`hdrl` with `avih`/`strh`/`strf`, then `LIST movi` of even-padded
    * `00dc` chunks, each holding one plain JPEG). AVI is a public spec and
    * nothing but length-prefixed chunks, so like the WAV leg it needs no
    * external codec — and any standard player/demuxer reads the output.
    * Every AVI producer in main and test code delegates here. */
  private[graft] def encodeAvi(frames: Seq[Array[Byte]], w: Int, h: Int,
                               fps: Int): Array[Byte] = {
    def u32(v: Long): Array[Byte] = Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def u16(v: Int): Array[Byte] =
      Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def cat(parts: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      parts.foreach(out.write)
      out.toByteArray
    }
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      cat(fcc(id), u32(body.length.toLong), body,
        if ((body.length & 1) == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(typ: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", cat(fcc(typ), body))
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
    // dwFlags = AVIF_HASINDEX: the file carries the idx1 chunk below
    val avih = cat(u32(1000000L / math.max(1, fps)), u32(0), u32(0), u32(0x10L),
      u32(frames.length.toLong), u32(0), u32(1), u32(maxFrame.toLong),
      u32(w.toLong), u32(h.toLong), u32(0), u32(0), u32(0), u32(0))
    val strh = cat(fcc("vids"), fcc("MJPG"), u32(0), u16(0), u16(0), u32(0),
      u32(1), u32(fps.toLong), u32(0), u32(frames.length.toLong),
      u32(maxFrame.toLong), u32(0xffffffffL), u32(0),
      u16(0), u16(0), u16(w), u16(h))
    val strf = cat(u32(40), u32(w.toLong), u32(h.toLong), u16(1), u16(24),
      fcc("MJPG"), u32(w.toLong * h * 3), u32(0), u32(0), u32(0), u32(0))
    val hdrl = list("hdrl",
      cat(chunk("avih", avih), list("strl", cat(chunk("strh", strh), chunk("strf", strf)))))
    val movi = list("movi", cat(frames.map(f => chunk("00dc", f)): _*))
    // standard `idx1` index (16 bytes per frame: fcc, AVIIF_KEYFRAME, the
    // chunk header's offset relative to the `movi` fourcc, length) — every
    // MJPEG frame is independently decodable, so every entry is a keyframe.
    // Strict players seek through this; our own demuxer walks the movi
    // list and skips it like any unknown chunk.
    val offsets = frames.scanLeft(4L) { (off, f) =>
      off + 8 + f.length + (f.length & 1)
    }
    val idx1 = chunk("idx1", cat(frames.zip(offsets).map { case (f, off) =>
      cat(fcc("00dc"), u32(0x10L), u32(off), u32(f.length.toLong))
    }: _*))
    chunk("RIFF", cat(fcc("AVI "), hdrl, movi, idx1))
  }

  /** A GENUINELY different container over the same frames — the AVI twin of
    * [[withTrailingJunkChunk]]: append a benign `JUNK` chunk and patch the
    * RIFF length. Bytes differ, the demuxed JPEG chunks do not. */
  private[graft] def withTrailingJunkAvi(avi: Array[Byte]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(avi, avi.length + 12)
    out(avi.length) = 'J'; out(avi.length + 1) = 'U'
    out(avi.length + 2) = 'N'; out(avi.length + 3) = 'K'
    out(avi.length + 4) = 4
    val riff = (avi(4) & 0xffL) | ((avi(5) & 0xffL) << 8) |
      ((avi(6) & 0xffL) << 16) | ((avi(7) & 0xffL) << 24)
    val patched = riff + 12
    out(4) = (patched & 0xff).toByte
    out(5) = ((patched >> 8) & 0xff).toByte
    out(6) = ((patched >> 16) & 0xff).toByte
    out(7) = ((patched >> 24) & 0xff).toByte
    out
  }

  /** THE one AVI demuxer core: verify the RIFF/`AVI ` signature, walk the
    * top-level chunk list, and inside every `LIST movi` collect the
    * `00dc`/`00db` frame chunks VERBATIM (each is a plain JPEG — no
    * transcode). Unknown chunks (`JUNK`, `idx1`, extra headers) skip by
    * their declared length, which is what makes the walk container-layout
    * invariant. None when unparsable or frameless, so callers fall back to
    * the stub rather than mis-decoding. */
  private[graft] def demuxAvi(payload: Array[Byte]): Option[Vector[Array[Byte]]] =
    try {
      if (payload == null || payload.length < 12) None
      else {
        def fcc(o: Long) = new String(payload, o.toInt, 4, "US-ASCII")
        def u32(o: Long): Long =
          (payload(o.toInt) & 0xffL) | ((payload(o.toInt + 1) & 0xffL) << 8) |
            ((payload(o.toInt + 2) & 0xffL) << 16) |
            ((payload(o.toInt + 3) & 0xffL) << 24)
        if (fcc(0) != "RIFF" || fcc(8) != "AVI ") None
        else {
          val end = math.min(payload.length.toLong, 8L + u32(4))
          val frames = Vector.newBuilder[Array[Byte]]
          var pos = 12L
          while (pos + 8 <= end) {
            val id = fcc(pos)
            val sz = u32(pos + 4)
            if (id == "LIST" && pos + 12 <= end && fcc(pos + 8) == "movi") {
              val lend = math.min(end, pos + 8 + sz)
              var p = pos + 12
              while (p + 8 <= lend) {
                val cid = fcc(p)
                val csz = u32(p + 4)
                if ((cid == "00dc" || cid == "00db") && p + 8 + csz <= lend)
                  frames += java.util.Arrays.copyOfRange(
                    payload, (p + 8).toInt, (p + 8 + csz).toInt)
                p += 8 + csz + (csz & 1)
              }
            }
            pos += 8 + sz + (sz & 1)
          }
          val fs = frames.result()
          if (fs.isEmpty) None else Some(fs)
        }
      }
    } catch { case _: Exception => None }

  /** Demux + per-frame JPEG decode — the full REAL video decode: every
    * frame must decode (a torn frame means the payload cannot be
    * perceptually compared), else None. */
  private[graft] def decodeAviFrames(payload: Array[Byte])
      : Option[Vector[java.awt.image.BufferedImage]] =
    demuxAvi(payload).flatMap { chunks =>
      val imgs = chunks.map(decodeImage)
      if (imgs.forall(_.isDefined)) Some(imgs.map(_.get)) else None
    }

  /** REAL MJPEG-in-AVI decode for [[extractFeatures]]: frame-exact stats
    * over every decoded raster, all normalized to [0, 1]:
    * `[min(1, frames/64), w/1024, h/1024, meanLuma, stdLuma, motion
    * (mean |per-frame mean-luma delta|), meanHGrad, size_bucket]`, plus a
    * pixel checksum over ALL decoded frames (the same rolling polynomial
    * as [[decodePng]] — two containers of the same frames agree). */
  private[graft] def decodeAviVideo(payload: Array[Byte]): Option[(Long, Array[Float])] =
    decodeAviFrames(payload).map { frames =>
      var checksum = 0L
      var sl = 0.0; var sl2 = 0.0; var hg = 0.0
      var nPix = 0L; var nH = 0L
      var motion = 0.0
      var prevMean = 0.0
      var fi = 0
      while (fi < frames.length) {
        val img = frames(fi)
        val w = img.getWidth; val h = img.getHeight
        var s = 0.0
        var y = 0
        while (y < h) {
          var left = 0.0
          var x = 0
          while (x < w) {
            val argb = img.getRGB(x, y)
            val l = (0.299 * ((argb >> 16) & 0xff) + 0.587 * ((argb >> 8) & 0xff) +
              0.114 * (argb & 0xff)) / 255.0
            s += l; sl += l; sl2 += l * l
            if (x > 0) { hg += math.abs(l - left); nH += 1 }
            checksum = checksum * 131 + (argb & 0xffffff)
            left = l
            x += 1
          }
          y += 1
        }
        nPix += w.toLong * h
        val m = s / (w.toLong * h)
        if (fi > 0) motion += math.abs(m - prevMean)
        prevMean = m
        fi += 1
      }
      val meanL = sl / nPix
      (checksum, Array[Float](
        math.min(1f, frames.length / 64f),
        frames.head.getWidth / 1024f, frames.head.getHeight / 1024f,
        meanL.toFloat,
        math.sqrt(math.max(0.0, sl2 / nPix - meanL * meanL)).toFloat,
        math.min(1f, (motion / math.max(1, frames.length - 1)).toFloat),
        math.min(1f, (hg / math.max(1L, nH)).toFloat),
        math.min(1f, payload.length / 262144f)))
    }

  /** One sampled frame of a video payload. */
  final case class Frame(asset_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Frame sampling: each video asset explodes into every k-th frame — the
    * one-to-many generator shape (typed flatMap keeps the explosion
    * partition-parallel; no driver involvement, no shuffle). For a genuine
    * MJPEG-in-AVI payload the REAL demuxer ([[demuxAvi]]) walks the RIFF
    * `movi` list and emits every k-th frame chunk VERBATIM — each is a
    * plain JPEG, decode-ready by `javax.imageio`, no transcode. Payloads
    * outside the container subset keep the declared fixed-size byte-slice
    * fallback (same one-row-in, n-rows-out contract a JNI demuxer would
    * slot into). */
  def sampleFrames(assets: Dataset[Asset], frameSize: Int = 16,
                   everyK: Int = 2): Dataset[Frame] = {
    import assets.sparkSession.implicits._
    assets.filter(_.kind == "video").flatMap { a =>
      demuxAvi(a.payload) match {
        case Some(chunks) =>
          (0 until chunks.length by everyK).iterator.map(i =>
            Frame(a.asset_id, i, chunks(i)))
        case None =>
          val nFrames = a.payload.length / frameSize
          (0 until nFrames by everyK).iterator.map { i =>
            Frame(a.asset_id, i, a.payload.slice(i * frameSize, (i + 1) * frameSize))
          }
      }
    }
  }

  /** THE one raster scaler (bilinear, software rasterizer — deterministic
    * for a given input on the headless JDK): every resize path delegates
    * here. */
  private[graft] def scaleRaster(img: java.awt.image.BufferedImage,
                                 w: Int, h: Int): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  /** Resize: payload rewritten for the target dimensions, metadata updated
    * in the same row — the transform-in-place shape (pure map, the payload
    * never leaves the executor). r14: REAL for both decodable modalities —
    * an IMAGE decodes, bilinear-scales, and re-encodes as PNG; a VIDEO
    * demuxes, scales every frame, and re-muxes as MJPEG-in-AVI (same
    * pure-JDK codecs as the decode paths). Payloads outside the decodable
    * subsets keep the declared byte-stride stub (the same signature a JNI
    * scaler would slot into). */
  def resize(assets: Dataset[Asset], targetW: Int, targetH: Int): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.map { a =>
      def stub: Array[Byte] = {
        val targetLen = math.max(1, math.min(a.payload.length, targetW * targetH / 64))
        val stride = math.max(1, a.payload.length / targetLen)
        Array.tabulate[Byte](targetLen)(j =>
          a.payload(math.min(j * stride, a.payload.length - 1)))
      }
      val resized: Array[Byte] =
        if (a.kind == "image") decodeImage(a.payload) match {
          case Some(img) =>
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(scaleRaster(img, targetW, targetH), "png", bos)
            bos.toByteArray
          case None => stub
        }
        else if (a.kind == "video") decodeAviFrames(a.payload) match {
          case Some(frames) =>
            encodeAvi(frames.map(f => encodeJpeg(scaleRaster(f, targetW, targetH))),
              targetW, targetH, fps = 10)
          case None => stub
        }
        else stub
      a.copy(payload = resized, width = targetW, height = targetH)
    }
  }

  // ---- video near-dup dedup (perceptual hash × banded Hamming join) ------

  /** 64-bit perceptual video fingerprint over demuxed + decoded frames —
    * the video member of the dHash/SimHash family, the per-frame dHash
    * idea rolled into a TEMPORAL gradient signature: the frame sequence is
    * cut into 17 equal time slices, four per-slice raster features are
    * averaged (mean luma, luma std, horizontal and vertical gradient
    * energy — the spatial statistics a dHash grid summarizes), and bit
    * (plane·16 + j) is set when feature(slice j+1) > feature(slice j) —
    * 4 planes × 16 temporal comparisons = 64 bits, the exact band shape
    * [[graft.queries.Llm.bandedHammingPairs]] consumes.
    *
    * Robust by construction against the transforms video dedup must see
    * through: a RE-CONTAINER (same frame chunks, different RIFF layout)
    * reproduces the rasters (identical hash); a GLOBAL BRIGHTNESS shift
    * adds the same constant to every slice's mean and leaves std/gradients
    * untouched — every temporal `>` survives short of clamping (and under
    * re-encode, a uniform pixel shift moves only each JPEG block's DC
    * coefficient, so the perturbation stays ≪ the inter-slice feature
    * gaps); a LOCAL edit moves only the touched slice's comparisons. Does
    * NOT survive: trim/re-timing (slice boundaries move — the crop
    * analogue), spatial crop or rotation (the raster stats move wholesale),
    * frame-rate resampling, or heavy recompression. The same envelope
    * honesty as [[qImageDedup]]/[[qAudioDedup]]: a corpus where those
    * matter needs a scene/keypoint-class fingerprint, a declared non-goal
    * here. */
  private[graft] def videoHash64(frames: IndexedSeq[java.awt.image.BufferedImage]): Long = {
    val nSlices = 17
    val n = frames.length
    val mean = new Array[Double](n)
    val std = new Array[Double](n)
    val hgr = new Array[Double](n)
    val vgr = new Array[Double](n)
    var i = 0
    while (i < n) {
      val img = frames(i)
      val w = img.getWidth; val h = img.getHeight
      var s = 0.0; var s2 = 0.0; var hs = 0.0; var vs = 0.0
      val prevRow = new Array[Double](w)
      var y = 0
      while (y < h) {
        var left = 0.0
        var x = 0
        while (x < w) {
          val argb = img.getRGB(x, y)
          val l = 0.299 * ((argb >> 16) & 0xff) + 0.587 * ((argb >> 8) & 0xff) +
            0.114 * (argb & 0xff)
          s += l; s2 += l * l
          if (x > 0) hs += math.abs(l - left)
          if (y > 0) vs += math.abs(l - prevRow(x))
          prevRow(x) = l
          left = l
          x += 1
        }
        y += 1
      }
      val np = w.toDouble * h
      mean(i) = s / np
      std(i) = math.sqrt(math.max(0.0, s2 / np - (s / np) * (s / np)))
      hgr(i) = hs / math.max(1.0, (w - 1).toDouble * h)
      vgr(i) = vs / math.max(1.0, w.toDouble * (h - 1))
      i += 1
    }
    def sliceAvg(a: Array[Double]): Array[Double] = {
      val out = new Array[Double](nSlices)
      var s = 0
      while (s < nSlices) {
        // long intermediate like [[audioHash64]]: index math must not
        // overflow on very long frame sequences
        val from = (s.toLong * n / nSlices).toInt
        val until = math.max(((s + 1).toLong * n / nSlices).toInt, from + 1)
        var sum = 0.0; var c = 0
        var j = from
        while (j < math.min(until, n)) { sum += a(j); c += 1; j += 1 }
        out(s) = sum / math.max(1, c)
        s += 1
      }
      out
    }
    var hash = 0L
    val planes = Array(sliceAvg(mean), sliceAvg(std), sliceAvg(hgr), sliceAvg(vgr))
    var p = 0
    while (p < 4) {
      var j = 0
      while (j < 16) {
        if (planes(p)(j + 1) > planes(p)(j)) hash |= (1L << (p * 16 + j))
        j += 1
      }
      p += 1
    }
    hash
  }

  /** Per-video perceptual fingerprints as four 16-bit bands `(doc_id,
    * b0..b3)` — the video twin of [[imageFingerprints]]/
    * [[audioFingerprints]], feeding the SAME banded Hamming machinery.
    * Demux + decode is partition-parallel, zero shuffle; non-video,
    * unparsable, or too-short (< 17 frames — less than one frame per
    * slice) payloads are skipped. */
  def videoFingerprints(assets: Dataset[Asset]): DataFrame = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.flatMap { a =>
        if (a.kind != "video") None
        else decodeAviFrames(a.payload).collect {
          case frames if frames.length >= 17 =>
            val hsh = videoHash64(frames)
            (a.asset_id, (hsh & 0xffffL).toInt,
              ((hsh >>> 16) & 0xffffL).toInt, ((hsh >>> 32) & 0xffffL).toInt,
              ((hsh >>> 48) & 0xffffL).toInt)
        }
      }
    }.toDF("doc_id", "b0", "b1", "b2", "b3")
  }

  /** Per-video DEDUP POSTING rows `(doc_id, band, bkey)` — the video twin
    * of [[imagePostingRows]]/[[audioPostingRows]]: a video-carrying ingest
    * stream feeds the SAME [[graft.etl.IncrementalDedup]] posting table,
    * under the FOURTH disjoint band namespace (`bandBase` 3000 vs image
    * 1000 / audio 2000). Pigeonhole gives full recall over Hamming ≤ 3
    * with the standard banded-LSH precision trade; unparsable or null
    * payloads contribute no rows (they fall to the caller's whole-payload
    * fallback). */
  def videoPostingRows(batch: DataFrame, videoCol: String,
                       bandBase: Int = 3000): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    batch.select(col("doc_id").cast("long"), col(videoCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          if (payload == null) Iterator.empty
          else decodeAviFrames(payload) match {
            case Some(frames) if frames.length >= 17 =>
              val h = videoHash64(frames)
              (0 until 4).iterator.map { b =>
                (id, bandBase + b, f"${(h >>> (16 * b)) & 0xffffL}%04x")
              }
            case _ => Iterator.empty[(Long, Int, String)]
          }
        }
      }.toDF("doc_id", "band", "bkey")
  }

  /** Near-dup pairs over a video corpus: perceptual fingerprints → the
    * shared banded Hamming join. Output `(asset_a, asset_b, hamming)`. */
  def videoDedupPairs(assets: Dataset[Asset]): DataFrame =
    graft.queries.Llm.bandedHammingPairs(videoFingerprints(assets))
      .select(col("doc_a").as("asset_a"), col("doc_b").as("asset_b"),
        col("hamming"))

  /** One synthetic video frame: a seeded block-random test card whose
    * LEVEL, SPREAD, and BLOCK DIMENSIONS are independent per-(video, frame)
    * draws — the video analogue of the audio corpus's per-slice tones, so
    * every fingerprint plane (mean ← level, std ← spread, h/v gradient ←
    * spread over block width/height) varies across slices by tens of luma
    * units, far above JPEG quantization noise, and unrelated videos land at
    * the expected Hamming ≈ 32. Channels stay ≤ 235 so a +6 `bright` shift
    * never clamps. `interleave` applies the LOCAL-EDIT transform: columns
    * reordered as (0, w/2, 1, w/2+1, …) — a pure column permutation, so
    * per-frame mean, std, and VERTICAL gradient energy are EXACTLY
    * preserved while every horizontal adjacency breaks (within-block zero
    * gradients vanish → the h-gradient plane's two touched comparisons are
    * the only bits that can flip). */
  private[graft] def videoFramePixels(vidSeed: Long, j: Int, w: Int, h: Int,
                                      interleave: Boolean = false,
                                      bright: Int = 0): java.awt.image.BufferedImage = {
    def draw(salt: Long): Long = {
      var v = vidSeed * 2654435761L + j * 97561L + salt * 65027L
      v ^= (v >>> 21); v *= -7046029254386353131L; v ^= (v >>> 28)
      v & 0x7fffffffffffffffL
    }
    val level = 10 + (draw(1) % 96).toInt  // 10..105
    val spread = 30 + (draw(2) % 101).toInt // 30..130 → channel ≤ 235
    val gw = 1 << (1 + (draw(3) % 3).toInt) // block width 2/4/8
    val gh = 1 << (1 + (draw(4) % 3).toInt) // block height 2/4/8
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val sx = if (!interleave) x else if (x % 2 == 0) x / 2 else w / 2 + x / 2
        var v = vidSeed * 2654435761L + j * 97561L +
          (sx / gw) * 40503L + (y / gh) * 57181L
        v ^= (v >>> 21); v *= -7046029254386353131L; v ^= (v >>> 28)
        def ch(shift: Int) =
          level + (((v >>> shift) & 0xffffL) % spread).toInt + bright
        img.setRGB(x, y, (ch(8) << 16) | (ch(24) << 8) | ch(40))
        x += 1
      }
      y += 1
    }
    img
  }

  /** A seeded 17-frame MJPEG-in-AVI clip for [[syntheticAssets]]. */
  private[graft] def syntheticAvi(seed: Long, w: Int, h: Int): Array[Byte] =
    encodeAvi((0 until 17).map(j => encodeJpeg(videoFramePixels(seed, j, w, h))),
      w, h, fps = 10)

  /** A synthetic video corpus with PLANTED near-duplicates — the video twin
    * of [[syntheticImageCorpus]]/[[syntheticAudioCorpus]]: `nBase` distinct
    * 17-frame clips (one frame per fingerprint slice), and for every
    * `everyK`-th base THREE planted variants: a pure RE-CONTAINER
    * (id + nBase; identical frame chunks, Hamming 0), a BRIGHTNESS shift
    * (id + 2·nBase; +6 per channel pre-encode, clamp-free — under JPEG a
    * uniform shift moves only each block's DC coefficient, so every
    * temporal comparison survives), and a SINGLE-FRAME EDIT (id + 3·nBase):
    * frame 8's columns interleaved — mean/std/v-gradient exactly preserved,
    * h-gradient jumps, so (at most) the h-gradient plane's two slice-8
    * comparisons flip — the planted pair lands at measured Hamming ∈ [0,3],
    * usually ≥ 1, exercising the banded join's tolerance band. Fully
    * deterministic, generated on executors. */
  def syntheticVideoCorpus(spark: SparkSession, nBase: Int,
                           everyK: Int = 5): Dataset[Asset] = {
    import spark.implicits._
    val (w, h) = (32, 24)
    val nFrames = 17
    spark.range(nBase.toLong).flatMap { i =>
      def avi(editFrame: Int, bright: Int): Array[Byte] =
        encodeAvi((0 until nFrames).map(j => encodeJpeg(
          videoFramePixels(i, j, w, h, interleave = j == editFrame, bright = bright))),
          w, h, fps = 10)
      def asset(id: Long, payload: Array[Byte]) =
        Asset(id, "video", payload, w, h, 0, "avi")
      val base = avi(-1, 0)
      if (i % everyK != 0) Seq(asset(i, base))
      else Seq(asset(i, base),
        asset(i + nBase, withTrailingJunkAvi(base)),
        asset(i + 2L * nBase, avi(-1, 6)),
        asset(i + 3L * nBase, avi(8, 0)))
    }
  }

  /** §2.9 video near-dup dedup (no-oracle; declared smoke + MultimodalSpec
    * planted-recall cases): the dedup family across the FOURTH modality,
    * closing the text-SimHash / image-dHash / audio / video matrix on ONE
    * shared candidate machinery — temporal gradient fingerprints over REAL
    * demuxed MJPEG-in-AVI frames (pure-JDK RIFF walk + `javax.imageio`),
    * candidates via the same banded Hamming join. The sfDir carries no
    * media, so the corpus is the deterministic planted-dup synthetic
    * (`dir` ignored): every (base, re-container), (base, brightness) and
    * (base, frame-edit) pair must surface; unrelated clips sit at
    * Hamming ≈ 32 and never join. Transform envelope on [[videoHash64]]. */
  def qVideoDedup(spark: SparkSession,
      @scala.annotation.unused dir: String): DataFrame =
    videoDedupPairs(syntheticVideoCorpus(spark, 200, everyK = 5))
      .orderBy("asset_a", "asset_b")
}
