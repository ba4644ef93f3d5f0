package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Blocks

/** One media item: opaque bytes + typed metadata — the multimodal column
  * convention (image/audio/video as `binary`, never parsed by Catalyst). */
final case class MediaRow(
    media_id: Long, media: Array[Byte], format: String, n_bytes: Long)

/** Extracted per-item features (from the decode stage). */
final case class MediaFeatures(
    media_id: Long, n_bytes: Long, features: Array[Float])

/** Multimodal-column plumbing for training-data pipelines.
  *
  * Four payload families exercise the kernels:
  *  - `image/png`: REAL images — engine-generated deterministic PNGs
  *    ([[ImagePhash]]); the kernels genuinely parse the container, decode
  *    the raster, and hash the DCT spectrum. This is the production path.
  *  - `audio/wav`: REAL audio — engine-generated deterministic PCM WAV
  *    containers ([[AudioFingerprint]]); the kernels genuinely parse the
  *    RIFF container, decode the PCM stream, and fingerprint the
  *    short-time spectrum (Haitsma–Kalker sign-of-difference bits).
  *  - `video/gif`: REAL video — engine-generated deterministic multi-frame
  *    animated GIFs ([[VideoFingerprint]]); the kernels genuinely parse
  *    the GIF container, LZW-decode every frame, and fingerprint the
  *    frame-to-frame spectral motion.
  *  - `fake/<lang>`: opaque non-media bytes (document text) — these hit the
  *    clearly-marked deterministic STUB kernels, the fallback a production
  *    deployment keeps for formats its decoder doesn't speak.
  *
  * Scale notes: the decode stage is `mapPartitions` over a typed Dataset,
  * i.e. one task per input split with sequential batch processing inside —
  * the JVM analog of PySpark's `mapInPandas` batching. Binary columns ride
  * parquet as-is; metadata columns stay columnar and prunable, so filters
  * on format/size never touch the bytes.
  */
object Multimodal {

  /** Spread the id stream across the cluster before an encode kernel.
    * The synthetic corpora derive from a narrow `doc_id` scan, and a
    * small-SF parquet file arrives as ONE split — which would run the
    * whole embarrassingly-parallel encode serially on one core (measured:
    * the GIF encoder costs ~1.5 ms/clip, so 5k clips on one thread is
    * ~8 s of avoidable wall). A round-robin exchange of bare longs is
    * cheap and gives the kernel full parallelism; at production scale
    * (media read from a real table, not generated) the scan's own splits
    * make this unnecessary — it guards the generator path only.
    *
    * Applied per modality by MEASURED kernel cost, not uniformly: the
    * exchange + extra 32-task stage costs a fixed ~0.6 s at local bench
    * scale, so it must buy more serial time than that. GIF encode is
    * ~1.5 ms/clip (spread: 8.0 s -> 0.7 s) and PNG encode+DCT is a few
    * hundred us/clip (2.0 s -> 1.1 s) — both clear wins. WAV encode is
    * tens of us/clip, so the serial stage was already ~0.1 s and the
    * spread is a pure loss there (0.64 s -> 1.25 s measured) — the WAV
    * builder stays on the scan's own splits. The tradeoff is
    * corpus-sized, not universal: serial encode grows linearly while the
    * exchange cost is fixed, so the no-spread choice inverts around
    * ~30k generated clips (the driver's scales top out at 5k; a real
    * deployment reads media from a scan that is already split). If the
    * generator is ever pointed at a much larger corpus, flip
    * wavMediaTable to spreadIds too. */
  private def spreadIds(spark: SparkSession, docs: DataFrame): Dataset[Long] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long]
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** Wrap an opaque-bytes column + metadata into the media schema — the
    * NON-image corpus (document text as payload), exercising the fallback
    * kernels. */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("media"),
      concat(lit("fake/"), col("lang")).as("format"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  /** REAL image corpus: one deterministic 32x32 grayscale PNG per doc id,
    * encoded in a per-partition kernel (ImageIO init once per task — the
    * encoder twin of the decode stage). Bytes are a genuine PNG container;
    * everything downstream decodes them for real. */
  def pngMediaTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    spreadIds(spark, docs)
      .mapPartitions { ids =>
        // per-task init of the PNG encoder happens here
        ids.map { id =>
          val png = ImagePhash.encodePng(ImagePhash.pixelGrid(id))
          MediaRow(id, png, "image/png", png.length.toLong)
        }
      }
      .toDF()
  }

  /** REAL audio corpus: one deterministic 10-frame int16 PCM clip per doc
    * id, encoded to a genuine WAV container (RIFF header + LE PCM) in a
    * per-partition kernel — the audio twin of [[pngMediaTable]]. Bytes are
    * a real RIFF/WAVE file; everything downstream decodes them for real. */
  def wavMediaTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    // no spreadIds: the WAV encode kernel is too cheap to amortize the
    // exchange (see spreadIds' scaladoc for the measured per-modality A/B)
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        // per-task init of the WAV encoder happens here
        ids.map { id =>
          val wav = AudioFingerprint.encodeWav(AudioFingerprint.pcm(id))
          MediaRow(id, wav, "audio/wav", wav.length.toLong)
        }
      }
      .toDF()
  }

  /** REAL video corpus: one deterministic 10-frame 16x16 grayscale clip
    * per doc id, encoded to a genuine multi-frame animated GIF (GIF89a
    * container, per-frame LZW) in a per-partition kernel — the video twin
    * of [[pngMediaTable]]/[[wavMediaTable]]. Bytes are a real GIF file;
    * everything downstream decodes every frame for real. */
  def gifMediaTable(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    spreadIds(spark, docs)
      .mapPartitions { ids =>
        // per-task init of the GIF encoder happens here
        ids.map { id =>
          val gif = VideoFingerprint.encodeGif(VideoFingerprint.clip(id))
          MediaRow(id, gif, "video/gif", gif.length.toLong)
        }
      }
      .toDF()
  }

  /** Decoded-frame statistics kernel: re-decodes each clip (GIF container
    * parse + per-frame LZW decode) and reports exact integer stats of the
    * ACTUAL pixels in each frame — one narrow row per (clip, frame), the
    * real frame-extraction operation (the brief's frame-sample over a
    * real container rather than a byte slice). The payload never leaves
    * the stage. */
  def videoFrameStats(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("media_id", "media", "format", "n_bytes").as[MediaRow]
      .flatMap { r =>
        VideoFingerprint.decodeFrames(r.media).iterator.zipWithIndex.map {
          case (px, f) =>
            (r.media_id, f.toLong, px.foldLeft(0L)(_ + _),
              px.min.toLong, px.max.toLong)
        }
      }
      .toDF("media_id", "frame", "px_sum", "px_min", "px_max")
  }

  /** STUB decode kernel — the fallback for NON-image formats (real path:
    * [[ImagePhash.pixelFeatures]]). Deterministic — a 16-bin byte
    * histogram, L1-normalized — so tests can assert exact values while the
    * pipeline shape stays production-real. */
  private[mm] def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < bytes.length) { hist((bytes(i) & 0xff) % 16) += 1f; i += 1 }
    val n = math.max(bytes.length, 1).toFloat
    var j = 0
    while (j < 16) { hist(j) /= n; j += 1 }
    hist
  }

  /** Decode/feature-extract stage: per-partition batch iteration (the spot
    * where the decoder library is initialized once per task, not once per
    * row). Dispatches on format: `image/png` payloads are REALLY decoded
    * (container parse + raster read, [[ImagePhash.pixelFeatures]]);
    * `audio/wav` payloads are REALLY decoded (RIFF parse + PCM read,
    * [[AudioFingerprint.sampleFeatures]]); other formats fall back to the
    * byte-histogram stub. */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("media_id", "media", "format", "n_bytes").as[MediaRow]
      .mapPartitions { rows =>
        // per-task init of the decoder happens here
        rows.map { r =>
          val feats =
            if (r.format == "image/png") ImagePhash.pixelFeatures(r.media)
            else if (r.format == "audio/wav") AudioFingerprint.sampleFeatures(r.media)
            else if (r.format == "video/gif") VideoFingerprint.frameFeatures(r.media)
            else decodeStub(r.media)
          MediaFeatures(r.media_id, r.n_bytes, feats)
        }
      }
  }

  /** STUB resize kernel: a real implementation would decode, scale, and
    * re-encode; the deterministic stand-in keeps every `factor`-th byte —
    * the 1-D analog of nearest-neighbor downsampling — so tests and the
    * oracle can assert exact output. */
  private[mm] def resizeStub(bytes: Array[Byte], factor: Int): Array[Byte] = {
    val out = new Array[Byte]((bytes.length + factor - 1) / factor)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * factor); i += 1 }
    out
  }

  /** Resize stage: same per-partition batch shape as [[extractFeatures]]
    * (kernel init once per task); payload in, payload out, metadata
    * recomputed. `image/png` payloads take the REAL path — decode, exact
    * integer area-average pooling by `factor`, re-encode to a genuine
    * smaller PNG ([[ImagePhash.downsample]]); other formats fall back to
    * the byte-keeping stub. */
  def resize(spark: SparkSession, media: DataFrame, factor: Int): DataFrame = {
    import spark.implicits._
    val resized = media.select("media_id", "media", "format", "n_bytes").as[MediaRow]
      .mapPartitions { rows =>
        // per-task init of the resize kernel happens here
        rows.map { r =>
          val out =
            if (r.format == "image/png") {
              val (px, size) = ImagePhash.decodeGraySized(r.media)
              ImagePhash.encodePng(
                ImagePhash.downsample(px, size, factor), size / factor)
            } else resizeStub(r.media, factor)
          MediaRow(r.media_id, out, r.format, out.length.toLong)
        }
      }
    resized.toDF()
  }

  /** Decoded-image statistics kernel: re-decodes each payload (container
    * parse + raster read) and reports exact integer stats of the ACTUAL
    * pixels in the bytes — the end-to-end proof that a produced image
    * (e.g. [[resize]]'s re-encoded output) holds exactly the intended
    * raster. One narrow row per item; the payload never leaves the stage. */
  def imageStats(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("media_id", "media", "format", "n_bytes").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val (px, size) = ImagePhash.decodeGraySized(r.media)
          (r.media_id, size.toLong, px.foldLeft(0L)(_ + _),
            px.min.toLong, px.max.toLong)
        }
      }
      .toDF("media_id", "side", "px_sum", "px_min", "px_max")
  }

  /** STUB perceptual-hash kernel — the fallback for NON-image formats
    * (real path: [[ImagePhash.phashImage]], a genuine decode + DCT pHash).
    * The deterministic stand-in is a 63-bin bigram histogram of the
    * payload bytes with bit i set iff bin i holds more than its uniform
    * share — the same above-average-energy bit rule pHash uses, over a
    * content signal (byte bigrams) that is document-specific the way DCT
    * coefficients are image-specific. 63 bits so the hash stays a
    * positive BIGINT on every engine (1<<63 overflows signed 64-bit). */
  private[mm] def phashStub(bytes: Array[Byte]): Long = {
    if (bytes.length < 2) return 0L
    val cnt = new Array[Int](63)
    var i = 0
    while (i < bytes.length - 1) {
      cnt(((bytes(i) & 0xff) * 31 + (bytes(i + 1) & 0xff)) % 63) += 1
      i += 1
    }
    val n = bytes.length - 1
    var h = 0L
    var j = 0
    while (j < 63) { if (cnt(j).toLong * 63 > n) h |= (1L << j); j += 1 }
    h
  }

  /** Perceptual-hash stage: same per-partition kernel shape as
    * [[extractFeatures]] (pHash needs the decoded pixels, so it lives in
    * the kernel, not in a column expression). `image/png` payloads take
    * the REAL path — PNG decode + fixed-point DCT ([[ImagePhash]]);
    * `audio/wav` payloads take the REAL audio path — WAV decode +
    * fixed-point short-time spectrum ([[AudioFingerprint]], also 63 bits,
    * so the whole banded hamming-LSH machinery below is shared); other
    * formats fall back to the byte-bigram stub. Output is one
    * (media_id, phash) row per item — the narrow relation every
    * downstream hamming-LSH step works from; the payload never leaves
    * this stage. */
  def perceptualHashes(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.select("media_id", "media", "format", "n_bytes").as[MediaRow]
      .mapPartitions { rows =>
        // per-task init of the decoder + DCT tables happens here
        rows.map { r =>
          val h =
            if (r.format == "image/png") ImagePhash.phashImage(r.media)
            else if (r.format == "audio/wav") AudioFingerprint.fingerprintWav(r.media)
            else if (r.format == "video/gif") VideoFingerprint.fingerprintGif(r.media)
            else phashStub(r.media)
          (r.media_id, h)
        }
      }
      .toDF("media_id", "phash")
  }

  /** Near-duplicate media pairs by perceptual-hash hamming distance —
    * the standard image-dedup architecture: pHash per item (kernel
    * stage), then bit-sampling LSH over the hash. Splitting 63 bits into
    * `maxHamming + 1` contiguous bands guarantees (pigeonhole) that any
    * pair within the hamming budget agrees exactly on at least one band,
    * so candidates come from an equi-join on (band, band-value) and the
    * exact hamming check touches candidates only — never all pairs. At
    * 100 TB the per-band buckets are the only fan-out, and their size is
    * governed by the hash entropy, not the corpus size. */
  /** Band b holds bits [b*w, (b+1)*w) of the 63-bit hash; the last band
    * keeps the remainder bits too (unequal widths don't break the
    * pigeonhole argument). */
  private def hashBands(ph: DataFrame, maxHamming: Int): DataFrame = {
    val nb = maxHamming + 1
    val w = 63 / nb
    ph.select(col("media_id"), col("phash"),
        explode(expr(s"sequence(0, ${nb - 1})")).as("b"))
      .withColumn("nib", expr(
        s"CASE WHEN b = ${nb - 1} THEN shiftright(phash, $w * b) " +
          s"ELSE shiftright(phash, $w * b) & ${(1L << w) - 1} END"))
  }

  /** Exact-hamming verification over candidate pairs only. */
  private def verifiedHammingPairs(cand: DataFrame, maxHamming: Int): DataFrame =
    cand.distinct()
      .withColumn("hamming", bit_count(expr("pa ^ pb")).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select("media_a", "media_b", "hamming")

  def phashNearDupPairs(spark: SparkSession, media: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, s"maxHamming out of range: $maxHamming")
    Blocks.scope { s =>
      // Persist the hash relation (id + one long — tiny): the kernel stage
      // (decode + DCT in a real pHash) is the expensive pass, and the
      // self-join must NOT run it once per side.
      val bands = hashBands(s.persist(perceptualHashes(spark, media)), maxHamming)
      val lhs = bands.select(col("b"), col("nib"),
        col("media_id").as("media_a"), col("phash").as("pa"))
      val rhs = bands.select(col("b").as("b2"), col("nib").as("nib2"),
        col("media_id").as("media_b"), col("phash").as("pb"))
      s.result(verifiedHammingPairs(
        lhs.join(rhs,
            col("b") === col("b2") && col("nib") === col("nib2") &&
              col("media_a") < col("media_b"))
          .select("media_a", "media_b", "pa", "pb"),
        maxHamming))
    }
  }

  /** Incremental pHash near-dup: a new batch against an already-hashed
    * corpus — the ingest-time shape. Only the DELTA runs the decode
    * kernel; the history contributes its standing (media_id, phash) table
    * (tiny: one long per item, maintained by the ingest path — pass it
    * via `historyHashes` to skip the history scan entirely). Candidates
    * come from delta-bands × history-bands plus delta-bands × delta-bands,
    * so band work is O(delta × band-occupancy), never O(history²); the
    * result is exactly the full pipeline's pairs that involve at least
    * one delta item. */
  def phashNearDupPairsIncremental(
      spark: SparkSession, history: DataFrame, delta: DataFrame,
      maxHamming: Int, historyHashes: Option[DataFrame] = None): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, s"maxHamming out of range: $maxHamming")
    // Cache ONLY the delta bands: they feed three scans (the history join
    // and both sides of the intra-delta self-join), so caching them also
    // guarantees the delta decode kernel runs once. The history side is
    // consumed exactly once and is CORPUS-sized — pinning a standing hash
    // table to executor memory would be wrong at scale, and the delta
    // hashes are only ever read through the cached bands. (Both removed
    // persists were measured as pure overhead: at 20k clips / 5% delta
    // the incremental pass dropped ~0.5 s, flipping it decisively below
    // the full recompute — see ScaleSmoke.mediaIncrSection.)
    // The (delta-bounded) pair result is materialized while bandsD is
    // cached; the band pin must not outlive the call — the streaming sink
    // (toPhashDedupSink) calls this once per micro-batch.
    Blocks.scope { s =>
      val phH = historyHashes.getOrElse(perceptualHashes(spark, history))
      val phD = perceptualHashes(spark, delta)
      val bandsD = s.persist(hashBands(phD, maxHamming))
      val bandsH = hashBands(phH, maxHamming)
      val dh = bandsD.as("a").join(bandsH.as("b"),
          col("a.b") === col("b.b") && col("a.nib") === col("b.nib") &&
            col("a.media_id") =!= col("b.media_id"))
        .select(
          least(col("a.media_id"), col("b.media_id")).as("media_a"),
          greatest(col("a.media_id"), col("b.media_id")).as("media_b"),
          when(col("a.media_id") < col("b.media_id"), col("a.phash"))
            .otherwise(col("b.phash")).as("pa"),
          when(col("a.media_id") < col("b.media_id"), col("b.phash"))
            .otherwise(col("a.phash")).as("pb"))
      val dd = bandsD.as("a").join(bandsD.as("b"),
          col("a.b") === col("b.b") && col("a.nib") === col("b.nib") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"),
          col("a.phash").as("pa"), col("b.phash").as("pb"))
      s.result(verifiedHammingPairs(dh.union(dd), maxHamming))
    }
  }

  /** Frame sampling: slice the payload into `n` evenly-spaced fixed-size
    * chunks ("frames") — pure column expressions, no kernel needed. */
  def sampleFrames(media: DataFrame, n: Int, frameBytes: Int): DataFrame =
    media
      .withColumn("frame_no", explode(expr(s"sequence(0, ${n - 1})")))
      .withColumn("offset",
        (col("frame_no") * greatest(col("n_bytes") - frameBytes, lit(1L)) / lit(math.max(n - 1, 1)))
          .cast("long") + 1)
      .withColumn("frame", expr(s"substring(media, offset, $frameBytes)"))
      .select("media_id", "frame_no", "offset", "frame")
}
