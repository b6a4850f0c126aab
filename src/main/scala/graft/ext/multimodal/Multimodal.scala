package graft.ext.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media as opaque `binary` payloads with typed
  * metadata, processed batch-wise with `mapPartitions` over a typed Dataset
  * (the Scala analog of pandas-batch UDFs: amortize per-batch setup —
  * decoder init, model load — across a partition's rows).
  *
  * Media decode is pluggable, and REAL wherever the JDK ships a codec:
  * images through `javax.imageio` ([[ImageIoDecoder]], PNG/JPEG/GIF/BMP/
  * TIFF, gated by `x_multimodal_decode`), audio through
  * `javax.sound.sampled` ([[WavDecoder]], gated by `x_multimodal_audio`),
  * and video as container demux + per-frame real decodes ([[decodeVideo]],
  * gated by `x_multimodal_video` — inter-frame codecs like H.264 are the
  * one remaining env wall). [[StubDecoder.decode]] survives as the
  * deterministic stand-in for env-blocked codecs and as the text-payload
  * fixture the original plumbing gates (`x_multimodal`, `_frames`,
  * `_resize`) are oracled against. Everything around a decoder — schema,
  * batch shape, partition sizing, null/corrupt handling — is identical for
  * all of them; swapping decoders changes only the function body.
  */
object Multimodal {

  /** A media row: payload + metadata the lake would carry alongside. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte])

  /** Extracted features (the decoder output contract). */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      width: Int, height: Int, checksum: Long, ok: Boolean)

  /** Deterministic fake decoder — stands in for an image/audio codec.
    * Derives "dimensions" and a checksum from the bytes; flags empty
    * payloads as corrupt instead of throwing (a decoder that throws kills
    * the task — at scale you always sandbox decode errors into a column).
    */
  object StubDecoder {
    def decode(r: MediaRow): MediaFeatures = {
      val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
      if (bytes.isEmpty)
        MediaFeatures(r.media_id, r.kind, 0, 0, 0, 0L, ok = false)
      else {
        var acc = 0L
        var i = 0
        while (i < bytes.length) {
          acc = (acc * 31L + (bytes(i) & 0xffL)) % 1000000007L
          i += 1
        }
        MediaFeatures(r.media_id, r.kind, bytes.length,
          width = (acc % 640L).toInt + 1,
          height = ((acc / 640L) % 480L).toInt + 1,
          checksum = acc, ok = true)
      }
    }
  }

  /** Real image decode through the JDK's own codec stack
    * (`javax.imageio.ImageIO`, headless-safe, no external libs): parses
    * the actual container format — PNG/JPEG/GIF/BMP/TIFF per
    * `ImageIO.getReaderFormatNames` — and returns true dimensions plus a
    * row-major fold over the decoded 24-bit pixels (same modulus as
    * [[StubDecoder]]'s byte fold, so downstream schemas are shared).
    * Undecodable payloads become `ok = false` rows, never task failures —
    * the same sandboxing contract as the stub.
    */
  object ImageIoDecoder {
    def decode(r: MediaRow): MediaFeatures = {
      val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => null }
      if (img == null)
        MediaFeatures(r.media_id, r.kind, bytes.length, 0, 0, 0L, ok = false)
      else {
        var acc = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            acc = (acc * 31L + (img.getRGB(x, y) & 0xFFFFFF)) % 1000000007L
            x += 1
          }
          y += 1
        }
        MediaFeatures(r.media_id, r.kind, bytes.length,
          img.getWidth, img.getHeight, acc, ok = true)
      }
    }
  }

  /** Byte-budget repartitioning: media rows are size-skewed, so partition by
    * total payload bytes, not row count — the binding constraint for decode
    * memory (SCALE.md). One cheap aggregate estimates total bytes, then a
    * round-robin repartition targets `targetBytesPerPartition`.
    */
  def repartitionByBytes(media: Dataset[MediaRow],
      targetBytesPerPartition: Long = 128L << 20): Dataset[MediaRow] = {
    // coalesce: sum over an empty Dataset is null, not 0
    val totalBytes = media.toDF()
      .select(coalesce(sum(length(col("payload")).cast("long")), lit(0L)))
      .collect().head.getLong(0)
    val n = math.max(1, (totalBytes / targetBytesPerPartition).toInt + 1)
    media.repartition(n)
  }

  /** Batch feature extraction: one decoder instantiation per partition, rows
    * streamed through it. Partition sizing note: media payloads are large —
    * repartition by byte budget (`maxPartitionBytes` down, or
    * `repartition(n)` after size estimation), never by row count alone.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] =
    extractFeaturesWith(media)(StubDecoder.decode)

  /** [[extractFeatures]] with an explicit decoder — the same
    * one-instantiation-per-partition batch shape for any codec.
    */
  def extractFeaturesWith(media: Dataset[MediaRow])(
      decoder: MediaRow => MediaFeatures): Dataset[MediaFeatures] = {
    implicit val enc = Encoders.product[MediaFeatures]
    media.mapPartitions { rows =>
      // per-partition decoder setup: in-memory streams only — the default
      // ImageIO disk cache would pay a temp-file create/delete per image
      javax.imageio.ImageIO.setUseCache(false)
      rows.map(decoder)
    }
  }

  /** Resize (downsample) stub: keep every `factor`-th byte — the
    * deterministic stand-in for an image resize; preserves the
    * transform-in-place shape (same schema out, smaller payload), which is
    * what matters for the Spark plumbing. A real implementation swaps the
    * byte loop for a codec call.
    */
  def resize(media: Dataset[MediaRow], factor: Int = 4): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
        val out = Array.tabulate(bytes.length / factor)(i => bytes(i * factor))
        MediaRow(r.media_id, r.kind, out)
      }
    }
  }

  /** Gate entry for [[resize]]: resized byte count + the [[StubDecoder]]
    * checksum over the decimated payload. Byte decimation over the ASCII
    * fixture is `substr` arithmetic, so the DuckDB oracle rebuilds the
    * exact resized payload and hash-pins the transform (not just its
    * length).
    */
  def resizeReport(spark: SparkSession, dir: String,
      factor: Int = 4): DataFrame = {
    import spark.implicits._
    resize(mediaFromDocuments(spark, dir), factor)
      .map { r =>
        val d = StubDecoder.decode(r)
        (r.media_id, d.n_bytes, d.checksum)
      }.toDF("media_id", "n_bytes", "checksum")
  }

  /** Build a media table from the documents fixture: text bytes as payload —
    * exercising the exact binary plumbing a real image column would use.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("media_id"),
        lit("text/plain").as("kind"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** Real-codec media table: each document row becomes an actual PNG,
    * ENCODED executor-side with dimensions and 24-bit pixel values drawn
    * from integer arithmetic on `doc_id` — so the bytes are a genuine
    * container format (magic, chunks, CRCs, zlib streams) while every
    * decoded property stays engine-independent. PNG + TYPE_INT_RGB is
    * lossless, which is what lets [[decodeReport]]'s oracle predict the
    * decoder's output without itself decoding.
    */
  def pngMediaFromDocuments(spark: SparkSession,
      dir: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false) // no temp-file per encode
        ids.map { id =>
          val w = (id % 16 + 1).toInt
          val h = (id % 12 + 1).toInt
          MediaRow(id, "image/png", encodePng(w, h,
            (x, y) => ((id * 1009L + x * 37L + y * 101L) % 16777216L).toInt))
        }
      }
  }

  /** Encode one deterministic RGB image to real PNG bytes: the shared
    * fixture builder behind the image and video gates (`pixel(x, y)` must
    * return a 24-bit value; PNG + TYPE_INT_RGB round-trips it losslessly).
    * Callers must have disabled the ImageIO disk cache for the partition.
    */
  private def encodePng(w: Int, h: Int,
      pixel: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, pixel(x, y))
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Gate entry for the REAL codec path: encode → [[ImageIoDecoder]] →
    * features. Dimensions and the row-major pixel fold are pure integer
    * functions of `doc_id` (see [[pngMediaFromDocuments]]), so the DuckDB
    * oracle reproduces the full decoded output — an end-to-end proof that
    * a true image parse (not the stub) ran on every executor. The PNG
    * byte length is encoder-dependent and deliberately NOT projected.
    */
  def decodeReport(spark: SparkSession, dir: String): DataFrame =
    extractFeaturesWith(pngMediaFromDocuments(spark, dir))(
        ImageIoDecoder.decode)
      .toDF()
      .select("media_id", "kind", "width", "height", "checksum", "ok")

  /** Per-image perceptual hash: an 8×8 grid-sampled luma average-hash over
    * the REAL-decoded pixels, carried as two non-negative 32-bit halves so
    * every downstream comparison stays in exact signed-64 arithmetic on
    * both engines.
    */
  case class ImageHash(media_id: Long, width: Int, height: Int,
      hash_hi: Long, hash_lo: Long, ok: Boolean)

  /** Average-hash decoder (aHash): decode through ImageIO, sample an 8×8
    * grid at `x = gx·w/8` (nearest-lower integer sampling — no resample
    * kernel, so an oracle can replay the exact coordinates), take integer
    * luma `299·r + 587·g + 114·b`, and set bit `i = gy·8+gx` when
    * `luma·64 > total` (the mean comparison with the division cleared).
    * Undecodable payloads become `ok = false` rows, never task failures.
    */
  object PHashDecoder {
    def decode(r: MediaRow): ImageHash = {
      val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Exception => null }
      if (img == null) ImageHash(r.media_id, 0, 0, 0L, 0L, ok = false)
      else {
        val w = img.getWidth
        val h = img.getHeight
        val luma = new Array[Long](64)
        var total = 0L
        var i = 0
        while (i < 64) {
          val p = img.getRGB(i % 8 * w / 8, i / 8 * h / 8) & 0xFFFFFF
          luma(i) = ((p >> 16) & 255) * 299L + ((p >> 8) & 255) * 587L +
            (p & 255) * 114L
          total += luma(i)
          i += 1
        }
        var hi = 0L
        var lo = 0L
        i = 0
        while (i < 64) {
          if (luma(i) * 64L > total) {
            if (i < 32) hi |= 1L << i else lo |= 1L << (i - 32)
          }
          i += 1
        }
        ImageHash(r.media_id, w, h, hi, lo, ok = true)
      }
    }
  }

  /** Near-dup image fixture: five-image families share one base pattern
    * (dimensions and pixels drawn from `base = id - id % 5`), and the
    * non-canonical members perturb ONLY the blue channel of pixel (0, 0)
    * by `id % 5`, saturating at 255 (no byte wrap, no carry into green) —
    * true perceptual near-duplicates a real image-dedup pass must catch.
    */
  def pngNearDupMediaFromDocuments(spark: SparkSession,
      dir: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val base = id - id % 5
          val w = (base % 16 + 1).toInt
          val h = (base % 12 + 1).toInt
          MediaRow(id, "image/png", encodePng(w, h, { (x, y) =>
            val raw = ((base * 1009L + x * 37L + y * 101L) % 16777216L).toInt
            if (x == 0 && y == 0)
              (raw & 0xFFFF00) | math.min(255, (raw & 0xFF) + (id % 5).toInt)
            else raw
          }))
        }
      }
  }

  /** Banded hamming self-join over 64-bit perceptual hashes carried as
    * two non-negative 32-bit halves in `(media_id, hash_hi, hash_lo)`:
    * band into four 16-bit keys, candidate-join on band agreement
    * (id_a < id_b), verify with exact hamming ≤ `maxDist`. For
    * maxDist ≤ 3 banding is COMPLETE by pigeonhole (four disjoint bands —
    * a pair within distance 3 must agree on at least one), so the result
    * is the exact near-dup set while the shuffle carries only (band key,
    * id, two hash halves) — never payloads: the `x_dedup_simhash` shape
    * for any media hash. The input frame is localCheckpointed — the
    * self-join consumes it on BOTH sides, and a broadcast strategy would
    * otherwise re-run the whole upstream (decode!) pipeline to build the
    * broadcast table; the checkpointed frame is one small row per medium.
    */
  def bandedHamming64(hashes: DataFrame, maxDist: Int): DataFrame = {
    val hs = hashes.select("media_id", "hash_hi", "hash_lo")
      .localCheckpoint()
    val bands = hs.select(col("media_id"), col("hash_hi"),
      col("hash_lo"), explode(array(
        struct(lit(0).as("band_idx"),
          shiftright(col("hash_hi"), 16).as("band_val")),
        struct(lit(1).as("band_idx"),
          col("hash_hi").bitwiseAND(lit(65535L)).as("band_val")),
        struct(lit(2).as("band_idx"),
          shiftright(col("hash_lo"), 16).as("band_val")),
        struct(lit(3).as("band_idx"),
          col("hash_lo").bitwiseAND(lit(65535L)).as("band_val"))
      )).as("band"))
      .select(col("media_id"), col("hash_hi"), col("hash_lo"),
        col("band.band_idx").as("band_idx"),
        col("band.band_val").as("band_val"))
    val left = bands.select(col("band_idx"), col("band_val"),
      col("media_id").as("id_a"), col("hash_hi").as("ha"),
      col("hash_lo").as("la"))
    val right = bands.select(col("band_idx"), col("band_val"),
      col("media_id").as("id_b"), col("hash_hi").as("hb"),
      col("hash_lo").as("lb"))
    left.join(right, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ha", "la", "hb", "lb").distinct()
      .withColumn("dist",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("int"))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Perceptual image near-dup over REAL decodes: encode the planted
    * fixture, [[PHashDecoder]] every image, then [[bandedHamming64]].
    * At 100 TB the decode cost dominates and is embarrassingly parallel;
    * the join side scales with candidate pairs, not the corpus.
    */
  def phashNearDup(spark: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame = {
    implicit val enc = Encoders.product[ImageHash]
    bandedHamming64(pngNearDupMediaFromDocuments(spark, dir)
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map(PHashDecoder.decode)
      }.toDF().filter(col("ok")), maxDist)
  }

  /** Per-frame perceptual hash of one demuxed video frame. */
  case class VideoFrameHash(media_id: Long, frame_idx: Int,
      hash_hi: Long, hash_lo: Long, ok: Boolean)

  /** Temporally-SHIFTED near-dup clip fixture: four-clip families share
    * one underlying frame sequence (indexed by the GLOBAL frame number
    * `g`, drawn from `base = id - id % 4`), and member `off = id % 4`
    * records the window `[off, off + nF)` of it — so two members with
    * offsets o1 < o2 share `nF - (o2 - o1)` exact frames at temporal
    * shift `o1 - o2`. Each clip additionally perturbs ONLY the blue
    * channel of pixel (0, 0) of every frame by `off` (saturating — the
    * image fixture's perturbation), making aligned frames perceptual
    * near-duplicates rather than byte copies. Same container format as
    * [[videoMediaFromDocuments]] (length-prefixed PNG frames).
    */
  def videoNearDupMediaFromDocuments(spark: SparkSession,
      dir: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val base = id - id % 4
          val off = (id % 4).toInt
          val nF = (base % 2 + 4).toInt
          val out = new java.io.ByteArrayOutputStream()
          val dos = new java.io.DataOutputStream(out)
          var f = 0
          while (f < nF) {
            val g = off + f
            // dims stay >= 8 so the 8x8 sampling grid hits DISTINCT
            // pixels: sub-8px frames collapse grid cells onto the same
            // pixel, degenerating hashes into a handful of shared band
            // values and blowing the candidate join up quadratically
            val w = ((base + g * 7) % 12 + 8).toInt
            val h = ((base + g * 5) % 8 + 8).toInt
            val frame = encodePng(w, h, { (x, y) =>
              // quadratic self-mix (v^2 mod 2^24): the LINEAR pattern
              // the other fixtures use makes each pixel row an arithmetic
              // progression whose luma pattern repeats across families —
              // hot 16-bit bands with hundreds of frames each and a
              // quadratic candidate blowup (measured: hottest band 479
              // frames linear, 15 after the square); squaring varies the
              // progression's step with v itself, spreading sampled lumas
              val v = base * 1009L + g * 499L + x * 37L + y * 101L
              val raw = (v * v % 16777216L).toInt
              if (x == 0 && y == 0)
                (raw & 0xFFFF00) | math.min(255, (raw & 0xFF) + off)
              else raw
            })
            dos.writeInt(frame.length)
            dos.write(frame)
            f += 1
          }
          dos.flush()
          MediaRow(id, "video/x-motion-png", out.toByteArray)
        }
      }
  }

  /** Demux + per-frame [[PHashDecoder]]: the video analog of the image
    * hash pass — one narrow 1→N explode, real PNG decodes, 16 bytes of
    * hash per frame downstream (payloads never cross a shuffle).
    * Corrupt tails yield `ok = false` rows, the demux contract.
    */
  def videoFrameHashes(media: Dataset[MediaRow]): Dataset[VideoFrameHash] = {
    implicit val enc = Encoders.product[VideoFrameHash]
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
        val buf = java.nio.ByteBuffer.wrap(bytes)
        val out = scala.collection.mutable.ArrayBuffer[VideoFrameHash]()
        var idx = 0
        var corrupt = false
        while (!corrupt && buf.remaining() >= 4) {
          val len = buf.getInt
          if (len < 0 || len > buf.remaining()) corrupt = true
          else {
            val frame = new Array[Byte](len)
            buf.get(frame)
            val d = PHashDecoder.decode(MediaRow(r.media_id, "frame", frame))
            out += VideoFrameHash(r.media_id, idx, d.hash_hi, d.hash_lo,
              d.ok)
            idx += 1
          }
        }
        if (corrupt || buf.remaining() > 0 || out.isEmpty)
          out += VideoFrameHash(r.media_id, idx, 0L, 0L, ok = false)
        out
      }
    }
  }

  /** VIDEO temporal near-duplicate detection — the image phash pipeline
    * extended along the time axis (the last multimodal dedup modality):
    * per-frame aHash → banded candidate join DISCOVERS each candidate
    * pair's temporal shift (any aligned frame pair within `maxDist`
    * agrees on ≥ 1 of 4 disjoint 16-bit bands — the pigeonhole that
    * makes [[bandedHamming64]] complete, reused per frame) → one
    * aligned equi-join per (pair, shift) counts the frames matching
    * within `maxDist` → the best shift per pair (max matches, ties to
    * the smallest shift) survives when ≥ `minMatched` frames align.
    * The shuffle carries (band, id, frame hash) — 16 bytes a frame,
    * never payloads; candidate shifts are ∝ true temporal overlap plus
    * band collisions; the alignment verify is an equi-join on
    * `(pair, frame + shift)`, not a per-pair dynamic program — at
    * 100 TB the decode pass dominates and everything downstream scales
    * with candidates. The oracle replays hash, banding, shift
    * discovery, and alignment symbolically from the fixture arithmetic
    * without decoding a single PNG (the x_multimodal_phash precedent).
    */
  def videoPhashNearDup(spark: SparkSession, dir: String,
      maxDist: Int = 3, minMatched: Int = 2): DataFrame = {
    // consumed by both band legs AND both verify legs: pin the 16-byte
    // hash rows once, never the decode pipeline four times
    val fh = videoFrameHashes(videoNearDupMediaFromDocuments(spark, dir))
      .toDF().filter(col("ok"))
      .select(col("media_id"), col("frame_idx"), col("hash_hi"),
        col("hash_lo"))
      .localCheckpoint()
    val bands = fh.select(col("media_id"), col("frame_idx"),
      explode(array(
        struct(lit(0).as("band_idx"),
          shiftright(col("hash_hi"), 16).as("band_val")),
        struct(lit(1).as("band_idx"),
          col("hash_hi").bitwiseAND(lit(65535L)).as("band_val")),
        struct(lit(2).as("band_idx"),
          shiftright(col("hash_lo"), 16).as("band_val")),
        struct(lit(3).as("band_idx"),
          col("hash_lo").bitwiseAND(lit(65535L)).as("band_val"))
      )).as("band"))
      .select(col("media_id"), col("frame_idx"),
        col("band.band_idx").as("band_idx"),
        col("band.band_val").as("band_val"))
    val cand = bands.select(col("band_idx"), col("band_val"),
        col("media_id").as("id_a"), col("frame_idx").as("fa"))
      .join(bands.select(col("band_idx"), col("band_val"),
        col("media_id").as("id_b"), col("frame_idx").as("fb")),
        Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("fb") - col("fa")).as("shift"))
      .distinct()
    val fa = fh.select(col("media_id").as("id_a"),
      col("frame_idx").as("fa"), col("hash_hi").as("ha"),
      col("hash_lo").as("la"))
    val fb = fh.select(col("media_id").as("id_b2"),
      col("frame_idx").as("fb2"), col("hash_hi").as("hb"),
      col("hash_lo").as("lb"))
    val verified = cand
      .join(fa, Seq("id_a"))
      .join(fb, col("id_b") === col("id_b2") &&
        col("fb2") === col("fa") + col("shift"))
      .withColumn("dist",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("int"))
      .filter(col("dist") <= maxDist)
      .groupBy(col("id_a"), col("id_b"), col("shift"))
      .agg(count(lit(1)).as("n_matched"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"))
      .orderBy(col("n_matched").desc, col("shift").asc)
    verified
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("n_matched") >= minMatched)
      .select(col("id_a"), col("id_b"), col("shift"), col("n_matched"))
  }

  /** Decoded-audio features (the audio-decoder output contract). */
  case class AudioFeatures(media_id: Long, kind: String, n_samples: Int,
      sample_rate: Int, channels: Int, checksum: Long, ok: Boolean)

  /** Real audio decode through the JDK's own parser
    * (`javax.sound.sampled.AudioSystem` — WAV/AIFF/AU ship with the JDK):
    * parses the actual container (RIFF chunks, format block), streams the
    * PCM frames, and folds the 16-bit samples row-major into a checksum
    * (same modulus as the other decoders). Unparseable payloads become
    * `ok = false` rows, never task failures.
    */
  object WavDecoder {
    def decode(r: MediaRow): AudioFeatures = {
      val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = in.getFormat
        // the fold below is only meaningful for 16-bit signed little-endian
        // PCM; any other JDK-parseable layout (AIFF/AU big-endian, 8-bit,
        // multi-channel) must downgrade to ok=false, never fold garbage
        val supported =
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
          fmt.getChannels == 1
        if (!supported) {
          in.close()
          AudioFeatures(r.media_id, r.kind, 0, 0, 0, 0L, ok = false)
        } else {
          val pcm = in.readAllBytes()
          in.close()
          // fold samples re-normalized to 0..65535 so the oracle needs no
          // sign math
          var acc = 0L
          var i = 0
          var n = 0
          while (i + 1 < pcm.length) {
            val sample = ((pcm(i) & 0xff) | (pcm(i + 1) << 8)) + 32768
            acc = (acc * 31L + sample) % 1000000007L
            i += 2
            n += 1
          }
          AudioFeatures(r.media_id, r.kind, n, fmt.getSampleRate.toInt,
            fmt.getChannels, acc, ok = true)
        }
      } catch {
        case _: Exception =>
          AudioFeatures(r.media_id, r.kind, 0, 0, 0, 0L, ok = false)
      }
    }
  }

  /** Real-codec audio table: each document row becomes an actual RIFF/WAV
    * file (8 kHz mono 16-bit PCM) whose sample count and sample values are
    * integer arithmetic on `doc_id` — genuine container bytes, engine-
    * independent decoded content, mirroring [[pngMediaFromDocuments]].
    */
  def wavMediaFromDocuments(spark: SparkSession,
      dir: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
          true, false) // signed 16-bit little-endian mono
        ids.map { id =>
          val n = (id % 96 + 8).toInt
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            val sample = ((id * 131L + i * 17L) % 65536L).toInt - 32768
            pcm(i * 2) = (sample & 0xff).toByte
            pcm(i * 2 + 1) = ((sample >> 8) & 0xff).toByte
            i += 1
          }
          val baos = new java.io.ByteArrayOutputStream()
          val stream = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          javax.sound.sampled.AudioSystem.write(stream,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
          MediaRow(id, "audio/wav", baos.toByteArray)
        }
      }
  }

  /** Gate entry for the REAL audio path: encode → [[WavDecoder]] →
    * features, the audio analog of [[decodeReport]]. Sample count, rate,
    * channel count, and the sample fold are integer functions of `doc_id`,
    * so the DuckDB oracle predicts the decoder's output without parsing
    * RIFF — hash equality proves a true WAV parse ran.
    */
  def audioReport(spark: SparkSession, dir: String): DataFrame = {
    implicit val enc = Encoders.product[AudioFeatures]
    wavMediaFromDocuments(spark, dir)
      .mapPartitions(rows => rows.map(WavDecoder.decode))
      .toDF()
      .select("media_id", "kind", "n_samples", "sample_rate", "channels",
        "checksum", "ok")
  }

  /** Audio fingerprint: 64 grid-sampled normalized samples hashed the
    * same way as [[PHashDecoder]]'s grid luma — two 32-bit halves.
    */
  case class AudioFp(media_id: Long, n_samples: Int,
      hash_hi: Long, hash_lo: Long, ok: Boolean)

  /** Audio fingerprint decoder — the audio analog of [[PHashDecoder]]:
    * a REAL RIFF parse (same layout contract as [[WavDecoder]]:
    * 16-bit LE mono PCM, anything else downgrades to ok = false), then
    * sample w of 64 reads the normalized value at index `w·n/64`
    * (nearest-lower grid, replayable coordinates) and bit w is
    * `value·64 > total` — a point-sampled envelope hash, the
    * chromaprint-shaped fingerprint reduced to exact integer arithmetic.
    */
  object AudioFpDecoder {
    def decode(r: MediaRow): AudioFp = {
      val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val fmt = in.getFormat
        val supported =
          fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
          fmt.getChannels == 1
        if (!supported) {
          in.close()
          AudioFp(r.media_id, 0, 0L, 0L, ok = false)
        } else {
          val pcm = in.readAllBytes()
          in.close()
          val n = pcm.length / 2
          if (n == 0) AudioFp(r.media_id, 0, 0L, 0L, ok = false)
          else {
            def sampleAt(i: Int): Long =
              (((pcm(i * 2) & 0xff) | (pcm(i * 2 + 1) << 8)) + 32768).toLong
            val v = new Array[Long](64)
            var total = 0L
            var w = 0
            while (w < 64) {
              // long arithmetic: w * n overflows Int past ~34M samples
              // (~71 min at 8 kHz), which would negative-index and
              // silently mark a valid clip corrupt via the blanket catch
              v(w) = sampleAt((w.toLong * n / 64).toInt)
              total += v(w)
              w += 1
            }
            var hi = 0L
            var lo = 0L
            w = 0
            while (w < 64) {
              if (v(w) * 64L > total) {
                if (w < 32) hi |= 1L << w else lo |= 1L << (w - 32)
              }
              w += 1
            }
            AudioFp(r.media_id, n, hi, lo, ok = true)
          }
        }
      } catch {
        case _: Exception => AudioFp(r.media_id, 0, 0L, 0L, ok = false)
      }
    }
  }

  /** Near-dup audio fixture, mirroring [[pngNearDupMediaFromDocuments]]:
    * five-clip families share one base waveform (sample count and values
    * drawn from `base = id - id % 5`), and non-canonical members perturb
    * ONLY sample 0 by `id % 5`, saturating at 32767 — true perceptual
    * near-duplicate clips behind genuine RIFF bytes.
    */
  def wavNearDupMediaFromDocuments(spark: SparkSession,
      dir: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
          true, false)
        ids.map { id =>
          val base = id - id % 5
          val n = (base % 96 + 8).toInt
          val pcm = new Array[Byte](n * 2)
          var i = 0
          while (i < n) {
            // stride 31153 (odd, ~2^16/2) wraps the 16-bit range every
            // couple of samples — a busy waveform whose envelope hash
            // discriminates; a small stride would make every clip a slow
            // ramp with the same top-half-set hash corpus-wide
            val raw = ((base * 131L + i * 31153L) % 65536L).toInt - 32768
            val sample =
              if (i == 0) math.min(32767, raw + (id % 5).toInt) else raw
            pcm(i * 2) = (sample & 0xff).toByte
            pcm(i * 2 + 1) = ((sample >> 8) & 0xff).toByte
            i += 1
          }
          val baos = new java.io.ByteArrayOutputStream()
          val stream = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          javax.sound.sampled.AudioSystem.write(stream,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
          MediaRow(id, "audio/wav", baos.toByteArray)
        }
      }
  }

  /** Perceptual audio near-dup over REAL RIFF parses: encode the planted
    * clip families, [[AudioFpDecoder]] every clip, then the same
    * [[bandedHamming64]] the image path uses — one shared candidate
    * machinery for every 64-bit media fingerprint.
    */
  def audioFpNearDup(spark: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame = {
    implicit val enc = Encoders.product[AudioFp]
    bandedHamming64(wavNearDupMediaFromDocuments(spark, dir)
      .mapPartitions(rows => rows.map(AudioFpDecoder.decode))
      .toDF().filter(col("ok")), maxDist)
  }

  /** Decoded video-frame features: one row per contained frame. */
  case class VideoFrameFeatures(media_id: Long, frame_idx: Int, width: Int,
      height: Int, checksum: Long, ok: Boolean)

  /** Real-container video table: each document row becomes a motion-PNG
    * container — length-prefixed real PNG frames (the MJPEG layout with a
    * lossless per-frame codec), each frame's dimensions and pixels integer
    * arithmetic on `(doc_id, frame_idx)`. An honest boundary: the JDK
    * ships no inter-frame video codec (H.264 etc. stay env-blocked), but
    * the whole video PIPELINE — container parse, 1→N frame split,
    * per-frame real decode — runs on genuine bytes.
    */
  def videoMediaFromDocuments(spark: SparkSession,
      dir: String): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        javax.imageio.ImageIO.setUseCache(false)
        ids.map { id =>
          val out = new java.io.ByteArrayOutputStream()
          val dos = new java.io.DataOutputStream(out)
          val nFrames = (id % 3 + 2).toInt
          var f = 0
          while (f < nFrames) {
            val w = ((id + f * 7) % 12 + 1).toInt
            val h = ((id + f * 5) % 8 + 1).toInt
            val frame = encodePng(w, h, (x, y) =>
              ((id * 1009L + f * 499L + x * 37L + y * 101L)
                % 16777216L).toInt)
            dos.writeInt(frame.length)
            dos.write(frame)
            f += 1
          }
          dos.flush()
          MediaRow(id, "video/x-motion-png", out.toByteArray)
        }
      }
  }

  /** The video-decode pipeline: parse the container's length-prefixed
    * layout, explode 1→N frames, run the REAL image codec on each — the
    * distributed shape of any video ingest (demux on one row, decode per
    * frame). Truncated/corrupt containers yield the frames that parsed
    * plus one `ok = false` row, never a task failure.
    */
  def decodeVideo(media: Dataset[MediaRow]): Dataset[VideoFrameFeatures] = {
    implicit val enc = Encoders.product[VideoFrameFeatures]
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
        val buf = java.nio.ByteBuffer.wrap(bytes)
        val frames = scala.collection.mutable.ArrayBuffer[VideoFrameFeatures]()
        var idx = 0
        var corrupt = false
        while (!corrupt && buf.remaining() >= 4) {
          val len = buf.getInt
          if (len < 0 || len > buf.remaining()) corrupt = true
          else {
            val frame = new Array[Byte](len)
            buf.get(frame)
            val d = ImageIoDecoder.decode(MediaRow(r.media_id, "frame", frame))
            frames += VideoFrameFeatures(r.media_id, idx,
              d.width, d.height, d.checksum, d.ok)
            idx += 1
          }
        }
        // emit the sandbox row for a severed tail AND for a null/empty
        // payload — every media_id must appear in the output (the same
        // contract as the scalar decoders' ok=false rows)
        if (corrupt || buf.remaining() > 0 || frames.isEmpty)
          frames += VideoFrameFeatures(r.media_id, idx, 0, 0, 0L, ok = false)
        frames
      }
    }
  }

  /** The decoded frame table as a shared [[graft.util.Artifacts]] entry:
    * the PNG encode + demux + per-frame decode is the expensive part of
    * both video gates (`x_multimodal_video` per-frame,
    * `x_multimodal_vstats` rollup), so the first caller materializes it
    * with an eager `localCheckpoint` and the second reads the
    * checkpointed blocks — the same shape as
    * `TextDedup.dedupClustersShared`. At 100 TB the analog is writing the
    * frame table to scratch storage once per media snapshot.
    */
  def decodedVideoFramesShared(spark: SparkSession,
      dir: String): DataFrame =
    graft.util.Artifacts.shared(spark, "video_frames", dir) {
      decodeVideo(videoMediaFromDocuments(spark, dir)).toDF()
        .localCheckpoint(true)
    }

  /** Gate entry for the video pipeline: container demux + per-frame real
    * decodes, oracle-predicted frame for frame from the same integer
    * arithmetic as [[videoMediaFromDocuments]].
    */
  def videoReport(spark: SparkSession, dir: String): DataFrame =
    decodedVideoFramesShared(spark, dir)
      .select("media_id", "frame_idx", "width", "height", "checksum", "ok")

  /** Per-media rollup of the REAL-decoded frames — the decode → aggregate
    * composition every media pipeline ends in (dedup stats, size budgets,
    * sampling decisions run on exactly this shape). One shuffle on
    * `media_id` after the narrow demux+decode pass; order-free aggregates
    * (count/sum/max) so the result is partitioning-independent.
    */
  def videoStats(spark: SparkSession, dir: String): DataFrame =
    videoStatsDf(decodedVideoFramesShared(spark, dir))

  /** [[videoStats]] over an existing frame set — the rollup alone. */
  def videoStatsOf(frames: Dataset[VideoFrameFeatures]): DataFrame =
    videoStatsDf(frames.toDF())

  private def videoStatsDf(frames: DataFrame): DataFrame =
    frames
      .groupBy(col("media_id"))
      // sentinel (ok=false) rows must never masquerade as frames: frame
      // aggregates run over ok rows only, corruption gets its own column
      .agg(count(when(col("ok"), lit(1))).as("n_frames"),
        coalesce(sum(when(col("ok"),
          col("width").cast("long") * col("height"))), lit(0L))
          .as("total_pixels"),
        coalesce(max(when(col("ok"), col("width"))), lit(0))
          .as("max_width"),
        coalesce(sum(when(col("ok"), col("checksum"))), lit(0L))
          .as("checksum_sum"),
        count(when(!col("ok"), lit(1))).as("n_corrupt"))

  /** A sampled "frame" from a media payload (the video-pipeline shape:
    * one input row explodes into `frame_idx` rows of fixed-size chunks).
    */
  case class MediaFrame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling: split each payload into up to `maxFrames` fixed-size
    * chunks — the 1→N explode pattern a video decode uses (sample every Nth
    * frame). Runs as flatMap in codegen'd Dataset form; output rows carry
    * (media_id, frame_idx) so downstream feature extraction keys correctly.
    */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int = 32,
      maxFrames: Int = 4): Dataset[MediaFrame] = {
    implicit val enc = Encoders.product[MediaFrame]
    media.flatMap { r =>
      val bytes = Option(r.payload).getOrElse(Array.empty[Byte])
      val nFrames = math.min(maxFrames,
        math.max(1, bytes.length / math.max(frameBytes, 1)))
      val stride = math.max(1, bytes.length / nFrames)
      (0 until nFrames).iterator.map { i =>
        val start = i * stride
        MediaFrame(r.media_id, i,
          bytes.slice(start, math.min(start + frameBytes, bytes.length)))
      }
    }
  }

  /** Gate entry for [[sampleFrames]]: per-frame byte length plus the
    * [[StubDecoder]] checksum fold over each frame's bytes. Frame
    * boundaries and the checksum are integer arithmetic over the payload
    * (ASCII text bytes in the fixture), so the DuckDB oracle reproduces
    * the exact frame set with substring windows + the same polynomial
    * fold — the 1→N explode, stride math, and tail-frame truncation all
    * get hash-pinned, not just row counts.
    */
  def frameReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sampleFrames(mediaFromDocuments(spark, dir))
      .map { f =>
        val d = StubDecoder.decode(MediaRow(f.media_id, "frame", f.frame))
        (f.media_id, f.frame_idx, d.n_bytes, d.checksum)
      }.toDF("media_id", "frame_idx", "frame_bytes", "frame_checksum")
  }

  /** The oracle-checkable query: features of the document-derived media.
    * checksum/width/height are reproducible in SQL because the stub decoder
    * is the same fold as [[graft.functions.PolyHash]].
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaFromDocuments(spark, dir)).toDF()
      .select("media_id", "kind", "n_bytes", "width", "height", "checksum", "ok")
}
