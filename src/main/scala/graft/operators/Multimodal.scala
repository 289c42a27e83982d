package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators (SURVEY §2.3): image/audio/video payloads
  * are opaque `binary` columns with typed metadata, processed in
  * partition-sized batches.
  *
  * The image path is REAL: [[syntheticImages]] encodes a deterministic
  * RGB raster per row to PNG bytes (`javax.imageio`, lossless), and
  * [[decodeImages]] / [[resizeImages]] decode those bytes back to pixels
  * and compute integer-exact statistics / block-average thumbnails — all
  * inside `mapPartitions` over an iterator, the batch contract a
  * vectorized codec stage (`mapInPandas` in PySpark) uses. Because the
  * raster is an analytic function of (x, y, channel, media_id), the
  * DuckDB oracle recomputes every statistic from the closed form — the
  * gate covers the full encode → decode → feature path bit-for-bit.
  *
  * 100 TB notes: media blobs dominate row size, so operators here always
  * prune to (id, media) before the heavy stage, keep work narrow (no
  * shuffle), and emit compact features — the pattern that keeps a media
  * pipeline scan-bound instead of shuffle-bound.
  */
object Multimodal {

  /** A typed media row: what a real ingest would carry. */
  case class MediaRow(media_id: Long, media_type: String, media: Array[Byte])

  /** Spread a NARROW seed stream (ids only — never blobs) across the
    * session's cores before a heavy per-row codec stage. The fixture
    * parquet is one tiny file = one scan task, so without this every
    * synthetic encode + decode pass ran single-threaded (measured r20:
    * the image/video family alone was ~29 s warm at sf0.1, ~4× better
    * parallelized). Scale-adaptive (defaultParallelism, no constant);
    * the exchange moves 8-byte ids, the guide-§8 "shuffle keys, not
    * payloads" shape — at 100 TB the generated/scanned blobs stay
    * where their task produced them. Gated like [[graft.Tables.spread]]
    * (ADVICE r20): when the seed stream already carries >= cores
    * partitions (any real-scale source) this is the identity, so no
    * always-on exchange reaches a production plan. */
  private def spreadSeeds[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < p) ds.repartition(p) else ds
  }

  // ---------------------------------------------------------------------
  // Real image decode (VERDICT r13 #1): deterministic PNG corpus +
  // javax.imageio decode + integer-exact pixel statistics.
  // ---------------------------------------------------------------------

  /** The analytic raster: channel value at (x, y) for image `id`.
    * Small coprime multipliers make every (x, y, ch, id) distinct enough
    * to catch transposed/truncated decodes while staying mod-256 exact
    * in BIGINT on both engines. */
  @inline def pixelValue(x: Int, y: Int, ch: Int, id: Long): Int =
    ((3L * x + 7L * y + 11L * ch + 13L * id) % 256L).toInt

  /** Image dims as a function of id: 8..16 × 8..14 (odd widths/heights
    * included so resize edge blocks are exercised). */
  @inline def imageDims(id: Long): (Int, Int) =
    ((8 + (id % 9)).toInt, (8 + (id % 7)).toInt)

  /** Encode the analytic raster for `id` as PNG bytes (lossless RGB). */
  def encodeSyntheticPng(id: Long): Array[Byte] = {
    val (w, h) = imageDims(id)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = (pixelValue(x, y, 0, id) << 16) |
          (pixelValue(x, y, 1, id) << 8) | pixelValue(x, y, 2, id)
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A PNG media corpus derived from `documents` (one image per doc_id).
    * Runs per partition — narrow, nothing shuffled; at 100 TB this is
    * the scan-side "ingest produced blobs" stage. */
  def syntheticImages(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    spreadSeeds(docs.select(col("doc_id")).as[Long]).mapPartitions { ids =>
      ids.map(id => MediaRow(id, "image/png", encodeSyntheticPng(id)))
    }
  }

  /** Decoded-image features: dims, per-channel pixel sums, 4-bucket luma
    * histogram — every field an exact integer so the whole decode output
    * is DuckDB-gatable. */
  case class ImageFeatures(media_id: Long, media_type: String,
      width: Int, height: Int, n_pixels: Long,
      sum_r: Long, sum_g: Long, sum_b: Long,
      hist_0: Long, hist_1: Long, hist_2: Long, hist_3: Long)

  /** REAL decode: `javax.imageio` PNG → pixels → integer statistics,
    * per-partition batches. PNG is lossless, so the stats equal the
    * analytic closed form the oracle computes. */
  def decodeImages(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.media))
        val w = img.getWidth; val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        val hist = new Array[Long](4)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val rr = (rgb >> 16) & 0xff; val gg = (rgb >> 8) & 0xff
            val bb = rgb & 0xff
            sr += rr; sg += gg; sb += bb
            hist(((rr + gg + bb) / 3) / 64) += 1
            x += 1
          }
          y += 1
        }
        ImageFeatures(r.media_id, r.media_type, w, h, w.toLong * h,
          sr, sg, sb, hist(0), hist(1), hist(2), hist(3))
      }
    }
  }

  /** Thumbnail features from a REAL resize: 2×2 block-average (floor)
    * downscale — edge blocks shrink to what remains, so odd dims are
    * exact too. `reencode_ok` proves the encode side as well: the thumb
    * is re-encoded to PNG, decoded back, and compared pixel-for-pixel. */
  case class ThumbFeatures(media_id: Long, in_w: Int, in_h: Int,
      out_w: Int, out_h: Int, sum_r: Long, sum_g: Long, sum_b: Long,
      reencode_ok: Boolean)

  /** REAL image downscale in the same mapPartitions batch shape: decode
    * PNG, area-average each 2×2 block with floor division (integer-exact
    * → oracle-mirrorable), re-encode the thumbnail and verify the
    * roundtrip. One input row → one bounded output row, never a shuffle. */
  def resizeImages(media: Dataset[MediaRow]): Dataset[ThumbFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.media))
        val w = img.getWidth; val h = img.getHeight
        val ow = (w + 1) / 2; val oh = (h + 1) / 2
        val thumb = new java.awt.image.BufferedImage(
          ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var sr = 0L; var sg = 0L; var sb = 0L
        var oy = 0
        while (oy < oh) {
          var ox = 0
          while (ox < ow) {
            val x0 = 2 * ox; val y0 = 2 * oy
            val xs = if (x0 + 1 < w) 2 else 1
            val ys = if (y0 + 1 < h) 2 else 1
            var br = 0; var bg = 0; var bb = 0
            var dy = 0
            while (dy < ys) {
              var dx = 0
              while (dx < xs) {
                val rgb = img.getRGB(x0 + dx, y0 + dy)
                br += (rgb >> 16) & 0xff; bg += (rgb >> 8) & 0xff
                bb += rgb & 0xff
                dx += 1
              }
              dy += 1
            }
            val cnt = xs * ys
            val ar = br / cnt; val ag = bg / cnt; val ab = bb / cnt
            sr += ar; sg += ag; sb += ab
            thumb.setRGB(ox, oy, (ar << 16) | (ag << 8) | ab)
            ox += 1
          }
          oy += 1
        }
        // re-encode the thumbnail and decode it back: gates the PNG
        // ENCODE path (the decode path is gated by the analytic oracle)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(thumb, "png", bos)
        val back = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bos.toByteArray))
        var ok = back.getWidth == ow && back.getHeight == oh
        var cy = 0
        while (ok && cy < oh) {
          var cx = 0
          while (ok && cx < ow) {
            ok = (back.getRGB(cx, cy) & 0xffffff) ==
              (thumb.getRGB(cx, cy) & 0xffffff)
            cx += 1
          }
          cy += 1
        }
        ThumbFeatures(r.media_id, w, h, ow, oh, sr, sg, sb, ok)
      }
    }
  }

  /** Testdata has no binary table; derive one deterministically from
    * `documents` (text bytes as the opaque payload). */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      concat(lit("fake/"), col("source")).as("media_type"),
      encode(col("text"), "utf-8").as("media"))

  /** 64-bit average-hash of a decoded image, split into two 32-bit
    * halves (a single BIGINT would need bit 63 and differ in overflow
    * behavior across engines): subsample the luma plane on a fixed 8×8
    * grid (x = ⌊i·w/8⌋ — integer-exact, no fractional-coverage floats),
    * threshold each sample against the floor-mean, pack bits
    * little-endian. Two perceptually-identical images hash equal; the
    * oracle recomputes every bit from the analytic raster. */
  case class ImageHash(media_id: Long, hash_hi: Long, hash_lo: Long)

  /** REAL perceptual hash over decoded pixels — the image twin of
    * text fingerprinting, and the key for [[dedup-by-content]] over
    * media: one narrow hash row per blob, computed per partition, never
    * a shuffle. (aHash — the classic cheap perceptual hash; pHash's DCT
    * adds float transforms that would break integer-exact gating.) */
  def aHash(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.media))
        val w = img.getWidth; val h = img.getHeight
        val lumas = new Array[Long](64)
        var k = 0
        while (k < 64) {
          val x = ((k % 8) * w) / 8; val y = ((k / 8) * h) / 8
          val rgb = img.getRGB(x, y)
          lumas(k) = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
            (rgb & 0xff)) / 3
          k += 1
        }
        val mean = lumas.sum / 64
        var hi = 0L; var lo = 0L
        k = 0
        while (k < 64) {
          if (lumas(k) > mean) {
            if (k < 32) hi |= 1L << k else lo |= 1L << (k - 32)
          }
          k += 1
        }
        ImageHash(r.media_id, hi, lo)
      }
    }
  }

  /** Named twin key: which RASTER (`seed`) a media row renders —
    * positional (Long, Long) tuples made a silent seed-vs-id swap in
    * one union branch possible (ADVICE r14). */
  case class Seeded(mediaId: Long, seed: Long)

  /** The dup-injected image corpus: one PNG per doc plus an IDENTICAL
    * twin (same seed, new id ≥ 100000) for every %10==3 doc — the media
    * analog of `TextQueries.dupCorpus`, so perceptual dedup has real
    * duplicate families to find. */
  def dupImages(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    val seeds = docs.select(col("doc_id")).as[Long]
      .map(id => Seeded(mediaId = id, seed = id))
      .union(docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id")).as[Long]
        .map(id => Seeded(mediaId = id + 100000L, seed = id)))
    spreadSeeds(seeds).mapPartitions { rows =>
      rows.map(sd => MediaRow(sd.mediaId, "image/png",
        encodeSyntheticPng(sd.seed)))
    }
  }

  // ---------------------------------------------------------------------
  // Real audio decode (VERDICT r14 #1): deterministic PCM/WAV corpus +
  // javax.sound.sampled decode + integer-exact sample statistics — the
  // image pillar's analytic-oracle trick applied to the audio modality.
  // ---------------------------------------------------------------------

  /** The analytic waveform: signed 16-bit sample at frame `t` of the
    * clip seeded by `id`. The PER-ID slope term is what gives the
    * 64-point hash its discrimination — a pure `f(t) + c·id` ramp is
    * threshold-invariant to the constant (every clip would hash
    * identically); the quadratic term breaks monotonicity so the bit
    * pattern isn't a single run. Sweeps the full int16 range with sign
    * flips, so a byte-order or truncation bug in the decode breaks
    * sums, peaks, and crossings alike — while staying mod-65536 exact
    * in BIGINT on both engines. */
  @inline def sampleValue(t: Int, id: Long): Int =
    (((5L + 13L * (id % 97L)) * t + 7L * t * t + 13L * id) % 65536L)
      .toInt - 32768

  /** Clip length (frames) as a function of id: 128..264 — long enough
    * for the 64-point hash grid, short enough that the oracle's
    * closed-form list folds stay cheap. */
  @inline def audioLen(id: Long): Int = 128 + (id % 137).toInt

  /** Encode the analytic waveform for `id` as a WAV blob: a hand-built
    * RIFF container (44-byte canonical header) around 16-bit
    * little-endian mono PCM at 8 kHz. The container is written by this
    * library; the DECODE side goes through `javax.sound.sampled` — a
    * real parser that validates the header, so a malformed write fails
    * loudly rather than round-tripping. */
  def encodeSyntheticWav(id: Long): Array[Byte] = {
    val n = audioLen(id)
    val samples = new Array[Int](n)
    var t = 0
    while (t < n) { samples(t) = sampleValue(t, id); t += 1 }
    encodeWavPcm16(samples, sampleRate = 8000)
  }

  /** Hand-built RIFF container (44-byte canonical header) around 16-bit
    * little-endian mono PCM — shared by the synthetic corpus writer and
    * the downsample re-encode. */
  def encodeWavPcm16(samples: Array[Int], sampleRate: Int): Array[Byte] = {
    val dataBytes = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)               // PCM
      .putShort(1.toShort)               // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)            // byte rate
      .putShort(2.toShort)               // block align
      .putShort(16.toShort)              // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var t = 0
    while (t < samples.length) { bb.putShort(samples(t).toShort); t += 1 }
    bb.array()
  }

  /** A WAV media corpus derived from `documents` (one clip per doc_id)
    * — narrow per-partition encode, the audio twin of
    * [[syntheticImages]]. */
  def syntheticAudio(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    // NOT spreadSeeds: WAV synth+decode is ~0.3 s of total work at
    // sf0.1 — 32-way task scheduling costs more than it saves
    // (measured r20: the spread form was 2× slower); the image/GIF
    // codecs above are heavy enough to pay for the exchange
    docs.select(col("doc_id")).as[Long].mapPartitions { ids =>
      ids.map(id => MediaRow(id, "audio/wav", encodeSyntheticWav(id)))
    }
  }

  /** Decoded-audio features — every field an exact integer so the
    * whole decode output is DuckDB-gatable: frame count, sample rate
    * from the parsed header, signed sum, absolute sum, peak amplitude,
    * sign crossings, and a 4-bucket amplitude histogram (the audio
    * analog of the luma histogram). */
  case class AudioFeatures(media_id: Long, media_type: String,
      n_samples: Long, sample_rate: Int, sum_samples: Long, sum_abs: Long,
      peak_abs: Long, zero_crossings: Long,
      hist_0: Long, hist_1: Long, hist_2: Long, hist_3: Long)

  /** REAL decode: `javax.sound.sampled.AudioSystem` parses the RIFF
    * header and streams PCM frames, per-partition batches — the same
    * mapPartitions contract as [[decodeImages]]. PCM is lossless, so
    * every statistic equals the analytic closed form the oracle
    * recomputes. Blobs are pruned to (id, media) before this stage and
    * the work is narrow — scan-bound at 100 TB, never a shuffle. */
  def decodeAudio(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.media))
        val fmt = ais.getFormat
        require(fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian,
          s"unexpected WAV layout for media ${r.media_id}: $fmt")
        val pcm = ais.readAllBytes()
        val n = pcm.length / 2
        var sum = 0L; var sabs = 0L; var peak = 0L; var zc = 0L
        val hist = new Array[Long](4)
        var prevNeg = false
        var t = 0
        while (t < n) {
          // 16-bit little-endian signed frame
          val v = ((pcm(2 * t) & 0xff) | (pcm(2 * t + 1) << 8)).toShort.toInt
          sum += v
          val a = math.abs(v.toLong)
          sabs += a
          if (a > peak) peak = a
          val neg = v < 0
          if (t > 0 && neg != prevNeg) zc += 1
          prevNeg = neg
          hist((v + 32768) / 16384) += 1
          t += 1
        }
        AudioFeatures(r.media_id, r.media_type, n.toLong,
          fmt.getSampleRate.toInt, sum, sabs, peak, zc,
          hist(0), hist(1), hist(2), hist(3))
      }
    }
  }

  /** Parse a mono PCM16LE WAV through the real `javax.sound.sampled`
    * pipeline → (sample rate, signed samples). */
  private def parsePcm16(media: Array[Byte], mediaId: Long): (Int, Array[Int]) = {
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(media))
    val fmt = ais.getFormat
    require(fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
      fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
      !fmt.isBigEndian,
      s"unexpected WAV layout for media $mediaId: $fmt")
    val pcm = ais.readAllBytes()
    val out = new Array[Int](pcm.length / 2)
    var t = 0
    while (t < out.length) {
      out(t) = ((pcm(2 * t) & 0xff) | (pcm(2 * t + 1) << 8)).toShort.toInt
      t += 1
    }
    (fmt.getSampleRate.toInt, out)
  }

  /** Downsampled-audio report — [[resizeImages]]' audio twin: every
    * field integer-exact, plus the encode-roundtrip proof bit. */
  case class AudioDownsample(media_id: Long, n_in: Long, n_out: Long,
      sample_rate: Int, sum_out: Long, sum_abs_out: Long,
      peak_abs_out: Long, roundtrip_ok: Boolean)

  /** REAL audio downsample: decode (javax.sound.sampled) → decimate by
    * 2 with pair-averaging in the UNSIGNED domain (u = v + 32768, so
    * the floor-div of a non-negative sum is engine-portable; an odd
    * tail sample is dropped) → re-encode at half the rate through the
    * same RIFF writer → decode AGAIN and compare, proving the encode
    * round-trips bit-for-bit. Stats come from the re-decoded signal,
    * so the gate covers the full encode→decode→transform→encode→decode
    * chain. Narrow mapPartitions, blobs pruned before this stage — the
    * same scan-bound 100 TB shape as [[decodeImages]]. */
  def downsampleAudio(media: Dataset[MediaRow]): Dataset[AudioDownsample] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val (rate, in) = parsePcm16(r.media, r.media_id)
        val m = in.length / 2
        val down = new Array[Int](m)
        var k = 0
        while (k < m) {
          val u = (in(2 * k) + 32768) + (in(2 * k + 1) + 32768)
          down(k) = u / 2 - 32768
          k += 1
        }
        val reenc = encodeWavPcm16(down, rate / 2)
        val (rate2, back) = parsePcm16(reenc, r.media_id)
        var sum = 0L; var sabs = 0L; var peak = 0L
        var t = 0
        while (t < back.length) {
          val v = back(t)
          sum += v
          val a = math.abs(v.toLong)
          sabs += a
          if (a > peak) peak = a
          t += 1
        }
        AudioDownsample(r.media_id, in.length.toLong, back.length.toLong,
          rate2, sum, sabs, peak,
          roundtrip_ok = back.length == m && java.util.Arrays.equals(back, down))
      }
    }
  }

  /** 64-bit perceptual hash of a decoded clip — [[aHash]]'s audio twin
    * and the key for content dedup over audio: 64 UNSIGNED samples on
    * the fixed grid t = ⌊k·n/64⌋ (unsigned so the floor-mean threshold
    * divides a non-negative sum — truncation and floor agree across
    * engines), each thresholded against the mean, packed little-endian
    * into two 32-bit halves. */
  def audioHash(media: Dataset[MediaRow]): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.media))
        val pcm = ais.readAllBytes()
        val n = pcm.length / 2
        val u = new Array[Long](64)
        var k = 0
        while (k < 64) {
          val t = (k * n) / 64
          val v = ((pcm(2 * t) & 0xff) | (pcm(2 * t + 1) << 8)).toShort.toInt
          u(k) = v + 32768L
          k += 1
        }
        val mean = u.sum / 64
        var hi = 0L; var lo = 0L
        k = 0
        while (k < 64) {
          if (u(k) > mean) {
            if (k < 32) hi |= 1L << k else lo |= 1L << (k - 32)
          }
          k += 1
        }
        ImageHash(r.media_id, hi, lo)
      }
    }
  }

  /** One-decode image signals for the capstones: the curation verdict
    * needs BOTH the feature fold and the perceptual hash, and decoding
    * the blob twice doubles the dominant cost — this emits the
    * mid-tone count and the aHash from a single `javax.imageio` pass
    * (measured: the tri-modal capstone drops ~2× with the shared
    * decode). Values are bit-identical to [[decodeImages]] + [[aHash]]
    * by construction (same pixel reads, same folds). */
  case class ImageSignals(media_id: Long, n_pixels: Long, mid_count: Long,
      hash_hi: Long, hash_lo: Long)

  def imageSignals(media: Dataset[MediaRow]): Dataset[ImageSignals] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.media))
        val w = img.getWidth; val h = img.getHeight
        var mid = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val luma = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
              (rgb & 0xff)) / 3
            val b = luma / 64
            if (b == 1 || b == 2) mid += 1
            x += 1
          }
          y += 1
        }
        val lumas = new Array[Long](64)
        var k = 0
        while (k < 64) {
          val rgb = img.getRGB(((k % 8) * w) / 8, ((k / 8) * h) / 8)
          lumas(k) = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) +
            (rgb & 0xff)) / 3
          k += 1
        }
        val mean = lumas.sum / 64
        var hi = 0L; var lo = 0L
        k = 0
        while (k < 64) {
          if (lumas(k) > mean) {
            if (k < 32) hi |= 1L << k else lo |= 1L << (k - 32)
          }
          k += 1
        }
        ImageSignals(r.media_id, w.toLong * h, mid, hi, lo)
      }
    }
  }

  /** One-decode audio signals — [[imageSignals]]' audio twin: sign
    * crossings and the 64-point hash from a single WAV parse. */
  case class AudioSignals(media_id: Long, zero_crossings: Long,
      hash_hi: Long, hash_lo: Long)

  def audioSignals(media: Dataset[MediaRow]): Dataset[AudioSignals] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.media))
        val pcm = ais.readAllBytes()
        val n = pcm.length / 2
        @inline def sample(t: Int): Int =
          ((pcm(2 * t) & 0xff) | (pcm(2 * t + 1) << 8)).toShort.toInt
        var zc = 0L
        var prevNeg = false
        var t = 0
        while (t < n) {
          val neg = sample(t) < 0
          if (t > 0 && neg != prevNeg) zc += 1
          prevNeg = neg
          t += 1
        }
        val u = new Array[Long](64)
        var k = 0
        while (k < 64) {
          u(k) = sample((k * n) / 64) + 32768L
          k += 1
        }
        val mean = u.sum / 64
        var hi = 0L; var lo = 0L
        k = 0
        while (k < 64) {
          if (u(k) > mean) {
            if (k < 32) hi |= 1L << k else lo |= 1L << (k - 32)
          }
          k += 1
        }
        AudioSignals(r.media_id, zc, hi, lo)
      }
    }
  }

  /** The dup-injected audio corpus: an IDENTICAL twin (same waveform
    * seed, id ≥ 100000) for every %10==3 doc — [[dupImages]]' audio
    * analog, so perceptual audio dedup has real duplicate families. */
  def dupAudio(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    val seeds = docs.select(col("doc_id")).as[Long]
      .map(id => Seeded(mediaId = id, seed = id))
      .union(docs.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id")).as[Long]
        .map(id => Seeded(mediaId = id + 100000L, seed = id)))
    seeds.mapPartitions { rows =>
      rows.map(sd => MediaRow(sd.mediaId, "audio/wav",
        encodeSyntheticWav(sd.seed)))
    }
  }

  // ---------------------------------------------------------------------
  // REAL video decode (r17, VERDICT r16 #3): deterministic multi-frame
  // GIF corpus + javax.imageio GIF sequence reader — the modality set's
  // last simulated member replaced by a real container round-trip. GIF
  // is palette-based: the raster is GRAYSCALE over a 256-gray
  // IndexColorModel, so the LZW encode/decode is LOSSLESS and every
  // decoded pixel equals the closed form the oracle computes.
  // ---------------------------------------------------------------------

  /** Frames per clip: 3..6 as a function of id. */
  @inline def videoFrameCount(id: Long): Int = (3 + (id % 4)).toInt

  /** Gray value at (x, y) of frame `f` for clip `id` — the image
    * raster's form with the frame index in the channel slot, so
    * temporal decode errors (frame swap/drop) break the gate. */
  @inline def videoPixel(x: Int, y: Int, f: Int, id: Long): Int =
    ((3L * x + 7L * y + 11L * f + 13L * id) % 256L).toInt

  /** Encode the analytic frame stack for `id` as an animated GIF
    * (ImageIO sequence writer, one full frame per sequence entry —
    * no differential disposal, so `reader.read(f)` returns the whole
    * frame). Headless-safe: IndexColorModel + raster writes only. */
  def encodeSyntheticGif(id: Long): Array[Byte] = {
    val (w, h) = imageDims(id)
    val grays = Array.tabulate(256)(_.toByte)
    val icm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    val nf = videoFrameCount(id)
    while (f < nf) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0, videoPixel(x, y, f, id))
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** A GIF clip corpus derived from `documents` — the video member of
    * the synthetic-media family. */
  def syntheticVideos(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    spreadSeeds(docs.select(col("doc_id")).as[Long]).mapPartitions { ids =>
      ids.map(id => MediaRow(id, "video/gif", encodeSyntheticGif(id)))
    }
  }

  /** The dup-injected clip corpus: an IDENTICAL twin (same frame-stack
    * seed, id ≥ 100000) for every %10==7 doc — [[dupAudio]]'s video
    * analog, so perceptual video dedup has real duplicate families. */
  def dupVideos(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    val seeds = docs.select(col("doc_id")).as[Long]
      .map(id => Seeded(mediaId = id, seed = id))
      .union(docs.filter(col("doc_id") % 10 === 7)
        .select(col("doc_id")).as[Long]
        .map(id => Seeded(mediaId = id + 100000L, seed = id)))
    spreadSeeds(seeds).mapPartitions { rows =>
      rows.map(sd => MediaRow(sd.mediaId, "video/gif",
        encodeSyntheticGif(sd.seed)))
    }
  }

  /** Per-frame decode output: dims, exact luma sum, and the frame's
    * 64-bit aHash in two 32-bit halves (the [[ImageHash]] packing). */
  case class VideoFrameFeatures(media_id: Long, frame_idx: Long,
      width: Int, height: Int, sum_luma: Long, hash_hi: Long, hash_lo: Long)

  /** REAL frame extraction: the ImageIO GIF reader walks the sequence
    * (`getNumImages(true)` — the input stream allows the search), each
    * frame decodes to its palette grays, and per frame we fold the
    * exact luma sum plus the 8×8 aHash — one input row → n_frames
    * bounded output rows inside the same mapPartitions batch shape as
    * [[decodeImages]], never a shuffle. */
  def decodeVideoFrames(media: Dataset[MediaRow])
      : Dataset[VideoFrameFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.media))
        val reader =
          javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
        // try/finally (ADVICE r17): a malformed blob throwing inside
        // getNumImages/read must still release the reader and stream —
        // these leak per failing row inside a long-lived executor
        // otherwise
        try {
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        val out = (0 until n).map { f =>
          val img = reader.read(f)
          val w = img.getWidth; val h = img.getHeight
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // gray palette: every channel equals the index value
              sum += (img.getRGB(x, y) >> 16) & 0xff
              x += 1
            }
            y += 1
          }
          val lumas = new Array[Long](64)
          var k = 0
          while (k < 64) {
            val x = ((k % 8) * w) / 8; val yy = ((k / 8) * h) / 8
            lumas(k) = (img.getRGB(x, yy) >> 16) & 0xff
            k += 1
          }
          val mean = lumas.sum / 64
          var hi = 0L; var lo = 0L
          k = 0
          while (k < 64) {
            if (lumas(k) > mean) {
              if (k < 32) hi |= 1L << k else lo |= 1L << (k - 32)
            }
            k += 1
          }
          VideoFrameFeatures(r.media_id, f.toLong, w, h, sum, hi, lo)
        }
        out
        } finally {
          reader.dispose()
          iis.close()
        }
      }
    }
  }

  /** Frame-sampling analog: every `stride`-th fixed-size chunk of the
    * blob (video frame extraction shape: one input row → many chunk
    * rows). Pure built-ins: posexplode over computed offsets, substring
    * on the binary column. */
  def sampleChunks(df: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    val nChunks = floor((octet_length(col("media")) - 1) / lit(chunkSize * stride)) + 1
    // sequence(0, -1) DESCENDS ([0, -1]) rather than being empty — an
    // empty blob must yield zero chunk rows (explode of empty array)
    val idxs = when(octet_length(col("media")) > 0,
      sequence(lit(0), nChunks.cast("int") - 1)).otherwise(array().cast("array<int>"))
    df.select(col("media_id"), explode(idxs).as("chunk_idx"), col("media"))
      .select(col("media_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        base64(col("media").substr(
          col("chunk_idx") * (chunkSize * stride) + 1, lit(chunkSize))).as("chunk_b64"))
  }
}
