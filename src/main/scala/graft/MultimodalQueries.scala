package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Multimodal binary-column queries (SURVEY §2.3). Byte-level plumbing
  * (meta/chunks/dedup/source) derives blobs deterministically from
  * `documents`; oracle parity uses base64/octet_length, which DuckDB
  * supports on blobs. The image path is REAL `javax.imageio`: a
  * deterministic PNG per doc_id whose raster is an analytic function of
  * (x, y, ch, doc_id), decoded and resized with integer-exact statistics
  * the oracle recomputes in closed form (no sidecar — the SQL itself is
  * the independent mirror of encode → decode → feature). */
object MultimodalQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // binary column plumbing: opaque payload + typed metadata
    "mm_binary_meta" -> ((s, dir) => {
      Multimodal.mediaFromDocuments(Tables.documents(s, dir))
        .select(col("media_id"), col("media_type"),
          octet_length(col("media")).cast("long").as("n_bytes"),
          // Spark base64 is MIME-chunked (CRLF every 76 chars); strip for
          // canonical unchunked base64 (= DuckDB to_base64)
          regexp_replace(base64(col("media")), "[\\r\\n]", "").as("payload_b64"))
        .orderBy(col("media_id"))
    }),

    // frame-sampling shape: one blob → many fixed-size chunks
    "mm_frame_chunks" -> ((s, dir) => {
      Multimodal.sampleChunks(
          Multimodal.mediaFromDocuments(Tables.documents(s, dir)),
          chunkSize = 32, stride = 4)
        .orderBy(col("media_id"), col("chunk_idx"))
    }),

    // REAL image decode (javax.imageio): the corpus is one PNG per
    // doc_id whose raster is an analytic function of (x, y, ch, id), so
    // the DuckDB oracle recomputes every pixel statistic in closed form
    // — the gate covers Spark's PNG encode → decode → stats end to end
    "mm_decode_features" -> ((s, dir) => {
      Multimodal.decodeImages(
          Multimodal.syntheticImages(Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"))
    }),

    // IMAGE CURATION RULES — the visual C4-rules analog: per decoded
    // image, the reject screens a multimodal corpus runs before
    // captioning/training (minimum pixel count, extreme aspect ratio,
    // flat luma histogram = no contrast, overall darkness), each an
    // integer predicate over the REAL-decode features, kept = none
    // fired. The decode is the one data-sized pass; the verdicts are
    // a projection.
    "mm_image_rules" -> ((s, dir) => {
      val f = Multimodal.decodeImages(
        Multimodal.syntheticImages(Tables.documents(s, dir))).toDF()
      f.select(col("media_id"), col("width"), col("height"),
          col("n_pixels"),
          (col("n_pixels") < 100L).as("too_small"),
          (greatest(col("width"), col("height")) * 2 >
            least(col("width"), col("height")) * 3).as("extreme_aspect"),
          (greatest(col("hist_0"), col("hist_1"), col("hist_2"),
            col("hist_3")) * 10 >= col("n_pixels") * 9).as("low_contrast"),
          ((col("sum_r") + col("sum_g") + col("sum_b")) <
            col("n_pixels") * 192L).as("dark"))
        .withColumn("kept", !col("too_small") && !col("extreme_aspect") &&
          !col("low_contrast") && !col("dark"))
        .orderBy(col("media_id"))
    }),

    // REAL image resize: PNG decode → 2×2 block-average (floor)
    // downscale → re-encode + roundtrip check; thumbnail pixel sums are
    // integer-exact so the oracle mirrors the downscale analytically
    "mm_resize_thumb" -> ((s, dir) => {
      Multimodal.resizeImages(
          Multimodal.syntheticImages(Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"))
    }),

    // REAL perceptual hash (aHash) over decoded pixels: 8×8 luma
    // subsample, floor-mean threshold, 64 bits in two BIGINT halves —
    // every bit recomputed analytically by the oracle, so the gate
    // covers decode + subsample + threshold + packing exactly
    "mm_image_hash" -> ((s, dir) => {
      Multimodal.aHash(
          Multimodal.syntheticImages(Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"))
    }),

    // perceptual DEDUP over media: the dup-injected image corpus (an
    // identical twin for every %10==3 doc) grouped by aHash — the
    // image twin of dedup_exact, finding real duplicate families by
    // CONTENT (two byte-different PNGs of the same pixels would still
    // pair; a byte-hash dedup would miss them)
    "mm_dedup_perceptual" -> ((s, dir) => {
      Multimodal.aHash(Multimodal.dupImages(Tables.documents(s, dir)))
        .toDF()
        .groupBy(col("hash_hi"), col("hash_lo"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("hash_hi"), col("hash_lo"), col("keep_id"))
    }),

    // exact dedup over the BINARY payload (content-hash groupBy — the
    // media twin of dedup_exact), on the same injected-dup corpus
    "mm_dedup_binary" -> ((s, dir) => {
      graft.operators.Dedup.exactGroups(
          Multimodal.mediaFromDocuments(TextQueries.dupCorpus(Tables.documents(s, dir))),
          "media_id", "media")
        .orderBy(col("content_hash"))
    }),

    // the MULTIMODAL curation capstone: text quality + decoded-image
    // signal + perceptual survivor selection joined into one per-doc
    // keep verdict, ONE Catalyst plan — the cross-modality composition
    // a real curation stack runs (text-only capstones can't drop a doc
    // whose image duplicates another's or is tonally degenerate)
    "mm_curation_capstone" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // one decode, one plan reference (the mm_trimodal_capstone
      // lesson, applied back): feature fold + hash from a single
      // imageio pass, survivor flag as a window-min over the hash
      val wHash = org.apache.spark.sql.expressions.Window
        .partitionBy(col("hash_hi"), col("hash_lo"))
      val img = Multimodal.imageSignals(
          Multimodal.syntheticImages(docs)).toDF()
        .select(col("media_id").as("doc_id"), col("n_pixels"),
          col("mid_count"),
          (col("media_id") === min(col("media_id")).over(wHash))
            .as("is_phash_survivor"))
      val text = docs.select(col("doc_id"),
        (graft.operators.TextOps.qualityScore(col("text")) >= 0.30).as("text_ok"))
      text.join(img, "doc_id")
        .select(col("doc_id"), col("text_ok"),
          (expr("mid_count * 1000000 div n_pixels") >= 300000L)
            .as("image_ok"),
          col("is_phash_survivor"))
        .withColumn("keep",
          col("text_ok") && col("image_ok") && col("is_phash_survivor"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio decode (javax.sound.sampled — VERDICT r14 #1,
    // completing the modality set): the corpus is one hand-built RIFF/
    // PCM16LE WAV per doc_id whose waveform is an analytic function of
    // (t, id), parsed back through AudioSystem; every statistic is an
    // exact integer the DuckDB oracle recomputes in closed form — the
    // gate covers the RIFF encode → header parse → PCM decode → feature
    // path bit-for-bit (a byte-order or truncation bug breaks the hash)
    "mm_audio_features" -> ((s, dir) => {
      Multimodal.decodeAudio(
          Multimodal.syntheticAudio(Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"))
    }),

    // REAL audio downsample (resizeImages' audio twin): decode →
    // unsigned pair-average decimation by 2 → re-encode at 4 kHz →
    // decode again; stats from the re-decoded signal, roundtrip bit
    // gated, oracle folds the closed-form pair averages
    "mm_audio_downsample" -> ((s, dir) => {
      Multimodal.downsampleAudio(
          Multimodal.syntheticAudio(Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"))
    }),

    // REAL perceptual audio hash: 64 unsigned samples on the fixed
    // grid t = ⌊k·n/64⌋, floor-mean threshold, 64 bits in two BIGINT
    // halves — every bit recomputed analytically by the oracle
    "mm_audio_hash" -> ((s, dir) => {
      Multimodal.audioHash(
          Multimodal.syntheticAudio(Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"))
    }),

    // perceptual DEDUP over audio: the dup-injected clip corpus (an
    // identical twin for every %10==3 doc) grouped by audio hash —
    // content-keyed duplicate families, the audio twin of
    // mm_dedup_perceptual
    "mm_dedup_audio" -> ((s, dir) => {
      Multimodal.audioHash(Multimodal.dupAudio(Tables.documents(s, dir)))
        .toDF()
        .groupBy(col("hash_hi"), col("hash_lo"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("hash_hi"), col("hash_lo"), col("keep_id"))
    }),

    // REAL video frame extraction (r17 — the modality set's last
    // simulated member replaced): a deterministic multi-frame GIF per
    // doc (256-gray palette → the LZW roundtrip is lossless), decoded
    // through the ImageIO sequence reader; per frame the exact luma sum
    // and the 8×8 aHash gate against the closed-form raster — a frame
    // swap, drop, or palette corruption breaks the hash
    "mm_video_frames" -> ((s, dir) => {
      Multimodal.decodeVideoFrames(
          Multimodal.syntheticVideos(Tables.documents(s, dir)))
        .toDF().orderBy(col("media_id"), col("frame_idx"))
    }),
    // TEMPORAL + cross-clip video dedup over the dup-injected corpus
    // (an identical twin for every %10==7 doc): per clip, keyframe
    // selection (frame 0 + any frame whose aHash hamming vs the
    // PREVIOUS frame exceeds 8 — the shot-boundary heuristic) and a
    // POSITION-WEIGHTED clip fingerprint — Σ(frame_idx+1)·hash folds
    // plus the Σ(frame_idx+1)·luma exact-integer fold (the XOR form
    // collided on 40% of distinct clips, see the fingerprint comment
    // below); a clip survives iff it is the smallest id sharing its
    // fingerprint — the video twin of mm_dedup_perceptual/mm_dedup_audio
    "mm_dedup_video" -> ((s, dir) => {
      val frames = Multimodal.decodeVideoFrames(
          Multimodal.dupVideos(Tables.documents(s, dir))).toDF()
      val wlag = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_idx"))
      val keyed = frames
        .withColumn("ph", lag(col("hash_hi"), 1).over(wlag))
        .withColumn("pl", lag(col("hash_lo"), 1).over(wlag))
        .withColumn("keyframe",
          col("ph").isNull ||
            expr("bit_count(hash_hi ^ ph) + bit_count(hash_lo ^ pl)") > 8)
      // fingerprint: position-weighted hash + luma-sum folds. The aHash
      // alone is mean-threshold invariant on these small rasters (the
      // r15 id-slope lesson: 160/500 distinct clips shared a full hash
      // SEQUENCE), so the fingerprint folds the exact luma sums, which
      // carry the id term — measured fully discriminative (500/500)
      // while exact twins still collide by construction
      val clips = keyed.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("keyframe"), 1L).otherwise(0L)).as("n_keyframes"),
          sum(expr("(frame_idx + 1) * hash_hi")).as("fp_hi"),
          sum(expr("(frame_idx + 1) * hash_lo")).as("fp_lo"),
          sum(expr("(frame_idx + 1) * sum_luma")).as("fp_luma"))
      val wfp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_frames"), col("fp_hi"), col("fp_lo"),
          col("fp_luma"))
      clips
        .withColumn("is_survivor",
          col("media_id") === min(col("media_id")).over(wfp))
        .select(col("media_id"), col("n_frames"), col("n_keyframes"),
          col("is_survivor"))
        .orderBy(col("media_id"))
    }),

    // the TRI-MODAL curation capstone: text quality + decoded-image
    // signal + image-perceptual survivor + decoded-audio signal +
    // audio-perceptual survivor joined into ONE per-doc keep verdict,
    // one Catalyst plan — the full cross-modality composition the
    // completed modality set enables (a doc drops if its text is junk,
    // its image is tonally degenerate or duplicates another's, or its
    // audio is a near-silent ramp or duplicates another's)
    "mm_trimodal_capstone" -> ((s, dir) =>
      trimodalFrame(s, dir).orderBy(col("doc_id"))),

    // the QUAD-MODAL capstone (r17 — the completed modality set in ONE
    // Catalyst plan): the tri-modal verdict joined with the decoded
    // VIDEO signal (keyframe rate — a temporally-flat clip is the
    // video analog of a near-silent ramp) and the video-perceptual
    // survivor (clip fingerprint min-id). One GIF decode pass feeds
    // both video columns (the r15 one-decode discipline: keyframe flag
    // and fingerprint fold from the same frame table, survivorship is
    // a window over the clip aggregate — never a second decode).
    "mm_quadmodal_capstone" -> ((s, dir) => {
      val frames = Multimodal.decodeVideoFrames(
          Multimodal.syntheticVideos(Tables.documents(s, dir))).toDF()
      val wlag = org.apache.spark.sql.expressions.Window
        .partitionBy(col("media_id")).orderBy(col("frame_idx"))
      val keyed = frames
        .withColumn("ph", lag(col("hash_hi"), 1).over(wlag))
        .withColumn("pl", lag(col("hash_lo"), 1).over(wlag))
        .withColumn("keyframe",
          col("ph").isNull ||
            expr("bit_count(hash_hi ^ ph) + bit_count(hash_lo ^ pl)") > 8)
      // fingerprint: position-weighted hash + luma-sum folds. The aHash
      // alone is mean-threshold invariant on these small rasters (the
      // r15 id-slope lesson: 160/500 distinct clips shared a full hash
      // SEQUENCE), so the fingerprint folds the exact luma sums, which
      // carry the id term — measured fully discriminative (500/500)
      // while exact twins still collide by construction
      val clips = keyed.groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(when(col("keyframe"), 1L).otherwise(0L)).as("n_keyframes"),
          sum(expr("(frame_idx + 1) * hash_hi")).as("fp_hi"),
          sum(expr("(frame_idx + 1) * hash_lo")).as("fp_lo"),
          sum(expr("(frame_idx + 1) * sum_luma")).as("fp_luma"))
      val wfp = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_frames"), col("fp_hi"), col("fp_lo"),
          col("fp_luma"))
      val vidAll = clips
        .withColumn("is_video_survivor",
          col("media_id") === min(col("media_id")).over(wfp))
        .select(col("media_id").as("doc_id"),
          (expr("n_keyframes * 1000000 div n_frames") >= 500000L)
            .as("video_ok"),
          col("is_video_survivor"))
      trimodalFrame(s, dir).withColumnRenamed("keep", "tri_keep")
        .join(vidAll, "doc_id")
        .select(col("doc_id"), col("text_ok"), col("image_ok"),
          col("is_image_survivor"), col("audio_ok"),
          col("is_audio_survivor"), col("video_ok"),
          col("is_video_survivor"),
          (col("tri_keep") && col("video_ok") && col("is_video_survivor"))
            .as("keep"))
        .orderBy(col("doc_id"))
    }),

    // the binaryFile SOURCE itself: a directory of media files read
    // whole-file (path/length/content), glob-pruned at listing time —
    // the ingestion edge the mm_* pipeline starts from. The fixture dir
    // is deterministic (same 64 ASCII files at every scale factor), so
    // the DuckDB read_blob mirror gates names, sizes, AND content bytes
    "mm_binary_source" -> ((s, dir) => {
      graft.sources.Sources.binaryFiles(s, binaryFixtureDir(), "*.bin")
        .select(
          regexp_extract(col("path"), "[^/]+$", 0).as("file_name"),
          col("length").as("n_bytes"),
          md5(col("content")).as("digest"))
        .orderBy(col("file_name"))
    }))

  /** The TRI-MODAL per-doc verdict frame (pre-orderBy) — text quality
    * + decoded-image signal + image-perceptual survivor + decoded-audio
    * signal + audio-perceptual survivor, one Catalyst plan. ONE decode
    * per modality, ONE plan reference per decode:
    * [[graft.operators.Multimodal.imageSignals]] / `audioSignals` emit
    * the feature fold + perceptual hash together (blob decode
    * dominates), and the survivor flag is a window-min over the hash —
    * not a groupBy-self-join, which would re-run the decode lineage per
    * reference (mapPartitions is not a reusable exchange). Shared by
    * the tri-modal gate and the quad-modal capstone. */
  private def trimodalFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val wHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hash_hi"), col("hash_lo"))
    val imgAll = Multimodal.imageSignals(
        Multimodal.syntheticImages(docs)).toDF()
      .select(col("media_id").as("doc_id"), col("n_pixels"),
        col("mid_count"),
        (col("media_id") === min(col("media_id")).over(wHash))
          .as("is_image_survivor"))
    val audAll = Multimodal.audioSignals(
        Multimodal.syntheticAudio(docs)).toDF()
      .select(col("media_id").as("doc_id"), col("zero_crossings"),
        (col("media_id") === min(col("media_id")).over(wHash))
          .as("is_audio_survivor"))
    val text = docs.select(col("doc_id"),
      (graft.operators.TextOps.qualityScore(col("text")) >= 0.30).as("text_ok"))
    text.join(imgAll, "doc_id").join(audAll, "doc_id")
      .select(col("doc_id"), col("text_ok"),
        (expr("mid_count * 1000000 div n_pixels") >= 300000L)
          .as("image_ok"),
        col("is_image_survivor"),
        (col("zero_crossings") >= 4).as("audio_ok"),
        col("is_audio_survivor"))
      .withColumn("keep",
        col("text_ok") && col("image_ok") && col("is_image_survivor") &&
          col("audio_ok") && col("is_audio_survivor"))
  }

  /** Deterministic whole-file fixture for [[Sources.binaryFiles]]: 64
    * ASCII files under one fixed path, written once (write-if-missing —
    * re-runs and concurrent sessions produce byte-identical files, so
    * the race is harmless). Fixed content keeps the static oracle SQL
    * able to name the path. */
  private def binaryFixtureDir(): String = {
    val dir = java.nio.file.Paths.get("/tmp/graft_binary_source_fixture")
    java.nio.file.Files.createDirectories(dir)
    (0 until 64).foreach { i =>
      val f = dir.resolve(f"media_$i%02d.bin")
      if (!java.nio.file.Files.exists(f))
        java.nio.file.Files.write(f,
          (f"graft-binary-fixture-$i%02d:" * (i % 5 + 1))
            .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    }
    dir.toString
  }

  /** DuckDB mirror of [[Multimodal.pixelValue]]: channel `ch` at (x, y)
    * of the image seeded by `id` (all BIGINT math, mod-256
    * non-negative). */
  private def pix(x: String, y: String, ch: Int,
      id: String = "media_id"): String =
    s"(3*($x) + 7*($y) + ${11 * ch} + 13*$id) % 256"

  /** The aHash mirror over a CTE `m (media_id, sid)`: dims from the
    * SEED id, 8×8 luma subsample at (⌊i·w/8⌋, ⌊j·h/8⌋), floor-mean
    * threshold, little-endian 32-bit halves — bit-for-bit
    * [[Multimodal.aHash]] over the analytic raster. Ends with
    * `hs (media_id, hash_hi, hash_lo)` in scope. */
  private def aHashCtes: String = {
    val luma = s"(${pix("((k%8)*w)//8", "((k//8)*h)//8", 0, "sid")} + " +
      s"${pix("((k%8)*w)//8", "((k//8)*h)//8", 1, "sid")} + " +
      s"${pix("((k%8)*w)//8", "((k//8)*h)//8", 2, "sid")}) // 3"
    s"""d AS (SELECT media_id, sid, 8 + sid % 9 AS w, 8 + sid % 7 AS h FROM m),
      |l AS (SELECT media_id,
      |    list_transform(range(0, 64), k -> $luma) AS lum FROM d),
      |sm AS (SELECT media_id, lum, (list_sum(lum) // 64)::BIGINT AS mu FROM l),
      |hs AS (SELECT media_id,
      |    list_sum(list_transform(range(0, 32),
      |      k -> CASE WHEN lum[k+1] > mu THEN 1::BIGINT << k ELSE 0 END))::BIGINT AS hash_hi,
      |    list_sum(list_transform(range(0, 32),
      |      k -> CASE WHEN lum[k+33] > mu THEN 1::BIGINT << k ELSE 0 END))::BIGINT AS hash_lo
      |  FROM sm)""".stripMargin
  }

  /** The video mirror chain ([[graft.operators.Multimodal
    * .decodeVideoFrames]]): clips `m (media_id, sid)` fan out to their
    * 3+sid%4 frames, each frame folds its exact luma sum and its aHash
    * from the gray raster (3x + 7y + 11f + 13·sid) mod 256 — the
    * image-hash chain with the frame index in the channel slot. Ends
    * in `vh (media_id, f, w, h, sum_luma, hash_hi, hash_lo)`. */
  private def videoFrameCtes: String = {
    def vpix(x: String, y: String) =
      s"(3*($x) + 7*($y) + 11*f + 13*sid) % 256"
    val g = vpix("((k%8)*w)//8", "((k//8)*h)//8")
    s"""vf AS (SELECT media_id, sid, f, 8 + sid % 9 AS w, 8 + sid % 7 AS h
      |  FROM m, LATERAL unnest(range(0, 3 + sid % 4)) AS t(f)),
      |vl AS (SELECT media_id, f, w, h,
      |    list_transform(range(0, 64), k -> $g) AS lum,
      |    list_sum(list_transform(range(0, w*h),
      |      i -> ${vpix("i % w", "i // w")}))::BIGINT AS sum_luma
      |  FROM vf),
      |vs AS (SELECT media_id, f, w, h, sum_luma, lum,
      |    (list_sum(lum) // 64)::BIGINT AS mu FROM vl),
      |vh AS (SELECT media_id, f, w, h, sum_luma,
      |    list_sum(list_transform(range(0, 32),
      |      k -> CASE WHEN lum[k+1] > mu THEN 1::BIGINT << k ELSE 0 END))::BIGINT AS hash_hi,
      |    list_sum(list_transform(range(0, 32),
      |      k -> CASE WHEN lum[k+33] > mu THEN 1::BIGINT << k ELSE 0 END))::BIGINT AS hash_lo
      |  FROM vs)""".stripMargin
  }

  /** Count of pixels whose floor-luma ((r+g+b)//3) lands in 64-wide
    * bucket `b` — the decode histogram mirror. */
  private def lumaHist(b: Int): String = {
    val luma = s"((${pix("i % w", "i // w", 0)} + ${pix("i % w", "i // w", 1)} + " +
      s"${pix("i % w", "i // w", 2)}) // 3) // 64"
    s"list_sum(list_transform(range(0, w*h), i -> CASE WHEN ($luma) = $b THEN 1 ELSE 0 END))::BIGINT AS hist_$b"
  }

  /** Thumbnail channel sum mirror: for each output pixel (i over ow·oh),
    * floor-mean of the 2×2 (edge-clipped) input block of channel `ch`,
    * summed — exactly [[Multimodal.resizeImages]]'s integer math. */
  private def thumbSum(ch: Int): String = {
    def p(dx: Int, dy: Int) =
      pix(s"2*(i % ow) + $dx", s"2*(i // ow) + $dy", ch)
    s"""list_sum(list_transform(range(0, ow*oh), i ->
       |    ( ${p(0, 0)}
       |    + CASE WHEN 2*(i % ow) + 1 < w THEN ${p(1, 0)} ELSE 0 END
       |    + CASE WHEN 2*(i // ow) + 1 < h THEN ${p(0, 1)} ELSE 0 END
       |    + CASE WHEN 2*(i % ow) + 1 < w AND 2*(i // ow) + 1 < h
       |        THEN ${p(1, 1)} ELSE 0 END )
       |    // ((CASE WHEN 2*(i % ow) + 1 < w THEN 2 ELSE 1 END)
       |       * (CASE WHEN 2*(i // ow) + 1 < h THEN 2 ELSE 1 END))
       |  ))::BIGINT""".stripMargin
  }

  /** DuckDB mirror of [[Multimodal.sampleValue]]: the signed 16-bit
    * frame at `t` of the clip seeded by `id` (BIGINT math throughout —
    * both operands non-negative, so `%` agrees across engines). */
  private def samp(t: String, id: String = "media_id"): String =
    s"(((5 + 13*($id % 97))*($t) + 7*($t)*($t) + 13*$id) % 65536 - 32768)"

  /** The unsigned frame (sample + 32768) — what the hash thresholds
    * over, so its floor-mean divides a non-negative sum. */
  private def usamp(t: String, id: String): String =
    s"(((5 + 13*($id % 97))*($t) + 7*($t)*($t) + 13*$id) % 65536)"

  /** The audio-hash mirror over a CTE `m (media_id, sid)` — ends with
    * `hs (media_id, hash_hi, hash_lo)` in scope, bit-for-bit
    * [[Multimodal.audioHash]] over the analytic waveform. */
  private def audioHashCtes: String =
    s"""d AS (SELECT media_id, sid, 128 + sid % 137 AS n FROM m),
      |l AS (SELECT media_id,
      |    list_transform(range(0, 64), k -> ${usamp("(k*n)//64", "sid")}) AS u FROM d),
      |sm AS (SELECT media_id, u, (list_sum(u) // 64)::BIGINT AS mu FROM l),
      |hs AS (SELECT media_id,
      |    list_sum(list_transform(range(0, 32),
      |      k -> CASE WHEN u[k+1] > mu THEN 1::BIGINT << k ELSE 0 END))::BIGINT AS hash_hi,
      |    list_sum(list_transform(range(0, 32),
      |      k -> CASE WHEN u[k+33] > mu THEN 1::BIGINT << k ELSE 0 END))::BIGINT AS hash_lo
      |  FROM sm)""".stripMargin

  /** Count of frames whose unsigned value lands in 16384-wide bucket
    * `b` — the decode amplitude-histogram mirror. */
  private def ampHist(b: Int): String =
    s"list_sum(list_transform(range(0, n), t -> CASE WHEN " +
      s"${usamp("t", "media_id")} // 16384 = $b THEN 1 ELSE 0 END))::BIGINT AS hist_$b"

  def oracle: Map[String, String] = Map(
    // the analytic-waveform mirror: every PCM frame of the WAV corpus
    // is samp(t) = (5t + 13·media_id) mod 65536 − 32768; sums, peak,
    // sign crossings, and amplitude buckets recomputed in closed form.
    // sample_rate pins the parsed-header contract (the 8 kHz the
    // encoder wrote must survive the RIFF round trip).
    "mm_audio_features" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, 128 + doc_id % 137 AS n FROM documents)
        |SELECT media_id, 'audio/wav' AS media_type,
        |  n::BIGINT AS n_samples, 8000 AS sample_rate,
        |  list_sum(list_transform(range(0, n),
        |    t -> ${samp("t")}))::BIGINT AS sum_samples,
        |  list_sum(list_transform(range(0, n),
        |    t -> abs(${samp("t")})))::BIGINT AS sum_abs,
        |  list_max(list_transform(range(0, n),
        |    t -> abs(${samp("t")})))::BIGINT AS peak_abs,
        |  list_sum(list_transform(range(1, n),
        |    t -> CASE WHEN (${samp("t-1")} < 0) <> (${samp("t")} < 0)
        |      THEN 1 ELSE 0 END))::BIGINT AS zero_crossings,
        |  ${ampHist(0)}, ${ampHist(1)}, ${ampHist(2)}, ${ampHist(3)}
        |FROM m ORDER BY media_id""".stripMargin,
    "mm_audio_downsample" -> {
      // closed-form downsampled frame: unsigned pair average, floored
      val d = s"((${usamp("2*k", "media_id")} + ${usamp("2*k+1", "media_id")}) // 2 - 32768)"
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, 128 + doc_id % 137 AS n,
        |    (128 + doc_id % 137) // 2 AS nout FROM documents)
        |SELECT media_id, n::BIGINT AS n_in, nout::BIGINT AS n_out,
        |  4000 AS sample_rate,
        |  list_sum(list_transform(range(0, nout), k -> $d))::BIGINT AS sum_out,
        |  list_sum(list_transform(range(0, nout),
        |    k -> abs($d)))::BIGINT AS sum_abs_out,
        |  list_max(list_transform(range(0, nout),
        |    k -> abs($d)))::BIGINT AS peak_abs_out,
        |  true AS roundtrip_ok
        |FROM m ORDER BY media_id""".stripMargin
    },
    "mm_audio_hash" ->
      s"""WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |$audioHashCtes
        |SELECT media_id, hash_hi, hash_lo FROM hs ORDER BY media_id""".stripMargin,
    "mm_dedup_audio" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, doc_id AS sid FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, doc_id FROM documents WHERE doc_id % 10 = 3),
        |$audioHashCtes
        |SELECT hash_hi, hash_lo, min(media_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM hs GROUP BY hash_hi, hash_lo
        |ORDER BY hash_hi, hash_lo, keep_id""".stripMargin,
    // the GIF raster mirror: every gray of frame f is
    // (3x + 7y + 11f + 13·sid) mod 256, so the per-frame luma sum and
    // every aHash bit recompute in closed form — a frame swap, drop,
    // or a single LZW-corrupted pixel breaks the hash
    "mm_video_frames" ->
      s"""WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |$videoFrameCtes
        |SELECT media_id, f::BIGINT AS frame_idx, w::INT AS width,
        |  h::INT AS height, sum_luma, hash_hi, hash_lo
        |FROM vh ORDER BY media_id, frame_idx""".stripMargin,
    "mm_dedup_video" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, doc_id AS sid FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, doc_id FROM documents WHERE doc_id % 10 = 7),
        |$videoFrameCtes,
        |kf AS (SELECT media_id, f, hash_hi, hash_lo, sum_luma,
        |    lag(hash_hi) OVER w AS ph, lag(hash_lo) OVER w AS pl
        |  FROM vh WINDOW w AS (PARTITION BY media_id ORDER BY f)),
        |ck AS (SELECT media_id, f, hash_hi, hash_lo, sum_luma,
        |    CASE WHEN ph IS NULL OR bit_count(xor(hash_hi, ph)) +
        |      bit_count(xor(hash_lo, pl)) > 8 THEN 1 ELSE 0 END AS kfflag
        |  FROM kf),
        |cl AS (SELECT media_id, count(*)::BIGINT AS n_frames,
        |    CAST(sum(kfflag) AS BIGINT) AS n_keyframes,
        |    CAST(sum((f + 1) * hash_hi) AS BIGINT) AS fp_hi,
        |    CAST(sum((f + 1) * hash_lo) AS BIGINT) AS fp_lo,
        |    CAST(sum((f + 1) * sum_luma) AS BIGINT) AS fp_luma
        |  FROM ck GROUP BY 1),
        |sv AS (SELECT n_frames, fp_hi, fp_lo, fp_luma, min(media_id) AS keep
        |  FROM cl GROUP BY 1, 2, 3, 4)
        |SELECT cl.media_id, cl.n_frames, cl.n_keyframes,
        |  cl.media_id = sv.keep AS is_survivor
        |FROM cl JOIN sv USING (n_frames, fp_hi, fp_lo, fp_luma)
        |ORDER BY media_id""".stripMargin,
    // tri-modal capstone mirror: the image and audio hash chains both
    // name their CTEs d/l/sm/hs, so each survivor leg runs inside a
    // parenthesized nested WITH (scoped names); features and quality
    // fold from the closed forms inline
    "mm_trimodal_capstone" -> {
      val midLuma = s"((${pix("i % w", "i // w", 0)} + " +
        s"${pix("i % w", "i // w", 1)} + " +
        s"${pix("i % w", "i // w", 2)}) // 3) // 64"
      s"""WITH imgk AS (SELECT * FROM (
        |  WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |  $aHashCtes,
        |  surv AS (SELECT hash_hi, hash_lo, min(media_id) AS keep_id
        |    FROM hs GROUP BY 1, 2)
        |  SELECT hs.media_id AS doc_id,
        |    hs.media_id = surv.keep_id AS is_image_survivor
        |  FROM hs JOIN surv USING (hash_hi, hash_lo)) t1),
        |audk AS (SELECT * FROM (
        |  WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |  $audioHashCtes,
        |  surv AS (SELECT hash_hi, hash_lo, min(media_id) AS keep_id
        |    FROM hs GROUP BY 1, 2)
        |  SELECT hs.media_id AS doc_id,
        |    hs.media_id = surv.keep_id AS is_audio_survivor
        |  FROM hs JOIN surv USING (hash_hi, hash_lo)) t2),
        |imfe AS (SELECT media_id AS doc_id, (w*h)::BIGINT AS n_pixels,
        |    list_sum(list_transform(range(0, w*h),
        |      i -> CASE WHEN ($midLuma) IN (1, 2) THEN 1 ELSE 0 END))::BIGINT AS mid
        |  FROM (SELECT doc_id AS media_id, 8 + doc_id % 9 AS w,
        |      8 + doc_id % 7 AS h FROM documents) dm),
        |aufe AS (SELECT media_id AS doc_id,
        |    list_sum(list_transform(range(1, n),
        |      t -> CASE WHEN (${samp("t-1")} < 0) <> (${samp("t")} < 0)
        |        THEN 1 ELSE 0 END))::BIGINT AS zc
        |  FROM (SELECT doc_id AS media_id, 128 + doc_id % 137 AS n
        |      FROM documents) da),
        |tq AS (SELECT doc_id, ${graft.OracleSql.quality("toks")} AS q
        |  FROM (SELECT doc_id, ${graft.OracleSql.toks} AS toks FROM documents) t)
        |SELECT tq.doc_id AS doc_id, q >= 0.30 AS text_ok,
        |  mid * 1000000 // n_pixels >= 300000 AS image_ok,
        |  is_image_survivor,
        |  zc >= 4 AS audio_ok,
        |  is_audio_survivor,
        |  (q >= 0.30 AND mid * 1000000 // n_pixels >= 300000
        |    AND is_image_survivor AND zc >= 4 AND is_audio_survivor) AS keep
        |FROM tq JOIN imfe ON imfe.doc_id = tq.doc_id
        |JOIN imgk ON imgk.doc_id = tq.doc_id
        |JOIN aufe ON aufe.doc_id = tq.doc_id
        |JOIN audk ON audk.doc_id = tq.doc_id
        |ORDER BY doc_id""".stripMargin
    },
    // the quad-modal mirror: the tri-modal legs verbatim plus the
    // video leg (frame chain → keyframe lag → clip fingerprint →
    // survivor) as one more scoped nested WITH
    "mm_quadmodal_capstone" -> {
      val midLuma = s"((${pix("i % w", "i // w", 0)} + " +
        s"${pix("i % w", "i // w", 1)} + " +
        s"${pix("i % w", "i // w", 2)}) // 3) // 64"
      s"""WITH imgk AS (SELECT * FROM (
        |  WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |  $aHashCtes,
        |  surv AS (SELECT hash_hi, hash_lo, min(media_id) AS keep_id
        |    FROM hs GROUP BY 1, 2)
        |  SELECT hs.media_id AS doc_id,
        |    hs.media_id = surv.keep_id AS is_image_survivor
        |  FROM hs JOIN surv USING (hash_hi, hash_lo)) t1),
        |audk AS (SELECT * FROM (
        |  WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |  $audioHashCtes,
        |  surv AS (SELECT hash_hi, hash_lo, min(media_id) AS keep_id
        |    FROM hs GROUP BY 1, 2)
        |  SELECT hs.media_id AS doc_id,
        |    hs.media_id = surv.keep_id AS is_audio_survivor
        |  FROM hs JOIN surv USING (hash_hi, hash_lo)) t2),
        |vidk AS (SELECT * FROM (
        |  WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |  $videoFrameCtes,
        |  kf AS (SELECT media_id, f, hash_hi, hash_lo, sum_luma,
        |      lag(hash_hi) OVER w AS ph, lag(hash_lo) OVER w AS pl
        |    FROM vh WINDOW w AS (PARTITION BY media_id ORDER BY f)),
        |  ck AS (SELECT media_id, f, hash_hi, hash_lo, sum_luma,
        |      CASE WHEN ph IS NULL OR bit_count(xor(hash_hi, ph)) +
        |        bit_count(xor(hash_lo, pl)) > 8 THEN 1 ELSE 0 END AS kfflag
        |    FROM kf),
        |  cl AS (SELECT media_id, count(*)::BIGINT AS n_frames,
        |      CAST(sum(kfflag) AS BIGINT) AS n_keyframes,
        |      CAST(sum((f + 1) * hash_hi) AS BIGINT) AS fp_hi,
        |      CAST(sum((f + 1) * hash_lo) AS BIGINT) AS fp_lo,
        |      CAST(sum((f + 1) * sum_luma) AS BIGINT) AS fp_luma
        |    FROM ck GROUP BY 1),
        |  sv AS (SELECT n_frames, fp_hi, fp_lo, fp_luma, min(media_id) AS keep
        |    FROM cl GROUP BY 1, 2, 3, 4)
        |  SELECT cl.media_id AS doc_id,
        |    cl.n_keyframes * 1000000 // cl.n_frames >= 500000 AS video_ok,
        |    cl.media_id = sv.keep AS is_video_survivor
        |  FROM cl JOIN sv USING (n_frames, fp_hi, fp_lo, fp_luma)) t3),
        |imfe AS (SELECT media_id AS doc_id, (w*h)::BIGINT AS n_pixels,
        |    list_sum(list_transform(range(0, w*h),
        |      i -> CASE WHEN ($midLuma) IN (1, 2) THEN 1 ELSE 0 END))::BIGINT AS mid
        |  FROM (SELECT doc_id AS media_id, 8 + doc_id % 9 AS w,
        |      8 + doc_id % 7 AS h FROM documents) dm),
        |aufe AS (SELECT media_id AS doc_id,
        |    list_sum(list_transform(range(1, n),
        |      t -> CASE WHEN (${samp("t-1")} < 0) <> (${samp("t")} < 0)
        |        THEN 1 ELSE 0 END))::BIGINT AS zc
        |  FROM (SELECT doc_id AS media_id, 128 + doc_id % 137 AS n
        |      FROM documents) da),
        |tq AS (SELECT doc_id, ${graft.OracleSql.quality("toks")} AS q
        |  FROM (SELECT doc_id, ${graft.OracleSql.toks} AS toks FROM documents) t)
        |SELECT tq.doc_id AS doc_id, q >= 0.30 AS text_ok,
        |  mid * 1000000 // n_pixels >= 300000 AS image_ok,
        |  is_image_survivor,
        |  zc >= 4 AS audio_ok,
        |  is_audio_survivor,
        |  video_ok,
        |  is_video_survivor,
        |  (q >= 0.30 AND mid * 1000000 // n_pixels >= 300000
        |    AND is_image_survivor AND zc >= 4 AND is_audio_survivor
        |    AND video_ok AND is_video_survivor) AS keep
        |FROM tq JOIN imfe ON imfe.doc_id = tq.doc_id
        |JOIN imgk ON imgk.doc_id = tq.doc_id
        |JOIN aufe ON aufe.doc_id = tq.doc_id
        |JOIN audk ON audk.doc_id = tq.doc_id
        |JOIN vidk ON vidk.doc_id = tq.doc_id
        |ORDER BY doc_id""".stripMargin
    },
    "mm_binary_meta" ->
      """SELECT doc_id AS media_id, 'fake/' || source AS media_type,
        |  octet_length(encode(text)) AS n_bytes,
        |  to_base64(encode(text)) AS payload_b64
        |FROM documents ORDER BY doc_id""".stripMargin,
    // chunking the text then encoding ≡ chunking the utf-8 blob (ASCII)
    "mm_frame_chunks" ->
      """SELECT doc_id AS media_id, i AS chunk_idx,
        |  to_base64(encode(substr(text, i * 128 + 1, 32))) AS chunk_b64
        |FROM documents,
        |  LATERAL unnest(range(0, ((octet_length(encode(text)) - 1) // 128) + 1)) AS t(i)
        |ORDER BY media_id, chunk_idx""".stripMargin,
    // the analytic-raster mirror: every pixel of the PNG corpus is
    // pix(x,y,ch) = (3x + 7y + 11ch + 13·media_id) mod 256, so sums and
    // histogram buckets are recomputed in closed form — if Spark's PNG
    // encode/decode corrupts a single pixel the hash breaks
    "mm_decode_features" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents)
        |SELECT media_id, 'image/png' AS media_type,
        |  w::INT AS width, h::INT AS height, (w*h)::BIGINT AS n_pixels,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> ${pix("i % w", "i // w", 0)}))::BIGINT AS sum_r,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> ${pix("i % w", "i // w", 1)}))::BIGINT AS sum_g,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> ${pix("i % w", "i // w", 2)}))::BIGINT AS sum_b,
        |  ${lumaHist(0)}, ${lumaHist(1)}, ${lumaHist(2)}, ${lumaHist(3)}
        |FROM m ORDER BY media_id""".stripMargin,
    "mm_image_rules" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |f AS (SELECT media_id, w::INT AS width, h::INT AS height,
        |  (w*h)::BIGINT AS n_pixels,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> ${pix("i % w", "i // w", 0)}))::BIGINT AS sum_r,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> ${pix("i % w", "i // w", 1)}))::BIGINT AS sum_g,
        |  list_sum(list_transform(range(0, w*h),
        |    i -> ${pix("i % w", "i // w", 2)}))::BIGINT AS sum_b,
        |  ${lumaHist(0)}, ${lumaHist(1)}, ${lumaHist(2)}, ${lumaHist(3)}
        |FROM m)
        |SELECT media_id, width, height, n_pixels,
        |  n_pixels < 100 AS too_small,
        |  greatest(width, height) * 2 > least(width, height) * 3
        |    AS extreme_aspect,
        |  greatest(hist_0, hist_1, hist_2, hist_3) * 10 >= n_pixels * 9
        |    AS low_contrast,
        |  (sum_r + sum_g + sum_b) < n_pixels * 192 AS dark,
        |  NOT (n_pixels < 100
        |    OR greatest(width, height) * 2 > least(width, height) * 3
        |    OR greatest(hist_0, hist_1, hist_2, hist_3) * 10 >= n_pixels * 9
        |    OR (sum_r + sum_g + sum_b) < n_pixels * 192) AS kept
        |FROM f ORDER BY media_id""".stripMargin,
    // the 2×2 block-average mirror: each output pixel is the floor-mean
    // of its (edge-clipped) input block, every value from the analytic
    // raster; reencode_ok mirrors TRUE (the Spark side re-encodes the
    // thumbnail to PNG and must roundtrip it pixel-exactly)
    "mm_resize_thumb" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents),
        |p AS (SELECT media_id, w, h, (w+1)//2 AS ow, (h+1)//2 AS oh FROM m)
        |SELECT media_id, w::INT AS in_w, h::INT AS in_h,
        |  ow::INT AS out_w, oh::INT AS out_h,
        |  ${thumbSum(0)} AS sum_r, ${thumbSum(1)} AS sum_g,
        |  ${thumbSum(2)} AS sum_b, true AS reencode_ok
        |FROM p ORDER BY media_id""".stripMargin,
    "mm_image_hash" ->
      s"""WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |$aHashCtes
        |SELECT media_id, hash_hi, hash_lo FROM hs ORDER BY media_id""".stripMargin,
    "mm_curation_capstone" -> {
      val midLuma = s"((${pix("i % w", "i // w", 0, "sid")} + " +
        s"${pix("i % w", "i // w", 1, "sid")} + " +
        s"${pix("i % w", "i // w", 2, "sid")}) // 3) // 64"
      s"""WITH m AS (SELECT doc_id AS media_id, doc_id AS sid FROM documents),
        |$aHashCtes,
        |surv AS (SELECT hash_hi, hash_lo, min(media_id) AS keep_id
        |  FROM hs GROUP BY 1, 2),
        |ph AS (SELECT hs.media_id AS doc_id,
        |    hs.media_id = surv.keep_id AS is_phash_survivor
        |  FROM hs JOIN surv USING (hash_hi, hash_lo)),
        |im AS (SELECT media_id AS doc_id, (w*h)::BIGINT AS n_pixels,
        |    list_sum(list_transform(range(0, w*h),
        |      i -> CASE WHEN ($midLuma) IN (1, 2) THEN 1 ELSE 0 END))::BIGINT AS mid
        |  FROM d),
        |tq AS (SELECT doc_id, ${graft.OracleSql.quality("toks")} AS q
        |  FROM (SELECT doc_id, ${graft.OracleSql.toks} AS toks FROM documents) t)
        |SELECT tq.doc_id AS doc_id, q >= 0.30 AS text_ok,
        |  mid * 1000000 // n_pixels >= 300000 AS image_ok,
        |  is_phash_survivor,
        |  (q >= 0.30 AND mid * 1000000 // n_pixels >= 300000
        |    AND is_phash_survivor) AS keep
        |FROM tq JOIN im ON im.doc_id = tq.doc_id
        |JOIN ph ON ph.doc_id = tq.doc_id
        |ORDER BY doc_id""".stripMargin
    },
    "mm_dedup_perceptual" ->
      s"""WITH m AS (
        |  SELECT doc_id AS media_id, doc_id AS sid FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, doc_id FROM documents WHERE doc_id % 10 = 3),
        |$aHashCtes
        |SELECT hash_hi, hash_lo, min(media_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM hs GROUP BY hash_hi, hash_lo
        |ORDER BY hash_hi, hash_lo, keep_id""".stripMargin,
    // DuckDB md5 is VARCHAR-only; md5(text) hashes the UTF-8 bytes,
    // which IS the blob (encode(text)) — same digest as Spark's
    // md5(binary)
    "mm_dedup_binary" ->
      s"""WITH ${TextQueries.corpusSql}
        |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM corpus GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
    // the fixture files are ASCII, so decode(blob) is lossless and
    // md5(decode(·)) is the byte digest Spark's md5(content) computes
    "mm_binary_source" ->
      """SELECT regexp_extract(filename, '[^/]+$') AS file_name,
        |  CAST(size AS BIGINT) AS n_bytes,
        |  md5(decode(content)) AS digest
        |FROM read_blob('/tmp/graft_binary_source_fixture/*.bin')
        |ORDER BY file_name""".stripMargin)
}
