package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext._
import graft.ops.Dedup
import graft.sources.Tables
import graft.queries.ExtensionSupport._

/** Multimodal binary-column query surface: container-header
  * decode (PNG/GIF/BMP/JPEG, RIFF/WAVE, MP4) and thumbnailing over
  * synthesized blobs, each mirrored by a DuckDB oracle.
  *
  * Split from the one-file registry by family (round 9); entries and
  * oracle SQL are byte-identical to the pre-split registry.
  */
private[queries] object MultimodalQueries {

  /** Synthesized pixel blobs for `mm_decode_pixels` — memoized as a
    * shared stage (the `events_census` discipline) so the BENCH row
    * times the decoder + aggregation, not the fixture ENCODER that a
    * production corpus would never run (the blobs arrive from
    * storage).
    */
  private[queries] def pixelBlobs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_pixel_blobs")

  private[queries] def pixelBlobsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.spreadNarrow(docs(s, dir).select(col("doc_id")),
        cap = math.max(2, s.sparkContext.defaultParallelism / 4))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val w = (id % 12 + 4).toInt
          val h = (id % 9 + 3).toInt
          val m = (id % 256).toInt
          val rgb = (x: Int, y: Int) =>
            (((m + 3 * x + 7 * y) % 256) << 16) |
              (((2 * m + 5 * x + y) % 256) << 8) |
              ((3 * m + x + 11 * y) % 256)
          val gray = (x: Int, y: Int) => (m + 3 * x + 7 * y) % 256
          // block-flat mixing shared by all four JPEG variants:
          // DC g·8−1024 decodes to EXACTLY g (the closed form), so
          // the oracle renders v ∈ {4,5,6,7} identically and only
          // the dims differ
          val blockG = (bx: Int, by: Int) =>
            ((m + 13 * bx + 29 * by) % 256) * 8 - 1024
          val bytes = (id % 8) match {
            case 0 => // half the truecolor PNGs are Adam7 and half
              // are 16-bit (bit-replicated samples): both are
              // layout/precision choices whose decoded raster is
              // IDENTICAL, so the oracle is blind to the splits
              // while the pass machinery and wide-sample filters run
              PixelEncoder.png(w, h, rgb,
                interlace = (id / 8) % 2 == 0,
                bitDepth = if ((id / 16) % 2 == 0) 16 else 8)
            case 1 => // grayscale; half via an identity-gray PLTE
              // (palette index == gray value — decoded raster
              // identical, so the oracle is blind while the
              // paletted path runs)
              if ((id / 8) % 2 == 0)
                PixelEncoder.pngPaletted(w, h, gray,
                  Array.tabulate(256)(g => (g << 16) | (g << 8) | g),
                  bitDepth = 8)
              else PixelEncoder.png(w, h, gray, colorType = 0)
            case 2 => PixelEncoder.bmp(w, h, rgb)
            case 3 => // LZW round-trip; half interlaced (layout-
              // only, like the Adam7 PNGs — oracle-invisible)
              PixelEncoder.gif(w, h, gray,
                interlace = (id / 8) % 2 == 1)
            case 4 => // baseline JPEG, DC-only grayscale
              JpegEncoder.grayDcOnly(w, h, blockG)
            case 5 => // 4:2:0 — 16×16 MCUs, neutral chroma; dims
              // snap to the MCU grid (no padding blocks)
              JpegEncoder.yccDcOnly(16 + (id % 2).toInt * 16, 16,
                blockG, hs = 2, vs = 2)
            case 6 => // 4:2:2 — 16×8 MCUs
              JpegEncoder.yccDcOnly(16 + (id % 2).toInt * 16,
                8 + (id % 3).toInt * 8, blockG, hs = 2, vs = 1)
            case _ => // progressive (SOF2), three scans, same
              // closed form as the baseline DC-only variant
              JpegEncoder.grayDcOnlyProgressive(w, h, blockG)
          }
          (id, bytes)
        }
      }.toDF("doc_id", "blob")
  }

  /** Synthesized 10×6 near-dup image blobs for `mm_ahash_pairs` —
    * staged for the same reason as [[pixelBlobs]]. Every run of five
    * doc ids shares one raster, rotated through truecolor PNG,
    * truecolor BMP, GIF and RLE8 paletted BMP so the
    * exact-duplicate clusters span container codings (JPEG is
    * excluded HERE because a DC-only 10×6 raster is two flat
    * columns — every such group hashes alike; JPEG decode is
    * oracle-proven in `mm_decode_pixels`/`mm_resize_pixels`).
    *
    * The mixing multiplies the POSITION term by (grp + 1): any
    * affine h = f(grp) + pos·c has a group-independent per-position
    * difference, so all groups' rasters are shifts of one sequence
    * and the mean-threshold hashes alias catastrophically — the
    * r9–r11 form measured 97 distinct hashes over 1 000 groups and
    * 828k "pairs" at sf0.1, a detector fixture that proved nothing.
    * The group-dependent slope decorrelates: 999 distinct / 1 000
    * groups, 10 350 pairs ≈ the 10 000 true within-group pairs plus
    * ~3% band noise. h reduces mod 2^16 BEFORE the Knuth multiply
    * so the product stays far under 2^63 for ANY doc id — Scala
    * wraps silently where DuckDB BIGINT errors, so the closed form
    * must never rely on overflow.
    */
  private[queries] def ahashBlobs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_ahash_blobs")

  private[queries] def ahashBlobsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.spreadNarrow(docs(s, dir).select(col("doc_id")),
        cap = math.max(2, s.sparkContext.defaultParallelism / 4))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val grp = id / 5
          val v = (x: Int, y: Int) => {
            val h = ((grp % 65536 + 1) * (x * 151 + y * 211 + 1)
              + grp * 7919) % 65536
            val g = ((h * 2654435761L / 1024) % 256).toInt
            (g << 16) | (g << 8) | g
          }
          // r=g=b in the PNG/BMP rasters, palette-index gray in
          // the GIF, and the identity-gray PLTE of the RLE8 BMP
          // all reduce to the same integer luma — four container
          // codings, ONE decoded raster, so the oracle's closed
          // form is format-blind
          val bytes = (grp % 4) match {
            case 0 => PixelEncoder.png(10, 6, v)
            case 1 => PixelEncoder.bmp(10, 6, v)
            case 2 => PixelEncoder.gif(10, 6,
              (x, y) => v(x, y) & 0xff)
            case _ => PixelEncoder.bmpPaletted(10, 6,
              (x, y) => v(x, y) & 0xff,
              Array.tabulate(256)(g => (g << 16) | (g << 8) | g),
              rle = true)
          }
          (id, bytes)
        }
      }.toDF("doc_id", "blob")
  }

  /** Synthesized 32×32 blobs for `mm_phash_pairs` — the pHash DCT
    * needs at least its 32×32 pool, so this stage renders full-pool
    * rasters with the same group-dependent-slope mixing and
    * png/bmp/gif rotation as [[ahashBlobs]].
    */
  private[queries] def phashBlobs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_phash_blobs")

  private[queries] def phashBlobsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.spreadNarrow(docs(s, dir).select(col("doc_id")),
        cap = math.max(2, s.sparkContext.defaultParallelism / 4))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val grp = id / 5
          val v = (x: Int, y: Int) => {
            val h = ((grp % 65536 + 1) * (x * 151 + y * 211 + 1)
              + grp * 7919) % 65536
            val g = ((h * 2654435761L / 1024) % 256).toInt
            (g << 16) | (g << 8) | g
          }
          val bytes = (grp % 3) match {
            case 0 => PixelEncoder.png(32, 32, v)
            case 1 => PixelEncoder.bmp(32, 32, v)
            case _ => PixelEncoder.gif(32, 32,
              (x, y) => v(x, y) & 0xff)
          }
          (id, bytes)
        }
      }.toDF("doc_id", "blob")
  }

  /** Synthesized 120-sample WAV blobs for `mm_audio_fingerprint` —
    * staged for the same reason as [[pixelBlobs]].
    */
  private[queries] def audioBlobs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_audio_blobs")

  private[queries] def audioBlobsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.spreadNarrow(docs(s, dir).select(col("doc_id")),
        cap = math.max(2, s.sparkContext.defaultParallelism / 4))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val grp = id / 5
          // grp % 4 picks the coding — whole groups share one blob
          // so the every-5-share near-dup design is preserved:
          // 0 = 16-bit linear PCM WAV; 1 = G.711 μ-law; 2 = A-law;
          // 3 = FLAC of the SAME linear samples (lossless, so the
          // oracle's linear closed form holds through the rice/
          // fixed-predictor decode unchanged).
          // The companded members carry the closed form as RAW
          // code bytes, so the DECODER's table expansion is what
          // the oracle's G.711 closed form verifies. The mixing
          // multiplies the time term by (grp + 1) — the
          // group-dependent slope that keeps fingerprints
          // group-local (see [[ahashBlobs]]) — and the G.711
          // codes stay within two positive segments (μ-law
          // u ∈ [0xD0, 0xF0), A-law pre-XOR a' ∈ [0x20, 0x40)):
          // uniform bytes over the FULL code space expand to
          // exponentially heavy-tailed magnitudes, making every
          // fingerprint a sparse indicator of its extreme windows.
          def mix(t: Int): Long = {
            val h = ((grp % 65536 + 1) * (t * 101 + 1)
              + grp * 7919) % 65536
            h * 2654435761L / 1024
          }
          val bytes = (grp % 4) match {
            case 0 =>
              val samples = Array.tabulate(120)(t =>
                (mix(t) % 512).toInt - 256)
              WavEncoder.pcm16(samples)
            case 3 =>
              val samples = Array.tabulate(120)(t =>
                (mix(t) % 512).toInt - 256)
              FlacEncoder.encode(Array(samples), 16000,
                mode = "fixed2")
            case r =>
              val codes = Array.tabulate(120) { t =>
                val m = (mix(t) % 32).toInt
                if (r == 1) 0xd0 + m else (0x20 + m) ^ 0x55
              }
              WavEncoder.g711(codes, tag = if (r == 1) 7 else 6)
          }
          (id, bytes)
        }
      }.toDF("doc_id", "blob")
  }

  /** Synthesized MJPEG-AVI clips for `mm_video_frames` — staged for
    * the same reason as [[pixelBlobs]]. Each doc is a 2/4/6-frame
    * clip of 16×8 DC-only gray JPEGs (two 8×8 blocks per frame), the
    * block DC a closed form of (doc_id, frame_no, block) so every
    * sampled pixel is `(dc + 4) // 8 + 128` in the oracle.
    */
  private[queries] def videoBlobs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_video_blobs")

  private[queries] def videoBlobsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.spreadNarrow(docs(s, dir).select(col("doc_id")),
        cap = math.max(2, s.sparkContext.defaultParallelism / 4))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = ((id % 3) * 2 + 2).toInt
          val frames = (0 until n).map { f =>
            JpegEncoder.grayDcOnly(16, 8, (bx, _) =>
              ((id * 31 + f * 97 + bx * 53) % 256).toInt - 128)
          }
          (id, MjpegAvi.encode(frames, 16, 8, usPerFrame = 33333))
        }
      }.toDF("doc_id", "blob")
  }

  /** Near-dup video clips for `mm_video_dup_pairs` — every run of
    * five doc ids shares one 3-frame 80×48 MJPEG clip. Frame 0 is
    * the [[ahashBlobs]] group-slope raster rendered as DC-only 8×8
    * blocks (g·8−1024 decodes to EXACTLY g, so the 10×6 pool equals
    * the closed-form grid); frames 1–2 are decoys the stride-4
    * sampler never decodes — pinning the decode-on-demand contract
    * inside an oracle-checked row.
    */
  private[queries] def vdupBlobs(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_vdup_blobs")

  private[queries] def vdupBlobsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.spreadNarrow(docs(s, dir).select(col("doc_id")),
        cap = math.max(2, s.sparkContext.defaultParallelism / 4))
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val grp = id / 5
          def g(bx: Int, by: Int, f: Int): Int = {
            val h = ((grp % 65536 + 1) *
              (bx * 151 + by * 211 + 1 + f * 631)
              + grp * 7919) % 65536
            ((h * 2654435761L / 1024) % 256).toInt
          }
          val frames = (0 until 3).map { f =>
            JpegEncoder.grayDcOnly(80, 48,
              (bx, by) => g(bx, by, f) * 8 - 1024)
          }
          (id, MjpegAvi.encode(frames, 80, 48, usPerFrame = 33333))
        }
      }.toDF("doc_id", "blob")
  }

  /** Decode-once image features over [[ahashBlobs]] (stats + aHash +
    * dHash from ONE raster decode), memoized: curate_images references
    * its feature table three times and the aHash/dHash/cross-modal
    * near-dup rows each need one signature — without the stage every
    * DataFrame reference re-runs the full pixel decode of the corpus.
    */
  private[queries] def imgFeats(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_img_feats")

  private[queries] def imgFeatsRaw(s: SparkSession, dir: String): DataFrame =
    Multimodal.curationFeatures(ahashBlobs(s, dir))

  /** Decode-once video clip features over [[vdupBlobs]] (keyframe
    * brightness + shot count + keyframe aHash), memoized for the same
    * fan-out reason as [[imgFeats]]. The keyframe hash is
    * bit-identical to [[Multimodal.videoKeyframeAHash]]'s (both hash
    * frame 0), so the cross-modal join reads it from here;
    * mm_video_dup_pairs deliberately keeps its own stride-4
    * one-frame-decode pass — that row pins the decode-on-demand
    * contract (decoy frames never decoded).
    */
  private[queries] def videoFeats(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_video_feats")

  private[queries] def videoFeatsRaw(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoCurationFeatures(vdupBlobs(s, dir),
      cutThreshold = 15)

  /** The curate_captions cue table (per-doc SRT fixture — one
    * "[Music]" boilerplate cue interleaved among the unique speech
    * cues — parsed through the from-scratch SubRip reader), memoized:
    * boilerplate removal consumes it twice (document-frequency census
    * + anti-join probe).
    */
  private[queries] def captionCues(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_caption_cues")

  private[queries] def captionCuesRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val srts = docs(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val n = (id % 4 + 1).toInt
          val speech = (1 to n).map { i =>
            val start = id % 1000 + (i - 1) * 2000L
            (i, start, start + 1500L, s"cue $i of doc $id")
          }
          val music = (n + 1, id % 1000 + n * 2000L,
            id % 1000 + n * 2000L + 800L, "[Music]")
          (id, Subtitles.buildSrt(speech :+ music))
        }
      }.toDF("doc_id", "srt")
    Subtitles.cues(srts, col("doc_id"), col("srt"))
      .withColumnRenamed("id", "doc_id")
  }

  /** Decode-once audio features over [[audioBlobs]] (VAD census +
    * energy fingerprint), memoized for the same fan-out reason as
    * [[imgFeats]]: curate_audio references its census three times and
    * mm_audio_fingerprint needs the signature.
    */
  private[queries] def audioFeats(s: SparkSession, dir: String): DataFrame =
    stage(s, dir, "mm_audio_feats")

  private[queries] def audioFeatsRaw(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioCurationFeatures(audioBlobs(s, dir),
      threshold = 128)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- Multimodal binary columns -----------------------------------
    "mm_decode" -> { (s, dir) =>
      Multimodal.decodeFeatures(
        Multimodal.withBlob(docs(s, dir), "text")).toDF()
    },


    // real container parsing, verified end-to-end: synthesize valid
    // PNG / GIF89a / BMP payloads (width/height/frames a closed form
    // of doc_id, format round-robin) as the binary column, decode
    // them through the SAME decodeFeatures path as mm_decode, and let
    // the oracle recompute the facts in closed form — a broken parser
    // hash-mismatches. Header bytes are built with codegen'd hex
    // string expressions + one to_binary; no UDF. The GIF variant is
    // a COMPLETE stream — screen descriptor, n image-descriptor
    // blocks with LZW sub-blocks, trailer — so the frame-count block
    // walk is exercised, not just the fixed header offsets.
    "mm_decode_image" -> { (s, dir) =>
      val w = (pmod(col("doc_id"), lit(1024)) + 1).cast("int")
      val h = (pmod(col("doc_id"), lit(768)) + 1).cast("int")
      val nFrames = (pmod(col("doc_id"), lit(5)) + 1).cast("int")
      // PNG: 8-byte signature, IHDR length 13, "IHDR", BE32 dims
      val png = concat(lit("89504E470D0A1A0A0000000D49484452"),
        hexBe32(w), hexBe32(h), lit("0806000000"))
      // GIF89a: magic, LE16 screen dims, no global table, then one
      // image descriptor + 1-byte LZW sub-block per frame, trailer
      val gifFrame = concat(lit("2C00000000"), hexLe16(w), hexLe16(h),
        lit("0002010100"))
      val gif = concat(lit("474946383961"), hexLe16(w), hexLe16(h),
        lit("000000"),
        array_join(transform(sequence(lit(1), nFrames), _ => gifFrame), ""),
        lit("3B"))
      // BMP: "BM", size/reserved/offset, BITMAPINFOHEADER(40), LE32 dims
      val bmp = concat(lit("424D000000000000000036000000" + "28000000"),
        hexLe32(w), hexLe32(h), lit("0100180000000000"))
      // JPEG: SOI, JFIF APP0 (len 16), SOF0 (len 17: precision 8,
      // BE16 height THEN width, 3 components) — header-only payload,
      // the SOF walk stops before scan data
      val jpeg = concat(lit("FFD8" + "FFE000104A46494600010100000100010000"
          + "FFC0001108"),
        hexBe16(h), hexBe16(w), lit("03011100021101031101"))
      val blob = to_binary(
        when(pmod(col("doc_id"), lit(4)) === 0, png)
          .when(pmod(col("doc_id"), lit(4)) === 1, gif)
          .when(pmod(col("doc_id"), lit(4)) === 2, bmp)
          .otherwise(jpeg), lit("hex"))
      Multimodal.decodeFeatures(
          docs(s, dir).select(col("doc_id")).withColumn("blob", blob))
        .toDF()
        .select("doc_id", "format", "width", "height", "n_frames")
    },


    // real RIFF/WAVE + FLAC STREAMINFO header parsing, verified the
    // same way: synthesize valid WAV headers (channels / sample rate /
    // sample count a closed form of doc_id; the data payload itself
    // stays absent — only its declared size matters, the shape of a
    // metadata scan over huge audio files) for 3 of 4 ids and a FLAC
    // fLaC+STREAMINFO header (the same closed-form fields bit-packed
    // per RFC 9639 §streaminfo) for the fourth, and decode both
    // through decodeAudio's magic dispatch
    "mm_decode_audio" -> { (s, dir) =>
      val ch = (pmod(col("doc_id"), lit(2)) + 1).cast("int")
      val rate = ((pmod(col("doc_id"), lit(3)) + 1) * 8000).cast("int")
      val nSamples = (pmod(col("doc_id"), lit(100)) + 1).cast("int")
      val blockAlign = ch * 2 // 16-bit PCM
      val dataSize = nSamples * blockAlign
      val wav = concat(
        lit("52494646"), hexLe32(dataSize + 36), lit("57415645"), // RIFF size WAVE
        lit("666D7420" + "10000000" + "0100"), // fmt(16), PCM
        hexLe16(ch), hexLe32(rate), hexLe32(rate * blockAlign),
        hexLe16(blockAlign), lit("1000"), // 16 bits/sample
        lit("64617461"), hexLe32(dataSize)) // data chunk header
      // fLaC, last-metadata STREAMINFO(34), 4096 block bounds, then
      // the rate(20)/ch-1(3)/bps-1(5)/total(36) bit-pack: byte2 holds
      // rate's low nibble + ch-1 + bps-1's top bit (0 for 16-bit),
      // byte3 is (bps-1)&0xF << 4 = F0, total fits its low byte
      val flac = concat(
        lit("664C6143" + "80000022" + "10001000" + "000000000000"),
        hex2((rate / 4096).cast("int")),
        hex2(pmod((rate / 16).cast("int"), lit(256))),
        hex2(pmod(rate, lit(16)) * 16 + (ch - 1) * 2),
        lit("F0000000"),
        hex2(nSamples),
        lit("0" * 32)) // md5 unset
      val hexBlob =
        when(pmod(col("doc_id"), lit(4)) === 3, flac).otherwise(wav)
      Multimodal.decodeAudio(
          docs(s, dir).select(col("doc_id"))
            .withColumn("blob", to_binary(hexBlob, lit("hex"))))
        .toDF()
        .select("doc_id", "format", "channels", "sample_rate",
          "bits_per_sample", "n_samples", "duration_ms")
    },


    // real MP4/ISO-BMFF parsing, verified end-to-end like
    // mm_decode_image: synthesize a spec-shaped container (ftyp, moov
    // with a v0 mvhd and n empty trak boxes — sizes, timescale and
    // duration closed forms of doc_id), walk it with the SAME
    // VideoHeader box parser production payloads would hit, and let
    // the oracle recompute every fact in closed form
    "mm_decode_video" -> { (s, dir) =>
      val nTracks = (pmod(col("doc_id"), lit(3)) + 1).cast("int")
      val timescale = ((pmod(col("doc_id"), lit(3)) + 1) * 600).cast("int")
      val duration =
        (pmod(col("doc_id") * 7, lit(36000)) + 600).cast("int")
      // mvhd v0: 108-byte box — header, version/flags, ctime, mtime,
      // timescale, duration, then 80 spec-reserved/matrix bytes of 0
      val mvhd = concat(
        lit("0000006C" + "6D766864" + "00000000" + "00000000" +
          "00000000"),
        hexBe32(timescale), hexBe32(duration), lit("0" * 160))
      val moov = concat(
        hexBe32(lit(116) + lit(8) * nTracks), lit("6D6F6F76"), mvhd,
        array_join(transform(sequence(lit(1), nTracks),
          _ => lit("00000008" + "7472616B")), ""))
      val mp4 = concat(
        lit("00000010" + "66747970" + "69736F6D" + "00000000"), moov)
      Multimodal.decodeVideo(docs(s, dir).select(col("doc_id"))
          .withColumn("blob", to_binary(mp4, lit("hex"))))
        .toDF()
        .select("doc_id", "byte_len", "format", "n_tracks", "timescale",
          "duration_ticks", "duration_ms", "n_sampled_1hz")
    },


    // REAL video frame extraction: MJPEG-AVI container walk indexes
    // the movi chunks without reading payloads, every 2nd frame
    // decodes through the from-scratch JPEG decoder (decode cost
    // scales with SAMPLED frames — the at-scale contract), per-frame
    // integer raster stats; the oracle replays the DC-only closed
    // form frame by frame
    "mm_video_frames" -> { (s, dir) =>
      Multimodal.videoFrameStats(videoBlobs(s, dir), stride = 2).toDF()
    },

    // video near-dup by KEYFRAME perceptual hash — the clip-dedup
    // pass: one frame decoded per clip (stride 4 over 3-frame clips
    // samples frame 0 only), 10x6 aHash over the pooled blocks, same
    // 4x15-bit banded join; the oracle replays the block closed form
    // (frame-0 mixing matches the image pass, so the expected pairs
    // are the ahash fixture's — two decode paths, one ground truth)
    "mm_video_dup_pairs" -> { (s, dir) =>
      val sigs = Multimodal.videoKeyframeAHash(vdupBlobs(s, dir),
        col("doc_id"), col("blob"), stride = 4)
      DedupOps.simhashBandPairs(sigs, col("id"), col("vhash"),
        bands = 4, bitsPerBand = 15, maxHamming = 3, bits = 60)
    },

    // SHOT-BOUNDARY detection over the same clips: every consecutive
    // frame pair scores mean-absolute-pixel-difference, score > 15
    // opens a scene; the oracle replays the closed-form flats through
    // a lag window + running cut count
    "mm_video_scenes" -> { (s, dir) =>
      Multimodal.videoScenes(videoBlobs(s, dir), cutThreshold = 15)
    },

    // CROSS-MODAL near-dup: which video clips' keyframes duplicate
    // which IMAGES — image aHashes and video keyframe hashes share
    // the 10x6 hash space by construction, so one cross-set banded
    // join finds slideshow-style reuse; ordered (img, vid) pairs
    // including a doc's own image-vs-clip exact dup
    "mm_cross_modal_dup" -> { (s, dir) =>
      val imgs = imgFeats(s, dir)
        .select(col("doc_id").as("id"), col("ahash").as("sig"))
      val vids = videoFeats(s, dir)
        .select(col("doc_id").as("id"), col("vhash").as("sig"))
      DedupOps.simhashBandPairsAcross(imgs, vids, col("id"),
        col("sig"), bands = 4, bitsPerBand = 15, maxHamming = 3,
        bits = 60)
        .select(col("id_a").as("img_id"), col("id_b").as("vid_id"),
          col("hamming"))
    },

    // SubRip subtitle parsing — the caption alignment input of AV
    // training data: per-doc SRT files (closed-form cue grid) parse
    // through the from-scratch reader into one row per cue; a
    // malformed cue fails loudly with its number
    "mm_subtitles" -> { (s, dir) =>
      import s.implicits._
      val srts = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val n = (id % 4 + 1).toInt
            val cues = (1 to n).map { i =>
              val start = id % 1000 + (i - 1) * 2000L
              (i, start, start + 1500L, s"cue $i of doc $id")
            }
            (id, Subtitles.buildSrt(cues))
          }
        }.toDF("doc_id", "srt")
      Subtitles.cues(srts, col("doc_id"), col("srt"))
        .withColumnRenamed("id", "doc_id")
    },

    // WebVTT parsing — YouTube's native caption export: headers,
    // NOTE blocks, optional cue identifiers, cue settings, karaoke
    // timestamp tags and styling tags all navigate correctly; same
    // cue grid as the SRT row so the two parsers share one oracle
    // shape
    "mm_subtitles_vtt" -> { (s, dir) =>
      import s.implicits._
      val vtts = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val n = (id % 4 + 1).toInt
            def ts(ms: Long) =
              f"${ms / 3600000}%02d:${ms / 60000 % 60}%02d:" +
                f"${ms / 1000 % 60}%02d.${ms % 1000}%03d"
            val cues = (1 to n).map { i =>
              val start = id % 1000 + (i - 1) * 2000L
              val ident = if (i % 2 == 0) s"cue-id-$i\n" else ""
              s"$ident${ts(start)} --> ${ts(start + 1500)}" +
                s" align:start line:0%\n" +
                s"<v Speaker><00:00:01.000>cue <b>$i</b> of doc $id</v>"
            }
            (id, "WEBVTT - fixture\nKind: captions\n\n" +
              "NOTE synthesized for the oracle\n\n" +
              cues.mkString("\n\n") + "\n")
          }
        }.toDF("doc_id", "vtt")
      Subtitles.cuesVtt(vtts, col("doc_id"), col("vtt"))
        .withColumnRenamed("id", "doc_id")
    },

    // caption boilerplate removal — AV transcript curation: cues
    // whose text appears across MANY documents ("[Music]",
    // "[Applause]") are non-speech markers, not transcript; a
    // document-frequency census drops them (df > 3), and each doc
    // reports its retained speech cues + duration. The fixture
    // interleaves one "[Music]" cue per doc among the unique cues.
    "curate_captions" -> { (s, dir) =>
      // the cue table is consumed twice (df census + anti-join
      // probe) — inherent to boilerplate removal — so the fixture
      // synthesis + SRT parse is a memoized stage read, not replayed
      // per reference
      val cues = captionCues(s, dir)
      val df_ = cues.groupBy(col("text"))
        .agg(countDistinct(col("doc_id")).as("__df"))
        .filter(col("__df") > 3)
        .select(col("text").as("__boiler"))
      cues.join(df_, cues("text") === col("__boiler"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_speech_cues"),
          sum(col("duration_ms")).as("speech_ms"))
    },

    // resize + frame-sample plumbing over the decoded features
    "mm_thumbnail" -> { (s, dir) =>
      val feats = Multimodal.decodeFeatures(
        Multimodal.withBlob(docs(s, dir), "text")).toDF()
      Multimodal.withThumbnailDims(feats, 128, 96)
        .select(col("doc_id"), col("width"), col("height"),
          col("thumb_w"), col("thumb_h"),
          size(Multimodal.frameSampleIndices(col("n_frames"), 5))
            .as("n_sampled"))
    },


    // REAL pixel decode, verified end-to-end: synthesize genuine
    // deflate-compressed PNGs (truecolor AND grayscale, scanline
    // filters cycling 0-4 so Sub/Up/Average/Paeth reconstruction is
    // all exercised), 24-bit BMPs, LZW-compressed GIF89a frames, and
    // DC-only baseline JPEGs whose every pixel is a closed form of
    // (doc_id, x, y), decode them through the real Inflater /
    // filter-reconstruction / LZW / Huffman+IDCT paths, and let the
    // oracle recompute the integer raster statistics pixel by
    // pixel — any wrong byte anywhere in the codec chain
    // hash-mismatches
    "mm_decode_pixels" -> { (s, dir) =>
      Multimodal.decodePixels(pixelBlobs(s, dir)).toDF()
    },

    // REAL thumbnail resize: decode the same blobs, 2×2 integer
    // box-downsample (floor of the block mean — edge blocks shrink),
    // then raster statistics the oracle recomputes CELL by cell from
    // the closed-form source pixels. Map-only: codec + filter run
    // per row, no shuffle before the final compare.
    "mm_resize_pixels" -> { (s, dir) =>
      Multimodal.resizePixels(pixelBlobs(s, dir), 2, 2).toDF()
    },


    // Perceptual-hash near-dup over the image corpus with the REAL
    // decoder (the former md5-grid stub is retired for image
    // payloads): every run of five doc ids renders ONE 10x6 image —
    // r=g=b=v so integer luma returns v exactly — rotated through
    // truecolor PNG/BMP, GIF and RLE8 paletted BMP so the
    // exact-duplicate clusters span container codings. aHash
    // signatures feed the SAME banded blocking as text simhash.
    "mm_ahash_pairs" -> { (s, dir) =>
      // fixture notes (the group-dependent-slope mixing that keeps
      // clusters group-local — the affine form aliased to 97
      // distinct hashes over 1 000 groups — and the mod-2^16
      // pre-reduction that keeps the DuckDB closed form off the
      // overflow path) live on [[ahashBlobs]]; the signature comes
      // from the decode-once mm_img_feats stage
      val sigs = imgFeats(s, dir)
        .select(col("doc_id").as("id"), col("ahash"))
      DedupOps.simhashBandPairs(sigs, col("id"), col("ahash"),
        bands = 4, bitsPerBand = 15, maxHamming = 3, bits = 60)
    },


    // Audio near-dup over REAL decoded PCM: every run of five doc
    // ids shares one 120-sample 16-bit mono WAV (samples a closed
    // form of the group), decoded back through the RIFF walk +
    // sign-extended sample read, energy-fingerprinted in 60 windows,
    // then the same banded candidate join as the image pass.
    "mm_audio_fingerprint" -> { (s, dir) =>
      // afp = 0 is the no-content sentinel (sub-60-sample clips and
      // flat-energy signals all share it); pairing it would emit
      // C(n,2) hamming-0 rows among contentless clips — the exact
      // quadratic fan-out the df-caps exist to prevent. Contentless
      // clips are excluded from NEAR-DUP PAIRING (they still appear
      // in every census row); the oracle carries the same predicate.
      val sigs = audioFeats(s, dir)
        .select(col("doc_id").as("id"), col("afp"))
        .filter(col("afp") =!= 0L)
      DedupOps.simhashBandPairs(sigs, col("id"), col("afp"),
        bands = 4, bitsPerBand = 15, maxHamming = 3, bits = 60)
    },

    // integer 2:1 decimation over the SAME decoded samples — the
    // sample-rate normalization pass; SIGNED samples this time (the
    // fingerprint/segment rows use magnitudes), floor-mean per block
    "mm_audio_resample" -> { (s, dir) =>
      Multimodal.audioResample(audioBlobs(s, dir),
        col("doc_id"), col("blob"), factor = 2)
        .withColumnRenamed("id", "doc_id")
    },

    // speech-quality gate metric: the voiced share of each member's
    // total |sample| energy in exact ppm (integer division on
    // non-negative operands agrees across engines) — the "mostly
    // speech or mostly noise floor?" census an ASR corpus filters on
    "mm_audio_snr" -> { (s, dir) =>
      // ONE fused decode pass (audioEnergy) instead of two
      // audioSegments censuses — PCM decode dominates, and the
      // per-sample sums are identical to the run-grouped ones; no
      // join, no shuffle, map-only like the oracle's per-sample form
      Multimodal.audioEnergy(audioBlobs(s, dir),
          col("doc_id"), col("blob"), threshold = 128)
        .select(col("id").as("doc_id"),
          col("voiced_energy"), col("total_energy"),
          // decimal multiply + integral div: the long product wraps
          // past 2^63 (hour-scale clips) and a double divide rounds
          // where the oracle's // floors — both operands non-negative,
          // so div's truncation IS the floor
          expr("cast(voiced_energy as decimal(38,0)) * 1000000" +
            " div total_energy").as("voiced_ppm"))
    },

    // VAD-style energy segmentation over the SAME decoded samples —
    // the ASR chunking pass: |s| > 128 marks voiced, maximal runs
    // become (seg_no, t_start, n_samples, energy) rows; map-only,
    // the oracle replays it as islands-and-gaps
    "mm_audio_segments" -> { (s, dir) =>
      Multimodal.audioSegments(audioBlobs(s, dir),
        col("doc_id"), col("blob"), threshold = 128)
        .withColumnRenamed("id", "doc_id")
    },

    // gradient-hash near-dup over the SAME decoded rasters: 54-bit
    // dHash (neighbor-compare — brightness/contrast-invariant where
    // aHash is global-mean-thresholded), 3×18-bit bands (any
    // hamming ≤ 2 pair shares a clean band), Hamming verify
    "mm_dhash_pairs" -> { (s, dir) =>
      val sigs = imgFeats(s, dir)
        .select(col("doc_id").as("id"), col("dhash"))
      DedupOps.simhashBandPairs(sigs, col("id"), col("dhash"),
        bands = 3, bitsPerBand = 18, maxHamming = 2, bits = 54)
    },

    // DCT perceptual hash (pHash) near-dup — the industry-standard
    // transform-robust signature: real decode → 32×32 pool →
    // separable integer DCT against the shared rounded basis →
    // median-threshold 63-bit hash, 3×21-bit bands, Hamming verify.
    // Bit-identical to the oracle BY CONSTRUCTION: the SQL
    // interpolates the very same 256 basis integers.
    "mm_phash_pairs" -> { (s, dir) =>
      val sigs = Multimodal.pHashImages(phashBlobs(s, dir),
        col("doc_id"), col("blob"))
      DedupOps.simhashBandPairs(sigs, col("id"), col("phash"),
        bands = 3, bitsPerBand = 21, maxHamming = 2, bits = 63)
    },

    // End-to-end IMAGE-corpus curation — the multimodal twin of
    // curate_pretrain: ONE real decode pass (stats + aHash
    // signature together, the codec cost paid once), a
    // brightness-window quality gate doing real work on the fixture
    // (integer compare on gray_sum, no float mean), banded near-dup
    // candidates over the survivors, connected components, keep the
    // min-id doc per cluster with its cluster size and raster
    // stats. Decode/signature map-only; the pair join is the shared
    // 4×15-bit band machinery; the component loop is the bounded-
    // endgame star contraction.
    // the AUDIO curation flagship, mirroring curate_images: VAD
    // census (voiced samples + segment count per member) → activity
    // gate (drops the all-voiced μ-law groups and near-silent
    // members) → energy-fingerprint near-dup over survivors at the
    // curation merge discipline (hamming ≤ 1) → star-contraction
    // components → min-id survivor with cluster size + census
    "curate_audio" -> { (s, dir) =>
      // census + fingerprint from the decode-once mm_audio_feats
      // stage: the chain references the census three times and the
      // signature once — each a stage read, not a PCM decode replay
      val feats = audioFeats(s, dir)
      val census = feats.select("doc_id", "voiced", "n_segments")
      val kept = census.filter(col("voiced") >= 40 &&
        col("voiced") < 110)
      // afp = 0 (the no-content sentinel) never pairs — see
      // mm_audio_fingerprint; such members stay in `kept` and
      // survive as their own singleton components
      val sigs = feats.filter(col("voiced") >= 40 &&
          col("voiced") < 110 && col("afp") =!= 0L)
        .select(col("doc_id").as("id"), col("afp"))
      val pairs = DedupOps.simhashBandPairs(sigs, col("id"),
        col("afp"), bands = 4, bitsPerBand = 15, maxHamming = 1,
        bits = 60)
      val comps = DedupOps.connectedComponents(
        kept.select(col("doc_id").as("id")), pairs)
      // component_id IS the component's min member id (the
      // connectedComponents canonical-label contract), so the size
      // groupBy ALONE yields (survivor, cluster_size) — the old
      // filter(id === component_id) + join(sizes) re-read comps a
      // second time for a row the aggregate key already carries
      // (round-17 fusion, one exchange + one join fewer; same shape
      // in curate_videos/curate_images)
      comps.groupBy(col("component_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .select(col("component_id").as("doc_id"), col("cluster_size"))
        .join(kept, Seq("doc_id"))
        .select(col("doc_id"), col("cluster_size"), col("voiced"),
          col("n_segments"))
    },

    // the VIDEO curation flagship, completing the triad: shot census
    // (scene count per clip) + keyframe brightness gate → keyframe-
    // aHash near-dup over survivors at the hamming ≤ 1 merge
    // discipline → components → min-id survivor with cluster size,
    // keyframe brightness and scene count. Every stage runs through
    // the REAL AVI walk + JPEG decode.
    "curate_videos" -> { (s, dir) =>
      // ONE decode pass (the memoized mm_video_feats stage) yields
      // gate + census + signature; the chain below references it
      // three times, each a stage read instead of a decode replay
      val feats = videoFeats(s, dir)
      // 64× the image chain's [7000, 8400) band: the keyframe is the
      // image fixture's 10×6 grid rendered as 8×8 blocks
      val kept = feats.filter(col("gray_sum") >= 448000L &&
        col("gray_sum") < 537600L)
      val pairs = DedupOps.simhashBandPairs(
        kept.select(col("doc_id").as("id"), col("vhash")),
        col("id"), col("vhash"), bands = 4, bitsPerBand = 15,
        maxHamming = 1, bits = 60)
      val comps = DedupOps.connectedComponents(
        kept.select(col("doc_id").as("id")), pairs)
      // min-label fusion — see curate_audio's note
      comps.groupBy(col("component_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .select(col("component_id").as("doc_id"), col("cluster_size"))
        .join(kept.drop("vhash"), Seq("doc_id"))
        .select(col("doc_id"), col("cluster_size"), col("gray_sum"),
          col("n_scenes"))
    },

    "curate_images" -> { (s, dir) =>
      val feats = imgFeats(s, dir)
      val kept = feats.filter(col("gray_sum") >= 7000 &&
        col("gray_sum") < 8400)
      // maxHamming 1, not the detector's 3: curation MERGES
      // transitively, and at 10k+ groups the hamming-3 graph over
      // mean-threshold hashes percolates (measured: 19 survivors
      // from 50k docs). ≤1 keeps the exact-raster groups (hamming 0)
      // plus single-bit perturbations without the percolation cliff.
      val pairs = DedupOps.simhashBandPairs(
        kept.select(col("doc_id").as("id"), col("ahash")),
        col("id"), col("ahash"),
        bands = 4, bitsPerBand = 15, maxHamming = 1, bits = 60)
      val comps = DedupOps.connectedComponents(
        kept.select(col("doc_id").as("id")), pairs)
      // min-label fusion — see curate_audio's note
      comps.groupBy(col("component_id"))
        .agg(count(lit(1)).as("cluster_size"))
        .select(col("component_id").as("doc_id"), col("cluster_size"))
        .join(kept.drop("ahash"), Seq("doc_id"))
        .select(col("doc_id"), col("cluster_size"), col("gray_sum"),
          col("gray_min"), col("gray_max"))
    },
  )

  val oracleSql: Map[String, String] = Map(

    // closed-form pixel math: the oracle renders every pixel from
    // (doc_id, x, y) and aggregates — the Spark side must DECODE its
    // own real PNG/BMP bytes back to the identical raster
    "mm_decode_pixels" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(CASE WHEN doc_id % 8 IN (5, 6)
        |              THEN 16 + (doc_id % 2) * 16
        |              ELSE doc_id % 12 + 4 END AS INT) AS w,
        |    CAST(CASE WHEN doc_id % 8 = 5 THEN 16
        |              WHEN doc_id % 8 = 6 THEN 8 + (doc_id % 3) * 8
        |              ELSE doc_id % 9 + 3 END AS INT) AS h,
        |    doc_id % 256 AS m, doc_id % 8 AS v
        |  FROM documents),
        |pix AS (SELECT doc_id, w, h, v, x.x AS x, y.y AS y,
        |    CASE WHEN v IN (1, 3) THEN (m + 3 * x.x + 7 * y.y) % 256
        |         WHEN v IN (4, 5, 6, 7) THEN
        |           (m + 13 * (x.x // 8) + 29 * (y.y // 8)) % 256
        |         ELSE (77 * ((m + 3 * x.x + 7 * y.y) % 256)
        |             + 150 * ((2 * m + 5 * x.x + y.y) % 256)
        |             + 29 * ((3 * m + x.x + 11 * y.y) % 256)) // 256
        |    END AS g
        |  FROM p,
        |    LATERAL (SELECT unnest(range(0, w)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, h)) AS y) y)
        |SELECT doc_id,
        |  CASE WHEN v = 2 THEN 'bmp' WHEN v = 3 THEN 'gif'
        |       WHEN v IN (4, 5, 6, 7) THEN 'jpeg' ELSE 'png' END AS format,
        |  w AS width, h AS height,
        |  CAST(w AS BIGINT) * h AS n_pixels,
        |  CAST(sum(g) AS BIGINT) AS gray_sum,
        |  CAST(min(g) AS INT) AS gray_min,
        |  CAST(max(g) AS INT) AS gray_max,
        |  CAST(max(CASE WHEN x = 0 AND y = 0 THEN g END) AS INT)
        |    AS gray_tl,
        |  CAST(max(CASE WHEN x = w - 1 AND y = h - 1 THEN g END) AS INT)
        |    AS gray_br
        |FROM pix GROUP BY doc_id, v, w, h""".stripMargin,

    // same closed-form source raster; each 2×2 cell is floor of the
    // block mean (edge blocks shrink with the dims), then the same
    // statistics over the DOWNSAMPLED raster
    "mm_resize_pixels" ->
      """WITH p AS (SELECT doc_id,
        |    CAST(CASE WHEN doc_id % 8 IN (5, 6)
        |              THEN 16 + (doc_id % 2) * 16
        |              ELSE doc_id % 12 + 4 END AS INT) AS w,
        |    CAST(CASE WHEN doc_id % 8 = 5 THEN 16
        |              WHEN doc_id % 8 = 6 THEN 8 + (doc_id % 3) * 8
        |              ELSE doc_id % 9 + 3 END AS INT) AS h,
        |    doc_id % 256 AS m, doc_id % 8 AS v
        |  FROM documents),
        |pix AS (SELECT doc_id, w, h, x.x AS x, y.y AS y,
        |    CASE WHEN v IN (1, 3) THEN (m + 3 * x.x + 7 * y.y) % 256
        |         WHEN v IN (4, 5, 6, 7) THEN
        |           (m + 13 * (x.x // 8) + 29 * (y.y // 8)) % 256
        |         ELSE (77 * ((m + 3 * x.x + 7 * y.y) % 256)
        |             + 150 * ((2 * m + 5 * x.x + y.y) % 256)
        |             + 29 * ((3 * m + x.x + 11 * y.y) % 256)) // 256
        |    END AS g
        |  FROM p,
        |    LATERAL (SELECT unnest(range(0, w)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, h)) AS y) y),
        |cell AS (SELECT doc_id, w, h, x // 2 AS cx, y // 2 AS cy,
        |    sum(g) // count(*) AS cg
        |  FROM pix GROUP BY doc_id, w, h, x // 2, y // 2)
        |SELECT doc_id,
        |  CAST((w + 1) // 2 AS INT) AS out_w,
        |  CAST((h + 1) // 2 AS INT) AS out_h,
        |  CAST(sum(cg) AS BIGINT) AS gray_sum,
        |  CAST(max(CASE WHEN cx = 0 AND cy = 0 THEN cg END) AS INT)
        |    AS gray_tl,
        |  CAST(max(CASE WHEN cx = (w + 1) // 2 - 1
        |                 AND cy = (h + 1) // 2 - 1 THEN cg END) AS INT)
        |    AS gray_br
        |FROM cell GROUP BY doc_id, w, h""".stripMargin,


    // the REAL 10x6 raster recomputed pixel by pixel (r=g=b=v makes
    // luma the identity), same integer mean compare — then BRUTE-
    // FORCE all-pairs hamming, NOT the band join (round-17 oracle
    // strengthening): with maxHamming (3) ≤ bands−1 (3), pigeonhole
    // proves the banded candidate set contains every ≤3 pair, so the
    // blocked result EQUALS the blocking-free all-pairs set — the
    // oracle now verifies that guarantee instead of replaying the
    // blocking, and a banding bug on the Spark side (dropped band,
    // wrong mask) fails parity instead of being mirrored
    "mm_ahash_pairs" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |pix AS (SELECT doc_id, y.y * 10 + x.x AS i,
        |    ((((grp % 65536 + 1) * (x.x * 151 + y.y * 211 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) % 256 AS p
        |  FROM g,
        |    LATERAL (SELECT unnest(range(0, 10)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 6)) AS y) y),
        |tot AS (SELECT doc_id, sum(p) AS t FROM pix GROUP BY 1),
        |sig AS (SELECT pix.doc_id,
        |    CAST(sum(CASE WHEN p * 60 > t
        |             THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
        |             ELSE 0 END)
        |      AS BIGINT) AS ahash
        |  FROM pix JOIN tot USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, c.ahash)) AS INT) AS hamming
        |FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.ahash, c.ahash)) <= 3""".stripMargin,


    // the scene boundaries replayed: per-frame block flats → lag
    // window MAD score → running cut count → per-scene rollup.
    // score = (|d0| + |d1|) // 2 because each block is 64 of the 128
    // pixels (both engines floor the non-negative quotient)
    "mm_video_scenes" ->
      """WITH f AS (SELECT doc_id, (doc_id % 3) * 2 + 2 AS n
        |  FROM documents),
        |fr AS (SELECT doc_id, n, CAST(i.i AS INT) AS fno
        |  FROM f, LATERAL (SELECT unnest(range(0, n)) AS i) i),
        |blk AS (SELECT doc_id, n, fno, bx.bx AS bx,
        |    ((doc_id * 31 + fno * 97 + bx.bx * 53) % 256 + 900)
        |      // 8 AS flat
        |  FROM fr, LATERAL (SELECT unnest(range(0, 2)) AS bx) bx),
        |fl AS (SELECT doc_id, n, fno,
        |    max(CASE WHEN bx = 0 THEN flat END) AS f0,
        |    max(CASE WHEN bx = 1 THEN flat END) AS f1
        |  FROM blk GROUP BY 1, 2, 3),
        |d AS (SELECT doc_id, n, fno,
        |    (abs(f0 - lag(f0) OVER w) + abs(f1 - lag(f1) OVER w))
        |      // 2 AS score
        |  FROM fl WINDOW w AS (PARTITION BY doc_id ORDER BY fno)),
        |sc AS (SELECT doc_id, fno,
        |    sum(CASE WHEN fno > 0 AND score > 15 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY fno) AS scene_no
        |  FROM d)
        |SELECT doc_id, CAST(scene_no AS INT) AS scene_no,
        |  CAST(min(fno) AS INT) AS f_start,
        |  CAST(count(*) AS INT) AS n_frames
        |FROM sc GROUP BY doc_id, scene_no""".stripMargin,

    // the keyframe closed form IS the ahash fixture's grid (frame-0
    // mixing matches the image pass by design — two decode paths,
    // one ground truth); brute-force all-pairs hamming, blocking-
    // free (maxHamming 3 ≤ bands−1 — mm_ahash_pairs' pigeonhole note)
    "mm_video_dup_pairs" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |pix AS (SELECT doc_id, y.y * 10 + x.x AS i,
        |    ((((grp % 65536 + 1) * (x.x * 151 + y.y * 211 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) % 256 AS p
        |  FROM g,
        |    LATERAL (SELECT unnest(range(0, 10)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 6)) AS y) y),
        |tot AS (SELECT doc_id, sum(p) AS t FROM pix GROUP BY 1),
        |sig AS (SELECT pix.doc_id,
        |    CAST(sum(CASE WHEN p * 60 > t
        |             THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
        |             ELSE 0 END)
        |      AS BIGINT) AS vhash
        |  FROM pix JOIN tot USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.vhash, c.vhash)) AS INT) AS hamming
        |FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.vhash, c.vhash)) <= 3""".stripMargin,

    // the cue grid recomputed: i-th cue of doc d starts at
    // d%1000 + (i-1)*2000 and runs 1500 ms
    "mm_subtitles" ->
      """SELECT doc_id, CAST(i.i AS INT) AS cue_no,
        |  CAST(doc_id % 1000 + (i.i - 1) * 2000 AS BIGINT) AS start_ms,
        |  CAST(doc_id % 1000 + (i.i - 1) * 2000 + 1500 AS BIGINT)
        |    AS end_ms,
        |  'cue ' || CAST(i.i AS VARCHAR) || ' of doc '
        |    || CAST(doc_id AS VARCHAR) AS text,
        |  CAST(1500 AS BIGINT) AS duration_ms
        |FROM documents,
        |  LATERAL (SELECT unnest(range(1, doc_id % 4 + 2)) AS i) i""".stripMargin,

    // every doc keeps exactly its unique speech cues (1500 ms each);
    // the shared "[Music]" cue crosses the df threshold and drops
    "curate_captions" ->
      """SELECT doc_id,
        |  CAST(doc_id % 4 + 1 AS BIGINT) AS n_speech_cues,
        |  CAST((doc_id % 4 + 1) * 1500 AS BIGINT) AS speech_ms
        |FROM documents""".stripMargin,

    // the same cue grid; the styling/karaoke markup must vanish
    "mm_subtitles_vtt" ->
      """SELECT doc_id, CAST(i.i AS INT) AS cue_no,
        |  CAST(doc_id % 1000 + (i.i - 1) * 2000 AS BIGINT) AS start_ms,
        |  CAST(doc_id % 1000 + (i.i - 1) * 2000 + 1500 AS BIGINT)
        |    AS end_ms,
        |  'cue ' || CAST(i.i AS VARCHAR) || ' of doc '
        |    || CAST(doc_id AS VARCHAR) AS text,
        |  CAST(1500 AS BIGINT) AS duration_ms
        |FROM documents,
        |  LATERAL (SELECT unnest(range(1, doc_id % 4 + 2)) AS i) i""".stripMargin,

    // the image raster and the video keyframe carry the SAME grid by
    // construction, so one sig CTE serves both sides; ordered pairs,
    // no a<b halving, self-pairs included — brute-force all-pairs,
    // blocking-free (maxHamming 3 ≤ bands−1 — mm_ahash_pairs' note)
    "mm_cross_modal_dup" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |pix AS (SELECT doc_id, y.y * 10 + x.x AS i,
        |    ((((grp % 65536 + 1) * (x.x * 151 + y.y * 211 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) % 256 AS p
        |  FROM g,
        |    LATERAL (SELECT unnest(range(0, 10)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 6)) AS y) y),
        |tot AS (SELECT doc_id, sum(p) AS t FROM pix GROUP BY 1),
        |sig AS (SELECT pix.doc_id,
        |    CAST(sum(CASE WHEN p * 60 > t
        |             THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
        |             ELSE 0 END)
        |      AS BIGINT) AS h
        |  FROM pix JOIN tot USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS img_id, c.doc_id AS vid_id,
        |  CAST(bit_count(xor(a.h, c.h)) AS INT) AS hamming
        |FROM sig a JOIN sig c ON true
        |WHERE bit_count(xor(a.h, c.h)) <= 3""".stripMargin,

    // the gradient hash recomputed cell by cell from the closed-form
    // raster (the fixture raster is exactly the 10×6 pool, so cells
    // are pixels): bit = right neighbor strictly greater; brute-force
    // all-pairs, blocking-free (maxHamming 2 ≤ bands−1 = 2 —
    // mm_ahash_pairs' pigeonhole note)
    "mm_dhash_pairs" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |pix AS (SELECT doc_id, x.x AS x, y.y AS y,
        |    ((((grp % 65536 + 1) * (x.x * 151 + y.y * 211 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) % 256 AS p
        |  FROM g,
        |    LATERAL (SELECT unnest(range(0, 10)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 6)) AS y) y),
        |sig AS (SELECT a.doc_id,
        |    CAST(sum(CASE WHEN b.p > a.p
        |             THEN (CAST(1 AS BIGINT)
        |                   << CAST(a.y * 9 + a.x AS INT))
        |             ELSE 0 END) AS BIGINT) AS dhash
        |  FROM pix a JOIN pix b ON a.doc_id = b.doc_id
        |    AND b.x = a.x + 1 AND b.y = a.y
        |  WHERE a.x < 9 GROUP BY 1)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.dhash, c.dhash)) AS INT) AS hamming
        |FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.dhash, c.dhash)) <= 2""".stripMargin,


    // the full DCT hash recomputed: the basis CTE carries the SAME
    // 256 rounded integers the Scala transform uses (interpolated
    // from Multimodal.PhK — the hash's DEFINITION, so shared by
    // construction), the separable row/column passes are exact
    // integer sums, and quantile_disc(0.5) over 63 values is sorted
    // index 31 — the same element Scala takes. Pairs are brute-force
    // all-pairs, blocking-free (maxHamming 2 ≤ bands−1 —
    // mm_ahash_pairs' pigeonhole note)
    "mm_phash_pairs" -> {
      val ktab = (for (u <- 0 until 8; x <- 0 until 32)
        yield s"($u, $x, ${Multimodal.PhK(u)(x)})").mkString(", ")
      s"""WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |k(u, x, kv) AS (VALUES $ktab),
        |pix AS (SELECT doc_id, x.x AS x, y.y AS y,
        |    ((((grp % 65536 + 1) * (x.x * 151 + y.y * 211 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) % 256 AS p
        |  FROM g,
        |    LATERAL (SELECT unnest(range(0, 32)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 32)) AS y) y),
        |rowp AS (SELECT pix.doc_id, k.u AS u, pix.y AS y,
        |    sum(p * k.kv) AS r
        |  FROM pix JOIN k ON k.x = pix.x GROUP BY 1, 2, 3),
        |coef AS (SELECT rowp.doc_id, rowp.u AS u, k.u AS v,
        |    sum(r * k.kv) AS c
        |  FROM rowp JOIN k ON k.x = rowp.y GROUP BY 1, 2, 3),
        |med AS (SELECT doc_id, quantile_disc(c, 0.5) AS m
        |  FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY 1),
        |sig AS (SELECT coef.doc_id,
        |    CAST(sum(CASE WHEN c > m
        |             THEN (CAST(1 AS BIGINT)
        |                   << CAST(u * 8 + v - 1 AS INT))
        |             ELSE 0 END) AS BIGINT) AS phash
        |  FROM coef JOIN med USING (doc_id)
        |  WHERE NOT (u = 0 AND v = 0) GROUP BY 1)
        |SELECT a.doc_id AS id_a, c2.doc_id AS id_b,
        |  CAST(bit_count(xor(a.phash, c2.phash)) AS INT) AS hamming
        |FROM sig a JOIN sig c2 ON a.doc_id < c2.doc_id
        |WHERE bit_count(xor(a.phash, c2.phash)) <= 2""".stripMargin
    },

    // the REAL 120-sample stream recomputed in closed form —
    // 16-bit PCM directly, G.711 μ-law/A-law members through the
    // spec's segment expansion (|linear| drops the sign term, so
    // μ-law is t0−132 and A-law the segment value outright):
    // |sample| energies in 60 two-sample windows, integer mean
    // compare; brute-force all-pairs over the non-sentinel sigs,
    // blocking-free (maxHamming 3 ≤ bands−1 — mm_ahash_pairs' note)
    "mm_audio_fingerprint" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |raw AS (SELECT doc_id, grp, t.t AS t,
        |    ((((grp % 65536 + 1) * (t.t * 101 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) AS m
        |  FROM g, LATERAL (SELECT unnest(range(0, 120)) AS t) t),
        |s AS (SELECT doc_id, t,
        |    CASE WHEN grp % 4 IN (0, 3) THEN abs(m % 512 - 256)
        |         WHEN grp % 4 = 1 THEN
        |           (((255 - (208 + m % 32)) % 16) * 8 + 132)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((255 - (208 + m % 32)) // 16) % 8 AS INT))
        |             - 132
        |         ELSE CASE ((32 + m % 32) // 16) % 8
        |           WHEN 0 THEN ((32 + m % 32) % 16) * 16 + 8
        |           WHEN 1 THEN ((32 + m % 32) % 16) * 16 + 264
        |           ELSE (((32 + m % 32) % 16) * 16 + 264)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((32 + m % 32) // 16) % 8 - 1 AS INT))
        |         END
        |    END AS a
        |  FROM raw),
        |w AS (SELECT doc_id, CAST(t // 2 AS INT) AS wi, sum(a) AS e
        |  FROM s GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(e) AS t FROM w GROUP BY 1),
        |sig AS (SELECT w.doc_id,
        |    CAST(sum(CASE WHEN e * 60 > t
        |             THEN (CAST(1 AS BIGINT) << wi) ELSE 0 END)
        |      AS BIGINT) AS afp
        |  FROM w JOIN tot USING (doc_id) GROUP BY 1)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(bit_count(xor(a.afp, c.afp)) AS INT) AS hamming
        |FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        |WHERE a.afp <> 0 AND c.afp <> 0
        |  AND bit_count(xor(a.afp, c.afp)) <= 3""".stripMargin,


    // the SIGNED closed-form samples — PCM carries sign; this
    // fixture's μ-law codes expand positive (~code bit 7 clear) but
    // its A-law codes expand NEGATIVE (a^0x55 bit 7 clear means
    // negative in G.711's A-law convention — the fingerprint oracle
    // never sees this because it sums magnitudes). Floor-mean per
    // t//2 block via double division + floor — exact below 2^52 and
    // identical in both engines, unlike integer division's
    // truncate-toward-zero on negative sums
    "mm_audio_resample" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |raw AS (SELECT doc_id, grp, t.t AS t,
        |    ((((grp % 65536 + 1) * (t.t * 101 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) AS m
        |  FROM g, LATERAL (SELECT unnest(range(0, 120)) AS t) t),
        |sv AS (SELECT doc_id, t,
        |    CASE WHEN grp % 4 IN (0, 3) THEN m % 512 - 256
        |         WHEN grp % 4 = 1 THEN
        |           (((255 - (208 + m % 32)) % 16) * 8 + 132)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((255 - (208 + m % 32)) // 16) % 8 AS INT))
        |             - 132
        |         ELSE -(CASE ((32 + m % 32) // 16) % 8
        |           WHEN 0 THEN ((32 + m % 32) % 16) * 16 + 8
        |           WHEN 1 THEN ((32 + m % 32) % 16) * 16 + 264
        |           ELSE (((32 + m % 32) % 16) * 16 + 264)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((32 + m % 32) // 16) % 8 - 1 AS INT))
        |         END)
        |    END AS s
        |  FROM raw),
        |r AS (SELECT doc_id, t // 2 AS b,
        |    CAST(floor(sum(s) / CAST(count(*) AS DOUBLE)) AS BIGINT)
        |      AS v
        |  FROM sv GROUP BY 1, 2)
        |SELECT doc_id, CAST(120 AS INT) AS n_in,
        |  CAST(count(*) AS INT) AS n_out,
        |  CAST(sum(v) AS BIGINT) AS sum_out,
        |  CAST(min(v) AS INT) AS min_out,
        |  CAST(max(v) AS INT) AS max_out
        |FROM r GROUP BY 1""".stripMargin,

    // voiced vs total energy straight off the closed-form |samples|
    "mm_audio_snr" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |raw AS (SELECT doc_id, grp, t.t AS t,
        |    ((((grp % 65536 + 1) * (t.t * 101 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) AS m
        |  FROM g, LATERAL (SELECT unnest(range(0, 120)) AS t) t),
        |s AS (SELECT doc_id, t,
        |    CASE WHEN grp % 4 IN (0, 3) THEN abs(m % 512 - 256)
        |         WHEN grp % 4 = 1 THEN
        |           (((255 - (208 + m % 32)) % 16) * 8 + 132)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((255 - (208 + m % 32)) // 16) % 8 AS INT))
        |             - 132
        |         ELSE CASE ((32 + m % 32) // 16) % 8
        |           WHEN 0 THEN ((32 + m % 32) % 16) * 16 + 8
        |           WHEN 1 THEN ((32 + m % 32) % 16) * 16 + 264
        |           ELSE (((32 + m % 32) % 16) * 16 + 264)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((32 + m % 32) // 16) % 8 - 1 AS INT))
        |         END
        |    END AS a
        |  FROM raw)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN a > 128 THEN a ELSE 0 END) AS BIGINT)
        |    AS voiced_energy,
        |  CAST(sum(a) AS BIGINT) AS total_energy,
        |  CAST(sum(CASE WHEN a > 128 THEN a ELSE 0 END) * 1000000
        |    // sum(a) AS BIGINT) AS voiced_ppm
        |FROM s GROUP BY 1""".stripMargin,

    // the same closed-form |sample| stream, segmented by islands-and-
    // gaps: voiced rows keyed by t - row_number() collapse into
    // maximal runs
    "mm_audio_segments" ->
      """WITH g AS (SELECT doc_id, doc_id // 5 AS grp FROM documents),
        |raw AS (SELECT doc_id, grp, t.t AS t,
        |    ((((grp % 65536 + 1) * (t.t * 101 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) AS m
        |  FROM g, LATERAL (SELECT unnest(range(0, 120)) AS t) t),
        |s AS (SELECT doc_id, t,
        |    CASE WHEN grp % 4 IN (0, 3) THEN abs(m % 512 - 256)
        |         WHEN grp % 4 = 1 THEN
        |           (((255 - (208 + m % 32)) % 16) * 8 + 132)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((255 - (208 + m % 32)) // 16) % 8 AS INT))
        |             - 132
        |         ELSE CASE ((32 + m % 32) // 16) % 8
        |           WHEN 0 THEN ((32 + m % 32) % 16) * 16 + 8
        |           WHEN 1 THEN ((32 + m % 32) % 16) * 16 + 264
        |           ELSE (((32 + m % 32) % 16) * 16 + 264)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((32 + m % 32) // 16) % 8 - 1 AS INT))
        |         END
        |    END AS a
        |  FROM raw),
        |v AS (SELECT doc_id, t, a FROM s WHERE a > 128),
        |isl AS (SELECT doc_id, t, a,
        |    t - row_number() OVER (PARTITION BY doc_id ORDER BY t)
        |      AS grp_key
        |  FROM v),
        |seg AS (SELECT doc_id, min(t) AS t_start,
        |    count(*) AS n_samples, sum(a) AS energy
        |  FROM isl GROUP BY doc_id, grp_key)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY t_start) - 1 AS INT) AS seg_no,
        |  CAST(t_start AS INT) AS t_start,
        |  CAST(n_samples AS INT) AS n_samples,
        |  CAST(energy AS BIGINT) AS energy
        |FROM seg""".stripMargin,

    // the full curation chain replayed: same closed-form rasters →
    // brightness gate → ahash band pairs over survivors → recursive
    // closure → min-id survivor with cluster size + stats
    // the video chain replayed: frame-0 cells are the image chain's
    // grid (same mixing), so the gate/sig/closure mirror
    // curate_images at 64× brightness units; scene counts come from
    // the 3-frame lag diffs ((64·Σ|d|)/3840 = Σ|d|//60 exactly)
    "curate_videos" ->
      """WITH RECURSIVE g AS (SELECT doc_id, doc_id // 5 AS grp
        |  FROM documents),
        |blk AS (SELECT doc_id, f.f AS fno, y.y * 10 + x.x AS i,
        |    ((((grp % 65536 + 1)
        |       * (x.x * 151 + y.y * 211 + 1 + f.f * 631)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) % 256 AS p
        |  FROM g,
        |    LATERAL (SELECT unnest(range(0, 3)) AS f) f,
        |    LATERAL (SELECT unnest(range(0, 10)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 6)) AS y) y),
        |fd AS (SELECT doc_id, fno, sum(abs(p - pp)) // 60 AS score
        |  FROM (SELECT doc_id, fno, i, p,
        |      lag(p) OVER (PARTITION BY doc_id, i ORDER BY fno) AS pp
        |    FROM blk) WHERE pp IS NOT NULL GROUP BY 1, 2),
        |ns AS (SELECT doc_id,
        |    1 + sum(CASE WHEN score > 15 THEN 1 ELSE 0 END)
        |      AS n_scenes
        |  FROM fd GROUP BY 1),
        |pix AS (SELECT doc_id, i, p FROM blk WHERE fno = 0),
        |stats AS (SELECT doc_id, sum(p) AS t FROM pix GROUP BY 1),
        |kept AS (SELECT doc_id, t FROM stats
        |  WHERE t >= 7000 AND t < 8400),
        |sig AS (SELECT pix.doc_id,
        |    CAST(sum(CASE WHEN p * 60 > t
        |             THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
        |             ELSE 0 END)
        |      AS BIGINT) AS vhash
        |  FROM pix JOIN kept USING (doc_id) GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, c.doc_id AS pb
        |  FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.vhash, c.vhash)) <= 1),
        |edges AS (SELECT pa AS ea, pb AS eb FROM pairs
        |          UNION ALL SELECT pb, pa FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM kept
        |  UNION
        |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
        |comp AS (SELECT src AS doc_id, min(dst) AS component_id
        |  FROM reach GROUP BY 1),
        |sizes AS (SELECT component_id, count(*) AS cluster_size
        |  FROM comp GROUP BY 1)
        |SELECT c.doc_id, z.cluster_size,
        |  CAST(k.t * 64 AS BIGINT) AS gray_sum,
        |  CAST(n.n_scenes AS BIGINT) AS n_scenes
        |FROM comp c JOIN sizes z USING (component_id)
        |  JOIN kept k ON k.doc_id = c.doc_id
        |  JOIN ns n ON n.doc_id = c.doc_id
        |WHERE c.doc_id = c.component_id""".stripMargin,

    // the audio chain replayed: closed-form |samples| → VAD census
    // (lag marks run starts) → activity gate → windowed energy
    // fingerprint over survivors → all-pairs hamming ≤ 1 →
    // recursive closure → min-id survivor
    "curate_audio" ->
      """WITH RECURSIVE g AS (SELECT doc_id, doc_id // 5 AS grp
        |  FROM documents),
        |raw AS (SELECT doc_id, grp, t.t AS t,
        |    ((((grp % 65536 + 1) * (t.t * 101 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) AS m
        |  FROM g, LATERAL (SELECT unnest(range(0, 120)) AS t) t),
        |s AS (SELECT doc_id, t,
        |    CASE WHEN grp % 4 IN (0, 3) THEN abs(m % 512 - 256)
        |         WHEN grp % 4 = 1 THEN
        |           (((255 - (208 + m % 32)) % 16) * 8 + 132)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((255 - (208 + m % 32)) // 16) % 8 AS INT))
        |             - 132
        |         ELSE CASE ((32 + m % 32) // 16) % 8
        |           WHEN 0 THEN ((32 + m % 32) % 16) * 16 + 8
        |           WHEN 1 THEN ((32 + m % 32) % 16) * 16 + 264
        |           ELSE (((32 + m % 32) % 16) * 16 + 264)
        |             * (CAST(1 AS BIGINT) << CAST(
        |                 ((32 + m % 32) // 16) % 8 - 1 AS INT))
        |         END
        |    END AS a
        |  FROM raw),
        |cen AS (SELECT doc_id,
        |    sum(CASE WHEN a > 128 THEN 1 ELSE 0 END) AS voiced,
        |    sum(CASE WHEN a > 128 AND coalesce(pa, 0) <= 128
        |        THEN 1 ELSE 0 END) AS n_segments
        |  FROM (SELECT doc_id, t, a,
        |      lag(a) OVER (PARTITION BY doc_id ORDER BY t) AS pa
        |    FROM s) GROUP BY 1),
        |kept AS (SELECT * FROM cen
        |  WHERE voiced >= 40 AND voiced < 110),
        |w AS (SELECT s.doc_id, CAST(t // 2 AS INT) AS wi,
        |    sum(a) AS e
        |  FROM s JOIN kept USING (doc_id) GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(e) AS t FROM w GROUP BY 1),
        |sig AS (SELECT w.doc_id,
        |    CAST(sum(CASE WHEN e * 60 > t
        |             THEN (CAST(1 AS BIGINT) << wi) ELSE 0 END)
        |      AS BIGINT) AS afp
        |  FROM w JOIN tot USING (doc_id) GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, c.doc_id AS pb
        |  FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        |  WHERE a.afp <> 0 AND c.afp <> 0
        |    AND bit_count(xor(a.afp, c.afp)) <= 1),
        |edges AS (SELECT pa AS ea, pb AS eb FROM pairs
        |          UNION ALL SELECT pb, pa FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM kept
        |  UNION
        |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
        |comp AS (SELECT src AS doc_id, min(dst) AS component_id
        |  FROM reach GROUP BY 1),
        |sizes AS (SELECT component_id, count(*) AS cluster_size
        |  FROM comp GROUP BY 1)
        |SELECT c.doc_id, z.cluster_size,
        |  CAST(k.voiced AS BIGINT) AS voiced,
        |  CAST(k.n_segments AS BIGINT) AS n_segments
        |FROM comp c JOIN sizes z USING (component_id)
        |  JOIN kept k ON k.doc_id = c.doc_id
        |WHERE c.doc_id = c.component_id""".stripMargin,

    "curate_images" ->
      """WITH RECURSIVE g AS (SELECT doc_id, doc_id // 5 AS grp
        |  FROM documents),
        |pix AS (SELECT doc_id, y.y * 10 + x.x AS i,
        |    ((((grp % 65536 + 1) * (x.x * 151 + y.y * 211 + 1)
        |       + grp * 7919) % 65536)
        |     * 2654435761 // 1024) % 256 AS p
        |  FROM g,
        |    LATERAL (SELECT unnest(range(0, 10)) AS x) x,
        |    LATERAL (SELECT unnest(range(0, 6)) AS y) y),
        |stats AS (SELECT doc_id, sum(p) AS t, min(p) AS mn,
        |    max(p) AS mx
        |  FROM pix GROUP BY 1),
        |kept AS (SELECT * FROM stats WHERE t >= 7000 AND t < 8400),
        |sig AS (SELECT pix.doc_id,
        |    CAST(sum(CASE WHEN p * 60 > t
        |             THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
        |             ELSE 0 END)
        |      AS BIGINT) AS ahash
        |  FROM pix JOIN kept USING (doc_id) GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS pa, c.doc_id AS pb
        |  FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        |  WHERE bit_count(xor(a.ahash, c.ahash)) <= 1),
        |edges AS (SELECT pa AS ea, pb AS eb FROM pairs
        |          UNION ALL SELECT pb, pa FROM pairs),
        |reach(src, dst) AS (
        |  SELECT doc_id, doc_id FROM kept
        |  UNION
        |  SELECT r.src, e.eb FROM reach r JOIN edges e ON r.dst = e.ea),
        |comp AS (SELECT src AS doc_id, min(dst) AS component_id
        |  FROM reach GROUP BY 1),
        |sizes AS (SELECT component_id, count(*) AS cluster_size
        |  FROM comp GROUP BY 1)
        |SELECT c.doc_id, s.cluster_size,
        |  CAST(k.t AS BIGINT) AS gray_sum,
        |  CAST(k.mn AS INT) AS gray_min,
        |  CAST(k.mx AS INT) AS gray_max
        |FROM comp c JOIN sizes s USING (component_id)
        |  JOIN kept k ON k.doc_id = c.doc_id
        |WHERE c.doc_id = c.component_id""".stripMargin,

    "mm_thumbnail" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) % 1024 AS INT) AS width,
        |  CAST(CAST('0x' || substr(md5(text), 8, 7) AS BIGINT) % 768 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
        |FROM documents),
        |s AS (SELECT *, CAST(least(
        |        floor(128000000 / greatest(width, 1)),
        |        floor(96000000 / greatest(height, 1)),
        |        1000000) AS BIGINT) AS scale
        |      FROM f)
        |SELECT doc_id, width, height,
        |  CAST(greatest(floor(width * scale / 1000000), 1) AS INT) AS thumb_w,
        |  CAST(greatest(floor(height * scale / 1000000), 1) AS INT) AS thumb_h,
        |  CAST(len(range(0, n_frames, 5)) AS INT) AS n_sampled
        |FROM s""".stripMargin,


    "mm_decode" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  md5(text) AS fp,
        |  'raw' AS format,
        |  CAST(CAST('0x' || substr(md5(text), 1, 7) AS BIGINT) % 1024 AS INT) AS width,
        |  CAST(CAST('0x' || substr(md5(text), 8, 7) AS BIGINT) % 768 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
        |FROM documents""".stripMargin,


    // closed-form dims: if the Spark side's header synthesis or the
    // byte-level parser is wrong in either direction, these diverge
    "mm_decode_image" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'png'
        |       WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
        |  CAST(doc_id % 1024 + 1 AS INT) AS width,
        |  CAST(doc_id % 768 + 1 AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 4 = 1 THEN doc_id % 5 + 1 ELSE 1 END
        |       AS INT) AS n_frames
        |FROM documents""".stripMargin,


    "mm_decode_audio" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 3 THEN 'flac' ELSE 'wav' END AS format,
        |  CAST(doc_id % 2 + 1 AS INT) AS channels,
        |  CAST((doc_id % 3 + 1) * 8000 AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bits_per_sample,
        |  CAST(doc_id % 100 + 1 AS BIGINT) AS n_samples,
        |  CAST((doc_id % 100 + 1) * 1000 // ((doc_id % 3 + 1) * 8000)
        |       AS BIGINT) AS duration_ms
        |FROM documents""".stripMargin,


    // closed-form recomputation of the synthesized MP4's facts:
    // byte_len = ftyp(16) + moov header(8) + mvhd(108) + 8 per trak
    "mm_decode_video" ->
      """SELECT doc_id,
        |  CAST(132 + 8 * (doc_id % 3 + 1) AS BIGINT) AS byte_len,
        |  'mp4' AS format,
        |  CAST(doc_id % 3 + 1 AS INT) AS n_tracks,
        |  CAST((doc_id % 3 + 1) * 600 AS BIGINT) AS timescale,
        |  CAST((doc_id * 7) % 36000 + 600 AS BIGINT) AS duration_ticks,
        |  CAST(((doc_id * 7) % 36000 + 600) * 1000
        |       // ((doc_id % 3 + 1) * 600) AS BIGINT) AS duration_ms,
        |  CAST((((doc_id * 7) % 36000 + 600) * 1000
        |       // ((doc_id % 3 + 1) * 600)) // 1000 + 1
        |       AS BIGINT) AS n_sampled_1hz
        |FROM documents""".stripMargin,

    // the sampled frames' DC-only closed form, block by block: every
    // 2nd frame of the (doc_id % 3)*2+2-frame clip, two 8x8 blocks
    // per 16x8 frame, flat value floor((dc + 4) / 8) + 128 — written
    // with a +1024 offset so the // numerator stays NON-NEGATIVE
    // (DuckDB's // truncates toward zero, the decoder's >> floors;
    // they only agree above zero)
    "mm_video_frames" ->
      """WITH f AS (SELECT doc_id, (doc_id % 3) * 2 + 2 AS n
        |  FROM documents),
        |fr AS (SELECT doc_id, n, CAST(i.i * 2 AS INT) AS frame_no
        |  FROM f, LATERAL (SELECT unnest(range(0, (n + 1) // 2)) AS i) i),
        |blk AS (SELECT doc_id, n, frame_no,
        |    ((doc_id * 31 + frame_no * 97 + bx.bx * 53) % 256 + 900)
        |      // 8 AS flat
        |  FROM fr, LATERAL (SELECT unnest(range(0, 2)) AS bx) bx)
        |SELECT doc_id, frame_no, CAST(n AS INT) AS n_frames,
        |  CAST(16 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(sum(flat) * 64 AS BIGINT) AS gray_sum,
        |  CAST(min(flat) AS INT) AS gray_min,
        |  CAST(max(flat) AS INT) AS gray_max
        |FROM blk GROUP BY 1, 2, 3""".stripMargin,
  )
}
