package graft.mm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Materialize, Tables}

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus decode / feature-extract /
  * frame-sample operators.
  *
  * The image DECODE path is real: each document's bytes are wrapped into
  * a synthetic 24-bpp BMP (hand-built headers + pixel rows — see
  * [[syntheticBmp]]) and decoded through `javax.imageio` (the JDK's own
  * BMP codec), with pixel-level features extracted from the decoded
  * raster. No external codec library is needed, and the Spark side —
  * schema (binary payload + metadata struct), partition-parallel batch
  * processing, typed Dataset surface — is exactly what a JPEG/WAV
  * decoder slots into. The RESIZE step remains a declared stub (a
  * bilinear resample needs a raster library this container lacks).
  *
  * The binary fixture derives from `documents.text` (UTF-8 bytes) because
  * the driver test data ships no media table; the operators only assume
  * "opaque bytes", so a parquet table of real JPEG/WAV payloads drops in
  * unchanged.
  */
object MultiModal {

  /** documents plus ONE degenerate row (doc_id -1, empty text): the
    * empty-payload / empty-window guards in the oracle-checked queries
    * below are exercised by the DuckDB gate itself — the oracle twins
    * union the identical row — not only by specs. Corpus rows are
    * untouched, so every existing assertion and hash still holds. */
  def documentsWithFixture(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id", $"text", $"lang", $"source")
      .unionByName(Seq((-1L, "", "xx", "fixture"))
        .toDF("doc_id", "text", "lang", "source"))
  }

  /** The canonical media table shape: (media_id, payload: binary, meta).
    * `withFixture = true` appends the degenerate empty-payload row for
    * the oracle-checked consumers (see [[documentsWithFixture]]). */
  def mediaTable(spark: SparkSession, sfDir: String,
      withFixture: Boolean = false): DataFrame = {
    import spark.implicits._
    val docs =
      if (withFixture) documentsWithFixture(spark, sfDir)
      else Tables.documents(spark, sfDir)
    docs.select(
      $"doc_id".as("media_id"),
      $"text".cast(BinaryType).as("payload"),
      struct(
        $"source".as("origin"),
        $"lang".as("channel"),
        lit("application/octet-stream").as("mime")).as("meta"))
  }

  /** `mm_binary_meta`: metadata extraction over opaque binary payloads —
    * byte length, content digest, header bytes — all codegen'd built-ins,
    * no decode required. Oracle-checked (md5 of the UTF-8 bytes is
    * engine-independent). */
  def binaryMeta(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sfDir, withFixture = true).select(
      $"media_id",
      length($"payload").as("byte_len"),
      md5($"payload").as("payload_md5"),
      hex(expr("substring(payload, 1, 8)")).as("header_hex"),
      $"meta.origin".as("origin"))
      .orderBy($"media_id")
  }

  case class MediaRow(media_id: Long, payload: Array[Byte])
  case class DecodedImage(
      media_id: Long,
      img_w: Int,
      img_h: Int,
      pixel_sum: Long,
      pixel_md5: String)

  val FrameBytes = 32
  /** Synthetic image geometry: fixed width, height scales with payload. */
  val BmpWidth = 16
  val BmpMaxHeight = 64

  private[graft] def bmpHeight(payloadLen: Int): Int =
    math.max(1, math.min(BmpMaxHeight, (payloadLen + BmpWidth - 1) / BmpWidth))

  /** The deterministic pixel function: pixel (x,y) of a payload derives
    * its channel values from the payload byte at the row-major position
    * (mod length; 0 for an empty payload). Exposed so the spec can
    * recompute expected decoded pixels independently. */
  private[graft] def pixelChannels(seed: Array[Byte], x: Int, y: Int): (Int, Int, Int) = {
    val v = if (seed.isEmpty) 0 else seed((y * BmpWidth + x) % seed.length) & 0xff
    (v, 255 - v, v ^ 0x5a)
  }

  /** Wrap payload bytes into a REAL 24-bpp uncompressed BMP file
    * (BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up BGR rows, 4-byte
    * row padding) whose pixels derive from the payload via
    * [[pixelChannels]]. Hand-building the container means the decode
    * below exercises an actual `javax.imageio` codec on actual image
    * bytes — not a round-trip through the same library. */
  def syntheticBmp(seed: Array[Byte]): Array[Byte] = {
    val w = BmpWidth
    val h = bmpHeight(seed.length)
    val rowSize = ((w * 3 + 3) / 4) * 4
    val imageSize = rowSize * h
    val fileSize = 54 + imageSize
    val out = new Array[Byte](fileSize)
    def le32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte
      out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte
      out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    // BITMAPFILEHEADER (14 bytes)
    out(0) = 'B'; out(1) = 'M'
    le32(2, fileSize); le32(10, 54)
    // BITMAPINFOHEADER (40 bytes)
    le32(14, 40); le32(18, w); le32(22, h)
    out(26) = 1                       // planes
    out(28) = 24                      // bpp
    le32(30, 0)                       // BI_RGB, uncompressed
    le32(34, imageSize)
    le32(38, 2835); le32(42, 2835)    // 72 dpi in px/m
    // pixel array: bottom-up rows, BGR byte order
    var y = 0
    while (y < h) {
      val rowOff = 54 + (h - 1 - y) * rowSize
      var x = 0
      while (x < w) {
        val (r, g, b) = pixelChannels(seed, x, y)
        out(rowOff + x * 3) = b.toByte
        out(rowOff + x * 3 + 1) = g.toByte
        out(rowOff + x * 3 + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** REAL decode: parse BMP bytes through `javax.imageio` and extract
    * pixel-level features from the decoded raster — dimensions, exact
    * per-channel sum, and an md5 over the row-major RGB byte sequence.
    * Total and deterministic: any byte payload yields a valid BMP via
    * [[syntheticBmp]], and BI_RGB decoding is exact. */
  def decodeBmp(mediaId: Long, bmp: Array[Byte],
      md: java.security.MessageDigest): DecodedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    require(img != null, s"javax.imageio failed to decode BMP for media $mediaId")
    val (w, h) = (img.getWidth, img.getHeight)
    md.reset()
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val (r, g, b) = ((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
        sum += r + g + b
        md.update(r.toByte); md.update(g.toByte); md.update(b.toByte)
        x += 1
      }
      y += 1
    }
    DecodedImage(mediaId, w, h, sum, md.digest().map("%02x".format(_)).mkString)
  }

  /** `mm_decode_stub`: partition-parallel image decode + pixel feature
    * extraction over the media table — the decode body is a REAL
    * `javax.imageio` BMP decode (the query key keeps its historical
    * `_stub` name for registry stability; only the resize op remains a
    * stub). Real pipelines put the expensive per-payload work exactly
    * here; Spark sees an opaque mapPartitions with a typed Encoder on
    * both sides, one decoder context per PARTITION (digest instance
    * reused, ImageIO disk cache off — decode stays in-memory and
    * executor-local). No SQL oracle: DuckDB cannot decode BMP; the gate
    * is ExtensionOps/PropertySpec asserting decoded dimensions and
    * pixel sums against an independent recomputation. */
  def decodeFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .select($"media_id", $"payload").as[MediaRow]
    media
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map(m => decodeBmp(m.media_id, syntheticBmp(m.payload), md))
      }
      .select($"media_id", $"img_w", $"img_h", $"pixel_sum", $"pixel_md5")
      .orderBy($"media_id")
  }

  case class ResizedImage(media_id: Long, orig_w: Int, orig_h: Int,
      resized_w: Int, resized_h: Int, resized_pixel_sum: Long, resized_md5: String)

  val ResizeFactor = 4

  /** REAL downsample: decode the BMP through `javax.imageio`, then
    * area-average (box-filter) each `ResizeFactor`² block of the DECODED
    * raster — the standard high-quality integer downscale, in exact
    * integer arithmetic (per-block channel sums, floor division), so the
    * result is bit-identical on any JVM (a Java2D `AffineTransformOp`
    * resample would be real too, but its interpolation is
    * implementation-defined — exactness is worth the hand-rolled loop).
    * The last block on each axis absorbs the remainder, so every source
    * pixel contributes. Output digests only (resized rasters never ride
    * a shuffle). */
  def resizeDecoded(mediaId: Long, bmp: Array[Byte],
      md: java.security.MessageDigest): ResizedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    require(img != null, s"javax.imageio failed to decode BMP for media $mediaId")
    val (w, h) = (img.getWidth, img.getHeight)
    val rw = math.max(1, w / ResizeFactor)
    val rh = math.max(1, h / ResizeFactor)
    md.reset()
    var sum = 0L
    var by = 0
    while (by < rh) {
      val y0 = by * ResizeFactor
      val y1 = if (by == rh - 1) h else y0 + ResizeFactor
      var bx = 0
      while (bx < rw) {
        val x0 = bx * ResizeFactor
        val x1 = if (bx == rw - 1) w else x0 + ResizeFactor
        var (rs, gs, bs) = (0L, 0L, 0L)
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            rs += (rgb >> 16) & 0xff; gs += (rgb >> 8) & 0xff; bs += rgb & 0xff
            x += 1
          }
          y += 1
        }
        val n = (y1 - y0).toLong * (x1 - x0)
        val (ar, ag, ab) = (rs / n, gs / n, bs / n)
        sum += ar + ag + ab
        md.update(ar.toByte); md.update(ag.toByte); md.update(ab.toByte)
        bx += 1
      }
      by += 1
    }
    ResizedImage(mediaId, w, h, rw, rh, sum,
      md.digest().map("%02x".format(_)).mkString)
  }

  /** `mm_resize_stub`: partition-parallel media resize — like the decode
    * op, the body is now REAL (decode via `javax.imageio`, box-filter
    * downsample over decoded pixels; the key keeps its historical
    * `_stub` name for registry stability). Emits original/resized
    * dimensions, the exact resized pixel sum, and an md5 of the resized
    * raster. No SQL oracle (DuckDB cannot decode BMP); Round2Ops/
    * PropertySpec assert dimensions, exact block averages vs an
    * independent recomputation, and cross-run determinism. */
  def resizeFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .select($"media_id", $"payload").as[MediaRow]
    media
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map(m => resizeDecoded(m.media_id, syntheticBmp(m.payload), md))
      }
      .toDF()
      .orderBy($"media_id")
  }

  /** `mm_frame_sample`: the declared-query wrapper over [[sampleFrames]];
    * oracle-checked (frame indices and lengths are pure arithmetic over
    * the payload byte length). */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    sampleFrames(mediaTable(spark, sfDir, withFixture = true), everyK = 4)
      .orderBy($"media_id", $"frame_idx")
  }

  /** Frame sampling without decode: every k-th FrameBytes-sized slice of
    * the payload — emitted as (index, length) computed arithmetically
    * from the byte length alone. The earlier formulation materialized
    * each slice with `substr(payload, …)` inside an interpreted
    * `transform` and then kept only its length — per-row binary
    * allocations for a number the scan already knows; a real sampler
    * that needs the bytes projects [[frameSlice]] instead. */
  def sampleFrames(df: DataFrame, everyK: Int = 4): DataFrame = {
    val nFrames = ceil(length(col("payload")) / lit(FrameBytes.toDouble)).cast("int")
    val nSamples = floor((nFrames + everyK - 1) / lit(everyK.toDouble)).cast("int")
    df.select(col("media_id"), length(col("payload")).as("blen"), nSamples.as("n_samples"))
      // empty payload → n_samples = 0 → ZERO sample rows, same as the
      // oracle's range(0); the earlier greatest(..., 0) clamp emitted one
      // degenerate (idx 0, len 0) row there instead — a divergence the
      // fixture row would have exposed at the gate
      .where(col("n_samples") > 0)
      .select(col("media_id"), col("blen"),
        explode(sequence(lit(0), col("n_samples") - 1)).as("s"))
      .select(col("media_id"), (col("s") * everyK).as("frame_idx"), col("blen"))
      .select(col("media_id"), col("frame_idx"),
        greatest(least(lit(FrameBytes), col("blen") - col("frame_idx") * FrameBytes), lit(0))
          .as("frame_len"))
  }

  /** The materializing slice for consumers that do need the bytes. */
  def frameSlice(payload: org.apache.spark.sql.Column, frameIdx: org.apache.spark.sql.Column) =
    payload.substr(frameIdx * FrameBytes + 1, lit(FrameBytes))

  val PatchBytes = 16
  val GridW = 8
  val AudioWin = 64
  val AudioStride = 32

  /** `mm_patch_grid`: ViT-style patchification without decode — the
    * payload split into fixed 16-byte patches laid out row-major on an
    * 8-wide grid, each patch carrying its (row, col) position, byte
    * length, and content digest. This is the Spark-side shape of image
    * patch embedding: a real pipeline would md5→encode each patch through
    * a model UDF; the partitioning, generate, and digest plumbing are
    * identical. One Generate per row (no self-join), digests on the
    * sliced bytes only — the scan never materializes the full payload
    * twice. Oracle-checked: positions/lengths are pure byte arithmetic
    * and md5 over an ASCII slice is engine-independent. */
  /** `mm_audio_window`: sliding-window energy features over opaque
    * payloads — the audio-analysis shape (per-frame RMS proxy) without a
    * codec: 64-byte windows at stride 32 (50 % overlap, the standard
    * STFT framing), per window the SUM and MEAN of code-unit values.
    * Integer byte sums are exact on any engine (the fixture is ASCII, so
    * char codes == byte values and the DuckDB twin can mirror with
    * `ascii`); only the mean is rounded. A real feature extractor swaps
    * the per-window fold for a DFT — framing, generate, and overlap
    * arithmetic identical.
    *
    * All window sums come from ONE codegen [[graft.functions.AsciiWindowSums]]
    * pass per document (O(text) prefix sums, array of nWin longs, NULL
    * for the blank-payload window) — the same expression `mm_audio_silence`
    * was rewritten onto; the equivalence with the interpreted
    * `aggregate(transform(…substr…))` per-window lambda it replaced is
    * pinned by Round10OpsSpec on mixed (empty/short/non-ASCII) fixtures,
    * and window length is recovered arithmetically from the text length
    * instead of materializing each 64-char slice. */
  def audioWindows(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documentsWithFixture(spark, sfDir)
      .select($"doc_id".as("media_id"), length($"text").as("tlen"),
        graft.functions.AudioFunctions
          .ascii_window_sums($"text", AudioWin, AudioStride).as("sums"))
      .select($"media_id", $"tlen",
        posexplode($"sums").as(Seq("win_idx", "byte_sum")))
      .select($"media_id", $"win_idx",
        least($"tlen" - $"win_idx" * AudioStride, lit(AudioWin)).as("win_len"),
        $"byte_sum")
      .withColumn("byte_mean",
        graft.Det.r4($"byte_sum".cast(DoubleType) / $"win_len"))
      .orderBy($"media_id", $"win_idx")
  }

  /** Integer silence threshold: a window is quiet iff its exact byte
    * sum ≤ 93 × its length (mean energy ≤ 93) — cross-multiplied, so no
    * division ever runs and the flag is engine-exact. */
  val SilenceMean = 93L

  /** `mm_audio_silence`: silence-run detection — the audio-pipeline
    * sibling of gaps-and-islands: over the same 64-byte/stride-32
    * windows as `mm_audio_window`, flag quiet windows (exact integer
    * energy ≤ [[SilenceMean]]·len, cross-multiplied — no division) and
    * report each maximal run of consecutive quiet windows per media
    * (start index, length, exact energy sum) — what a speech/VAD
    * pipeline trims before transcription. The run numbering is the
    * sort-free islands idiom: `win_idx − row_number()` is constant
    * exactly within a consecutive run, so one media-keyed window pass +
    * one grouped aggregate does it (no lag, no change flags); the
    * per-media stream is generate-bounded so the single exchange is
    * keyed and small. The empty-payload fixture window has NULL energy
    * → not quiet → drops before the islands pass (gate-proven).
    *
    * All window sums come from ONE codegen [[graft.functions.AsciiWindowSums]]
    * pass per document (O(text) prefix sums), and the quiet test + run
    * grouping fold inside [[graft.functions.SilenceRuns]] over that array
    * — runs cannot cross a document boundary, so the classic
    * `win_idx − row_number()` islands pass (its showcase stays in
    * `window_gap_islands`) would shuffle and sort every quiet window for
    * a grouping the row already determines. The round-9 plan computed
    * each window's sum with an interpreted `aggregate(transform(…substr…))`
    * lambda that Catalyst inlined twice into the pushed-down Filter with
    * the window slice re-derived per character — O(win²) per window and
    * 25× the sibling's runtime; now the only exchange left is the
    * presentation sort, and no lambda exists for a Filter to duplicate
    * (PlanAuditSpec pins the class). */
  def audioSilence(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    documentsWithFixture(spark, sfDir)
      .select($"doc_id".as("media_id"),
        graft.functions.AudioFunctions.silence_runs(
          graft.functions.AudioFunctions
            .ascii_window_sums($"text", AudioWin, AudioStride),
          length($"text"), AudioWin, AudioStride, SilenceMean).as("runs"))
      .select($"media_id", explode($"runs").as("run"))
      .select($"media_id", $"run.run_start", $"run.run_len", $"run.run_byte_sum")
      .orderBy($"media_id", $"run_start")
  }

  val KeyframeLen = 32

  /** `mm_video_keyframe`: decode-free keyframe selection — the frame a
    * thumbnail/sampling pipeline keeps per video: among each payload's
    * consecutive 32-byte frames, the one with the highest byte-value
    * variance (the cheap "most visually busy" proxy; a constant-filler
    * frame scores 0). All math integer-exact: per-frame Σx and Σx², the
    * variance NUMERATOR n·Σx² − (Σx)² (never the float division), and
    * the per-media argmax as a min-of-struct on (−varNum, frameIdx) —
    * one generate + one map-side-combinable aggregate, no window sort,
    * ties broken to the earliest frame. The trailing partial frame is
    * scored over its real length (the guard drops zero-length frames —
    * exercised by the empty-payload fixture row, which must vanish
    * rather than produce a NULL-variance winner). */
  def videoKeyframe(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val blen = length($"text")
    // ceil, not floor: the trailing partial frame is a real frame and is
    // scored over its real length (docstring contract); char length on
    // both sides because the frames are sliced by chars (substr) — byte
    // length would disagree on any non-ASCII payload
    val nf = greatest(
      (ceil(blen.cast(DoubleType) / KeyframeLen)).cast(IntegerType), lit(1))
    val byteAt = (w: org.apache.spark.sql.Column) =>
      transform(sequence(lit(1), length(w)), i => ascii(w.substr(i, lit(1))).cast(LongType))
    documentsWithFixture(spark, sfDir)
      .select($"doc_id".as("media_id"), $"text", nf.as("nf"))
      .select($"media_id", $"text", explode(sequence(lit(0), $"nf" - 1)).as("f"))
      .select($"media_id", $"f".as("frame_idx"),
        $"text".substr($"f" * KeyframeLen + 1, lit(KeyframeLen)).as("fr"))
      .filter(length($"fr") > 0)
      // ONE byteAt materialization + ONE fold carrying (Σx, Σx²) in a
      // struct accumulator — two separate aggregate(byteAt(…)) columns
      // would put two canonically-equal transform lambdas in one Project
      // (the r11-extended PlanAudit rule) and scan the bytes twice
      .select($"media_id", $"frame_idx", length($"fr").cast(LongType).as("fr_len"),
        aggregate(byteAt($"fr"),
          struct(lit(0L).as("s1"), lit(0L).as("s2")),
          (a, v) => struct((a.getField("s1") + v).as("s1"),
            (a.getField("s2") + v * v).as("s2"))).as("ss"))
      .select($"media_id", $"frame_idx", $"fr_len", $"ss.s1".as("s1"),
        ($"fr_len" * $"ss.s2" - $"ss.s1" * $"ss.s1").as("var_num"))
      .groupBy($"media_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_frames"),
        min(struct((-$"var_num").as("nv"), $"frame_idx", $"fr_len", $"s1")).as("kf"))
      .select($"media_id", $"n_frames",
        $"kf.frame_idx".as("kf_idx"),
        $"kf.fr_len".as("kf_len"),
        $"kf.s1".as("kf_byte_sum"),
        (-$"kf.nv").as("kf_var_num"))
      .orderBy($"media_id")
  }

  case class PhashRow(media_id: Long, phash: Long)

  /** dHash grid geometry: 8 gradient bits per row × 8 rows = 64 bits,
    * computed from a 9-column × 8-row box grid over the decoded raster. */
  val PhashCols = 9
  val PhashRows = 8
  val PhashMaxHamming = 3
  val PhashBands = 4
  val PhashBandBits = 16

  /** 64-bit difference hash (dHash) of a decoded raster — the standard
    * perceptual fingerprint for image near-dup detection: the image is
    * box-reduced to a 9×8 grid of integer brightness sums and each bit
    * records whether a cell is brighter than its right neighbour.
    * Brightness = r+g+b per pixel (no luma weights — stays integer);
    * cells are compared CROSS-MULTIPLIED (`sumL·nR > sumR·nL`) so
    * unequal cell pixel counts never pass through a rounding division —
    * the hash is bit-identical on any JVM. Empty cells (image shorter
    * than 8 rows) compare as equal-brightness → bit 0, total for any
    * payload. */
  def dhashDecoded(bmp: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bmp))
    require(img != null, "javax.imageio failed to decode BMP")
    val (w, h) = (img.getWidth, img.getHeight)
    // integer box grid: sums(by)(bx) over pixel block
    // [bx*w/9, (bx+1)*w/9) × [by*h/8, (by+1)*h/8)
    val sums = Array.ofDim[Long](PhashRows, PhashCols)
    val cnts = Array.ofDim[Long](PhashRows, PhashCols)
    var y = 0
    while (y < h) {
      val by = math.min(PhashRows - 1, y * PhashRows / h)
      var x = 0
      while (x < w) {
        val bx = math.min(PhashCols - 1, x * PhashCols / w)
        val rgb = img.getRGB(x, y)
        sums(by)(bx) += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
        cnts(by)(bx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var r = 0
    while (r < PhashRows) {
      var c = 0
      while (c < PhashCols - 1) {
        if (sums(r)(c) * cnts(r)(c + 1) > sums(r)(c + 1) * cnts(r)(c))
          hash |= 1L << (r * (PhashCols - 1) + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** `mm_image_phash`: perceptual-hash image near-dup pairs — the
    * multimodal counterpart of `dedup_simhash`: every payload is decoded
    * (REAL `javax.imageio` BMP path, one decoder context per partition),
    * dHashed to 64 bits, and pairs within Hamming ≤ 3 are found by the
    * banded join (4 × 16-bit chunks → bucket equi-join → `bit_count(xor)`
    * verify — by pigeonhole ≤3 differing bits leave at least one band
    * intact, so recall at the threshold is EXACT, not probabilistic, and
    * the plan is never all-pairs). No SQL oracle (DuckDB cannot decode
    * BMP); the spec recomputes every fingerprint from [[pixelChannels]]
    * independently of the codec and recounts the naive ≤3-Hamming pair
    * set. */
  def imagePhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media: Dataset[MediaRow] = mediaTable(spark, sfDir)
      .select($"media_id", $"payload").as[MediaRow]
    val fp = media
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map(m => PhashRow(m.media_id, dhashDecoded(syntheticBmp(m.payload))))
      }
      .toDF()
      .transform(Materialize.reuse)
    val bandCols = (0 until PhashBands).map { i =>
      struct(lit(i).as("band_idx"),
        shiftright($"phash", i * PhashBandBits)
          .bitwiseAND(lit((1L << PhashBandBits) - 1)).as("band_val"))
    }
    val banded = fp
      .select($"media_id", $"phash", explode(array(bandCols: _*)).as("b"))
      .select($"media_id", $"phash",
        $"b.band_idx".as("band_idx"), $"b.band_val".as("band_val"))
    val a = banded.select($"media_id".as("media_a"), $"phash".as("ph_a"),
      $"band_idx", $"band_val")
    val b = banded.select($"media_id".as("media_b"), $"phash".as("ph_b"),
      $"band_idx", $"band_val")
    a.join(b, Seq("band_idx", "band_val"))
      .filter($"media_a" < $"media_b")
      .select($"media_a", $"media_b", $"ph_a", $"ph_b")
      .dropDuplicates("media_a", "media_b")
      .select($"media_a", $"media_b",
        bit_count($"ph_a".bitwiseXOR($"ph_b")).cast("int").as("hamming"))
      .filter($"hamming" <= PhashMaxHamming)
      .orderBy($"media_a", $"media_b")
  }

  def patchGrid(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val nPatches = ceil(length($"payload") / lit(PatchBytes.toDouble)).cast("int")
    mediaTable(spark, sfDir, withFixture = true)
      .select($"media_id", $"payload", nPatches.as("np"))
      // empty payload → np = 0 → ZERO patch rows, same as the oracle's
      // range(ceil(0/16.0)); without the guard sequence(0, -1) would
      // step downward and emit a degenerate patch
      .where($"np" > 0)
      .select($"media_id", $"payload",
        explode(sequence(lit(0), $"np" - 1)).as("p"))
      .select($"media_id",
        ($"p" / GridW).cast(IntegerType).as("patch_row"),
        pmod($"p", lit(GridW)).cast(IntegerType).as("patch_col"),
        least(lit(PatchBytes), length($"payload") - $"p" * PatchBytes)
          .cast(IntegerType).as("patch_len"),
        md5($"payload".substr($"p" * PatchBytes + 1, lit(PatchBytes)))
          .as("patch_md5"))
      .orderBy($"media_id", $"patch_row", $"patch_col")
  }
}
