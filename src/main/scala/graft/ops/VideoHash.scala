package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual video fingerprinting for the multimodal (binary video)
  * column — the third member of the perceptual near-dup family
  * ([[Phash]] = image, [[AudioHash]] = audio): a re-encoded,
  * frame-rate-resampled, or spatially-resized copy of the same footage
  * keeps nearby fingerprints, so "same video" reduces to small Hamming
  * distance and the ENTIRE existing Hamming stack applies unchanged —
  * [[VectorOps.hammingKnnJoin]] / [[VectorOps.hammingRadiusPairs]]
  * (MIH banding) over the video-level code, [[HammingIndex]] for the
  * persisted index, [[Tombstones]] for takedown, and
  * [[graft.streaming.VideoHashStream]] for live ingestion.
  *
  * Two complementary signatures per clip:
  *
  *   - A TEMPORAL dHash (one 64-bit word per video): mean luminance
  *     over [[TimeCells]] = 65 equal-duration time boxes, then the 64
  *     consecutive-difference SIGNS — "is the clip getting brighter
  *     across this time step", the time axis analogue of Krawetz's
  *     spatial dHash ([[Phash]], cited by result). Time boxes are
  *     FRACTIONS of the clip's frame count (area-average over frames,
  *     the [[Phash.luminanceGrid]] box-sum discipline applied to
  *     time), so a frame-rate-resampled copy probes the same boxes;
  *     per-frame sums are exact integer BT.601 luminance
  *     ([[Phash]]'s ×1000 weights), so the grid is platform-stable,
  *     and a multiplicative brightness change scales all differences
  *     by a positive factor — signs bit-exact.
  *   - SPATIAL per-frame signatures ([[SampleFrames]] = 5 evenly
  *     sampled frames, each through the exact-integer 9×9 box-sum
  *     grid into [[frameDiff256]]'s 256 four-family gradient signs —
  *     WIDE on purpose, the q217 regime: 32-bit bands at zero probe
  *     bits keep the banded pair miner's feed AND collisions flat
  *     where 64-bit codes turn quadratic around 10⁵ slot rows): the
  *     higher-recall keys for partial overlap — two clips sharing
  *     footage match frame-for-frame even
  *     when their global temporal profiles differ.
  *     [[frameVotePairs]] mines frame-level Hamming matches (composite
  *     `id·64 + slot` keys through the UNCHANGED MIH banded plan) and
  *     aggregates them into video-pair VOTES: `votes` = how many of
  *     the smaller video's sampled frames have a radius-`r` match in
  *     the other video.
  *
  * Like [[Phash]]/[[AudioHash]], every kernel emits the DIFFERENCE
  * vector rather than a packed code: bit i = diff(i) > 0 is exactly
  * [[graft.functions.SignPack]]'s convention, so the packed code every
  * downstream operator builds via `binaryQuantize` is bit-identical to
  * packing here ([[pack64]] delegates to [[Phash.pack64]];
  * VideoHashSpec pins the parity).
  *
  * Decode boundary — the [[Multimodal]] codec discipline: this
  * container ships NO video codecs (ffmpeg-class libraries are
  * unavailable, per the brief's multimodal contract), so the REAL
  * decode path reads the clearly-marked deterministic raw-frame
  * container [[Gvf]] ("GVF1": magic + width/height/frame-count header
  * + packed RGB24 frames — a stand-in with the exact shape a real
  * demuxer would hand over: dimensions plus a frame iterator).
  * Anything else — wrong magic, truncated frames, zero dimensions —
  * becomes a typed reject row, never a fake fingerprint. The
  * Spark-side plumbing (schema, single-pass tagged decode,
  * partitioning, 8-byte codes out) is real and tested. Since round 16
  * the seam carries a REAL container too: [[decodeAvi]] demuxes
  * RIFF/AVI-MJPEG payloads (frames through the `javax.imageio` JPEG
  * path [[Phash]] already uses) into the same [[Gvf]] plane, and
  * [[decodeVideo]] dispatches on magic — a further codec still
  * replaces only this one function.
  *
  * The gate rides DETERMINISTIC STUB twins ([[stubTemporalDiff]],
  * [[stubFrameDiff]]) — pure Catalyst integer arithmetic over
  * (id, text length) standing in for the decoded luminance grids, so
  * the gate queries' full chains (grid → gradient signs → pack →
  * Hamming kNN; frames → radius pairs → votes) replay cross-engine in
  * DuckDB (the q213/q218 convention); the codec half is pinned by
  * VideoHashSpec's fps-resample/resize/brightness robustness suite
  * over real GVF1 payloads instead.
  *
  * 100 TB shape: ONE status-tagged decode pass over the payload bytes
  * ([[videoFingerprintTagged]] — the corpus' pixel bytes never
  * shuffle, only 8-byte video codes and 5 × 32-byte frame codes do),
  * then the audited banded/bucketed Hamming plans. Frame-vote mining
  * is the MIH radius plan over 5× the corpus' code count with a
  * constant-factor composite key — same asymptotics as [[Phash]]'s
  * pair mining.
  */
object VideoHash {

  /** Temporal geometry: 65 equal-duration mean-luminance boxes give
    * 64 consecutive-difference bits — one packed word, [[Phash]]'s
    * word size, so every downstream default (band splits, solver
    * geometry, index dim) carries over verbatim.
    */
  val TimeCells = 65
  val Bits = TimeCells - 1

  /** Spatial frame-signature width: 64 horizontal + 64 vertical + 64
    * diagonal + 64 anti-diagonal gradient signs of the 9×9 frame grid
    * ([[frameDiff256]]). WIDE on purpose — the q217 regime: the banded
    * pair miner needs bands of ≥ 32 bits at ZERO probe bits to stay
    * flat (feed 8 rows/vector, collisions n/2³²), and that takes a
    * 256-bit code at radius 6. 64-bit codes cap bands at 8 bits
    * (quadratic collisions past ~10⁵ slot rows, measured 10–40× probe
    * ratios); 128-bit codes force 1-bit probe balls (a 132-rows/vector
    * feed, measured just as bad).
    */
  val FrameBits = 256

  /** Spatial frames sampled per clip (box centers of 5 equal time
    * buckets — stable under frame-rate changes).
    */
  val SampleFrames = 5

  /** Composite frame-key stride: fid = id·[[MaxSlots]] + slot keeps
    * frame ids monotone in video id (so MIH's `id_a < id_b` pair
    * ordering at the frame level IS video-id ordering across videos).
    * Bounded ids: id < 2⁵⁷ — far beyond any corpus. One definition
    * with the generic machinery's [[VectorOps.SlotStride]].
    */
  val MaxSlots: Long = VectorOps.SlotStride

  // ------------------------------------------------------------------
  // GVF1 container (the documented deterministic stand-in codec)
  // ------------------------------------------------------------------

  /** A decoded GVF1 clip: header dims + the payload the frames live
    * in (no copy — frame f's RGB24 plane starts at
    * [[HeaderLen]] + f·w·h·3).
    */
  final case class Gvf(w: Int, h: Int, n: Int, bytes: Array[Byte])

  val HeaderLen = 16
  private val Magic = Array[Byte]('G', 'V', 'F', '1')

  private def readIntBE(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** Parse a GVF1 payload or reject it with a typed reason — the
    * strict codec boundary (no fake fingerprints for undecodable
    * media). Rejects: `empty_payload`, `unsupported_format` (magic
    * mismatch / shorter than a header), `corrupt_video` (non-positive
    * dims or payload length ≠ header's frame plan).
    */
  def decodeGvf(payload: Array[Byte]): Either[String, Gvf] = {
    if (payload == null || payload.isEmpty) return Left("empty_payload")
    if (payload.length < HeaderLen ||
      payload(0) != Magic(0) || payload(1) != Magic(1) ||
      payload(2) != Magic(2) || payload(3) != Magic(3))
      return Left("unsupported_format")
    val w = readIntBE(payload, 4)
    val h = readIntBE(payload, 8)
    val n = readIntBE(payload, 12)
    if (w <= 0 || h <= 0 || n <= 0) return Left("corrupt_video")
    val expect = HeaderLen.toLong + 3L * w * h * n
    if (expect != payload.length.toLong) return Left("corrupt_video")
    Right(Gvf(w, h, n, payload))
  }

  // ------------------------------------------------------------------
  // RIFF/AVI-MJPEG container (the real-media demuxer behind the seam)
  // ------------------------------------------------------------------

  private def readIntLE(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def isRiffAvi(p: Array[Byte]): Boolean =
    p != null && p.length >= 12 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'A' && p(9) == 'V' && p(10) == 'I' && p(11) == ' '

  /** Pure-JVM RIFF/AVI demuxer for MJPEG streams: walks the chunk
    * tree (word-aligned `<fourcc><size LE><data>` records, `LIST`
    * recursion for `hdrl`/`movi`/`rec `), collects the `movi` video
    * chunks (`##dc`/`##db`), decodes each frame through the SAME
    * `javax.imageio` path [[Phash]] uses for stills (content-sniffed,
    * so both baseline-JPEG MJPEG and PNG-in-AVI decode), and packs the
    * frames into the [[Gvf]] RGB24 plane layout — every kernel
    * downstream of the seam ([[frameLumSums]], [[frameGrid]], the
    * whole fingerprint stack) is unchanged. Strict typed rejects, no
    * fake fingerprints: structural damage (truncated chunk plan, zero
    * video frames, frames whose dimensions disagree) → `corrupt_video`;
    * a frame payload no installed reader understands (a real codec
    * like cinepak, or garbage) → `unsupported_format`.
    */
  def decodeAvi(payload: Array[Byte]): Either[String, Gvf] = {
    if (payload == null || payload.isEmpty) return Left("empty_payload")
    if (!isRiffAvi(payload)) return Left("unsupported_format")
    val riffEnd = math.min(payload.length.toLong,
      8L + (readIntLE(payload, 4) & 0xffffffffL))
    val frames =
      scala.collection.mutable.ArrayBuffer.empty[java.awt.image.BufferedImage]
    def walk(off0: Long, end: Long, inMovi: Boolean): Option[String] = {
      var off = off0
      while (off + 8 <= end) {
        val base = off.toInt
        val size = readIntLE(payload, base + 4) & 0xffffffffL
        val dataStart = off + 8
        if (dataStart + size > end) return Some("corrupt_video")
        val isList = payload(base) == 'L' && payload(base + 1) == 'I' &&
          payload(base + 2) == 'S' && payload(base + 3) == 'T'
        if (isList) {
          if (size < 4) return Some("corrupt_video")
          val lt = dataStart.toInt
          val movi = inMovi || (payload(lt) == 'm' && payload(lt + 1) == 'o' &&
            payload(lt + 2) == 'v' && payload(lt + 3) == 'i')
          walk(dataStart + 4, dataStart + size, movi) match {
            case some @ Some(_) => return some
            case None => ()
          }
        } else if (inMovi && size > 0 &&
            payload(base) >= '0' && payload(base) <= '9' &&
            payload(base + 1) >= '0' && payload(base + 1) <= '9' &&
            payload(base + 2) == 'd' &&
            (payload(base + 3) == 'c' || payload(base + 3) == 'b')) {
          val img =
            try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
              payload, dataStart.toInt, size.toInt))
            catch { case _: Exception => null }
          if (img == null) return Some("unsupported_format")
          frames += img
        }
        off = dataStart + size + (size & 1L) // chunks are word-aligned
      }
      None
    }
    walk(12L, riffEnd, inMovi = false) match {
      case Some(reason) => return Left(reason)
      case None => ()
    }
    if (frames.isEmpty) return Left("corrupt_video")
    val w = frames.head.getWidth
    val h = frames.head.getHeight
    if (w <= 0 || h <= 0) return Left("corrupt_video")
    if (frames.exists(f => f.getWidth != w || f.getHeight != h))
      return Left("corrupt_video")
    val n = frames.length
    val bytes = new Array[Byte](HeaderLen + 3 * w * h * n)
    bytes(0) = Magic(0); bytes(1) = Magic(1)
    bytes(2) = Magic(2); bytes(3) = Magic(3)
    def putIntBE(off: Int, v: Int): Unit = {
      bytes(off) = (v >> 24).toByte; bytes(off + 1) = (v >> 16).toByte
      bytes(off + 2) = (v >> 8).toByte; bytes(off + 3) = v.toByte
    }
    putIntBE(4, w); putIntBE(8, h); putIntBE(12, n)
    var f = 0
    while (f < n) {
      val img = frames(f)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val off = HeaderLen + 3 * ((f * h + y) * w + x)
          bytes(off) = ((rgb >> 16) & 0xff).toByte
          bytes(off + 1) = ((rgb >> 8) & 0xff).toByte
          bytes(off + 2) = (rgb & 0xff).toByte
          x += 1
        }
        y += 1
      }
      f += 1
    }
    Right(Gvf(w, h, n, bytes))
  }

  /** The container dispatch every decode path goes through: RIFF/AVI
    * payloads demux through [[decodeAvi]] (real MJPEG), GIF87a/89a
    * through [[Gif.decodeGif]] (native LZW — animated GIFs are a real
    * frame-sequence container), everything else through the
    * [[decodeGvf]] stand-in — one seam, three containers, identical
    * [[Gvf]] output and typed-reject vocabulary.
    */
  def decodeVideo(payload: Array[Byte]): Either[String, Gvf] =
    if (isRiffAvi(payload)) decodeAvi(payload)
    else if (Gif.isGif(payload)) Gif.decodeGif(payload)
    else decodeGvf(payload)

  // ------------------------------------------------------------------
  // Real kernels (exact-integer luminance, the Phash discipline)
  // ------------------------------------------------------------------

  /** Exact per-frame BT.601 luminance ×1000 sums — one pass over all
    * payload bytes, `Long` exact (≤ payload.length/3 · 255 000 «
    * 2⁶³). Frame f's sum divided by (w·h·1000) is its mean luminance.
    */
  def frameLumSums(v: Gvf): Array[Long] = {
    val out = new Array[Long](v.n)
    val perFrame = v.w * v.h * 3
    var f = 0
    while (f < v.n) {
      var off = HeaderLen + f * perFrame
      val end = off + perFrame
      var s = 0L
      while (off < end) {
        s += 299L * (v.bytes(off) & 0xff) + 587L * (v.bytes(off + 1) & 0xff) +
          114L * (v.bytes(off + 2) & 0xff)
        off += 3
      }
      out(f) = s
      f += 1
    }
    out
  }

  /** Mean luminance over [[TimeCells]] equal-duration frame boxes —
    * box k averages frames `[⌊k·n/65⌋, ⌊(k+1)·n/65⌋)` (clamped to ≥ 1
    * frame, the [[Phash.luminanceGrid]] box semantics applied to
    * time), from the exact per-frame sums. Clips SHORTER than
    * [[TimeCells]] frames degrade gracefully but lose entropy:
    * consecutive boxes that clamp onto the same frame tie (diff 0 →
    * bit 0, [[Phash]]'s small-image convention), so sub-65-frame clips
    * cluster temporally — route very short clips through the
    * per-frame spatial codes ([[frameVotePairs]]) instead.
    */
  def temporalGrid(frameSums: Array[Long], pixelsPerFrame: Long,
      cells: Int = TimeCells): Array[Double] = {
    val n = frameSums.length
    val out = new Array[Double](cells)
    var k = 0
    while (k < cells) {
      // long arithmetic: k*n overflows Int past ~33M frames (the
      // AudioHash.spectralGrid guard, same degenerate-but-free fix)
      val f0 = (k.toLong * n / cells).toInt
      val f1 = math.min(math.max(((k + 1).toLong * n / cells).toInt, f0 + 1), n)
      var s = 0L
      var f = f0
      while (f < f1) { s += frameSums(f); f += 1 }
      out(k) = s.toDouble / ((f1 - f0).toLong * pixelsPerFrame * 1000.0)
      k += 1
    }
    out
  }

  /** The 64 consecutive differences of the temporal grid —
    * `diff[i] = cell(i+1) − cell(i)`, temporal-dHash bit = diff > 0,
    * the [[graft.functions.SignPack]] convention.
    */
  def temporalDiff(v: Gvf): Array[Double] = {
    val cells = temporalGrid(frameLumSums(v), v.w.toLong * v.h)
    val out = new Array[Double](Bits)
    var i = 0
    while (i < Bits) { out(i) = cells(i + 1) - cells(i); i += 1 }
    out
  }

  /** Exact-integer luminance grid of frame `f` — the
    * [[Phash.luminanceGrid]] box-sum arithmetic over the raw RGB24
    * plane (deliberately shared arithmetic AND geometry: the 9×9 grid
    * of a frame and of a still image yield directly comparable
    * [[Phash.gridDiff256]] signatures — [[imageInVideo]]'s key). The
    * DEFAULT geometry is that 9×9 grid: every signature path feeds
    * [[frameDiff256]], whose gridDiff256 requires 81 cells — a 9×8
    * default would compile but fail its require at runtime.
    *
    * NOTE (round 16): the default MOVED from (Phash.GridW = 9,
    * Phash.GridH = 8) to (9, 9) — a caller that relied on the old
    * default's 72-cell output (e.g. to feed [[Phash.dHashDiff]], which
    * requires exactly 9×8) must now pass `gh = 8` explicitly.
    */
  def frameGrid(v: Gvf, f: Int, gw: Int = 9, gh: Int = 9): Array[Double] = {
    val base = HeaderLen + f * v.w * v.h * 3
    val out = new Array[Double](gw * gh)
    var r = 0
    while (r < gh) {
      val y0 = r * v.h / gh
      val y1 = math.min(math.max((r + 1) * v.h / gh, y0 + 1), v.h)
      var c = 0
      while (c < gw) {
        val x0 = c * v.w / gw
        val x1 = math.min(math.max((c + 1) * v.w / gw, x0 + 1), v.w)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var off = base + (y * v.w + x0) * 3
          var x = x0
          while (x < x1) {
            sum += 299L * (v.bytes(off) & 0xff) + 587L * (v.bytes(off + 1) & 0xff) +
              114L * (v.bytes(off + 2) & 0xff)
            off += 3
            x += 1
          }
          y += 1
        }
        val np = (y1 - y0).toLong * (x1 - x0)
        out(r * gw + c) = sum.toDouble / (np * 1000.0)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Index of sampled frame `slot` of [[SampleFrames]]: the center
    * frame of equal time bucket `slot` — `⌊(2·slot+1)·n / (2·S)⌋`,
    * clamped; stable under frame-rate resampling (a 2× copy samples
    * the duplicated twin of the same source frame).
    */
  def sampleIndex(n: Int, slot: Int, s: Int = SampleFrames): Int =
    math.min(((2 * slot + 1).toLong * n / (2L * s)).toInt, n - 1)

  /** The four-family 2D gradient differences of a 9×9 frame grid, 256
    * elements over r, c ∈ 0..7 with base = r·9 + c:
    *   - `diff[r·8+c]       = g[base+1]  − g[base]`  (horizontal)
    *   - `diff[64 + r·8+c]  = g[base+9]  − g[base]`  (vertical)
    *   - `diff[128 + r·8+c] = g[base+10] − g[base]`  (diagonal)
    *   - `diff[192 + r·8+c] = g[base+1]  − g[base+9]` (anti-diagonal)
    * — sign-pack convention unchanged; the q217 sign-variant-widening
    * recipe. Why 256 and not 64: pair mining feeds m·(1+V) band rows
    * per vector and checks m·n·V/2^(bits/band) expected collisions —
    * only a ≥ 32-bit band at ZERO probe bits keeps both flat, and a
    * radius-6 pigeonhole needs 8 such bands (see [[FrameBits]]). The
    * 9×9 grid reuses [[frameGrid]]'s exact box sums; every family is
    * exact-luminance differences, so the upscale/brightness/fps
    * invariances carry over bit-for-bit.
    */
  def frameDiff256(grid: Array[Double]): Array[Double] =
    Phash.gridDiff256(grid)

  /** The [[SampleFrames]] spatial signature vectors of a clip,
    * slot-major (each [[FrameBits]] = 256 doubles — [[frameDiff256]]
    * over the exact 9×9 frame grid).
    */
  def frameDiffs(v: Gvf): Array[Array[Double]] =
    Array.tabulate(SampleFrames) { s =>
      frameDiff256(frameGrid(v, sampleIndex(v.n, s), gw = 9, gh = 9))
    }

  /** Pack a difference vector to the single-word hash (bit i set iff
    * diff(i) > 0) — [[Phash.pack64]], shared so the parity pin is one
    * definition.
    */
  def pack64(diff: Array[Double]): Long = Phash.pack64(diff)

  // ------------------------------------------------------------------
  // Spark surface: one tagged decode pass, three projections
  // ------------------------------------------------------------------

  /** One decoded-or-rejected row — the single-pass product all three
    * relations of [[videoFingerprint]] project from. `frame_flat` is
    * the [[SampleFrames]] × 64 slot-major concatenation (kept flat so
    * the encoder stays a primitive-array column).
    */
  final case class VideoTagged(
      id: Long,
      n_bytes: Long,
      temporal_diff: Option[Array[Double]],
      frame_flat: Option[Array[Double]],
      reason: Option[String])

  final case class VideoCode(id: Long, video_diff: Array[Double])
  final case class VideoFrame(id: Long, slot: Int, frame_diff: Array[Double])
  final case class VideoReject(id: Long, n_bytes: Long, reason: String)

  private implicit val taggedEnc: org.apache.spark.sql.Encoder[VideoTagged] =
    org.apache.spark.sql.Encoders.product[VideoTagged]
  private implicit val codeEnc: org.apache.spark.sql.Encoder[VideoCode] =
    org.apache.spark.sql.Encoders.product[VideoCode]
  private implicit val frameEnc: org.apache.spark.sql.Encoder[VideoFrame] =
    org.apache.spark.sql.Encoders.product[VideoFrame]
  private implicit val rejEnc: org.apache.spark.sql.Encoder[VideoReject] =
    org.apache.spark.sql.Encoders.product[VideoReject]
  private implicit val rowEnc: org.apache.spark.sql.Encoder[(Long, Array[Byte])] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.BINARY)

  /** ONE status-tagged decode pass over a binary payload column — the
    * 100 TB primitive: each payload is decoded exactly once, producing
    * BOTH signatures (temporal + sampled-frame dHashes) or a typed
    * reject reason. Callers that consume more than one projection
    * should persist or checkpoint THIS relation first — lazy
    * evaluation re-runs the decode otherwise (the [[Phash]] watch
    * note; [[videoDedupAssignments]] and [[videoFrameVotePairs]] cut
    * it for you).
    */
  def videoFingerprintTagged(
      media: DataFrame,
      idCol: String,
      payloadCol: String): Dataset[VideoTagged] =
    media.select(col(idCol).cast("long").as("id"),
        col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val n = if (p == null) 0L else p.length.toLong
          decodeVideo(p) match {
            case Right(v) =>
              VideoTagged(id, n, Some(temporalDiff(v)),
                Some(frameDiffs(v).flatten), None)
            case Left(r) => VideoTagged(id, n, None, None, Some(r))
          }
        }
      }

  /** The three projections of the tagged pass: video-level temporal
    * codes, per-sampled-frame spatial codes (exploded to one row per
    * slot), and typed rejects. Consuming ONE relation costs one decode
    * of the corpus; consuming several, persist the tagged relation
    * first (scaladoc above).
    */
  def videoFingerprint(
      media: DataFrame,
      idCol: String,
      payloadCol: String): (Dataset[VideoCode], Dataset[VideoFrame], Dataset[VideoReject]) = {
    val tagged = videoFingerprintTagged(media, idCol, payloadCol)
    val codes = tagged.filter(_.temporal_diff.isDefined)
      .map(t => VideoCode(t.id, t.temporal_diff.get))
    val frames = tagged.filter(_.frame_flat.isDefined)
      .flatMap { t =>
        val flat = t.frame_flat.get
        (0 until SampleFrames).iterator.map { s =>
          VideoFrame(t.id, s, java.util.Arrays.copyOfRange(
            flat, s * FrameBits, (s + 1) * FrameBits))
        }
      }
    val rejects = tagged.filter(_.reason.isDefined)
      .map(t => VideoReject(t.id, t.n_bytes, t.reason.get))
    (codes, frames, rejects)
  }

  /** Whole-clip near-dup pairs: decode → temporal dHash → MIH-banded
    * exact radius search — `(id_a, id_b, hamming)`, id_a < id_b,
    * Hamming ≤ `radius` over the 64-bit temporal codes. The codes
    * relation is cut eagerly: [[VectorOps.hammingRadiusPairs]] fans it
    * out to the probe and plain sides, and decode is the one cost that
    * dominates at 100 TB.
    */
  def videoNearDupPairs(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 8): DataFrame = {
    val codes = Ckpt.checkpoint(videoFingerprint(media, idCol, payloadCol)._1.toDF())
    VectorOps.hammingRadiusPairs(codes, "id", "video_diff",
      radius = radius, nBands = nBands)
  }

  /** Perceptual video dedup: keep the smallest id of every temporal
    * near-dup component ([[Phash.phashDedupAssignments]]'s contract
    * over the video codes). Output: `(id, keep_id)` for every
    * decodable clip.
    */
  def videoDedupAssignments(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 8,
      maxIters: Int = 20): DataFrame = {
    val codes = Ckpt.checkpoint(videoFingerprint(media, idCol, payloadCol)._1.toDF())
    val edges = VectorOps.hammingRadiusPairs(codes, "id",
      "video_diff", radius = radius, nBands = nBands)
    val comps = GraphOps.connectedComponents(edges,
      srcCol = "id_a", dstCol = "id_b", maxIterations = maxIters)
    codes.select(col("id"))
      .join(comps.withColumnRenamed("node", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("keep_id"))
  }

  /** Frame-vote pair mining over a `(id, slot, diff-vector)` frame
    * relation — the partial-overlap key the whole-clip temporal code
    * cannot give: two clips sharing 3 of 5 sampled frames (an edit, a
    * re-cut, a clip embedded in a reel) vote 3 even when their global
    * brightness profiles diverge. Delegates to
    * [[VectorOps.slotVotePairs]] (the machinery shared with
    * [[AudioHash]]'s segment fingerprints — plan shape, solver-chosen
    * band geometry, and the eager-cut caller note live there).
    */
  def frameVotePairs(
      frames: DataFrame,
      idCol: String,
      slotCol: String,
      vecCol: String,
      radius: Int = 6,
      nBands: Int = 0,
      minVotes: Int = 3): DataFrame =
    VectorOps.slotVotePairs(frames, idCol, slotCol, vecCol,
      radius = radius, nBands = nBands, minVotes = minVotes)

  /** Temporal ALIGNMENT of frame-level matches — copy LOCALIZATION:
    * per video pair, the dominant slot offset (mode of `slot_b −
    * slot_a`, ties → smallest) and the votes on that diagonal, so a
    * trimmed re-cut or a clip embedded later in a reel localizes at a
    * consistent non-zero offset. Delegates to
    * [[VectorOps.slotAlignPairs]] (shared with [[AudioHash]]'s segment
    * fingerprints).
    */
  def frameAlignPairs(
      frames: DataFrame,
      idCol: String,
      slotCol: String,
      vecCol: String,
      radius: Int = 6,
      nBands: Int = 0,
      minVotes: Int = 3): DataFrame =
    VectorOps.slotAlignPairs(frames, idCol, slotCol, vecCol,
      radius = radius, nBands = nBands, minVotes = minVotes)

  /** Frame-vote near-dup pairs straight from payloads: ONE decode
    * pass (the miner cuts its packed codes internally — see
    * [[VectorOps.slotVotePairs]]), then [[frameVotePairs]].
    */
  def videoFrameVotePairs(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 0,
      minVotes: Int = 3): DataFrame =
    frameVotePairs(videoFingerprint(media, idCol, payloadCol)._2.toDF(),
      "id", "slot", "frame_diff",
      radius = radius, nBands = nBands, minVotes = minVotes)

  /** Temporal alignment straight from payloads: ONE decode pass (the
    * miner cuts its packed codes internally), then [[frameAlignPairs]].
    */
  def videoFrameAlignPairs(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 0,
      minVotes: Int = 3): DataFrame =
    frameAlignPairs(videoFingerprint(media, idCol, payloadCol)._2.toDF(),
      "id", "slot", "frame_diff",
      radius = radius, nBands = nBands, minVotes = minVotes)

  final case class ImageCode(id: Long, img_diff: Array[Double])

  private implicit val imgEnc: org.apache.spark.sql.Encoder[ImageCode] =
    org.apache.spark.sql.Encoders.product[ImageCode]

  /** Cross-modal content probe — "does this STILL IMAGE appear in any
    * video": decode each image payload to the wide 9×9 signature
    * ([[Phash.decodeGridDiff256]] — bit-identical to a sampled frame
    * of the same pixels, the shared-grid contract), decode each video
    * to its [[SampleFrames]] frame signatures, and match probes
    * against frames at Hamming ≤ `radius` through
    * [[VectorOps.slotProbePairs]] (one banded join — the probe set is
    * never broadcast, so a large reference library scales like the
    * corpus). Output: `(probe_id, id, slot, hamming)` = image,
    * containing video, matched sample slot. Undecodable payloads on
    * either side are dropped (route the typed reject relations
    * upstream for quarantining); image and video ids must be disjoint.
    */
  def imageInVideo(
      images: DataFrame,
      imgIdCol: String,
      imgPayloadCol: String,
      videos: DataFrame,
      vidIdCol: String,
      vidPayloadCol: String,
      radius: Int = 6,
      nBands: Int = 0): DataFrame = {
    val probes = images.select(col(imgIdCol).cast("long").as("id"),
        col(imgPayloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          Phash.decodeGridDiff256(p).toOption.map(d => ImageCode(id, d))
        }
      }
      .toDF()
    val frames = videoFingerprint(videos, vidIdCol, vidPayloadCol)._2.toDF()
    VectorOps.slotProbePairs(probes, "id", "img_diff",
      frames, "id", "slot", "frame_diff", radius = radius, nBands = nBands)
  }

  // ------------------------------------------------------------------
  // Deterministic stub-decode twins (SQL-replayable, the gate path)
  // ------------------------------------------------------------------

  /** Stub temporal box k (of [[TimeCells]]): `(id·(3k+7) + len·(2k+5))
    * mod 239` — pure BIGINT arithmetic both engines compute
    * identically (distinct constants from [[Phash.stubGridCell]]'s
    * 251-family and [[AudioHash]]'s 241-family, so the three stub
    * modalities are different relations). The clearly-marked
    * deterministic FAKE DECODE of the brief's multimodal contract: it
    * stands in for [[temporalGrid]] so the gate replays
    * grid → gradient → pack → Hamming end-to-end in DuckDB; nothing
    * downstream of the grid differs from the real-video path.
    */
  def stubTemporalCell(id: Column, len: Column, k: Int): Column =
    pmod(id.cast("long") * lit(3L * k + 7L) + len.cast("long") * lit(2L * k + 5L),
      lit(239L))

  /** The stub twin of [[temporalDiff]] as ONE Catalyst array
    * expression: 64 integer-difference elements whose sign pack is the
    * stub temporal dHash. Cut the projection eagerly before feeding a
    * join (the q213 JIT-cliff note: 64-element array expressions must
    * not fuse into the kNN/banded stage).
    */
  def stubTemporalDiff(id: Column, len: Column): Column =
    array((0 until Bits).map { i =>
      (stubTemporalCell(id, len, i + 1) - stubTemporalCell(id, len, i))
        .cast("double")
    }: _*)

  /** Stub spatial grid cell j (row-major 9×8) of frame `slot`:
    * `(id·(2j+3)·(j+5) + len·(j+1)·(j+7) + (slot+1)·(7j+11)·(j+2))
    * mod 1021`, with `slot` as a COLUMN so one expression serves an
    * exploded slot relation. The j-coefficients are deliberately
    * QUADRATIC in j (unlike [[Phash.stubGridCell]]'s linear family):
    * a cell linear in j makes consecutive differences constant-modulo-
    * wraparound, collapsing all codes into one tiny rotation family
    * whose members sit a few bits apart — measured 3 940 accidental
    * vote-qualified pairs on the sf0.01 corpus vs this formula's 3
    * (plus the planted twins). Pair mining needs a spread-out code
    * family; top-k retrieval (q213/q218/q222) does not.
    */
  def stubFrameCell(id: Column, len: Column, slot: Column, j: Int): Column =
    pmod(id.cast("long") * lit((2L * j + 3L) * (j + 5L))
      + len.cast("long") * lit((j + 1L) * (j + 7L))
      + (slot.cast("long") + lit(1L)) * lit((7L * j + 11L) * (j + 2L)),
      lit(1021L))

  /** The stub twin of [[frameDiff256]]: 256 gradient differences of
    * the stub 9×9 grid in the four-family layout (horizontal /
    * vertical / diagonal / anti-diagonal over base = (k/8)·9 + k%8,
    * k = i mod 64). Same eager-cut note as [[stubTemporalDiff]] — and for
    * SLOT-exploded relations (5× the corpus), use
    * [[stubFrameDiffScalar]] through a typed map instead: the fused
    * many-element Catalyst expression exceeds the JIT's method budget,
    * and at slot-relation row counts the interpreted evaluation
    * DOMINATES the whole query (measured 26.5 s of a 64×-probe run vs
    * ~3 s with the scalar kernel; the q213 cliff, one relation size
    * further along).
    */
  def stubFrameDiff(id: Column, len: Column, slot: Column): Column =
    array((0 until FrameBits).map { i =>
      val k = i % 64
      val base = (k / 8) * 9 + k % 8
      def cell(j: Int): Column = stubFrameCell(id, len, slot, j)
      (i / 64 match {
        case 0 => cell(base + 1) - cell(base)
        case 1 => cell(base + 9) - cell(base)
        case 2 => cell(base + 10) - cell(base)
        case _ => cell(base + 1) - cell(base + 9)
      }).cast("double")
    }: _*)

  /** [[stubFrameDiff]] as a plain-JVM kernel (trivially JIT-able) for
    * typed maps over slot-exploded relations — bit-for-bit the Column
    * expression's values (VideoHashSpec pins scalar ≡ Column ≡ the
    * replayed integer formula).
    */
  def stubFrameDiffScalar(id: Long, len: Long, slot: Long): Array[Double] = {
    def cell(j: Int): Long = {
      val v = (id * ((2L * j + 3L) * (j + 5L)) + len * ((j + 1L) * (j + 7L))
        + (slot + 1L) * ((7L * j + 11L) * (j + 2L))) % 1021L
      if (v < 0) v + 1021L else v
    }
    val out = new Array[Double](FrameBits)
    var i = 0
    while (i < FrameBits) {
      val k = i % 64
      val base = (k / 8) * 9 + k % 8
      out(i) = ((i / 64 match {
        case 0 => cell(base + 1) - cell(base)
        case 1 => cell(base + 9) - cell(base)
        case 2 => cell(base + 10) - cell(base)
        case _ => cell(base + 1) - cell(base + 9)
      })).toDouble
      i += 1
    }
    out
  }
}
