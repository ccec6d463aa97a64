package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Perceptual video-fingerprint kernel: exact-arithmetic determinism,
  * the robustness properties the temporal/spatial dHash pair is built
  * for (pixel-exact upscale and multiplicative brightness → identical
  * codes; frame-rate doubling → identical sampled-frame codes and a
  * nearby temporal code; distinct content → far code), typed rejects
  * at the GVF1 codec boundary, bit-parity between the scalar pack and
  * the Spark SignPack chain, frame-vote pair semantics on an edited
  * copy, end-to-end reuse of the Hamming stack (radius pairs, dedup
  * assignments, persisted MIH index incl. takedown), the streaming
  * sink's stream ≡ batch contract, and the stub twins' replayed
  * integer formulas (the q222/q223 oracle contracts).
  */
class VideoHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic synthetic clip: content is a function of RELATIVE
    * position and RELATIVE time, so the same footage renders at any
    * resolution or frame rate. The spatial wave DRIFTS with time
    * (phase `t·3.7·px` cycles) so different frames of one clip have
    * different spatial dHashes — a purely multiplicative time factor
    * would leave every frame's gradient signs identical. Peak gray
    * value 119 < 128, so a 2× brightness copy never clips.
    */
  private def clip(w: Int, h: Int, n: Int, px: Double, pt: Double): Array[Byte] = {
    val out = new Array[Byte](VideoHash.HeaderLen + 3 * w * h * n)
    out(0) = 'G'; out(1) = 'V'; out(2) = 'F'; out(3) = '1'
    def putInt(off: Int, v: Int): Unit = {
      out(off) = (v >> 24).toByte; out(off + 1) = (v >> 16).toByte
      out(off + 2) = (v >> 8).toByte; out(off + 3) = v.toByte
    }
    putInt(4, w); putInt(8, h); putInt(12, n)
    var f = 0
    while (f < n) {
      val t = (f + 0.5) / n
      val tf = 0.5 + 0.5 * math.cos(2 * math.Pi * t * pt)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val u = (x + 0.5) / w
          val g = (64 + 55 * (0.5 + 0.5 * math.sin(2 * math.Pi * (u * px + t * 3.7 * px))) * tf).toInt
          val off = VideoHash.HeaderLen + 3 * ((f * h + y) * w + x)
          out(off) = g.toByte; out(off + 1) = g.toByte; out(off + 2) = g.toByte
          x += 1
        }
        y += 1
      }
      f += 1
    }
    out
  }

  /** Pixel-exact 2× spatial upscale (each pixel duplicated 2×2) — the
    * transform whose box sums align exactly with the original's.
    */
  private def upscale2x(payload: Array[Byte]): Array[Byte] = {
    val v = VideoHash.decodeGvf(payload).toOption.get
    val (w, h, n) = (v.w, v.h, v.n)
    val out = new Array[Byte](VideoHash.HeaderLen + 3 * 4 * w * h * n)
    System.arraycopy(payload, 0, out, 0, VideoHash.HeaderLen)
    def putInt(off: Int, x: Int): Unit = {
      out(off) = (x >> 24).toByte; out(off + 1) = (x >> 16).toByte
      out(off + 2) = (x >> 8).toByte; out(off + 3) = x.toByte
    }
    putInt(4, 2 * w); putInt(8, 2 * h)
    var f = 0
    while (f < n) {
      var y = 0
      while (y < 2 * h) {
        var x = 0
        while (x < 2 * w) {
          val src = VideoHash.HeaderLen + 3 * ((f * h + y / 2) * w + x / 2)
          val dst = VideoHash.HeaderLen + 3 * ((f * 2 * h + y) * 2 * w + x)
          out(dst) = payload(src); out(dst + 1) = payload(src + 1)
          out(dst + 2) = payload(src + 2)
          x += 1
        }
        y += 1
      }
      f += 1
    }
    out
  }

  /** Exact frame-rate doubling (each frame duplicated). */
  private def fps2x(payload: Array[Byte]): Array[Byte] = {
    val v = VideoHash.decodeGvf(payload).toOption.get
    val frameBytes = 3 * v.w * v.h
    val out = new Array[Byte](VideoHash.HeaderLen + 2 * v.n * frameBytes)
    System.arraycopy(payload, 0, out, 0, VideoHash.HeaderLen)
    out(12) = (2 * v.n >> 24).toByte; out(13) = (2 * v.n >> 16).toByte
    out(14) = (2 * v.n >> 8).toByte; out(15) = (2 * v.n).toByte
    var f = 0
    while (f < v.n) {
      val src = VideoHash.HeaderLen + f * frameBytes
      System.arraycopy(payload, src, out, VideoHash.HeaderLen + 2 * f * frameBytes, frameBytes)
      System.arraycopy(payload, src, out, VideoHash.HeaderLen + (2 * f + 1) * frameBytes, frameBytes)
      f += 1
    }
    out
  }

  /** Multiplicative 2× brightness (no clipping by construction). */
  private def brighten2x(payload: Array[Byte]): Array[Byte] = {
    val out = payload.clone()
    var off = VideoHash.HeaderLen
    while (off < out.length) {
      out(off) = ((out(off) & 0xff) * 2).toByte
      off += 1
    }
    out
  }

  private def tHash(p: Array[Byte]): Long =
    VideoHash.pack64(VideoHash.temporalDiff(VideoHash.decodeGvf(p).toOption.get))

  /** 256-bit frame signature as four packed words. */
  private def packWide(diff: Array[Double]): Seq[Long] =
    (0 until 4).map(w => VideoHash.pack64(diff.slice(w * 64, (w + 1) * 64)))

  private def fHashes(p: Array[Byte]): Seq[Seq[Long]] =
    VideoHash.frameDiffs(VideoHash.decodeGvf(p).toOption.get)
      .map(packWide).toSeq

  private def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // w and h multiples of 9 (the frame grid is 9×9): grid boxes align
  // exactly under pixel duplication, so the 2× upscale tests are
  // bit-identity.
  // n = 130 = 2×65: each temporal box covers exactly 2 frames, so the
  // fps-doubled copy's boxes (exactly 4 frames each) average the SAME
  // source frames — temporal bit-identity; clips shorter than 65
  // frames tie consecutive boxes instead (the kernel's documented
  // short-clip degeneracy, pinned below with n = 20).
  private lazy val base = clip(27, 18, 130, 1.7, 1.3)
  private lazy val other = clip(27, 18, 130, 3.1, 2.4)

  test("temporal + frame dHash: pixel-exact upscale, 2x brightness, and aligned fps doubling are bit-identical; unaligned fps resample drifts <= 8; distinct content is far") {
    val t0 = tHash(base)
    val f0 = fHashes(base)
    // pixel-exact 2x upscale: whole-frame means are unchanged and the
    // aligned 9x8 boxes sum the same pixels x4 — both codes identical
    assert(tHash(upscale2x(base)) === t0)
    assert(fHashes(upscale2x(base)) === f0)
    // multiplicative brightness: every luminance sum scales by the
    // same positive factor, all difference signs unchanged
    assert(tHash(brighten2x(base)) === t0)
    assert(fHashes(brighten2x(base)) === f0)
    // frame-rate doubling: sampled slots land on duplicates of the
    // same source frames (bit-identical), and with n a multiple of 65
    // the temporal boxes align exactly too
    assert(fHashes(fps2x(base)) === f0)
    assert(tHash(fps2x(base)) === t0)
    // a clip length NOT aligned to the 65 boxes: duplicated pairs can
    // split at box edges — small drift only
    val odd = clip(27, 18, 97, 1.7, 1.3)
    assert(fHashes(fps2x(odd)) === fHashes(odd))
    assert(dist(tHash(fps2x(odd)), tHash(odd)) <= 8,
      s"fps2x temporal drift ${dist(tHash(fps2x(odd)), tHash(odd))}")
    // a different scene flips a large fraction of the 64 bits
    assert(dist(tHash(other), t0) >= 16, s"distinct too close ${dist(tHash(other), t0)}")
    // short-clip degeneracy is graceful: < 65 frames loses entropy
    // (tied boxes -> 0 bits) but still decodes and stays deterministic
    val short1 = clip(27, 18, 20, 1.7, 1.3)
    assert(tHash(short1) === tHash(clip(27, 18, 20, 1.7, 1.3)))
  }

  test("frameDiff256 layout: horizontal / vertical / diagonal / anti-diagonal families over a hand grid") {
    // grid g[r*9+c] = 100*r + c: h-diff = +1, v-diff = +100,
    // diag = +101, anti-diag (g[base+1] - g[base+9]) = -99 everywhere
    val grid = Array.tabulate(81)(j => (100 * (j / 9) + (j % 9)).toDouble)
    val d = VideoHash.frameDiff256(grid)
    assert(d.length === VideoHash.FrameBits)
    assert(d.slice(0, 64).forall(_ === 1.0))
    assert(d.slice(64, 128).forall(_ === 100.0))
    assert(d.slice(128, 192).forall(_ === 101.0))
    assert(d.slice(192, 256).forall(_ === -99.0))
    // one asymmetric cell pins the exact index mapping: bump g[2*9+3]
    val g2 = grid.clone(); g2(2 * 9 + 3) += 7.0
    val d2 = VideoHash.frameDiff256(g2)
    // horizontal: left neighbor of (2,3) gains, (2,3)->(2,4) loses
    assert(d2(2 * 8 + 2) === 8.0 && d2(2 * 8 + 3) === -6.0)
    // vertical: (1,3)->(2,3) gains, (2,3)->(3,3) loses
    assert(d2(64 + 1 * 8 + 3) === 107.0 && d2(64 + 2 * 8 + 3) === 93.0)
    // diagonal: (1,2)->(2,3) gains, (2,3)->(3,4) loses
    assert(d2(128 + 1 * 8 + 2) === 108.0 && d2(128 + 2 * 8 + 3) === 94.0)
    // anti-diagonal: base (2,2): +1 lands on the bumped cell (gains);
    // base (1,3): +9 lands on it (loses)
    assert(d2(192 + 2 * 8 + 2) === -92.0 && d2(192 + 1 * 8 + 3) === -106.0)
  }

  test("codec boundary: empty / garbage / truncated / zero-dim payloads become typed rejects, never fingerprints") {
    assert(VideoHash.decodeGvf(Array.emptyByteArray) === Left("empty_payload"))
    assert(VideoHash.decodeGvf(null) === Left("empty_payload"))
    assert(VideoHash.decodeGvf("not a video".getBytes("UTF-8"))
      === Left("unsupported_format"))
    assert(VideoHash.decodeGvf(base.take(VideoHash.HeaderLen - 2))
      === Left("unsupported_format"))
    assert(VideoHash.decodeGvf(base.take(base.length - 7)) === Left("corrupt_video"))
    val zeroDim = base.clone()
    zeroDim(4) = 0; zeroDim(5) = 0; zeroDim(6) = 0; zeroDim(7) = 0
    assert(VideoHash.decodeGvf(zeroDim) === Left("corrupt_video"))
  }

  test("pack parity: scalar pack64 ≡ Spark SignPack word over the same temporal diff vector") {
    val diff = VideoHash.temporalDiff(VideoHash.decodeGvf(base).toOption.get)
    val sparkWord = Seq(Tuple1(diff)).toDF("d")
      .select(graft.functions.GraftFunctions.signPack(col("d")).as("code"))
      .head().getSeq[Long](0).head
    assert(sparkWord === VideoHash.pack64(diff))
  }

  test("single-pass tagged decode: every row lands in exactly one relation; projections match; 5 frame rows per decodable clip") {
    val media = Seq(
      (1L, base), (2L, fps2x(base)), (3L, "junk".getBytes("UTF-8")),
      (4L, Array.emptyByteArray))
      .toDF("doc_id", "payload")
    val tagged = VideoHash.videoFingerprintTagged(media, "doc_id", "payload")
      .collect()
    assert(tagged.length === 4)
    assert(tagged.forall(t => t.temporal_diff.isDefined != t.reason.isDefined))
    assert(tagged.forall(t => t.temporal_diff.isDefined == t.frame_flat.isDefined))
    val (codes, frames, rejects) = VideoHash.videoFingerprint(media, "doc_id", "payload")
    assert(codes.collect().map(_.id).sorted.toSeq === Seq(1L, 2L))
    assert(frames.collect().groupBy(_.id).view.mapValues(_.map(_.slot).sorted.toSeq).toMap
      === Map(1L -> (0 until 5), 2L -> (0 until 5)))
    assert(rejects.collect().map(r => (r.id, r.reason)).sortBy(_._1).toSeq
      === Seq((3L, "unsupported_format"), (4L, "empty_payload")))
    // frame rows carry the slot-major slices of the tagged flat array
    val flat = tagged.find(_.id == 1L).get.frame_flat.get
    frames.filter(_.id == 1L).collect().foreach { fr =>
      assert(fr.frame_diff.toSeq ===
        flat.slice(fr.slot * VideoHash.FrameBits,
          (fr.slot + 1) * VideoHash.FrameBits).toSeq)
    }
  }

  test("end-to-end: temporal near-dup pairs + dedup + frame-vote pairs on an edited copy + persisted MIH index with takedown") {
    // 5 = an EDIT of 1: the first 40% of the footage replaced — the
    // sampled slots hit frames 13,39,65,91,117 of 130, the edit
    // overwrites frames 0..51, so slots 0,1 change and slots 2,3,4
    // survive -> 3 of 5 votes; temporally the edit moves the clip 12
    // bits from base (> the radius-8 near-dup band — frame votes are
    // the recall path for partial overlap, measured in ScratchVh-style
    // probes before pinning)
    val edited = {
      val e = base.clone()
      val frameBytes = 3 * 27 * 18
      System.arraycopy(other, VideoHash.HeaderLen, e, VideoHash.HeaderLen,
        52 * frameBytes)
      e
    }
    val media = Seq(
      (1L, base), (2L, fps2x(base)), (3L, upscale2x(base)),
      (4L, other), (5L, edited), (6L, "garbage".getBytes("UTF-8")))
      .toDF("doc_id", "payload")

    val pairs = VideoHash.videoNearDupPairs(media, "doc_id", "payload",
        radius = 8, nBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the three full copies pair; the edit (12 bits away) and the
    // distinct clip (>= 16) stay out of the radius-8 band
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))

    val keep = VideoHash.videoDedupAssignments(media, "doc_id", "payload",
        radius = 8, nBands = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))

    // frame votes: the edited copy shares exactly its surviving slots
    val votes = VideoHash.videoFrameVotePairs(media, "doc_id", "payload",
        radius = 6, minVotes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(votes((1L, 5L)) === 3L, s"edited-copy votes: $votes")
    assert(votes((1L, 2L)) === 5L) // exact copy: every slot votes
    assert(!votes.contains((1L, 4L)) && !votes.contains((4L, 5L)))

    // the persisted Hamming stack consumes video codes unchanged
    val (codes, _, _) = VideoHash.videoFingerprint(media, "doc_id", "payload")
    val root = java.nio.file.Files
      .createTempDirectory("graft-video-idx").toString
    val cdf = codes.toDF().localCheckpoint(true)
    HammingIndex.hammingWriteIndex(cdf, "id", "video_diff", root,
      nBands = 8, nBuckets = 8)
    def probe(): Set[(Long, Long)] =
      HammingIndex.hammingProbeIndex(spark, cdf, "id", "video_diff",
          root, radius = 8)
        .filter(col("q_id") < col("n_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe() === pairs)
    HammingIndex.Layout.delete(Seq(2L).toDF("id"), "id", root)
    assert(probe() === pairs.filter(_._2 != 2L))
  }

  test("frame alignment: a trimmed re-cut aligns at offset -1 with exactly the surviving diagonal") {
    // 7 = base trimmed by 26 frames (one sampled bucket) with other
    // footage appended: sampled slots 0..3 carry base's slots 1..4
    // content, slot 4 is new — the winning diagonal is offset -1 with
    // 4 aligned votes
    val fb = 3 * 27 * 18
    val shifted = new Array[Byte](base.length)
    System.arraycopy(base, 0, shifted, 0, VideoHash.HeaderLen)
    System.arraycopy(base, VideoHash.HeaderLen + 26 * fb,
      shifted, VideoHash.HeaderLen, 104 * fb)
    System.arraycopy(other, VideoHash.HeaderLen + 104 * fb,
      shifted, VideoHash.HeaderLen + 104 * fb, 26 * fb)
    val media = Seq((1L, base), (4L, other), (7L, shifted))
      .toDF("doc_id", "payload")
    val align = VideoHash.videoFrameAlignPairs(media, "doc_id", "payload",
        radius = 6, minVotes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(align((1L, 7L)) === ((-1L, 4L)), s"alignment: $align")
    assert(!align.contains((1L, 4L)) && !align.contains((4L, 7L)),
      s"unrelated clips aligned: $align")
  }

  test("image-in-video: a PNG still of a sampled frame's pixels matches that frame at hamming 0; unrelated stills match nothing") {
    // render frame sampleIndex(130, 2) = 65 of base as a real PNG
    val v = VideoHash.decodeGvf(base).toOption.get
    val fIdx = VideoHash.sampleIndex(v.n, 2)
    def framePng(idx: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(v.w, v.h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until v.h; x <- 0 until v.w) {
        val off = VideoHash.HeaderLen + 3 * ((idx * v.h + y) * v.w + x)
        img.setRGB(x, y, ((v.bytes(off) & 0xff) << 16) |
          ((v.bytes(off + 1) & 0xff) << 8) | (v.bytes(off + 2) & 0xff))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val ov = VideoHash.decodeGvf(other).toOption.get
    def otherPng(): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(ov.w, ov.h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until ov.h; x <- 0 until ov.w) {
        val off = VideoHash.HeaderLen + 3 * ((40 * ov.h + y) * ov.w + x)
        img.setRGB(x, y, ((ov.bytes(off) & 0xff) << 16) |
          ((ov.bytes(off + 1) & 0xff) << 8) | (ov.bytes(off + 2) & 0xff))
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val images = Seq(
      (100L, framePng(fIdx)),                  // the planted still
      (101L, otherPng()),                       // unrelated footage's frame 40 (not a sampled slot)
      (102L, "junk".getBytes("UTF-8")))        // undecodable -> dropped
      .toDF("img_id", "payload")
    val videos = Seq((1L, base), (2L, other)).toDF("vid_id", "payload")
    val hits = VideoHash.imageInVideo(images, "img_id", "payload",
        videos, "vid_id", "payload", radius = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the still matches exactly its source frame slot, bit-for-bit
    // (PNG round-trip is lossless and the image/frame grids share
    // exact box-sum arithmetic)
    assert(hits.toSeq === Seq((100L, 1L, 2L, 0L)), s"hits: ${hits.toSeq}")
  }

  test("streaming video ingestion: stream-built index probes ≡ batch build; redelivery no-ops; rejects dropped") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-video-stream").toString
    val (idxS, idxB) = (s"$root/s", s"$root/b")
    val all = Seq(
      (1L, base), (2L, fps2x(base)), (3L, upscale2x(base)),
      (4L, other), (5L, "junk".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val empty = all.limit(0)
    val (ec, _, _) = VideoHash.videoFingerprint(empty, "doc_id", "payload")
    HammingIndex.hammingWriteIndex(ec.toDF(), "id", "video_diff", idxS,
      nBands = 8, nBuckets = 8, dim = 64)
    assert(graft.streaming.VideoHashStream.appendBatch(
      all.filter($"doc_id" <= 2), 0L, "doc_id", "payload", idxS, "vh1"))
    assert(!graft.streaming.VideoHashStream.appendBatch(
      all.filter($"doc_id" <= 2), 0L, "doc_id", "payload", idxS, "vh1"))
    assert(graft.streaming.VideoHashStream.appendBatch(
      all.filter($"doc_id" > 2), 1L, "doc_id", "payload", idxS, "vh1"))
    val (codes, _, _) = VideoHash.videoFingerprint(all, "doc_id", "payload")
    val cdf = codes.toDF().localCheckpoint(true)
    HammingIndex.hammingWriteIndex(cdf, "id", "video_diff", idxB,
      nBands = 8, nBuckets = 8, dim = 64)
    def probe(p: String): Set[(Long, Long)] =
      HammingIndex.hammingProbeIndex(spark, cdf, "id",
          "video_diff", p, radius = 8)
        .filter(col("q_id") < col("n_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe(idxS) === probe(idxB))
    assert(probe(idxS).contains((1L, 2L)))
    assert(spark.read.parquet(s"$idxS/bands")
      .filter(col("id") === 5L).count() === 0L)
  }

  test("stub twins: Spark sign packs ≡ the replayed integer formulas (the q222/q223 oracle contracts)") {
    def tCell(id: Long, len: Long, k: Int): Long = {
      val v = (id * (3L * k + 7L) + len * (2L * k + 5L)) % 239L
      if (v < 0) v + 239L else v
    }
    def tExpected(id: Long, len: Long): Long = {
      var w = 0L
      for (i <- 0 until 64)
        if (tCell(id, len, i + 1) - tCell(id, len, i) > 0) w |= (1L << i)
      w
    }
    def fCell(id: Long, len: Long, slot: Long, j: Int): Long = {
      val v = (id * (2L * j + 3L) * (j + 5L) + len * (j + 1L) * (j + 7L)
        + (slot + 1L) * (7L * j + 11L) * (j + 2L)) % 1021L
      if (v < 0) v + 1021L else v
    }
    // 256-bit frame signature: four family words (h / v / diag /
    // anti-diag), base = (k/8)*9 + k%8, k = i mod 64
    def fExpected(id: Long, len: Long, slot: Long): Seq[Long] = {
      val ws = new Array[Long](4)
      for (i <- 0 until 256) {
        val k = i % 64; val base = (k / 8) * 9 + k % 8
        def g(j: Int): Long = fCell(id, len, slot, j)
        val diff = i / 64 match {
          case 0 => g(base + 1) - g(base)
          case 1 => g(base + 9) - g(base)
          case 2 => g(base + 10) - g(base)
          case _ => g(base + 1) - g(base + 9)
        }
        if (diff > 0) ws(i / 64) |= (1L << k)
      }
      ws.toSeq
    }
    val rows = Seq((1L, 10L, 0L), (5L, 37L, 2L), (100L, 37L, 4L), (123457L, 2048L, 9L))
    val got = rows.toDF("id", "len", "slot")
      .select(col("id"), col("len"), col("slot"),
        graft.functions.GraftFunctions.signPack(
          VideoHash.stubTemporalDiff(col("id"), col("len"))).as("t"),
        graft.functions.GraftFunctions.signPack(
          VideoHash.stubFrameDiff(col("id"), col("len"), col("slot"))).as("f"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).head, r.getSeq[Long](4).toSeq))
    got.foreach { case (id, len, slot, tw, fw) =>
      assert(tw === tExpected(id, len), s"temporal id=$id len=$len")
      assert(fw === fExpected(id, len, slot), s"frame id=$id len=$len slot=$slot")
      // the plain-JVM kernel the gate's typed map runs (the JIT-cliff
      // fix) is bit-for-bit the Column expression's values
      assert(packWide(VideoHash.stubFrameDiffScalar(id, len, slot))
        === fw, s"scalar kernel drifted: id=$id len=$len slot=$slot")
    }
  }

  // ---------------------------------------------------------------
  // RIFF/AVI-MJPEG demuxer (round 16: the real container behind the
  // decode seam)
  // ---------------------------------------------------------------

  private def leChunk(id: String, data: Array[Byte]): Array[Byte] = {
    val pad = data.length & 1
    val out = new Array[Byte](8 + data.length + pad)
    System.arraycopy(id.getBytes("US-ASCII"), 0, out, 0, 4)
    out(4) = (data.length & 0xff).toByte
    out(5) = ((data.length >> 8) & 0xff).toByte
    out(6) = ((data.length >> 16) & 0xff).toByte
    out(7) = ((data.length >> 24) & 0xff).toByte
    System.arraycopy(data, 0, out, 8, data.length)
    out
  }

  private def leList(listType: String, children: Seq[Array[Byte]]): Array[Byte] =
    leChunk("LIST",
      listType.getBytes("US-ASCII") ++ children.flatten.toArray)

  /** A structurally honest AVI: RIFF(AVI ) + LIST hdrl(avih) +
    * LIST movi(00dc per frame).
    */
  private def buildAvi(w: Int, h: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    val avih = new Array[Byte](56)
    def putLE(off: Int, v: Int): Unit = {
      avih(off) = (v & 0xff).toByte; avih(off + 1) = ((v >> 8) & 0xff).toByte
      avih(off + 2) = ((v >> 16) & 0xff).toByte
      avih(off + 3) = ((v >> 24) & 0xff).toByte
    }
    putLE(16, frames.length); putLE(24, 1); putLE(32, w); putLE(36, h)
    leChunk("RIFF", "AVI ".getBytes("US-ASCII") ++
      leList("hdrl", Seq(leChunk("avih", avih))) ++
      leList("movi", frames.map(leChunk("00dc", _))))
  }

  /** Re-encode a GVF clip's frames (PNG = lossless, JPEG = real
    * MJPEG) and wrap them as an AVI.
    */
  private def aviOf(payload: Array[Byte], format: String): Array[Byte] = {
    val v = VideoHash.decodeGvf(payload).toOption.get
    val frames = (0 until v.n).map { f =>
      val img = new java.awt.image.BufferedImage(
        v.w, v.h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < v.h) {
        var x = 0
        while (x < v.w) {
          val off = VideoHash.HeaderLen + 3 * ((f * v.h + y) * v.w + x)
          img.setRGB(x, y, ((v.bytes(off) & 0xff) << 16) |
            ((v.bytes(off + 1) & 0xff) << 8) | (v.bytes(off + 2) & 0xff))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, bos))
      bos.toByteArray
    }
    buildAvi(v.w, v.h, frames)
  }

  test("AVI demux: lossless (PNG-frame) AVI decodes BIT-IDENTICAL to the raw-frame twin") {
    val avi = aviOf(base, "png")
    val got = VideoHash.decodeVideo(avi).toOption.get
    assert((got.w, got.h, got.n) ===
      (VideoHash.decodeGvf(base).toOption.get.w,
        VideoHash.decodeGvf(base).toOption.get.h,
        VideoHash.decodeGvf(base).toOption.get.n))
    assert(java.util.Arrays.equals(got.bytes, base))
  }

  test("AVI demux: real MJPEG drifts within the perceptual band; distinct content stays far") {
    val avi = aviOf(base, "jpg")
    val got = VideoHash.decodeVideo(avi).toOption.get
    val ref = VideoHash.decodeGvf(base).toOption.get
    val td = dist(VideoHash.pack64(VideoHash.temporalDiff(got)),
      VideoHash.pack64(VideoHash.temporalDiff(ref)))
    assert(td <= 8, s"temporal drift $td over JPEG round-trip")
    val fd = VideoHash.frameDiffs(got).map(packWide)
      .zip(VideoHash.frameDiffs(ref).map(packWide))
      .map { case (a, b) => a.zip(b).map { case (x, y) => dist(x, y) }.sum }
    assert(fd.forall(_ <= 32), s"frame drifts $fd over JPEG round-trip")
    // a different clip through the same lossy path stays far
    val otherAvi = aviOf(other, "jpg")
    val o = VideoHash.decodeVideo(otherAvi).toOption.get
    assert(dist(VideoHash.pack64(VideoHash.temporalDiff(o)),
      VideoHash.pack64(VideoHash.temporalDiff(ref))) > 16)
  }

  test("AVI demux: structural damage and alien codecs become typed rejects") {
    val avi = aviOf(base, "png")
    // truncation cuts a chunk's promised extent
    assert(VideoHash.decodeVideo(avi.take(avi.length - 9))
      === Left("corrupt_video"))
    // a movi with zero video chunks
    assert(VideoHash.decodeVideo(buildAvi(9, 9, Seq.empty))
      === Left("corrupt_video"))
    // frame payload no installed ImageIO reader understands
    val garbage = buildAvi(9, 9, Seq("notajpeg".getBytes("US-ASCII")))
    assert(VideoHash.decodeVideo(garbage) === Left("unsupported_format"))
    // frames whose dimensions disagree
    val mixed = {
      val a = VideoHash.decodeGvf(base).toOption.get
      val img1 = new java.awt.image.BufferedImage(9, 9,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val img2 = new java.awt.image.BufferedImage(18, 9,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      def png(i: java.awt.image.BufferedImage) = {
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(i, "png", bos); bos.toByteArray
      }
      buildAvi(a.w, a.h, Seq(png(img1), png(img2)))
    }
    assert(VideoHash.decodeVideo(mixed) === Left("corrupt_video"))
    // the GVF path is untouched by the dispatch
    assert(VideoHash.decodeVideo(base).toOption.get.bytes eq base)
  }

  test("AVI demux: tagged decode routes AVI, GVF and rejects to the right relations in one pass") {
    val avi = aviOf(base, "png")
    val rows = Seq((1L, base), (2L, avi), (3L, "junk".getBytes("UTF-8")))
      .toDF("id", "payload")
    val (codes, frames, rejects) =
      VideoHash.videoFingerprint(rows, "id", "payload")
    val c = codes.collect().map(r => r.id -> r.video_diff.toSeq).toMap
    assert(c.keySet === Set(1L, 2L))
    assert(c(1L) === c(2L)) // lossless AVI twin fingerprints identically
    assert(frames.collect().map(_.id).toSet === Set(1L, 2L))
    assert(rejects.collect().map(r => r.id -> r.reason).toSeq
      === Seq(3L -> "unsupported_format"))
  }
}
