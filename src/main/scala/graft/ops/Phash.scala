package graft.ops

import java.awt.image.BufferedImage

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual hashing for the multimodal (binary image) column — the
  * content-level near-dup key the byte-exact dedup family cannot give:
  * a re-encoded, recompressed, or resized copy of an image keeps a
  * nearby dHash/aHash code, so "same picture" reduces to small Hamming
  * distance and the ENTIRE existing Hamming stack applies unchanged —
  * [[VectorOps.hammingKnnJoin]] for per-image neighbors,
  * [[VectorOps.hammingRadiusPairs]] (MIH banding) for corpus-wide pair
  * mining, [[HammingIndex]] for the persisted index, and
  * [[Tombstones]] for takedown.
  *
  * The reuse hinge: instead of emitting a packed 64-bit code directly,
  * the kernel emits the 64-element DIFFERENCE vector the hash is the
  * sign of (dHash bit i = "right neighbor brighter than left" =
  * diff[i] > 0 — exactly [[graft.functions.SignPack]]'s bit
  * convention). Every downstream operator already consumes float/
  * double vectors through `binaryQuantize`, so the perceptual hash is
  * just another vector column to them, and the packed code they build
  * is bit-identical to the classic dHash.
  *
  * Two decode paths, the [[Multimodal]] codec-boundary discipline:
  *
  *   - REAL images (PNG/JPEG via the JDK's `javax.imageio`, no
  *     external codecs): exact-integer luminance + area-average
  *     downscale to a 9×8 grid, then the 8×8 horizontal-gradient
  *     signs — Krawetz's dHash. Undecodable payloads become typed
  *     reject rows, never fake hashes.
  *   - A DETERMINISTIC STUB twin ([[stubDHashDiff]]) — pure Catalyst
  *     integer arithmetic over (id, text length) standing in for the
  *     decoded grid, so the gate query's full chain (grid → gradient
  *     signs → pack → Hamming top-k) replays cross-engine in DuckDB
  *     (the q193 bit-counting-oracle pattern); the codec half is
  *     pinned by the ScalaTest robustness suite instead.
  *
  * 100 TB shape: the hash is a map-only projection (one decoder init
  * per partition, one pass over payload bytes, 64 doubles out — the
  * corpus' pixel bytes never shuffle, only the 8-byte codes do), and
  * everything after it rides the already-audited banded/bucketed
  * Hamming plans.
  */
object Phash {

  /** dHash geometry: a 9-wide × 8-high luminance grid gives 8×8
    * horizontal comparisons = a 64-bit code (one packed word).
    */
  val GridW = 9
  val GridH = 8
  val Bits = (GridW - 1) * GridH

  // ------------------------------------------------------------------
  // Real-image kernel (JDK decode boundary)
  // ------------------------------------------------------------------

  /** Integer luminance ×1000 — ITU-R BT.601 weights kept exact in int
    * arithmetic (299·R + 587·G + 114·B ≤ 255 000), so grid sums are
    * platform-deterministic.
    */
  private def lum1000(rgb: Int): Int =
    299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)

  /** Area-average downscale to `gw`×`gh`, row-major: cell (r, c)
    * averages the pixel box `[⌊cW/gw⌋, ⌊(c+1)W/gw⌋) ×
    * [⌊rH/gh⌋, ⌊(r+1)H/gh⌋)` over EXACT integer luminance sums (one
    * double division per cell at the end). Deliberately not
    * `Graphics2D` rescaling: the JDK's interpolated drawImage is
    * renderer-dependent, while box sums are bit-stable everywhere.
    * Images narrower/shorter than the grid reuse pixels (boxes clamp
    * to ≥ 1 pixel).
    */
  def luminanceGrid(img: BufferedImage, gw: Int = GridW, gh: Int = GridH): Array[Double] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Double](gw * gh)
    var r = 0
    while (r < gh) {
      val y0 = r * h / gh
      val y1 = math.max((r + 1) * h / gh, y0 + 1)
      var c = 0
      while (c < gw) {
        val x0 = c * w / gw
        val x1 = math.max((c + 1) * w / gw, x0 + 1)
        var sum = 0L
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            sum += lum1000(img.getRGB(x, y))
            x += 1
          }
          y += 1
        }
        val n = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
        out(r * gw + c) = sum.toDouble / (n * 1000.0)
        c += 1
      }
      r += 1
    }
    out
  }

  /** The 64 horizontal-gradient differences of a 9×8 grid, row-major:
    * `diff[r·8 + c] = grid[r·9 + c + 1] − grid[r·9 + c]` — dHash bit
    * = diff > 0, the [[graft.functions.SignPack]] convention.
    */
  def dHashDiff(grid: Array[Double]): Array[Double] = {
    require(grid.length == GridW * GridH,
      s"dHashDiff: expected ${GridW}x$GridH grid, got ${grid.length} cells")
    val out = new Array[Double](Bits)
    var r = 0
    while (r < GridH) {
      var c = 0
      while (c < GridW - 1) {
        out(r * (GridW - 1) + c) = grid(r * GridW + c + 1) - grid(r * GridW + c)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Average-hash differences over an 8×8 grid: `diff[i] = grid[i] −
    * mean(grid)` — the cheaper, lower-recall cousin; same sign-pack
    * convention. (Mean via one exact pass; ties at the mean → bit 0,
    * like dHash's equal-neighbor ties.)
    */
  def aHashDiff(grid: Array[Double]): Array[Double] = {
    var s = 0.0
    var i = 0
    while (i < grid.length) { s += grid(i); i += 1 }
    val mean = s / grid.length
    val out = new Array[Double](grid.length)
    i = 0
    while (i < grid.length) { out(i) = grid(i) - mean; i += 1 }
    out
  }

  /** Pack a difference vector to the classic single-word hash — bit i
    * set iff diff(i) > 0, mirroring [[graft.functions.SignPack]] so
    * the scalar hash and the Spark-side packed code are bit-identical
    * (PhashSpec pins the parity).
    */
  def pack64(diff: Array[Double]): Long = {
    require(diff.length <= 64, s"pack64: ${diff.length} bits > 64")
    var word = 0L
    var i = 0
    while (i < diff.length) {
      if (diff(i) > 0.0) word |= (1L << i)
      i += 1
    }
    word
  }

  /** The four-family 2D gradient differences of a 9×9 luminance grid,
    * 256 elements over r, c ∈ 0..7 with base = r·9 + c — horizontal
    * (base+1 − base), vertical (base+9 − base), diagonal (base+10 −
    * base), anti-diagonal (base+1 − base+9), 64 signs each. ONE
    * definition shared by still images and video frames (
    * [[VideoHash.frameDiff256]] delegates here), so an image's wide
    * signature and a frame's are directly comparable — the key
    * [[VideoHash.imageInVideo]] probes on. 256-bit wide for the banded
    * slot miners' 32-bit-band regime (see [[VideoHash.FrameBits]]).
    */
  def gridDiff256(grid: Array[Double]): Array[Double] = {
    require(grid.length == 81, s"gridDiff256: expected 9x9 grid, got ${grid.length}")
    val out = new Array[Double](256)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val base = r * 9 + c
        out(r * 8 + c) = grid(base + 1) - grid(base)
        out(64 + r * 8 + c) = grid(base + 9) - grid(base)
        out(128 + r * 8 + c) = grid(base + 10) - grid(base)
        out(192 + r * 8 + c) = grid(base + 1) - grid(base + 9)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Decode a PNG/JPEG payload to the WIDE 256-element signature
    * ([[gridDiff256]] over the exact 9×9 luminance grid), or a typed
    * reject — the probe-side kernel of [[VideoHash.imageInVideo]].
    */
  def decodeGridDiff256(payload: Array[Byte]): Either[String, Array[Double]] = {
    if (payload == null || payload.isEmpty) return Left("empty_payload")
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) Left("unsupported_format")
      else Right(gridDiff256(luminanceGrid(img, gw = 9, gh = 9)))
    } catch { case _: Exception => Left("corrupt_image") }
  }

  /** Decode a PNG/JPEG payload and produce the dHash difference
    * vector, or a typed reject reason — the [[Multimodal]] strict
    * codec boundary (no fake hashes for undecodable media: a byte-stat
    * stand-in would cluster unrelated corrupt files as "near-dups").
    */
  def decodeDHashDiff(payload: Array[Byte]): Either[String, Array[Double]] = {
    if (payload == null || payload.isEmpty) return Left("empty_payload")
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) Left("unsupported_format")
      else Right(dHashDiff(luminanceGrid(img)))
    } catch { case _: Exception => Left("corrupt_image") }
  }

  /** One decoded-or-rejected row — the single-pass product both
    * relations of [[imageDHash]] project from.
    */
  final case class PhashTagged(
      id: Long,
      n_bytes: Long,
      phash_diff: Option[Array[Double]],
      reason: Option[String])

  final case class PhashCode(id: Long, phash_diff: Array[Double])
  final case class PhashReject(id: Long, n_bytes: Long, reason: String)

  private implicit val taggedEnc: org.apache.spark.sql.Encoder[PhashTagged] =
    org.apache.spark.sql.Encoders.product[PhashTagged]
  private implicit val codeEnc: org.apache.spark.sql.Encoder[PhashCode] =
    org.apache.spark.sql.Encoders.product[PhashCode]
  private implicit val rejEnc: org.apache.spark.sql.Encoder[PhashReject] =
    org.apache.spark.sql.Encoders.product[PhashReject]
  private implicit val rowEnc: org.apache.spark.sql.Encoder[(Long, Array[Byte])] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.BINARY)

  /** ONE status-tagged decode pass over a binary payload column — the
    * 100 TB primitive: each payload is decoded exactly once, producing
    * either a dHash difference vector or a typed reject reason.
    * Callers that need BOTH the codes and the rejects persist or
    * checkpoint THIS relation and project twice; [[imageDHash]] does
    * the split for them.
    */
  def imageDHashTagged(
      media: DataFrame,
      idCol: String,
      payloadCol: String): Dataset[PhashTagged] =
    media.select(col(idCol).cast("long").as("id"),
        col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val n = if (p == null) 0L else p.length.toLong
          decodeDHashDiff(p) match {
            case Right(d) => PhashTagged(id, n, Some(d), None)
            case Left(r) => PhashTagged(id, n, None, Some(r))
          }
        }
      }

  /** Partition-batched image dHash over a binary payload column:
    * `(id, phash_diff array<double>)` for decodable images, typed
    * rejects otherwise. Both relations project from the SAME
    * status-tagged pass ([[imageDHashTagged]]), so consuming one
    * relation costs one decode of the corpus; a caller consuming BOTH
    * should persist the tagged relation first — lazy evaluation
    * re-runs the decode otherwise (PhashSpec pins the tagged
    * projections against the relations' contracts).
    */
  def imageDHash(
      media: DataFrame,
      idCol: String,
      payloadCol: String): (Dataset[PhashCode], Dataset[PhashReject]) = {
    val tagged = imageDHashTagged(media, idCol, payloadCol)
    val feats = tagged.filter(_.phash_diff.isDefined)
      .map(t => PhashCode(t.id, t.phash_diff.get))
    val rejects = tagged.filter(_.reason.isDefined)
      .map(t => PhashReject(t.id, t.n_bytes, t.reason.get))
    (feats, rejects)
  }

  /** Content-level near-dup pairs for an image corpus: decode → dHash
    * → MIH-banded exact radius search — `(id_a, id_b, hamming)`,
    * id_a < id_b, Hamming ≤ `radius` over the 64-bit codes. The banded
    * plan never forms an all-pairs product ([[VectorOps
    * .hammingRadiusPairs]]); rejects are dropped (undecodable media
    * can't be content-compared — route them via [[imageDHash]]'s
    * reject relation if they need quarantining).
    */
  def phashNearDupPairs(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 8): DataFrame = {
    val (codes, _) = imageDHash(media, idCol, payloadCol)
    VectorOps.hammingRadiusPairs(codes.toDF(), "id", "phash_diff",
      radius = radius, nBands = nBands)
  }

  /** Perceptual dedup: keep the smallest id of every near-dup
    * component, where components are the connected closure of
    * [[phashNearDupPairs]] edges (small-radius phash graphs are
    * overwhelmingly tiny cliques; the union-find rides
    * [[GraphOps.connectedComponents]]' bounded-iteration hash-min).
    * Output: `(id, keep_id)` for every decodable image, keep_id =
    * min id of its component.
    */
  def phashDedupAssignments(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 8,
      maxIters: Int = 20): DataFrame = {
    // the codes relation fans out to the edge mining AND the final
    // assignment join — cut it eagerly so the corpus is decoded ONCE
    // (the q213/q214 pattern; without it lazy eval re-decodes per
    // consumer, the one cost that dominates at 100 TB)
    val codes = Ckpt.checkpoint(imageDHash(media, idCol, payloadCol)._1.toDF())
    val edges = VectorOps.hammingRadiusPairs(codes, "id",
      "phash_diff", radius = radius, nBands = nBands)
    val comps = GraphOps.connectedComponents(edges,
      srcCol = "id_a", dstCol = "id_b", maxIterations = maxIters)
    // isolated images (no near-dup edge) keep themselves
    codes.select(col("id"))
      .join(comps.withColumnRenamed("node", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("keep_id"))
  }

  // ------------------------------------------------------------------
  // Deterministic stub-decode twin (SQL-replayable, the gate path)
  // ------------------------------------------------------------------

  /** Stub grid cell j (row-major 9×8) for a document: `(id·(2j+3) +
    * len·(j+1)) mod 251` — pure BIGINT arithmetic both engines compute
    * identically (251 keeps cells byte-like; coefficients stay far
    * from 2^63 at any realistic id). This is the clearly-marked
    * deterministic FAKE DECODE of the brief's multimodal contract:
    * it stands in for [[luminanceGrid]] so the gate can replay
    * grid → gradient → pack → Hamming end-to-end in DuckDB; nothing
    * downstream of the grid differs from the real-image path.
    */
  def stubGridCell(id: Column, len: Column, j: Int): Column =
    pmod(id.cast("long") * lit(2L * j + 3L) + len.cast("long") * lit(j + 1L),
      lit(251L))

  /** The stub twin of [[dHashDiff]] as ONE Catalyst array expression:
    * 64 integer-difference elements whose sign pack is the stub dHash.
    */
  def stubDHashDiff(id: Column, len: Column): Column =
    array((0 until Bits).map { i =>
      val r = i / (GridW - 1)
      val c = i % (GridW - 1)
      val left = r * GridW + c
      (stubGridCell(id, len, left + 1) - stubGridCell(id, len, left))
        .cast("double")
    }: _*)
}
