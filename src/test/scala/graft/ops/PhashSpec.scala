package graft.ops

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Perceptual-hash kernel: exact-arithmetic determinism, the classic
  * dHash robustness properties (lossless re-encode → identical code;
  * JPEG recompress and resize → nearby code; distinct content → far
  * code), typed rejects at the codec boundary, bit-parity between the
  * scalar pack and the Spark SignPack chain, and end-to-end reuse of
  * the Hamming stack (radius pairs, dedup assignments, persisted MIH
  * index incl. delete).
  */
class PhashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic synthetic "photo": content is a function of
    * RELATIVE position, so the same scene renders at any resolution —
    * the resize-robustness fixture.
    */
  private def scene(w: Int, h: Int, px: Double, py: Double): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val u = (x + 0.5) / w
        val v = (y + 0.5) / h
        val g = 128 + (90 * math.sin(2 * math.Pi * (u * px)) *
          math.cos(2 * math.Pi * (v * py))).toInt
        val gc = math.max(0, math.min(255, g))
        img.setRGB(x, y, (gc << 16) | (gc << 8) | gc)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
    bos.toByteArray
  }

  private def hash(img: BufferedImage): Long =
    Phash.pack64(Phash.dHashDiff(Phash.luminanceGrid(img)))

  private def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private lazy val base = scene(120, 90, 1.7, 1.3)
  private lazy val basePng = encode(base, "png")
  private lazy val baseJpg = encode(base, "jpg")
  private lazy val big = scene(240, 180, 1.7, 1.3)   // same scene, 2×
  private lazy val other = scene(120, 90, 3.1, 2.4)  // different scene

  test("dHash: PNG round-trip is bit-identical; JPEG/resize stay within a small radius; distinct content is far") {
    val h0 = hash(base)
    // lossless re-encode: decode path ≡ in-memory path, distance 0
    val hPng = Phash.decodeDHashDiff(basePng).map(Phash.pack64).toOption.get
    assert(hPng === h0)
    // JPEG recompress: small perturbation of 8×8 box means
    val hJpg = Phash.decodeDHashDiff(baseJpg).map(Phash.pack64).toOption.get
    assert(dist(h0, hJpg) <= 8, s"jpeg drift ${dist(h0, hJpg)}")
    // 2× resolution of the same scene
    val hBig = hash(big)
    assert(dist(h0, hBig) <= 8, s"resize drift ${dist(h0, hBig)}")
    // a different scene flips a large fraction of the 64 bits
    assert(dist(h0, hash(other)) >= 16, s"distinct too close ${dist(h0, hash(other))}")
  }

  test("codec boundary: empty / garbage / truncated payloads become typed rejects, never hashes") {
    assert(Phash.decodeDHashDiff(Array.emptyByteArray) === Left("empty_payload"))
    assert(Phash.decodeDHashDiff(null) === Left("empty_payload"))
    assert(Phash.decodeDHashDiff("not an image".getBytes("UTF-8"))
      === Left("unsupported_format"))
    val truncated = basePng.take(basePng.length / 4)
    val r = Phash.decodeDHashDiff(truncated)
    assert(r.isLeft, s"truncated png decoded: $r")
  }

  test("pack parity: scalar pack64 ≡ Spark SignPack word over the same diff vector; aHash sign convention") {
    val diff = Phash.dHashDiff(Phash.luminanceGrid(base))
    val sparkWord = Seq(Tuple1(diff)).toDF("d")
      .select(graft.functions.GraftFunctions.signPack(col("d")).as("code"))
      .head().getSeq[Long](0).head
    assert(sparkWord === Phash.pack64(diff))
    // aHash: bits partition around the mean — not all-zero, not all-one
    val a = Phash.pack64(Phash.aHashDiff(
      Phash.luminanceGrid(base, gw = 8, gh = 8)))
    assert((a !== 0L) && (a !== -1L))
  }

  test("end-to-end: near-dup pairs + dedup assignments + persisted MIH index with takedown, all over phash codes") {
    val media = Seq(
      (1L, basePng), (2L, baseJpg), (3L, encode(big, "png")),
      (4L, encode(other, "png")), (5L, "garbage".getBytes("UTF-8")))
      .toDF("doc_id", "payload")

    val (codes, rejects) = Phash.imageDHash(media, "doc_id", "payload")
    assert(codes.count() === 4L)
    assert(rejects.collect().map(r => (r.id, r.reason)).toSeq
      === Seq((5L, "unsupported_format")))

    val pairs = Phash.phashNearDupPairs(media, "doc_id", "payload",
        radius = 10, nBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))

    val keep = Phash.phashDedupAssignments(media, "doc_id", "payload",
        radius = 10, nBands = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))

    // the persisted Hamming stack consumes phash codes unchanged:
    // build an MIH index over the diff vectors, probe at the same
    // radius, take one image down, probe again
    val root = java.nio.file.Files
      .createTempDirectory("graft-phash-idx").toString
    val cdf = codes.toDF()
    HammingIndex.hammingWriteIndex(cdf, "id", "phash_diff", root,
      nBands = 8, nBuckets = 8)
    def probe(): Set[(Long, Long)] =
      HammingIndex.hammingProbeIndex(spark, cdf, "id", "phash_diff",
          root, radius = 10)
        .filter(col("q_id") < col("n_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe() === pairs)
    // takedown removes the image from the INDEX side (it stops being
    // anyone's neighbor) while staying usable as a query — the
    // documented Tombstones contract
    HammingIndex.Layout.delete(Seq(2L).toDF("id"), "id", root)
    assert(probe() === Set((1L, 3L), (2L, 3L)))
  }

  test("streaming image ingestion: stream-built phash index probes ≡ batch build; redelivery no-ops; rejects dropped") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-phash-stream").toString
    val (idxS, idxB) = (s"$root/s", s"$root/b")
    val all = Seq(
      (1L, basePng), (2L, baseJpg), (3L, encode(big, "png")),
      (4L, encode(other, "png")), (5L, "junk".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    // geometry fixed up front over an empty frame, dim explicit
    val empty = all.limit(0)
    val (ec, _) = Phash.imageDHash(empty, "doc_id", "payload")
    HammingIndex.hammingWriteIndex(ec.toDF(), "id", "phash_diff", idxS,
      nBands = 8, nBuckets = 8, dim = 64)
    // two micro-batches + a redelivery of the first
    assert(graft.streaming.PhashStream.appendBatch(
      all.filter($"doc_id" <= 2), 0L, "doc_id", "payload", idxS, "ph1"))
    assert(!graft.streaming.PhashStream.appendBatch(
      all.filter($"doc_id" <= 2), 0L, "doc_id", "payload", idxS, "ph1"))
    assert(graft.streaming.PhashStream.appendBatch(
      all.filter($"doc_id" > 2), 1L, "doc_id", "payload", idxS, "ph1"))
    // batch twin over the same decodable images
    val (codes, _) = Phash.imageDHash(all, "doc_id", "payload")
    HammingIndex.hammingWriteIndex(codes.toDF(), "id", "phash_diff", idxB,
      nBands = 8, nBuckets = 8, dim = 64)
    def probe(p: String): Set[(Long, Long)] =
      HammingIndex.hammingProbeIndex(spark, codes.toDF(), "id",
          "phash_diff", p, radius = 10)
        .filter(col("q_id") < col("n_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe(idxS) === probe(idxB))
    assert(probe(idxS) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the undecodable payload never entered the index
    assert(spark.read.parquet(s"$idxS/bands")
      .filter(col("id") === 5L).count() === 0L)
  }

  test("single-pass tagged decode: every row lands in exactly one relation; imageDHash projections match it") {
    val media = Seq(
      (1L, basePng), (2L, baseJpg), (3L, "junk".getBytes("UTF-8")),
      (4L, Array.emptyByteArray))
      .toDF("doc_id", "payload")
    val tagged = Phash.imageDHashTagged(media, "doc_id", "payload").collect()
    assert(tagged.length === 4)
    assert(tagged.forall(t => t.phash_diff.isDefined != t.reason.isDefined))
    val (codes, rejects) = Phash.imageDHash(media, "doc_id", "payload")
    assert(codes.collect().map(_.id).sorted.toSeq === Seq(1L, 2L))
    assert(rejects.collect().map(r => (r.id, r.reason)).sortBy(_._1).toSeq
      === Seq((3L, "unsupported_format"), (4L, "empty_payload")))
    // the tagged projections carry the same diff vectors as the codes
    val fromTagged = tagged.filter(_.phash_diff.isDefined)
      .map(t => t.id -> t.phash_diff.get.toSeq).toMap
    codes.collect().foreach(c =>
      assert(fromTagged(c.id) === c.phash_diff.toSeq))
  }

  test("stub twin: Spark stubDHashDiff sign pack ≡ the replayed integer formula (the q213 oracle contract)") {
    def expected(id: Long, len: Long): Long = {
      def g(j: Int): Long = {
        val v = (id * (2L * j + 3L) + len * (j + 1L)) % 251L
        if (v < 0) v + 251L else v
      }
      var w = 0L
      for (i <- 0 until 64) {
        val r = i / 8; val c = i % 8; val left = r * 9 + c
        if (g(left + 1) - g(left) > 0) w |= (1L << i)
      }
      w
    }
    val rows = Seq((1L, 10L), (5L, 37L), (100L, 37L), (123457L, 2048L))
    val got = rows.toDF("id", "len")
      .select(col("id"), col("len"),
        graft.functions.GraftFunctions.signPack(
          Phash.stubDHashDiff(col("id"), col("len"))).as("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).head))
    got.foreach { case (id, len, word) =>
      assert(word === expected(id, len), s"id=$id len=$len")
    }
  }
}
