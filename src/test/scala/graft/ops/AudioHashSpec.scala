package graft.ops

import java.io.ByteArrayOutputStream

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Perceptual audio-fingerprint kernel: the Haitsma–Kalker robustness
  * properties (lossless re-encode → identical code; volume change →
  * sign-exact in the continuous domain, tiny drift after 16-bit
  * requantization; resampling → nearby code; distinct content → far
  * code), typed rejects at the codec boundary, bit-parity between the
  * scalar pack and the Spark SignPack chain, the single-pass tagged
  * decode contract, and end-to-end reuse of the Hamming stack (radius
  * pairs, dedup assignments, persisted MIH index incl. takedown,
  * streaming ingestion).
  */
class AudioHashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic synthetic "recording": a mixture of tones whose
    * frequencies/amplitudes move across [[AudioHash.FreqLo]]–
    * [[AudioHash.FreqHi]] over the clip — content is a function of
    * ABSOLUTE time, so the same clip renders at any sample rate (the
    * resample-robustness fixture, the analog of PhashSpec's `scene`).
    */
  private def clip(
      seconds: Double, sr: Int, f1: Double, f2: Double): Array[Double] = {
    val n = (seconds * sr).toInt
    Array.tabulate(n) { i =>
      val t = i.toDouble / sr
      // frequency sweeps keep every time cell spectrally distinct
      0.4 * StrictMath.sin(2 * StrictMath.PI * (f1 + 120.0 * t) * t) +
        0.3 * StrictMath.sin(2 * StrictMath.PI * (f2 - 80.0 * t) * t) +
        0.1 * StrictMath.sin(2 * StrictMath.PI * 450.0 * t)
    }
  }

  /** Encode samples in [−1, 1) as a mono 16-bit little-endian PCM WAV. */
  private def wavBytes(samples: Array[Double], sr: Int): Array[Byte] = {
    val n = samples.length
    val dataLen = n * 2
    val bos = new ByteArrayOutputStream(44 + dataLen)
    def s4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def i4(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
    def i2(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    s4("RIFF"); i4(36 + dataLen); s4("WAVE")
    s4("fmt "); i4(16); i2(1); i2(1); i4(sr); i4(sr * 2); i2(2); i2(16)
    s4("data"); i4(dataLen)
    samples.foreach { x =>
      val q = math.max(-32768, math.min(32767,
        math.round(x * 32767.0).toInt))
      i2(q)
    }
    bos.toByteArray
  }

  /** A 32-bit FLOAT WAV header over garbage — parses as a valid WAV
    * with a non-PCM_SIGNED-16 encoding, the documented reject.
    */
  private def floatWavBytes(sr: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    def s4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def i4(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
      bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
    def i2(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
    s4("RIFF"); i4(36 + 64); s4("WAVE")
    s4("fmt "); i4(16); i2(3); i2(1); i4(sr); i4(sr * 4); i2(4); i2(32)
    s4("data"); i4(64)
    (0 until 64).foreach(_ => bos.write(0))
    bos.toByteArray
  }

  private def fp(samples: Array[Double], sr: Double): Long =
    AudioHash.pack64(AudioHash.hkDiff(AudioHash.spectralGrid(samples, sr)))

  private def dist(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private lazy val base16k = clip(2.0, 16000, 700.0, 1900.0)
  private lazy val baseWav = wavBytes(base16k, 16000)
  private lazy val base8k = clip(2.0, 8000, 700.0, 1900.0) // same clip, 8 kHz
  private lazy val other16k = clip(2.0, 16000, 1300.0, 500.0)

  test("fingerprint: WAV round-trip is bit-identical; volume and resample stay within a small radius; distinct content is far") {
    val h0 = fp(base16k, 16000)
    // decode path ≡ in-memory path up to the 16-bit quantization the
    // encode itself applies — re-encoding the DECODED samples is then
    // bit-identical (a lossless cycle)
    val decoded = AudioHash.decodeSamples(baseWav).toOption.get
    val hWav = fp(decoded._1, decoded._2)
    val reenc = AudioHash.decodeSamples(wavBytes(decoded._1, 16000)).toOption.get
    assert(fp(reenc._1, reenc._2) === hWav)
    assert(dist(h0, hWav) <= 4, s"16-bit quantization drift ${dist(h0, hWav)}")
    // volume: continuous-domain scaling is sign-EXACT (energies scale
    // by c² > 0)…
    assert(fp(base16k.map(_ * 0.37), 16000) === h0)
    // …and the WAV-requantized half-volume copy drifts ≤ a few bits
    val half = AudioHash.decodeSamples(
      wavBytes(base16k.map(_ * 0.5), 16000)).toOption.get
    assert(dist(h0, fp(half._1, half._2)) <= 8,
      s"volume drift ${dist(h0, fp(half._1, half._2))}")
    // the same recording at telephone rate (absolute-frequency bands
    // all sit under the 4 kHz Nyquist limit)
    val h8 = fp(base8k, 8000)
    assert(dist(h0, h8) <= 8, s"resample drift ${dist(h0, h8)}")
    // a different recording flips a large fraction of the 64 bits
    assert(dist(h0, fp(other16k, 16000)) >= 16,
      s"distinct too close ${dist(h0, fp(other16k, 16000))}")
  }

  test("codec boundary: empty / garbage / float-WAV / truncated payloads become typed rejects, never fingerprints") {
    assert(AudioHash.decodeHkDiff(Array.emptyByteArray) === Left("empty_payload"))
    assert(AudioHash.decodeHkDiff(null) === Left("empty_payload"))
    assert(AudioHash.decodeHkDiff("not audio at all".getBytes("UTF-8"))
      === Left("unsupported_format"))
    assert(AudioHash.decodeHkDiff(floatWavBytes(16000))
      === Left("unsupported_wav_encoding"))
    val truncated = baseWav.take(20)
    assert(AudioHash.decodeHkDiff(truncated).isLeft)
  }

  test("pack parity: scalar pack64 ≡ Spark SignPack word over the same diff vector") {
    val diff = AudioHash.hkDiff(AudioHash.spectralGrid(base16k, 16000))
    val sparkWord = Seq(Tuple1(diff)).toDF("d")
      .select(graft.functions.GraftFunctions.signPack(col("d")).as("code"))
      .head().getSeq[Long](0).head
    assert(sparkWord === AudioHash.pack64(diff))
  }

  test("single-pass tagged decode: every row lands in exactly one relation; audioFingerprint projects both from it") {
    val media = Seq(
      (1L, baseWav),
      (2L, wavBytes(base16k.map(_ * 0.5), 16000)),
      (3L, "junk".getBytes("UTF-8")),
      (4L, floatWavBytes(16000)))
      .toDF("doc_id", "payload")
    val tagged = AudioHash.audioFingerprintTagged(media, "doc_id", "payload")
      .collect()
    assert(tagged.length === 4)
    assert(tagged.forall(t => t.fp_diff.isDefined != t.reason.isDefined))
    val (codes, rejects) = AudioHash.audioFingerprint(media, "doc_id", "payload")
    assert(codes.collect().map(_.id).sorted.toSeq === Seq(1L, 2L))
    assert(rejects.collect().map(r => (r.id, r.reason)).sortBy(_._1).toSeq
      === Seq((3L, "unsupported_format"), (4L, "unsupported_wav_encoding")))
  }

  test("end-to-end: near-dup pairs + dedup assignments + persisted MIH index with takedown, all over audio fingerprints") {
    val media = Seq(
      (1L, baseWav),
      (2L, wavBytes(base16k.map(_ * 0.5), 16000)), // half-volume copy
      (3L, wavBytes(base8k, 8000)),                // telephone-rate copy
      (4L, wavBytes(other16k, 16000)),             // different recording
      (5L, "garbage".getBytes("UTF-8")))
      .toDF("doc_id", "payload")

    val (codes, rejects) = AudioHash.audioFingerprint(media, "doc_id", "payload")
    assert(codes.count() === 4L)
    assert(rejects.collect().map(r => (r.id, r.reason)).toSeq
      === Seq((5L, "unsupported_format")))

    val pairs = AudioHash.audioNearDupPairs(media, "doc_id", "payload",
        radius = 10, nBands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))

    val keep = AudioHash.audioDedupAssignments(media, "doc_id", "payload",
        radius = 10, nBands = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))

    val root = java.nio.file.Files
      .createTempDirectory("graft-audio-idx").toString
    val cdf = codes.toDF()
    HammingIndex.hammingWriteIndex(cdf, "id", "fp_diff", root,
      nBands = 8, nBuckets = 8)
    def probe(): Set[(Long, Long)] =
      HammingIndex.hammingProbeIndex(spark, cdf, "id", "fp_diff",
          root, radius = 10)
        .filter(col("q_id") < col("n_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe() === pairs)
    HammingIndex.Layout.delete(Seq(2L).toDF("id"), "id", root)
    assert(probe() === Set((1L, 3L), (2L, 3L)))
  }

  test("streaming audio ingestion: stream-built fingerprint index probes ≡ batch build; redelivery no-ops; rejects dropped") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-audio-stream").toString
    val (idxS, idxB) = (s"$root/s", s"$root/b")
    val all = Seq(
      (1L, baseWav),
      (2L, wavBytes(base16k.map(_ * 0.5), 16000)),
      (3L, wavBytes(base8k, 8000)),
      (4L, wavBytes(other16k, 16000)),
      (5L, "junk".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val empty = all.limit(0)
    val (ec, _) = AudioHash.audioFingerprint(empty, "doc_id", "payload")
    HammingIndex.hammingWriteIndex(ec.toDF(), "id", "fp_diff", idxS,
      nBands = 8, nBuckets = 8, dim = 64)
    assert(graft.streaming.AudioHashStream.appendBatch(
      all.filter($"doc_id" <= 2), 0L, "doc_id", "payload", idxS, "ah1"))
    assert(!graft.streaming.AudioHashStream.appendBatch(
      all.filter($"doc_id" <= 2), 0L, "doc_id", "payload", idxS, "ah1"))
    assert(graft.streaming.AudioHashStream.appendBatch(
      all.filter($"doc_id" > 2), 1L, "doc_id", "payload", idxS, "ah1"))
    val (codes, _) = AudioHash.audioFingerprint(all, "doc_id", "payload")
    HammingIndex.hammingWriteIndex(codes.toDF(), "id", "fp_diff", idxB,
      nBands = 8, nBuckets = 8, dim = 64)
    def probe(p: String): Set[(Long, Long)] =
      HammingIndex.hammingProbeIndex(spark, codes.toDF(), "id",
          "fp_diff", p, radius = 10)
        .filter(col("q_id") < col("n_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe(idxS) === probe(idxB))
    assert(probe(idxS) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(spark.read.parquet(s"$idxS/bands")
      .filter(col("id") === 5L).count() === 0L)
  }

  test("segment fingerprints: a recording trimmed by one fifth localizes at offset -1 with the surviving diagonal; unrelated audio stays out") {
    val sr = 16000
    val a = clip(2.5, sr, 500.0, 1800.0)
    val n = a.length
    val fifth = n / 5
    // b = a with its first fifth trimmed and a NEW final fifth
    // appended: b's segment s (s <= 3) is sample-exact a's segment
    // s+1, so the winning diagonal is offset -1 with 4 aligned votes
    val tail = clip(2.5, sr, 950.0, 2400.0).slice(0, n - 4 * fifth)
    val b = a.slice(fifth, 5 * fifth) ++ tail
    val unrelated = clip(2.5, sr, 700.0, 2750.0)
    val media = Seq(
      (1L, wavBytes(a, sr)), (2L, wavBytes(b, sr)),
      (3L, wavBytes(unrelated, sr)), (4L, "junk".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    // the tagged pass: rejects accounted, 5 segment rows per clip
    val (segs, rejects) = AudioHash.audioSegments(media, "doc_id", "payload")
    assert(segs.collect().groupBy(_.id).view.mapValues(_.length).toMap
      === Map(1L -> 5, 2L -> 5, 3L -> 5))
    assert(rejects.collect().map(r => (r.id, r.reason)).toSeq
      === Seq((4L, "unsupported_format")))
    val align = AudioHash.audioSegmentAlignPairs(media, "doc_id", "payload",
        radius = 6, minVotes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(align((1L, 2L)) === ((-1L, 4L)), s"alignment: $align")
    assert(!align.contains((1L, 3L)) && !align.contains((2L, 3L)),
      s"unrelated audio aligned: $align")
    // votes agree with the alignment's diagonal on the planted pair
    val votes = AudioHash.audioSegmentVotePairs(media, "doc_id", "payload",
        radius = 6, minVotes = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(votes((1L, 2L)) === 4L, s"votes: $votes")
  }

  test("snippet probe: a WAV of a recording's middle fifth matches that segment at hamming 0; unrelated snippets match nothing") {
    val sr = 16000
    val a = clip(2.5, sr, 500.0, 1800.0)
    val n = a.length
    val fifth = n / 5
    // decode-what-the-recording-decodes: the snippet carries the SAME
    // double samples the recording's WAV quantizes, so both sides
    // quantize identically and the spectral grids are bit-equal
    val snippet = a.slice(2 * fifth, 3 * fifth)
    val unrelated = clip(0.5, sr, 900.0, 2600.0)
    val snips = Seq(
      (100L, wavBytes(snippet, sr)),
      (101L, wavBytes(unrelated, sr)),
      (102L, "junk".getBytes("UTF-8")))
      .toDF("snip_id", "payload")
    val recs = Seq(
      (1L, wavBytes(a, sr)),
      (2L, wavBytes(clip(2.5, sr, 1300.0, 500.0), sr)))
      .toDF("rec_id", "payload")
    val hits = AudioHash.audioSnippetProbe(snips, "snip_id", "payload",
        recs, "rec_id", "payload", radius = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hits.toSeq === Seq((100L, 1L, 2L, 0L)), s"hits: ${hits.toSeq}")
  }

  test("stub twins: Spark stubSegHkDiff sign pack ≡ the replayed integer formula (the q225 oracle contract)") {
    def cell(id: Long, len: Long, slot: Long, j: Int): Long = {
      val v = (id * (2L * j + 5L) * (j + 3L) + len * (3L * j + 7L) * (j + 2L)
        + (slot + 1L) * (5L * j + 13L) * (j + 4L)) % 1019L
      if (v < 0) v + 1019L else v
    }
    // 256-bit segment signature: four family words (H-K mixed / time
    // / band / diagonal gradients)
    def expected(id: Long, len: Long, slot: Long): Seq[Long] = {
      def c(tt: Int, bb: Int): Long = cell(id, len, slot, tt * 9 + bb)
      val ws = new Array[Long](4)
      for (i <- 0 until 256) {
        val k = i % 64; val t = k / 8; val b = k % 8
        val diff = i / 64 match {
          case 0 => (c(t + 1, b) - c(t + 1, b + 1)) - (c(t, b) - c(t, b + 1))
          case 1 => c(t + 1, b) - c(t, b)
          case 2 => c(t, b + 1) - c(t, b)
          case _ => c(t + 1, b + 1) - c(t, b)
        }
        if (diff > 0) ws(i / 64) |= (1L << k)
      }
      ws.toSeq
    }
    def packWide(diff: Array[Double]): Seq[Long] =
      (0 until 4).map(w => AudioHash.pack64(diff.slice(w * 64, (w + 1) * 64)))
    val rows = Seq((1L, 10L, 0L), (5L, 37L, 2L), (100L, 37L, 4L), (123457L, 2048L, 11L))
    val got = rows.toDF("id", "len", "slot")
      .select(col("id"), col("len"), col("slot"),
        graft.functions.GraftFunctions.signPack(
          AudioHash.stubSegHkDiff(col("id"), col("len"), col("slot"))).as("f"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toSeq))
    got.foreach { case (id, len, slot, fw) =>
      assert(fw === expected(id, len, slot), s"id=$id len=$len slot=$slot")
      // the plain-JVM kernel the gate's typed map runs (the JIT-cliff
      // fix) is bit-for-bit the Column expression's values
      assert(packWide(AudioHash.stubSegHkDiffScalar(id, len, slot))
        === fw, s"scalar kernel drifted: id=$id len=$len slot=$slot")
    }
  }

  test("stub twin: Spark stubHkDiff sign pack ≡ the replayed integer formula (the q218 oracle contract)") {
    def expected(id: Long, len: Long): Long = {
      def g(j: Int): Long = {
        val v = (id * (2L * j + 5L) + len * (3L * j + 7L)) % 241L
        if (v < 0) v + 241L else v
      }
      var w = 0L
      for (i <- 0 until 64) {
        val t = i / 8; val b = i % 8
        def cell(tt: Int, bb: Int): Long = g(tt * 9 + bb)
        val d = (cell(t + 1, b) - cell(t + 1, b + 1)) -
          (cell(t, b) - cell(t, b + 1))
        if (d > 0) w |= (1L << i)
      }
      w
    }
    val rows = Seq((1L, 10L), (5L, 37L), (100L, 37L), (123457L, 2048L))
    val got = rows.toDF("id", "len")
      .select(col("id"), col("len"),
        graft.functions.GraftFunctions.signPack(
          AudioHash.stubHkDiff(col("id"), col("len"))).as("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Long](2).head))
    got.foreach { case (id, len, word) =>
      assert(word === expected(id, len), s"id=$id len=$len")
    }
  }
}
