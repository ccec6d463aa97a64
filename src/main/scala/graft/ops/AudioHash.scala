package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual audio fingerprinting for the multimodal (binary WAV)
  * column — the content-level near-dup key that closes the audio half
  * of what [[Phash]] closed for images: a re-encoded, resampled, or
  * volume-scaled copy of the same recording keeps a nearby fingerprint,
  * so "same audio" reduces to small Hamming distance and the ENTIRE
  * existing Hamming stack applies unchanged — [[VectorOps
  * .hammingKnnJoin]] for per-clip neighbors, [[VectorOps
  * .hammingRadiusPairs]] (MIH banding) for corpus-wide pair mining,
  * [[HammingIndex]] for the persisted index, [[Tombstones]] for
  * takedown, and [[graft.streaming.AudioHashStream]] for live
  * ingestion.
  *
  * The kernel is Haitsma–Kalker-shaped (Haitsma & Kalker 2002, "A
  * highly robust audio fingerprint system" — cited by RESULT: their
  * energy-difference sign bits, not their code): a time × frequency
  * spectral-energy grid, then the double difference
  *
  *   diff(t, b) = (E(t+1, b) − E(t+1, b+1)) − (E(t, b) − E(t, b+1))
  *
  * whose SIGNS are the fingerprint bits. A 9 × 9 grid (9 time cells ×
  * 9 log-spaced bands) yields 8 × 8 = 64 bits — one packed word, the
  * same geometry as [[Phash]]'s dHash, so every downstream default
  * (band splits, solver geometry, index dim) carries over verbatim.
  *
  * Like [[Phash]], the kernel emits the 64-element DIFFERENCE vector
  * rather than a packed code: bit i = diff(i) > 0 is exactly
  * [[graft.functions.SignPack]]'s convention, so the packed code every
  * downstream operator builds via `binaryQuantize` is bit-identical to
  * packing here ([[pack64]], AudioHashSpec pins the parity).
  *
  * Why these invariances hold by construction:
  *   - volume change: energies scale by c² > 0, differences scale by
  *     the same positive factor, signs are untouched (bit-exact);
  *   - resampling: bands are ABSOLUTE frequency intervals (300–3000 Hz
  *     — under the Nyquist limit of an 8 kHz telephone-band copy) and
  *     time cells are fractions of the clip's duration, so a resampled
  *     copy probes the same time–frequency boxes; per-cell
  *     normalization by sample count absorbs the rate change;
  *   - re-encode (16-bit requantization): sub-LSB perturbation of
  *     cell energies — only near-zero differences can flip.
  *
  * Spectral energies come from Goertzel probes (one O(n) recurrence
  * per probe frequency — no FFT dependency, no window-length/padding
  * convention to drift): each band's energy is the sum of squared DFT
  * magnitudes at [[ProbesPerBand]] log-spaced frequencies inside the
  * band, normalized by cell-length². Trig constants use `StrictMath`
  * so the grid is bit-stable across platforms.
  *
  * Two decode paths, the [[Multimodal]] codec-boundary discipline:
  *   - REAL audio: 16-bit little-endian signed PCM WAV through the
  *     JDK's `javax.sound.sampled` (first channel). Anything else —
  *     float/24-bit/big-endian WAV, compressed audio, corrupt bytes —
  *     becomes a typed reject row, never a fake fingerprint.
  *   - A DETERMINISTIC STUB twin ([[stubHkDiff]]) — pure Catalyst
  *     integer arithmetic over (id, text length) standing in for the
  *     decoded spectral grid, so the gate query's full chain
  *     (grid → double-difference signs → pack → Hamming top-k) replays
  *     cross-engine in DuckDB (the q213 convention); the codec half is
  *     pinned by AudioHashSpec's re-encode/resample/volume robustness
  *     suite over real WAVs instead.
  *
  * 100 TB shape: ONE status-tagged decode pass over the payload bytes
  * ([[audioFingerprintTagged]] — the corpus' sample bytes never
  * shuffle, only 8-byte codes do), then the audited banded/bucketed
  * Hamming plans.
  */
object AudioHash {

  /** Grid geometry: (TimeCells+1 − 1) × (Bands − 1) = 8 × 8 = 64 bits,
    * [[Phash]]'s word size, from a 9 × 9 energy grid.
    */
  val TimeCells = 9
  val Bands = 9
  val Bits = (TimeCells - 1) * (Bands - 1)

  /** Band range in Hz: log-spaced edges over [300, 3000] — inside the
    * Nyquist band of any ≥ 8 kHz copy (so downsampling to telephone
    * rate preserves every band) and covering the perceptually dominant
    * speech/music range, the Haitsma–Kalker choice shifted up to a
    * round decade.
    */
  val FreqLo = 300.0
  val FreqHi = 3000.0

  /** Goertzel probe frequencies per band; energy = Σ |X(f_k)|². */
  val ProbesPerBand = 4

  /** Band edge b of [[Bands]]+1 log-spaced edges over
    * [[[FreqLo]], [[FreqHi]]].
    */
  def bandEdge(b: Int): Double =
    FreqLo * StrictMath.pow(FreqHi / FreqLo, b.toDouble / Bands)

  /** The probe frequencies of band `b`: [[ProbesPerBand]] log-centered
    * points inside [edge(b), edge(b+1)).
    */
  def probeFreqs(b: Int): Array[Double] = {
    val lo = bandEdge(b)
    val hi = bandEdge(b + 1)
    Array.tabulate(ProbesPerBand) { k =>
      lo * StrictMath.pow(hi / lo, (k + 0.5) / ProbesPerBand)
    }
  }

  /** |DFT coefficient|² of `x[from until to)` at absolute frequency
    * `f` (Hz) under sample rate `sr`, via the Goertzel recurrence —
    * one `StrictMath.cos` per call, two multiplies per sample.
    */
  private def goertzelPower(
      x: Array[Double], from: Int, to: Int, f: Double, sr: Double): Double = {
    val w = 2.0 * StrictMath.PI * f / sr
    val coeff = 2.0 * StrictMath.cos(w)
    var s0 = 0.0
    var s1 = 0.0
    var s2 = 0.0
    var i = from
    while (i < to) {
      s0 = x(i) + coeff * s1 - s2
      s2 = s1
      s1 = s0
      i += 1
    }
    // |X|² = s1² + s2² − coeff·s1·s2
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** The [[TimeCells]] × [[Bands]] spectral-energy grid, row-major by
    * time cell: cell (t, b) is the band-b Goertzel energy of the
    * sample box [⌊t·n/T⌋, ⌊(t+1)·n/T⌋) (clamped to ≥ 1 sample — the
    * [[Phash.luminanceGrid]] short-input rule), normalized by the
    * cell's sample count SQUARED so a resampled copy of the same
    * content lands on the same scale (DFT magnitudes grow linearly
    * with sample count at fixed content).
    */
  def spectralGrid(samples: Array[Double], sampleRate: Double): Array[Double] = {
    require(samples.nonEmpty, "spectralGrid: empty sample array")
    val n = samples.length
    val out = new Array[Double](TimeCells * Bands)
    var t = 0
    while (t < TimeCells) {
      // long arithmetic: t*n overflows Int past ~4 hours of 16 kHz audio
      val i0 = (t.toLong * n / TimeCells).toInt
      val i1 = math.min(math.max(((t + 1).toLong * n / TimeCells).toInt,
        i0 + 1), n)
      val len = (i1 - i0).toDouble
      var b = 0
      while (b < Bands) {
        val freqs = probeFreqs(b)
        var e = 0.0
        var k = 0
        while (k < freqs.length) {
          e += goertzelPower(samples, i0, i1, freqs(k), sampleRate)
          k += 1
        }
        out(t * Bands + b) = e / (len * len)
        b += 1
      }
      t += 1
    }
    out
  }

  /** The 64 Haitsma–Kalker double differences of a 9 × 9 grid,
    * row-major by time: `diff[t·8 + b] = (E(t+1,b) − E(t+1,b+1)) −
    * (E(t,b) − E(t,b+1))` — fingerprint bit = diff > 0, the
    * [[graft.functions.SignPack]] convention.
    */
  def hkDiff(grid: Array[Double]): Array[Double] = {
    require(grid.length == TimeCells * Bands,
      s"hkDiff: expected ${TimeCells}x$Bands grid, got ${grid.length} cells")
    val out = new Array[Double](Bits)
    var t = 0
    while (t < TimeCells - 1) {
      var b = 0
      while (b < Bands - 1) {
        val a = grid((t + 1) * Bands + b) - grid((t + 1) * Bands + b + 1)
        val c = grid(t * Bands + b) - grid(t * Bands + b + 1)
        out(t * (Bands - 1) + b) = a - c
        b += 1
      }
      t += 1
    }
    out
  }

  /** Pack a difference vector to the single-word fingerprint — bit i
    * set iff diff(i) > 0, mirroring [[graft.functions.SignPack]]
    * (AudioHashSpec pins the parity). Shared convention with
    * [[Phash.pack64]].
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

  /** Decode a WAV payload to (samples of the FIRST channel in
    * [−1, 1), sample rate), or a typed reject reason — the strict
    * [[Multimodal]] codec boundary: only 16-bit little-endian signed
    * PCM decodes (the one WAV encoding whose byte layout the RMS/
    * fingerprint loop reads correctly); float/24-bit/big-endian WAV,
    * compressed audio, and corrupt bytes are REJECTED, never given a
    * byte-stat stand-in fingerprint (which would cluster unrelated
    * corrupt files as near-dups).
    */
  def decodeSamples(payload: Array[Byte]): Either[String, (Array[Double], Double)] = {
    if (payload == null || payload.isEmpty) return Left("empty_payload")
    val isWav = payload.length > 12 &&
      payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
      payload(3) == 'F' && payload(8) == 'W' && payload(9) == 'A' &&
      payload(10) == 'V' && payload(11) == 'E'
    if (!isWav) return Left("unsupported_format")
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = in.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16 || fmt.isBigEndian)
        return Left("unsupported_wav_encoding")
      val bytes = in.readAllBytes()
      val frameSize = fmt.getFrameSize
      val n = bytes.length / frameSize
      if (n == 0) return Left("empty_audio")
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        val off = i * frameSize // first channel of each frame
        out(i) = ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort / 32768.0
        i += 1
      }
      Right((out, fmt.getSampleRate.toDouble))
    } catch { case _: Exception => Left("corrupt_audio") }
  }

  /** Decode a WAV payload and produce the Haitsma–Kalker difference
    * vector, or a typed reject reason.
    */
  def decodeHkDiff(payload: Array[Byte]): Either[String, Array[Double]] =
    decodeSamples(payload).map { case (samples, sr) =>
      hkDiff(spectralGrid(samples, sr))
    }

  /** One decoded-or-rejected row — the single-pass product both
    * relations of [[audioFingerprint]] project from.
    */
  final case class AudioTagged(
      id: Long,
      n_bytes: Long,
      fp_diff: Option[Array[Double]],
      reason: Option[String])

  final case class AudioCode(id: Long, fp_diff: Array[Double])
  final case class AudioReject(id: Long, n_bytes: Long, reason: String)

  private implicit val taggedEnc: org.apache.spark.sql.Encoder[AudioTagged] =
    org.apache.spark.sql.Encoders.product[AudioTagged]
  private implicit val codeEnc: org.apache.spark.sql.Encoder[AudioCode] =
    org.apache.spark.sql.Encoders.product[AudioCode]
  private implicit val rejEnc: org.apache.spark.sql.Encoder[AudioReject] =
    org.apache.spark.sql.Encoders.product[AudioReject]
  private implicit val rowEnc: org.apache.spark.sql.Encoder[(Long, Array[Byte])] =
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.BINARY)

  /** ONE status-tagged decode pass over a binary payload column — the
    * 100 TB primitive: each payload is decoded exactly once, producing
    * either a fingerprint or a typed reason. Callers that need BOTH
    * the codes and the rejects persist/checkpoint THIS relation and
    * project twice; [[audioFingerprint]] does the split for them.
    */
  def audioFingerprintTagged(
      media: DataFrame,
      idCol: String,
      payloadCol: String): Dataset[AudioTagged] =
    media.select(col(idCol).cast("long").as("id"),
        col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val n = if (p == null) 0L else p.length.toLong
          decodeHkDiff(p) match {
            case Right(d) => AudioTagged(id, n, Some(d), None)
            case Left(r) => AudioTagged(id, n, None, Some(r))
          }
        }
      }

  /** Partition-batched audio fingerprinting over a binary payload
    * column: `(id, fp_diff array<double>)` for decodable clips, typed
    * rejects otherwise. Both relations project from the SAME tagged
    * pass; consuming only one costs one decode of the corpus, and a
    * caller consuming both should persist [[audioFingerprintTagged]]
    * first (lazy evaluation re-runs the decode otherwise — the
    * [[Phash.imageDHash]] watch note, answered here by construction).
    */
  def audioFingerprint(
      media: DataFrame,
      idCol: String,
      payloadCol: String): (Dataset[AudioCode], Dataset[AudioReject]) = {
    val tagged = audioFingerprintTagged(media, idCol, payloadCol)
    val codes = tagged.filter(_.fp_diff.isDefined)
      .map(t => AudioCode(t.id, t.fp_diff.get))
    val rejects = tagged.filter(_.reason.isDefined)
      .map(t => AudioReject(t.id, t.n_bytes, t.reason.get))
    (codes, rejects)
  }

  /** Content-level near-dup pairs for an audio corpus: decode →
    * fingerprint → MIH-banded exact radius search — `(id_a, id_b,
    * hamming)`, id_a < id_b, over the 64-bit codes ([[Phash
    * .phashNearDupPairs]]'s contract for the audio column). Rejects
    * are dropped — route them via [[audioFingerprint]]'s reject
    * relation if they need quarantining.
    */
  def audioNearDupPairs(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 8): DataFrame = {
    val (codes, _) = audioFingerprint(media, idCol, payloadCol)
    VectorOps.hammingRadiusPairs(codes.toDF(), "id", "fp_diff",
      radius = radius, nBands = nBands)
  }

  /** Perceptual audio dedup: keep the smallest id of every near-dup
    * component ([[Phash.phashDedupAssignments]]'s contract). The codes
    * relation is consumed twice (edge mining + the final assignment
    * join), so it is cut eagerly — the corpus is decoded ONCE.
    */
  def audioDedupAssignments(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 8,
      maxIters: Int = 20): DataFrame = {
    val (codesDs, _) = audioFingerprint(media, idCol, payloadCol)
    val codes = Ckpt.checkpoint(codesDs.toDF())
    val edges = VectorOps.hammingRadiusPairs(codes, "id", "fp_diff",
      radius = radius, nBands = nBands)
    val comps = GraphOps.connectedComponents(edges,
      srcCol = "id_a", dstCol = "id_b", maxIterations = maxIters)
    codes.select(col("id"))
      .join(comps.withColumnRenamed("node", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("keep_id"))
  }

  // ------------------------------------------------------------------
  // Segment fingerprints (partial-overlap / clip-in-recording mining)
  // ------------------------------------------------------------------

  /** Segments fingerprinted per clip for partial-overlap mining —
    * [[graft.ops.VideoHash.SampleFrames]]'s convention on the audio
    * axis.
    */
  val Segments = 5

  /** Segment-signature width: 64 Haitsma–Kalker mixed-difference signs
    * + 64 time gradients + 64 band gradients + 64 diagonal gradients
    * of the segment's 9 × 9 spectral grid — WIDE on purpose, the
    * [[VideoHash.FrameBits]] / q217 contract: the banded pair miner
    * needs 32-bit bands at ZERO probe bits to keep both its feed and
    * its collision term flat, and a radius-6 pigeonhole needs 8 such
    * bands = a 256-bit code.
    */
  val SegBits = 256

  /** The [[Segments]] per-segment signature vectors of a decoded clip:
    * segment s = samples `[⌊s·n/5⌋, ⌊(s+1)·n/5⌋)` through its OWN
    * spectral grid, emitting [[SegBits]] = 256 differences over
    * t, b ∈ 0..7 —
    *   - 0..63   the H–K mixed double differences ([[hkDiff]]),
    *   - 64..127 TIME gradients `E(t+1, b) − E(t, b)`,
    *   - 128..191 BAND gradients `E(t, b+1) − E(t, b)`,
    *   - 192..255 DIAGONAL gradients `E(t+1, b+1) − E(t, b)`
    * (volume scaling multiplies every energy by the same positive
    * factor, so all four families stay sign-exact). The whole-clip
    * code ([[hkDiff]] over the full grid) answers "same recording";
    * these answer "same passage" — a clip embedded in a longer
    * recording, a trimmed re-cut, a sampled loop — via
    * [[VectorOps.slotVotePairs]] / [[VectorOps.slotAlignPairs]].
    */
  def segmentDiffs(samples: Array[Double], sampleRate: Double,
      segments: Int = Segments): Array[Array[Double]] = {
    val n = samples.length
    Array.tabulate(segments) { s =>
      val i0 = (s.toLong * n / segments).toInt
      val i1 = math.min(math.max(((s + 1).toLong * n / segments).toInt,
        i0 + 1), n)
      val grid = spectralGrid(java.util.Arrays.copyOfRange(samples, i0, i1),
        sampleRate)
      val mixed = hkDiff(grid)
      val out = new Array[Double](SegBits)
      System.arraycopy(mixed, 0, out, 0, Bits)
      var t = 0
      while (t < 8) {
        var b = 0
        while (b < 8) {
          out(64 + t * 8 + b) = grid((t + 1) * Bands + b) - grid(t * Bands + b)
          out(128 + t * 8 + b) = grid(t * Bands + b + 1) - grid(t * Bands + b)
          out(192 + t * 8 + b) = grid((t + 1) * Bands + b + 1) - grid(t * Bands + b)
          b += 1
        }
        t += 1
      }
      out
    }
  }

  /** One decoded-or-rejected row of the segment pass; `seg_flat` is
    * the [[Segments]] × 64 slot-major concatenation.
    */
  final case class AudioSegTagged(
      id: Long,
      n_bytes: Long,
      seg_flat: Option[Array[Double]],
      reason: Option[String])

  final case class AudioSegment(id: Long, slot: Int, seg_diff: Array[Double])

  private implicit val segTaggedEnc: org.apache.spark.sql.Encoder[AudioSegTagged] =
    org.apache.spark.sql.Encoders.product[AudioSegTagged]
  private implicit val segEnc: org.apache.spark.sql.Encoder[AudioSegment] =
    org.apache.spark.sql.Encoders.product[AudioSegment]

  /** ONE status-tagged segment-decode pass — [[audioFingerprintTagged]]
    * with the per-segment kernel.
    */
  def audioSegmentsTagged(
      media: DataFrame,
      idCol: String,
      payloadCol: String): Dataset[AudioSegTagged] =
    media.select(col(idCol).cast("long").as("id"),
        col(payloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, p) =>
          val n = if (p == null) 0L else p.length.toLong
          decodeSamples(p) match {
            case Right((samples, sr)) =>
              AudioSegTagged(id, n,
                Some(segmentDiffs(samples, sr).flatten), None)
            case Left(r) => AudioSegTagged(id, n, None, Some(r))
          }
        }
      }

  /** The segment projections: `(id, slot, seg_diff)` per decodable
    * clip × segment, plus typed rejects. One decode per consumed
    * projection — persist the tagged relation when consuming both.
    */
  def audioSegments(
      media: DataFrame,
      idCol: String,
      payloadCol: String): (Dataset[AudioSegment], Dataset[AudioReject]) = {
    val tagged = audioSegmentsTagged(media, idCol, payloadCol)
    val segs = tagged.filter(_.seg_flat.isDefined)
      .flatMap { t =>
        val flat = t.seg_flat.get
        (0 until Segments).iterator.map { s =>
          AudioSegment(t.id, s, java.util.Arrays.copyOfRange(
            flat, s * SegBits, (s + 1) * SegBits))
        }
      }
    val rejects = tagged.filter(_.reason.isDefined)
      .map(t => AudioReject(t.id, t.n_bytes, t.reason.get))
    (segs, rejects)
  }

  /** Segment-vote near-dup pairs straight from payloads: ONE decode
    * pass (the miner cuts its packed codes internally — see
    * [[VectorOps.slotVotePairs]]).
    */
  def audioSegmentVotePairs(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 0,
      minVotes: Int = 3): DataFrame =
    VectorOps.slotVotePairs(audioSegments(media, idCol, payloadCol)._1.toDF(),
      "id", "slot", "seg_diff",
      radius = radius, nBands = nBands, minVotes = minVotes)

  /** Clip-in-recording LOCALIZATION straight from payloads: ONE decode
    * pass, then [[VectorOps.slotAlignPairs]] — the dominant segment
    * offset and its aligned votes per clip pair.
    */
  def audioSegmentAlignPairs(
      media: DataFrame,
      idCol: String,
      payloadCol: String,
      radius: Int = 6,
      nBands: Int = 0,
      minVotes: Int = 3): DataFrame =
    VectorOps.slotAlignPairs(audioSegments(media, idCol, payloadCol)._1.toDF(),
      "id", "slot", "seg_diff",
      radius = radius, nBands = nBands, minVotes = minVotes)

  /** The wide signature of a STANDALONE clip treated as a single
    * segment ([[segmentDiffs]] with segments = 1): a snippet whose
    * samples ARE an excerpt covering one fifth of a recording yields
    * the same spectral grid — hence the same 256 differences — as that
    * recording's segment, so snippet-vs-segment Hamming matching finds
    * "this known audio appears in that recording".
    */
  def snippetDiff(samples: Array[Double], sampleRate: Double): Array[Double] =
    segmentDiffs(samples, sampleRate, segments = 1)(0)

  final case class SnippetCode(id: Long, snip_diff: Array[Double])

  private implicit val snipEnc: org.apache.spark.sql.Encoder[SnippetCode] =
    org.apache.spark.sql.Encoders.product[SnippetCode]

  /** Cross-relation content probe — "does this known SNIPPET (a
    * jingle, a watermark tone, a banned recording) appear in any
    * recording": snippets decode to single wide signatures
    * ([[snippetDiff]]), recordings to their [[Segments]] segment
    * signatures, matched at Hamming ≤ `radius` through
    * [[VectorOps.slotProbePairs]] (one banded join — the probe library
    * is never broadcast). Output: `(probe_id, id, slot, hamming)` =
    * snippet, containing recording, matched segment. Undecodable
    * payloads are dropped; snippet and recording ids must be disjoint.
    */
  def audioSnippetProbe(
      snippets: DataFrame,
      snipIdCol: String,
      snipPayloadCol: String,
      recordings: DataFrame,
      recIdCol: String,
      recPayloadCol: String,
      radius: Int = 6,
      nBands: Int = 0): DataFrame = {
    val probes = snippets.select(col(snipIdCol).cast("long").as("id"),
        col(snipPayloadCol).as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, p) =>
          decodeSamples(p).toOption.map { case (samples, sr) =>
            SnippetCode(id, snippetDiff(samples, sr))
          }
        }
      }
      .toDF()
    val segs = audioSegments(recordings, recIdCol, recPayloadCol)._1.toDF()
    VectorOps.slotProbePairs(probes, "id", "snip_diff",
      segs, "id", "slot", "seg_diff", radius = radius, nBands = nBands)
  }

  // ------------------------------------------------------------------
  // Deterministic stub-decode twin (SQL-replayable, the gate path)
  // ------------------------------------------------------------------

  /** Stub spectral-grid cell j (row-major 9 × 9) for a document:
    * `(id·(2j+5) + len·(3j+7)) mod 241` — pure BIGINT arithmetic both
    * engines compute identically (241 keeps cells byte-like;
    * deliberately a DIFFERENT recurrence than [[Phash.stubGridCell]]
    * so the two stub corpora don't alias). This is the clearly-marked
    * deterministic FAKE DECODE standing in for [[spectralGrid]];
    * nothing downstream of the grid differs from the real-audio path.
    */
  def stubGridCell(id: Column, len: Column, j: Int): Column =
    pmod(id.cast("long") * lit(2L * j + 5L) + len.cast("long") * lit(3L * j + 7L),
      lit(241L))

  /** The stub twin of [[hkDiff]] as ONE Catalyst array expression: 64
    * integer double-difference elements whose sign pack is the stub
    * fingerprint. (Callers joining this against anything: cut it
    * eagerly first — the q213 JIT-cliff note on fused 64-element array
    * expressions.)
    */
  def stubHkDiff(id: Column, len: Column): Column =
    array((0 until Bits).map { i =>
      val t = i / (Bands - 1)
      val b = i % (Bands - 1)
      def cell(tt: Int, bb: Int): Column = stubGridCell(id, len, tt * Bands + bb)
      ((cell(t + 1, b) - cell(t + 1, b + 1)) - (cell(t, b) - cell(t, b + 1)))
        .cast("double")
    }: _*)

  /** Stub segment-grid cell j of segment `slot`: `(id·(2j+5)·(j+3) +
    * len·(3j+7)·(j+2) + (slot+1)·(5j+13)·(j+4)) mod 1019` — QUADRATIC
    * in j (the [[VideoHash.stubFrameCell]] lesson: linear-in-j stub
    * families collapse into one rotation family whose members sit a
    * few bits apart — pair mining needs a spread-out code family),
    * constants distinct from the image (251/1021) and whole-clip-audio
    * (241) stubs, `slot` as a COLUMN so one expression serves an
    * exploded slot relation.
    */
  def stubSegGridCell(id: Column, len: Column, slot: Column, j: Int): Column =
    pmod(id.cast("long") * lit((2L * j + 5L) * (j + 3L))
      + len.cast("long") * lit((3L * j + 7L) * (j + 2L))
      + (slot.cast("long") + lit(1L)) * lit((5L * j + 13L) * (j + 4L)),
      lit(1019L))

  /** The stub twin of a segment's [[segmentDiffs]] element: 256
    * differences over the stub 9 × 9 segment grid in the four-family
    * layout (H–K mixed / time / band / diagonal gradients, t, b ∈
    * 0..7). Same eager-cut note
    * as [[stubHkDiff]] — and for SLOT-exploded relations use
    * [[stubSegHkDiffScalar]] through a typed map instead: at 4 cells
    * per element the fused Catalyst expression is even further past
    * the JIT budget than the video stub (measured 97 s of a 64×-probe
    * run interpreted vs ~3 s with the scalar kernel).
    */
  def stubSegHkDiff(id: Column, len: Column, slot: Column): Column =
    array((0 until SegBits).map { i =>
      def cell(tt: Int, bb: Int): Column =
        stubSegGridCell(id, len, slot, tt * Bands + bb)
      val k = i % 64
      val t = k / 8
      val b = k % 8
      (i / 64 match {
        case 0 => (cell(t + 1, b) - cell(t + 1, b + 1)) - (cell(t, b) - cell(t, b + 1))
        case 1 => cell(t + 1, b) - cell(t, b)
        case 2 => cell(t, b + 1) - cell(t, b)
        case _ => cell(t + 1, b + 1) - cell(t, b)
      }).cast("double")
    }: _*)

  /** [[stubSegHkDiff]] as a plain-JVM kernel (trivially JIT-able) for
    * typed maps over slot-exploded relations — bit-for-bit the Column
    * expression's values (AudioHashSpec pins scalar ≡ Column ≡ the
    * replayed integer formula).
    */
  def stubSegHkDiffScalar(id: Long, len: Long, slot: Long): Array[Double] = {
    def cell(j: Int): Long = {
      val v = (id * ((2L * j + 5L) * (j + 3L)) + len * ((3L * j + 7L) * (j + 2L))
        + (slot + 1L) * ((5L * j + 13L) * (j + 4L))) % 1019L
      if (v < 0) v + 1019L else v
    }
    def c(tt: Int, bb: Int): Long = cell(tt * Bands + bb)
    val out = new Array[Double](SegBits)
    var i = 0
    while (i < SegBits) {
      val k = i % 64
      val t = k / 8
      val b = k % 8
      out(i) = ((i / 64 match {
        case 0 => (c(t + 1, b) - c(t + 1, b + 1)) - (c(t, b) - c(t, b + 1))
        case 1 => c(t + 1, b) - c(t, b)
        case 2 => c(t, b + 1) - c(t, b)
        case _ => c(t + 1, b + 1) - c(t, b)
      })).toDouble
      i += 1
    }
    out
  }
}
