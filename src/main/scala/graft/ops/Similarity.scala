package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SRP-LSH similarity join: embedding-cosine near-duplicate PAIRS
  * without the all-pairs cross product — the scale path for the
  * relation [[Dedup.embeddingNearDupPairs]] computes exactly.
  *
  * Same pipeline shape as [[Dedup.minhashLshPairs]]:
  * map (bucket sketch) → shuffle only (table, bucket, id) → per-bucket
  * equi-join → exact-cosine verify on the candidate pairs. The verify
  * step makes the output a SUBSET of the exact relation (precision 1);
  * recall is governed by (planes, tables, probing) and measured against
  * the exact relation in DedupSpec.
  *
  * Recall math (for parameter choice): two vectors at angle θ agree on
  * one hyperplane sign with p = 1 − θ/π. A table of `b` planes catches
  * the pair with p^b exactly, or p^b + b·p^(b−1)(1−p) with Hamming-1
  * probing; `t` independent tables make a miss (1 − catch)^t.
  *   - near-dup regimes: AT the cosine-0.9 boundary (p ≈ 0.856),
  *     16 planes × 8 tables gives recall ≈ 0.95 with Hamming-1 probing
  *     (≈ 0.50 without); recall rises fast above the boundary (≈ 0.999
  *     at cosine 0.95) because real near-dups sit well inside it. But
  *     NO fixed (planes, tables) is a 100 TB setting — planes must
  *     track log₂ n or the candidate join goes quadratic (measured:
  *     see [[srpParamsFor]]) — so the production entry point is
  *     [[srpNearDupPairsAuto]], which solves both knobs from the
  *     corpus size and this same recall math (q61 runs it).
  *   - loose thresholds (cosine ≈ 0.4, p ≈ 0.63): few planes + probing
  *     is required (q59 uses 5 × 12 → theoretical recall ≈ 0.997 at
  *     the boundary, higher inside it); candidate volume rises
  *     accordingly because a 0.4-cosine "join" is close to a random
  *     relation — LSH cannot be sublinear on a relation that is itself
  *     near-quadratic.
  *
  * 100 TB notes: buckets carry only (table, bucket, id) — the dim-D
  * vectors never enter the candidate shuffle; the verify join fetches
  * them once per surviving pair. `maxBucket` drops degenerate buckets
  * (e.g. the all-zero vector's) before the self-join, the same skew
  * guard as the MinHash path.
  */
object Similarity {

  /** Planes that hold expected SRP bucket occupancy near
    * `targetOccupancy` at corpus size `n`: ⌈log2(n / targetOccupancy)⌉.
    *
    * This is the knob that must TRACK the corpus. For fixed planes the
    * per-table candidate join emits ~ n²·(planes+1) / 2^planes rows —
    * QUADRATIC in n once buckets saturate, and invisible to the
    * `maxBucket` skew guard because the growth is diffuse (every bucket
    * fattens together, none crosses the cap). Measured at the 64×
    * scale probe: the 16-plane production regime that runs q61 in ~1 s
    * on 4k vectors took 230× longer on 256k vectors (mean occupancy 4
    * — harmless-looking — but ~66 probe postings per bucket per table);
    * re-probing with planes from this rule restored near-linear cost.
    * Recall at a given planes count is threshold-math, not corpus-size
    * math (see the object scaladoc), so growing planes with log n keeps
    * the SAME recall regime while keeping occupancy — and join volume
    * per row — constant. Floor 4 keeps tiny corpora off the degenerate
    * 1-bucket path.
    */
  def srpPlanesFor(n: Long, targetOccupancy: Int = 8): Int = {
    require(targetOccupancy >= 1, "targetOccupancy must be >= 1")
    if (n <= targetOccupancy) 4
    else math.max(4, math.ceil(
      math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt)
  }

  /** Per-table probability that a pair AT cosine `threshold` lands in
    * the same bucket, with Hamming-1 probing — the closed form the
    * object scaladoc derives: p^b + b·p^(b−1)·(1−p), p = 1 − θ/π.
    */
  def srpCatchProb(planes: Int, threshold: Double): Double = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    math.pow(p, planes) + planes * math.pow(p, planes - 1) * (1.0 - p)
  }

  /** Standard normal CDF via the Abramowitz–Stegun 7.1.26 erf
    * approximation (|err| < 1.5e-7 — ample for a solver whose outputs
    * are small integers).
    */
  private def stdNormCdf(z: Double): Double = {
    val x = z / math.sqrt(2.0)
    val t = 1.0 / (1.0 + 0.3275911 * math.abs(x))
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t * math.exp(-x * x)
    val erf = if (x >= 0) y else -y
    0.5 * (1.0 + erf)
  }

  /** Capture probabilities for query-directed Hamming-1 probing:
    * element p is P(the flipped plane ranks among the probe-side
    * vector's p smallest |margin| planes | the pair disagrees on exactly
    * that plane), for p = 0..planes.
    *
    * Derivation (projections ≈ N(0,1) by CLT over dims; planes iid):
    * write z = u·a for the probe-side vector a and a plane normal u,
    * and w for the unit vector completing b = a·cosθ + w·sinθ. Then
    * u·b = z·cosθ + (u·w)·sinθ with u·w ~ N(0,1) independent of z, so
    * P(sign flip | margin z) = Φ(−|z|·cotθ) — flips concentrate on
    * low-margin planes, which is the whole reason directed probing
    * works. The flipped plane's margin density is therefore
    * g1(z) ∝ φ(z)·Φ(−z·cotθ) (integrates to θ/π, the per-plane flip
    * rate) while each non-flipped plane's is g0(z) ∝ φ(z)·(1−Φ(−z·cotθ)),
    * and
    *
    *   capture(p) = ∫ g1(z) · P(Binomial(planes−1, G0(z)) ≤ p−1) dz
    *
    * — the probability that fewer than p of the other planes have a
    * smaller margin. Evaluated by deterministic trapezoid quadrature on
    * z ∈ [0, 8] (the integrand is smooth and sub-Gaussian); capture(planes)
    * = 1 recovers the full-probe closed form exactly (pinned in
    * DedupSpec).
    */
  def srpProbeCapture(planes: Int, threshold: Double): Array[Double] = {
    require(threshold > 0 && threshold < 1, s"threshold=$threshold not in (0,1)")
    require(planes >= 1, "planes must be >= 1")
    val theta = math.acos(threshold)
    val cot = threshold / math.sin(theta)
    val flip = theta / math.Pi
    val n = 800
    val h = 8.0 / n
    val g1 = new Array[Double](n + 1)
    val g0 = new Array[Double](n + 1)
    var i = 0
    while (i <= n) {
      val z = i * h
      val pdf = 2.0 * math.exp(-z * z / 2) / math.sqrt(2 * math.Pi)
      val pf = stdNormCdf(-z * cot)
      g1(i) = pdf * pf / flip
      g0(i) = pdf * (1 - pf) / (1 - flip)
      i += 1
    }
    val bigG0 = new Array[Double](n + 1)
    i = 1
    while (i <= n) { bigG0(i) = bigG0(i - 1) + (g0(i - 1) + g0(i)) * h / 2; i += 1 }
    val g0Tot = bigG0(n)
    i = 0
    while (i <= n) { bigG0(i) /= g0Tot; i += 1 }
    val logFact = new Array[Double](planes + 1)
    i = 2
    while (i <= planes) { logFact(i) = logFact(i - 1) + math.log(i.toDouble); i += 1 }
    val b = planes - 1
    def logChoose(k: Int) = logFact(b) - logFact(k) - logFact(b - k)
    val acc = new Array[Double](planes + 1)
    var g1Tot = 0.0
    i = 0
    while (i <= n) {
      val w = (if (i == 0 || i == n) 0.5 else 1.0) * h
      val u = bigG0(i)
      var cdf = 0.0
      var k = 0
      while (k <= b) {
        val pmf =
          if (u <= 0) { if (k == 0) 1.0 else 0.0 }
          else if (u >= 1) { if (k == b) 1.0 else 0.0 }
          else math.exp(logChoose(k) + k * math.log(u) + (b - k) * math.log1p(-u))
        cdf = math.min(1.0, cdf + pmf)
        acc(k + 1) += w * g1(i) * cdf
        k += 1
      }
      g1Tot += w * g1(i)
      i += 1
    }
    val out = new Array[Double](planes + 1)
    var p = 1
    while (p <= planes) { out(p) = math.min(1.0, acc(p) / g1Tot); p += 1 }
    out
  }

  /** Per-table catch probability with `probes`-plane directed probing:
    * p^b (exact bucket) + b·p^(b−1)·(1−p)·capture (the Hamming-1 flip
    * landed on a probed plane). `capture` comes from
    * [[srpProbeCapture]]; at capture = 1 this is [[srpCatchProb]].
    */
  def srpDirectedCatchProb(
      planes: Int, threshold: Double, capture: Double): Double = {
    val p = 1.0 - math.acos(threshold) / math.Pi
    math.pow(p, planes) + planes * math.pow(p, planes - 1) * (1.0 - p) * capture
  }

  /** Per-table per-row sketch cost in posting-row equivalents, PER
    * PLANE: each extra table re-hashes the vector against all `planes`
    * hyperplanes (planes × dim multiplies) across the three map passes
    * of the candidate plan. Calibrated on the sf0.1 twin corpus: at
    * b=13, (t=21, p=0) measured 2.12 s,
    * (t=12, p=1) 1.40 s, (t=8, p=3) 1.27 s, (t=6, full probe) 1.88 s —
    * a pure posting-volume model (α = 0) inverts that ordering and
    * picks the slow many-tables/no-probe corner; α ≈ 0.4 reproduces it.
    */
  private val SketchCostPerPlane = 0.4

  /** (planes, tables, probes) for corpus size `n` and cosine
    * `threshold` — [[srpParamsFor]] extended with the probe count as a
    * third solved knob. For each (b, p) the recall target forces the
    * table count exactly as in [[srpParamsFor]] (with the directed
    * catch), and the expected per-row cost is
    *
    *   tables · ( α·b   +   (p+2)   +   (p+1) · n / 2^b )
    *            sketch     postings     probe-join feed
    *
    * (α = [[SketchCostPerPlane]], measured; the old solver's pure
    * posting model made "many tables, no probing" look free when each
    * table in fact costs a full re-hash of every vector). Full probing
    * (p = b) is in the search space, so the directed optimum never
    * costs more than full probing under this model — it trades a few
    * extra tables for a much smaller posting fan-out, because the flip
    * mass concentrates on low-margin planes and small p keeps most of
    * the Hamming-1 catch. Solved, like planes, because the right p is
    * a function of (threshold, recall) through the capture curve — not
    * a constant.
    *
    * `probing = false` restricts the search to p = 0 (capture 0, so the
    * per-table catch is the exact-bucket p^b): the solve a caller gets
    * when the probe path is disabled entirely — without it the solver
    * would hand back (planes, tables) that only meet the recall target
    * WITH the probe catch they asked to turn off.
    */
  def srpParamsDirectedFor(
      n: Long,
      threshold: Double,
      targetRecall: Double = 0.95,
      maxTables: Int = 64,
      probing: Boolean = true): (Int, Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold=$threshold not in (0,1)")
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall=$targetRecall not in (0,1)")
    require(maxTables >= 1, "maxTables must be >= 1")
    val candidates = for {
      b <- 4 to 48
      cap = srpProbeCapture(b, threshold)
      p <- 0 to (if (probing) b else 0)
      c = srpDirectedCatchProb(b, threshold, cap(p))
      if c > 0 && c < 1
      t = math.max(1, math.ceil(
        math.log(1.0 - targetRecall) / math.log(1.0 - c)).toInt)
      if t <= maxTables
    } yield {
      val cost = t * (SketchCostPerPlane * b + (p + 2).toDouble +
        (p + 1).toDouble * n.toDouble / math.pow(2.0, b))
      (b, t, p, cost)
    }
    require(candidates.nonEmpty,
      s"srpParamsDirectedFor: recall $targetRecall at threshold $threshold " +
        s"unreachable within $maxTables tables for any planes in [4, 48] — " +
        "relax the target or raise maxTables")
    val (b, t, p, _) = candidates.minBy(_._4)
    (b, t, p)
  }

  /** (planes, tables) for corpus size `n` and cosine `threshold` —
    * the operating rule, solved instead of hand-tuned.
    *
    * For each candidate planes count b, the recall target FORCES the
    * table count (a boundary pair's miss is (1 − catch(b))^tables, so
    * tables = ⌈log(1−R) / log(1−catch(b))⌉ — n-independent), and the
    * expected per-row cost is then
    *
    *   tables(b) · [ (b+1)  +  (b+1)·n / 2^b ]
    *                 postings   probe-join feed
    *
    * The rule scans b and returns the cost minimum with tables ≤
    * `maxTables` (the cap rejects the degenerate tail where catch
    * collapses and tables explodes — at loose thresholds an uncapped
    * solver asks for hundreds of sketch passes).
    *
    * Why solved and not fixed: the feed term is where fixed planes go
    * QUADRATIC — ~n²·(b+1)/2^b rows per table once buckets saturate,
    * invisible to the maxBucket guard because the growth is diffuse
    * (every bucket fattens, none crosses the cap). Measured at the 64×
    * probe: the hand-tuned 16-plane/8-table regime that runs 4k vectors
    * in ~1 s took 230× longer on 256k vectors; the solved parameters
    * restore near-linear cost at the same recall target, which holds by
    * construction at every n. For tight thresholds the optimum tracks
    * log₂ n as intuition says; for loose ones (≈0.4) the minimum cost
    * itself grows ~linearly per row — the relation is near-quadratic
    * and no parameterization is sublinear on it (see the object
    * scaladoc).
    */
  def srpParamsFor(
      n: Long,
      threshold: Double,
      targetRecall: Double = 0.95,
      maxTables: Int = 64): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold=$threshold not in (0,1)")
    require(targetRecall > 0 && targetRecall < 1, s"targetRecall=$targetRecall not in (0,1)")
    require(maxTables >= 1, "maxTables must be >= 1")
    val candidates = for {
      b <- 4 to 48
      c = srpCatchProb(b, threshold)
      if c > 0 && c < 1
      t = math.max(1, math.ceil(
        math.log(1.0 - targetRecall) / math.log(1.0 - c)).toInt)
      if t <= maxTables
    } yield {
      val feed = (b + 1).toDouble * n.toDouble / math.pow(2.0, b)
      (b, t, t * ((b + 1).toDouble + feed))
    }
    require(candidates.nonEmpty,
      s"srpParamsFor: recall $targetRecall at threshold $threshold unreachable " +
        s"within $maxTables tables for any planes in [4, 48] — relax the target " +
        "or raise maxTables")
    val (b, t, _) = candidates.minBy(_._3)
    (b, t)
  }

  /** Candidate pairs (id_a < id_b) sharing an SRP bucket in at least one
    * of `tables` hash tables — Hamming-1 probed: pairs whose buckets
    * differ by ONE plane sign in some table are also caught (the
    * dominant miss mode for SRP), at (planes+1)× posting volume on one
    * join side only. With `probePlanes` in [0, planes) the probing is
    * query-DIRECTED: only the probePlanes lowest-|margin| planes expand,
    * cutting probe postings to (probePlanes+1)× at a capture probability
    * [[srpProbeCapture]] computes in closed form (the recall model is
    * one-sided — the smaller id's probe set must contain the flipped
    * plane — exactly matching the `id_a < id_b` orientation filter
    * below, which keeps the probe-side-is-smaller-id ordering).
    *
    * Skew bound: the exact-side guard drops buckets over `maxBucket`,
    * and probe postings are pruned to buckets that survived it, so a
    * join key's fan-in is ≤ maxBucket exact postings × (planes+1)·
    * maxBucket probed postings (each of the planes+1 contributing
    * neighbor buckets is itself capped) — the per-key worst case is
    * (planes+1)·maxBucket², bounded, not corpus-dependent.
    *
    * `coverageGuard` (opt-in) runs one small eager aggregate over the
    * per-bucket counts at PLAN BUILD time: if the skew guard would drop
    * EVERY posting (corpus ≫ 2^planes × maxBucket, e.g. too few
    * planes), the result would be silently empty — indistinguishable
    * from "no near-dups" — so that case throws, and dropping >50 %
    * warns on stderr. It is off by default because the check is a
    * second full pass over the bucketing subplan and makes a lazy plan
    * builder run cluster work; turn it on for unattended jobs where an
    * empty output would be trusted (DedupSpec pins both modes).
    */
  def srpCandidatePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int,
      tables: Int,
      maxBucket: Int = 10000,
      probe: Boolean = true,
      coverageGuard: Boolean = false,
      probePlanes: Int = -1): DataFrame = {
    // The sketch expressions read float arrays natively (widening each
    // element exactly — bit-identical buckets), so the common
    // array<float> embedding column skips the per-row double-array
    // materialization; other element types still cast first.
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val raw = df.schema(vecCol).dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => col(vecCol)
      case _ => VectorOps.toDoubleVec(col(vecCol))
    }
    val v = df.select(col(idCol), raw.as("dv"))
    // One row per (table, exact bucket, id): the only payload that shuffles.
    val buckets = v.select(col(idCol),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          VectorOps.srpBucket(col("dv"), planes, t * planes).as("bucket"))): _*)).as("tb"))
      .select(col(idCol), col("tb.tbl"), col("tb.bucket"))
    // Skew guard identical to minhashLshPairs: oversized buckets are tiny
    // by construction, so they broadcast as an anti-join.
    val bucketCounts = buckets.groupBy("tbl", "bucket")
      .agg(count(lit(1)).as("bucket_n"))
    val oversized = bucketCounts
      .filter(col("bucket_n") > maxBucket)
      .select("tbl", "bucket")
    if (coverageGuard) {
      val st = bucketCounts.agg(
        coalesce(sum("bucket_n"), lit(0L)).as("total"),
        coalesce(sum(when(col("bucket_n") > maxBucket, col("bucket_n"))
          .otherwise(0L)), lit(0L)).as("dropped")).head()
      val (total, dropped) = (st.getLong(0), st.getLong(1))
      if (total > 0 && dropped == total)
        throw new IllegalStateException(
          s"srpCandidatePairs: skew guard (maxBucket=$maxBucket) would drop ALL " +
            s"$total postings — every bucket is oversized, the result would be " +
            "silently empty. Raise maxBucket or planes (finer buckets).")
      if (total > 0 && dropped * 2 > total)
        System.err.println(
          s"[graft] srpCandidatePairs: skew guard dropped $dropped/$total postings " +
            s"(maxBucket=$maxBucket, planes=$planes) — recall may be poor; " +
            "consider more planes or a larger maxBucket.")
    }
    val capped = buckets.join(broadcast(oversized), Seq("tbl", "bucket"), "left_anti")
    // Probe side: each posting also lands in its Hamming-1 neighbor
    // buckets. Probing ONE side suffices — hamming(bx, by) <= 1 is
    // symmetric, and least/greatest+distinct canonicalizes the pair.
    // Probed postings aimed at a bucket the exact side dropped can join
    // nothing — prune them before they shuffle, which also makes the
    // per-key fan-in bound in the scaladoc tight.
    val probeSide =
      if (!probe) capped
      else if (probePlanes >= 0 && probePlanes < planes) {
        // Query-DIRECTED probing: expand only the probePlanes
        // lowest-|margin| planes (margin = |projection|, recomputed
        // inside the native posting-set expression) instead of all of
        // them — flip mass concentrates on low-margin planes (see
        // [[srpProbeCapture]]), so this keeps most of the Hamming-1
        // catch at (probePlanes+1)/(planes+1) of the posting volume.
        // The first anti-join applies the skew guard to the row's EXACT
        // bucket (same rows as `capped`), the second to the probed
        // targets — both identical to the full-probe path.
        v.select(col(idCol),
            explode(array((0 until tables).map(t =>
              struct(lit(t).as("tbl"),
                VectorOps.srpProbeBuckets(
                  col("dv"), planes, t * planes, probePlanes).as("pb"))): _*)).as("tb"))
          .select(col(idCol), col("tb.tbl").as("tbl"),
            col("tb.pb").getItem(0).as("bucket"), col("tb.pb").as("pb"))
          .join(broadcast(oversized), Seq("tbl", "bucket"), "left_anti")
          .select(col(idCol), col("tbl"), explode(col("pb")).as("bucket"))
          .join(broadcast(oversized), Seq("tbl", "bucket"), "left_anti")
      } else capped.select(col(idCol),
        col("tbl"),
        explode(array_union(array(col("bucket")),
          transform(sequence(lit(0), lit(planes - 1)),
            p => col("bucket").bitwiseXOR(call_function("shiftleft", lit(1L), p))))).as("bucket"))
        .join(broadcast(oversized), Seq("tbl", "bucket"), "left_anti")
    // `id_p < id_f` instead of `=!=` + least/greatest: probing is
    // symmetric (hamming-0 pairs share a surviving bucket so both
    // orderings appear; hamming-1 pairs appear once per direction via
    // each side's XOR posting), so every caught pair arrives in BOTH
    // orders and keeping one halves the join output feeding the
    // distinct (8.9M -> 4.45M raw pairs at sf0.1, measured ~25% off
    // the q59 wall time). The one asymmetry: when the skew guard
    // dropped exactly one of a hamming-1 pair's two buckets, only one
    // ordering exists and the filter keeps it iff the probe side is
    // the smaller id — under heavy skew a per-table catch can halve,
    // across `tables` independent tables a negligible recall effect
    // (DedupSpec's recall gate covers the unskewed regimes exactly).
    probeSide.select(col("tbl"), col("bucket"), col(idCol).as("id_a"))
      .join(capped.select(col("tbl"), col("bucket"), col(idCol).as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      // Dedup BEFORE verify: a pair that agrees in k tables would
      // otherwise pay k dim-D dot products; the id-pair distinct is a
      // narrow two-long shuffle (measured 11.5s → 6.5s at sf0.1 on the
      // verify-duplicates alternative).
      .distinct()
  }

  /** Vector-table row count up to which the verify joins broadcast the
    * (id, vector, norm) relation instead of sort-merge joining it.
    * At dim 64 float this is ~280 MB hashed per executor — routine
    * dimension-table territory — and it converts the verify's dominant
    * cost, the candidate-pair × vector sort exchange (22.6M pairs ×
    * ~280 B at the 64× probe, the stage whose sort spill measured
    * 23–70 s run-to-run), into two map-side lookups over ONE reused
    * broadcast. AQE cannot make this call itself: the relation is an
    * operator-internal subplan with no stats, so it always lands on the
    * conservative SMJ. Above the bound the plan stays SMJ — the 100 TB
    * path, where the vector table is nothing like a dimension table.
    *
    * The row bound alone is NOT the gate: a 1M-row corpus at dim 3072
    * double is ~24 GB — past Spark's 8 GB broadcast hard limit and any
    * sane driver heap — so [[srpNearDupPairs]] also estimates the
    * relation's bytes from the schema's element width and the measured
    * vector length and only broadcasts under
    * [[VerifyBroadcastMaxBytes]].
    */
  val VerifyBroadcastMaxRows: Long = 1L << 20

  /** Estimated-size ceiling for the forced verify broadcast:
    * rows × (dim × elemBytes + per-row overhead) must stay under this.
    * 1 GiB — large for a default dimension table but deliberate here
    * (the alternative is the measured 23–70 s sort spill), and an 8×
    * margin under Spark's 8 GB broadcast hard limit. At dim 64 float
    * the full [[VerifyBroadcastMaxRows]] corpus estimates ~0.3 GiB and
    * broadcasts, as before; a dim-3072 double corpus crosses the line
    * at ~40k rows and stays on SMJ.
    */
  val VerifyBroadcastMaxBytes: Long = 1L << 30

  /** Near-duplicate pairs above a cosine threshold via SRP-LSH candidates
    * + exact verify. Output schema and rounding match
    * [[Dedup.embeddingNearDupPairs]] so recall is directly measurable.
    *
    * `knownRows`: the corpus row count, if the caller has it (the Auto
    * entry point counts anyway to solve its knobs). Non-negative,
    * ≤ [[VerifyBroadcastMaxRows]], AND estimated bytes (from the
    * schema's element width × measured vector length) under
    * [[VerifyBroadcastMaxBytes]] → the verify joins broadcast the
    * vector relation; negative (default) → no size claim, SMJ verify.
    */
  def srpNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planes: Int = 16,
      tables: Int = 8,
      maxBucket: Int = 10000,
      probe: Boolean = true,
      coverageGuard: Boolean = false,
      probePlanes: Int = -1,
      knownRows: Long = -1L): DataFrame = {
    // Zero-norm vectors excluded (cosine would be NaN, which Spark
    // orders ABOVE the threshold) — same contract as the exact relation
    // in Dedup.embeddingNearDupPairs. The verify joins carry the RAW
    // vector column (float for the embeddings tables) and widen to
    // double only inside the dot, AFTER both joins: each float widens
    // exactly, so the cosine is bit-identical to the
    // materialize-doubles-first form, while the candidate×vector rows
    // sorted through the two verify exchanges — the measured dominant
    // (and spill-prone) stage of the 64× run: 22.6M candidate pairs ×
    // a 512-byte double vector before this change — carry half the
    // bytes. The dot reads the float arrays NATIVELY (graft_dot widens
    // per element inside its loop): wrapping the carried floats in
    // toDoubleVec here re-materialized a double array per candidate
    // pair per side, which was the whole round-8 q59 clean-line drift
    // (3.55 → 4.33 s at millions of loose-threshold pairs).
    // float/double pass through raw; any other element type (int, …)
    // casts to double first — same contract as the sketch side in
    // srpCandidatePairs and VectorOps.rawVec.
    val v = df.select(col(idCol), VectorOps.rawVec(df, vecCol).as("rawv"))
      .withColumn("nrm", VectorOps.l2Norm(col("rawv")))
      .filter(col("nrm") > 0)
    val candidates =
      srpCandidatePairs(df, idCol, vecCol, planes, tables, maxBucket, probe,
        coverageGuard, probePlanes)
    // Broadcast gate: rows AND estimated bytes. The row count is what
    // the caller already has; the byte estimate needs the vector length,
    // read from one row (a take(1) job — trivial next to the count the
    // auto path already ran, and only paid when the row gate passes).
    val hint: DataFrame => DataFrame =
      if (knownRows < 0 || knownRows > VerifyBroadcastMaxRows) identity
      else {
        import org.apache.spark.sql.types.{ArrayType, FloatType}
        val elemBytes = df.schema(vecCol).dataType match {
          case ArrayType(FloatType, _) => 4L
          case _ => 8L // double, or cast-to-double by rawVec
        }
        val dim = v.select(size(col("rawv"))).take(1) match {
          case Array(r) if !r.isNullAt(0) => r.getInt(0).toLong
          case _ => 0L
        }
        // 48 B/row slack: id + norm + array header + hash-relation entry
        val estBytes = knownRows * (dim * elemBytes + 48L)
        if (estBytes <= VerifyBroadcastMaxBytes) broadcast else identity
      }
    candidates
      .join(hint(v.select(col(idCol).as("id_a"), col("rawv").as("v_a"), col("nrm").as("nrm_a"))), Seq("id_a"))
      .join(hint(v.select(col(idCol).as("id_b"), col("rawv").as("v_b"), col("nrm").as("nrm_b"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.dot(col("v_a"), col("v_b")) /
          (col("nrm_a") * col("nrm_b")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** [[srpNearDupPairs]] with (planes, tables, probes) solved from the
    * corpus size by [[srpParamsDirectedFor]] — the caller states the
    * semantic contract (threshold, recall target, per-row candidate
    * budget) and the knobs that must track corpus size do so
    * automatically, including the query-directed probe count (full
    * probing is in the solver's search space, so this is never costed
    * worse than the round-7 full-probe auto path). Costs one count()
    * over the input (cheap next to either a wrong-planes run or the
    * join itself); callers who know n can call [[srpParamsDirectedFor]]
    * and the explicit overload directly.
    */
  def srpNearDupPairsAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      targetRecall: Double = 0.95,
      maxTables: Int = 64,
      maxBucket: Int = 10000,
      probe: Boolean = true,
      coverageGuard: Boolean = false): DataFrame = {
    // probe=false re-solves with capture 0 (p pinned to 0) — otherwise
    // the returned (planes, tables) only meet the recall target WITH
    // the probe catch the caller just disabled.
    val n = df.count()
    val (planes, tables, probes) =
      srpParamsDirectedFor(n, threshold, targetRecall, maxTables,
        probing = probe)
    // the count the solver needed doubles as the verify-broadcast stat
    srpNearDupPairs(df, idCol, vecCol, threshold, planes, tables, maxBucket,
      probe, coverageGuard, probePlanes = probes, knownRows = n)
  }

  /** Cosine-threshold calibration: the cosine distribution of a
    * deterministic pseudo-random pair sample, as a fixed-width
    * histogram over [−1, 1] — the baseline every similarity threshold
    * in this engine (SemDeDup 0.9, near-dup 0.4/0.9, the LSH solvers'
    * θ) should be read against: a threshold is only selective if it
    * sits far in the tail of the RANDOM-pair distribution, and that
    * distribution shifts with dimension and with how embeddings were
    * trained, so it has to be measured per corpus, not assumed.
    *
    * Each vector is paired with ONE partner drawn by the engine's
    * seeded integer mix ([[Sampling.seededMix]] semantics): partner =
    * mix(id) mod (maxId + 1) — a pure row-local function of the id, so
    * the sample is reproducible by any engine (the q86/q122/q126 LCG
    * replay pattern) and the relation is n pairs, never n². Self-pairs
    * and partners that miss (id gaps) drop out; zero-norm vectors on
    * either side drop (cosine undefined). Output per bucket
    * (`width`-wide, left edge inclusive; cosine 1.0 folds into the top
    * bucket): `(bucket_lo, n_pairs, frac)` of surviving pairs.
    *
    * Scale shape: one scalar max-id agg (broadcast), a map-only
    * partner column, ONE id-keyed equi-join (each side exchanges once,
    * corpus-linear), a map-only cosine, and a ≤ ⌈2/width⌉-key hash
    * agg — no all-pairs product anywhere.
    */
  def cosineCalibration(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      seed: Long = 42L,
      width: Double = 0.1,
      roundTo: Int = 6): DataFrame = {
    require(width > 0 && width <= 2.0, s"width=$width out of (0, 2]")
    val v = df.select(col(idCol).cast("long").as(idCol),
        VectorOps.toDoubleVec(col(vecCol)).as("_cc_v"))
      .withColumn("_cc_n", VectorOps.l2Norm(col("_cc_v")))
      .filter(col("_cc_n") > 0)
    val maxId = v.agg(max(col(idCol))).head().getLong(0) + 1
    val left = v.select(col(idCol),
        pmod(Sampling.seededMix(col(idCol), seed), lit(maxId)).as("_cc_p"),
        col("_cc_v").as("_cc_av"), col("_cc_n").as("_cc_an"))
      .filter(col("_cc_p") =!= col(idCol))
    val right = v.select(col(idCol).as("_cc_p"),
      col("_cc_v").as("_cc_bv"), col("_cc_n").as("_cc_bn"))
    val nBuckets = math.ceil(2.0 / width).toInt
    // cosine rounds to 6 BEFORE bucketing (the q114 cross-engine
    // contract): the bucket edge must not hinge on sub-ulp
    // summation-order differences between engines
    val buckets = left.join(right, Seq("_cc_p"))
      .select(round(VectorOps.dot(col("_cc_av"), col("_cc_bv")) /
        (col("_cc_an") * col("_cc_bn")), 6).as("_cc_cos"))
      .select(least(
        floor((col("_cc_cos") + 1.0) / width).cast("int"),
        lit(nBuckets - 1)).as("_cc_b"))
      .groupBy(col("_cc_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val total = buckets.agg(sum("n_pairs").cast("double").as("_cc_t"))
    buckets.crossJoin(broadcast(total))
      .select(round(col("_cc_b") * width - 1.0, 6).as("bucket_lo"),
        col("n_pairs"),
        round(col("n_pairs") / col("_cc_t"), roundTo).as("frac"))
  }
}
