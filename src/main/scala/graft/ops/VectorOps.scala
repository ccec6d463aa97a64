package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, built from
  * higher-order array functions so it compiles into whole-stage codegen.
  *
  * Everything casts to double *before* arithmetic: float accumulation is
  * not associative enough to survive an engine hash-compare, and the
  * left-to-right `aggregate` fold gives a deterministic summation order.
  */
object VectorOps {

  def toDoubleVec(v: Column): Column = transform(v, _.cast("double"))

  /** The vector column as the native expressions consume it: float and
    * double arrays pass through RAW (graft_dot / graft_srp /
    * graft_nearest_centroid read both element types natively, widening
    * each float exactly inside their loops — bit-identical to
    * cast-then-compute), so the common `array<float>` embedding column
    * skips a per-row double-array materialization on every scan pass
    * and exchanges half the bytes wherever it is carried through a
    * shuffle. Any other element type casts to double first.
    */
  private[ops] def rawVec(df: DataFrame, vecCol: String): Column = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    df.schema(vecCol).dataType match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => col(vecCol)
      case _ => toDoubleVec(col(vecCol))
    }
  }

  /** Dot product — the native codegen'd expression
    * ([[graft.functions.ArrayDotProduct]]); identical semantics and
    * summation order to [[dotComposable]], ~10× less per-pair overhead.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot(a, b)

  /** Left-to-right fold dot product from built-ins only — the reference
    * formulation `dot` is tested against, and the fallback for sessions
    * without graft function registration.
    */
  def dotComposable(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Brute-force top-k cosine neighbors of one query vector.
    *
    * The query vector is a literal, so the whole computation is a
    * map-only projection plus a global top-k (`orderBy.limit` →
    * TakeOrderedAndProject, which holds only k rows per partition and
    * merges k·p rows at the driver — safe at any scale).
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      roundTo: Int = 6): DataFrame = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    require(qNorm > 0, "query vector has zero norm — cosine undefined")
    // zero-norm corpus vectors excluded: their cosine is NaN, which
    // Spark sorts ABOVE every real score — they'd pad the top-k
    df.select(col(idCol), rawVec(df, vecCol).as("dv"))
      .withColumn("nrm", l2Norm(col("dv")))
      .filter(col("nrm") > 0)
      .select(col(idCol),
        round(dot(col("dv"), lit(query.toArray)) / (col("nrm") * lit(qNorm)), roundTo).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Signed-random-projection bucket: the sign pattern of `planes`
    * pseudo-random hyperplane projections, packed into a long. Plane
    * coefficients are xxhash64-derived uniforms in [-0.5, 0.5) keyed by
    * (seedBase + plane, dimension) — fixed seeds, reproducible runs.
    * Native codegen'd expression ([[graft.functions.SrpBucket]]); the
    * composable form below defines the semantics and pins them in the
    * parity test.
    */
  def srpBucket(vec: Column, planes: Int, seedBase: Int = 0): Column =
    graft.functions.GraftFunctions.srp(vec, planes, seedBase)

  /** Query-directed probe posting set: the exact [[srpBucket]] value
    * first, then the Hamming-1 neighbors of the `probes` lowest-margin
    * planes (native expression [[graft.functions.SrpProbeBuckets]]).
    */
  def srpProbeBuckets(vec: Column, planes: Int, seedBase: Int, probes: Int): Column =
    graft.functions.GraftFunctions.srpProbes(vec, planes, seedBase, probes)

  /** Built-ins-only formulation of [[srpBucket]] (reference semantics;
    * O(planes × dims) lambda steps per row — not the fast path).
    */
  def srpBucketComposable(vec: Column, planes: Int, seedBase: Int = 0): Column = {
    val signs = transform(sequence(lit(0), lit(planes - 1)), pIdx => {
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x * ((pmod(xxhash64(pIdx + lit(seedBase), i), lit(1000000L)).cast("double") / lit(1000000.0)) - lit(0.5))),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L)).otherwise(lit(0L))
    })
    aggregate(
      zip_with(signs, sequence(lit(0), lit(planes - 1)),
        (s, p) => call_function("shiftleft", s, p)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** k-nearest-neighbor label vote: classify each query vector by the
    * majority label of its `k` nearest corpus neighbors (cosine).
    *
    * Output: `(q_id, pred_label, votes)` — one row per query with a
    * non-zero-norm vector.
    *
    * Scale shape: the query batch is the BROADCAST side of the cross
    * join, so corpus scoring is a single map-only pass over the big
    * table (never a corpus shuffle). The per-query top-k is a
    * `row_number ≤ k` window, which Spark rewrites to WindowGroupLimit:
    * each map task pre-keeps only k rows per query before the exchange,
    * so the shuffle carries ≤ k·partitions rows per query, independent
    * of corpus size. Both votes and the winner election then run over
    * ≤ k rows per query. For corpus-scale query sets, use
    * [[ivfKnnJoin]] — the bucketed join that replaces this cross join
    * when the query side outgrows a broadcast.
    *
    * Determinism: cosine is rounded to `roundTo` before ranking; ties
    * break by neighbor id, vote ties by smaller label — the result is a
    * pure function of the inputs.
    */
  def knnClassify(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val c = corpus
      .select(col(idCol).as("n_id"), col(labelCol).as("n_label"),
        rawVec(corpus, vecCol).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
      .filter(col("cn") > 0)
    val q = queries
      .select(col(idCol).as("q_id"), rawVec(queries, vecCol).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .filter(col("qn") > 0)
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"), col("n_label"),
        round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), roundTo).as("cosine"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    val votes = scored
      .withColumn("rk", row_number().over(byScore))
      .filter(col("rk") <= k)
      .groupBy("q_id", "n_label")
      .agg(count(lit(1)).as("votes"))
    val byVotes = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("votes").desc, col("n_label"))
    votes
      .withColumn("pr", row_number().over(byVotes))
      .filter(col("pr") === 1)
      .select(col("q_id"), col("n_label").as("pred_label"), col("votes"))
  }

  /** EXACT batch kNN join for a broadcast-sized query set: the top-`k`
    * cosine neighbors from `corpus` for every query row, no
    * approximation — the exactness twin of [[ivfKnnJoin]] when the
    * query side fits a broadcast (and the batch generalization of the
    * single-query [[bruteForceTopK]]).
    *
    * Output: `(q_id, n_id, cosine, rank)`, rank 1..≤k per query
    * (cosine desc, ties by neighbor id).
    *
    * Scale shape (the [[knnClassify]] front half): the query batch is
    * the BROADCAST side of the cross join, so corpus scoring is one
    * map-only pass over the big table — the corpus is never shuffled;
    * the per-query top-k is a `row_number ≤ k` window Spark rewrites to
    * WindowGroupLimit, so the only exchange carries ≤ k rows per query
    * per map task. Used as the dense first stage of hybrid retrieval
    * ([[Retrieval.rrfFuse]]) and as the ground truth the ANN recall
    * gates compare against. Determinism: cosine rounded to `roundTo`
    * BEFORE ranking, ties by id.
    */
  def bruteKnnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = false,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val scored = bruteScored(queries, corpus, idCol, vecCol, roundTo)
    val kept = if (excludeSelf) scored.filter(col("q_id") =!= col("n_id")) else scored
    topKByScore(kept, k)
  }

  /** The shared exact scoring pass of [[bruteKnnJoin]] /
    * [[hardNegatives]]: one broadcast of the query batch against one
    * corpus scan, `(q_id, n_id, cosine)` rounded to `roundTo`.
    */
  private def bruteScored(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      roundTo: Int): DataFrame = {
    val c = corpus
      .select(col(idCol).as("n_id"), rawVec(corpus, vecCol).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
      .filter(col("cn") > 0)
    val q = queries
      .select(col(idCol).as("q_id"), rawVec(queries, vecCol).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .filter(col("qn") > 0)
    c.crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"),
        round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), roundTo).as("cosine"))
  }

  private def topKByScore(scored: DataFrame, k: Int): DataFrame = {
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: for each query,
    * the `k` highest-cosine corpus vectors BELOW `dupCeiling` — the
    * near-duplicate band above it (likely unlabeled positives: the
    * query's own copies, augmentations, twins) is excluded so the
    * "negatives" aren't secretly positives, and self-matches are
    * always excluded. Output `(q_id, n_id, cosine, rank)`.
    *
    * Scale shape: [[bruteKnnJoin]]'s contract — the query BATCH
    * broadcasts, the corpus streams once, and the rank-filter window
    * plans as WindowGroupLimit so every map task pre-prunes to k rows
    * per query before the exchange. The band filter runs before the
    * rank, so excluded near-dups never occupy shortlist slots.
    */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dupCeiling: Double = 0.9,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(dupCeiling > -1.0 && dupCeiling <= 1.0,
      s"dupCeiling=$dupCeiling outside (-1, 1]")
    val scored = bruteScored(queries, corpus, idCol, vecCol, roundTo)
      .filter(col("q_id") =!= col("n_id") && col("cosine") < dupCeiling)
    topKByScore(scored, k)
  }

  /** Sign-bit binary quantization: `(id, code)` with code a bit-packed
    * `array<long>` (64 dims/word, bit set iff the component is > 0) —
    * the 32×-compression binary-embedding representation (Charikar
    * 2002's SRP at one hyperplane per axis). One map-only codegen'd
    * pass ([[graft.functions.SignPack]]); downstream Hamming distance
    * is XOR + POPCNT per word ([[graft.functions.HammingDistance]]),
    * which is what makes exhaustive binary rescoring affordable where
    * float cosine is not: at 100 TB the codes are ~3 TB and a scan
    * prices at memory bandwidth, not FLOPs.
    */
  def binaryQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.GraftFunctions.signPack(rawVec(df, vecCol)).as("code"))

  /** Symmetric per-vector int8 scalar quantization — the 4×-compression
    * middle ground between float and [[binaryQuantize]]'s sign bits
    * (the standard embedding-store tiering: int8 serves the bulk
    * shortlist, float the final rerank). Each vector gets one scale
    * `absmax/127` and codes `⌊x/scale + 0.5⌋` in [−127, 127];
    * reconstruction error is ≤ scale/2 per component. A zero vector
    * quantizes to scale 0 with all-zero codes (no NaN path).
    *
    * The rounding is floor(x + 0.5) — round-half-toward-+∞ — rather
    * than HALF_UP: identical everywhere except exact NEGATIVE
    * half-integer boundaries (where the tie goes up instead of away
    * from zero), and ⌊·⌋ is an exact IEEE operation every engine
    * computes identically, which is what makes the whole code relation
    * cross-engine replayable (the q156 oracle's ground).
    *
    * One map-only codegen'd HOF pass — no UDFs, no shuffle. Output:
    * `(id, scale, codes array<tinyint>)`.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = rawVec(df, vecCol)
    val absmax = aggregate(v, lit(0.0d), (acc, x) => greatest(acc, abs(x)))
    df.select(col(idCol), (absmax / 127.0d).as("scale"),
        v.as("_qi_v"))
      .select(col(idCol), col("scale"),
        transform(col("_qi_v"), x =>
          when(col("scale") === 0.0d, lit(0))
            .otherwise(floor(x / col("scale") + lit(0.5d)))
            .cast("int").cast("byte")).as("codes"))
  }

  /** Exact batch kNN join over [[quantizeInt8]] codes for a
    * broadcast-sized query set — the int8 twin of [[bruteKnnJoin]].
    * Cosine over int8 codes needs NO dequantization: the per-vector
    * scales cancel, so the score is the integer-dot cosine of the code
    * vectors (computed in int arithmetic, normalized once per side).
    *
    * Output: `(q_id, n_id, cosine, rank)`, rank 1..≤k per query —
    * [[bruteKnnJoin]]'s exact contract and scale shape (queries
    * broadcast, one map-only corpus pass, WindowGroupLimit top-k), at
    * a quarter of the scan bandwidth.
    */
  def int8KnnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = false,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    def prep(df: DataFrame, id: String, codes: String, norm: String) =
      quantizeInt8(df, idCol, vecCol)
        .select(col(idCol).as(id),
          transform(col("codes"), x => x.cast("int")).as(codes))
        .withColumn(norm, sqrt(aggregate(col(codes), lit(0L),
          (acc, x) => acc + x.cast("long") * x.cast("long")).cast("double")))
        .filter(col(norm) > 0)
    val c = prep(corpus, "n_id", "cc", "cn")
    val q = prep(queries, "q_id", "qc", "qn")
    val dotInt = aggregate(
      zip_with(col("cc"), col("qc"), (a, b) => a.cast("long") * b.cast("long")),
      lit(0L), (acc, x) => acc + x)
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"),
        round(dotInt.cast("double") / (col("cn") * col("qn")), roundTo)
          .as("cosine"))
    val kept = if (excludeSelf) scored.filter(col("q_id") =!= col("n_id")) else scored
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    kept
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Exact batch Hamming kNN join over [[binaryQuantize]] codes for a
    * broadcast-sized query set — the binary twin of [[bruteKnnJoin]]
    * (Hamming over sign codes is the standard cheap first stage that a
    * float rerank — [[bruteKnnJoin]] on the shortlist — follows).
    *
    * Output: `(q_id, n_id, hamming, rank)`, rank 1..≤k per query
    * (hamming ASC, ties by neighbor id).
    *
    * Scale shape, exactly [[bruteKnnJoin]]'s: queries broadcast, ONE
    * map-only pass over the corpus codes (never shuffled), per-query
    * top-k via a `row_number ≤ k` window Spark rewrites to
    * WindowGroupLimit, so the exchange carries ≤ k rows per query per
    * map task — and the per-pair kernel is W xor+popcounts (W = dim/64
    * words), not dim multiplies.
    */
  def hammingKnnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val c = binaryQuantize(corpus, idCol, vecCol)
      .select(col(idCol).as("n_id"), col("code").as("cc"))
    val q = binaryQuantize(queries, idCol, vecCol)
      .select(col(idCol).as("q_id"), col("code").as("qc"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("q_id"), col("n_id"),
        graft.functions.GraftFunctions.hamming(col("cc"), col("qc"))
          .cast("long").as("hamming"))
    val kept =
      if (excludeSelf) scored.filter(col("q_id") =!= col("n_id")) else scored
    val byDist = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("hamming").asc, col("n_id"))
    kept
      .withColumn("rank", row_number().over(byDist).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Two-stage binary-then-float retrieval: a Hamming shortlist of
    * `shortlist` candidates per query over [[binaryQuantize]] codes
    * ([[hammingKnnJoin]]), then exact float cosine re-ranking of the
    * shortlist only — the standard production recipe for binary
    * embeddings (codes price the corpus scan at XOR+POPCNT speed, the
    * expensive float math touches `|queries|·shortlist` rows, never
    * the corpus).
    *
    * Output: `(q_id, n_id, cosine, rank)`, rank 1..≤k per query
    * (cosine desc, ties by neighbor id) — [[bruteKnnJoin]]'s exact
    * contract restricted to the binary shortlist.
    *
    * Scale shape: stage 1 is [[hammingKnnJoin]]'s broadcast map-only
    * pass; stage 2 BROADCASTS the shortlist (|queries|·shortlist id
    * pairs) against the corpus — one more map-only corpus pass, no
    * corpus shuffle anywhere. Zero-norm rows are excluded up front on
    * both sides (cosine undefined), so both stages see the same
    * candidate universe.
    */
  def hammingRerankKnn(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      shortlist: Int,
      k: Int): DataFrame = {
    require(shortlist >= k && k >= 1,
      s"need shortlist >= k >= 1, got shortlist=$shortlist k=$k")
    val c = corpus
      .select(col(idCol).as("n_id"), rawVec(corpus, vecCol).as("cv"))
      .withColumn("cn", l2Norm(col("cv")))
      .filter(col("cn") > 0)
    val q = queries
      .select(col(idCol).as("q_id"), rawVec(queries, vecCol).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .filter(col("qn") > 0)
    val sl = hammingKnnJoin(
        q.select(col("q_id").as(idCol), col("qv").as(vecCol)),
        c.select(col("n_id").as(idCol), col("cv").as(vecCol)),
        idCol, vecCol, k = shortlist)
      .select(col("q_id"), col("n_id"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    c.join(broadcast(sl), Seq("n_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        round(dot(col("cv"), col("qv")) / (col("cn") * col("qn")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= k)
  }

  /** EXACT all-pairs within Hamming radius `radius` over
    * [[binaryQuantize]] codes, via multi-index pigeonhole banding
    * (Norouzi, Punjani & Fleet 2012, "Fast search in Hamming space
    * with multi-index hashing"): split each code into `nBands` bands;
    * if dist(a,b) ≤ radius then SOME band differs by ≤ s =
    * ⌊radius/nBands⌋ bits, so bucketing band values — plus, when
    * s = 1, each value's single-bit-flip probe ball, the
    * [[graft.functions.SrpProbeBuckets]] multi-probe pattern — finds
    * every qualifying pair without an all-pairs product. Candidates
    * then pay one native XOR+POPCNT exact check; output is the exact
    * relation `(id_a, id_b, hamming)`, id_a < id_b.
    *
    * Scale shape: one map-only pack+explode pass (nBands·(1+s·bits)
    * rows per vector), a band-keyed self equi-join (co-partitioned,
    * AQE-skew-splittable), the exact filter inline on the candidate
    * rows (codes travel with them — no second corpus join), one
    * pair-dedup agg. Candidate volume is Σ_buckets |bucket|² scaled by
    * the probe fan-out — the standard MIH tradeoff: pruning power is
    * 2^(bits/band) buckets per band, so SMALL radii (s ≤ 1) over wide
    * codes prune hard, while radius ≳ 2·nBands at dim 64 degrades
    * toward all-pairs (use more bands only with wider codes; s ≥ 2 is
    * rejected rather than silently quadratic). Don't guess `nBands`:
    * [[hammingParamsFor]] solves it from (n, dim, radius) and REFUSES
    * infeasible combinations with the cost it priced.
    */
  def hammingRadiusPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      radius: Int,
      nBands: Int = 8): DataFrame = {
    val dim = df.select(size(rawVec(df, vecCol)).as("d")).limit(1).head()
      .getInt(0)
    hammingRadiusPairsPacked(binaryQuantize(df, idCol, vecCol), idCol,
      radius, BandSpec(nBands, dim))
  }

  /** The banded join over an ALREADY-PACKED `(id, code array<long>)`
    * relation — the body of [[hammingRadiusPairs]], split out so
    * callers that fan the same codes into both sides (the slot miners)
    * can quantize ONCE, cut the compact packed relation, and feed it
    * here, instead of re-evaluating the sign pack (and whatever decode
    * produced the vectors) per side.
    */
  private[ops] def hammingRadiusPairsPacked(
      packed: DataFrame,
      idCol: String,
      radius: Int,
      spec: BandSpec): DataFrame = {
    val nBands = spec.nBands
    val s = spec.probeBits(radius)
    val bandIdx = explode(sequence(lit(0), lit(nBands - 1)))
    // plain side: one (band, value) row per band
    val plain = packed
      .select(col(idCol).as("id_b"), col("code").as("code_b"),
        bandIdx.as("band"))
      .withColumn("bv", spec.bandVal(col("code_b"), col("band")))
    // probe side: the radius-s Hamming ball around each band value
    // (s = 0 → just the value; s = 1 → value + its cb single-bit flips)
    val probes = packed
      .select(col(idCol).as("id_a"), col("code").as("code_a"),
        bandIdx.as("band"))
      .withColumn("bv0", spec.bandVal(col("code_a"), col("band")))
      .withColumn("bv", explode(spec.probeBall(col("bv0"), s)))
    probes.join(plain, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.GraftFunctions.hamming(col("code_a"), col("code_b"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
      .groupBy("id_a", "id_b")
      .agg(first("hamming").as("hamming"))
  }

  /** Shared multi-index band geometry for [[hammingRadiusPairs]] and
    * [[HammingIndex]] — ONE definition of how a packed code splits into
    * word-aligned bands, so the persisted index layout and the scan
    * path can never hash a code into different bands.
    */
  private[ops] case class BandSpec(nBands: Int, dim: Int) {
    require(nBands >= 1 && (nBands & (nBands - 1)) == 0,
      s"nBands=$nBands must be a positive power of two (word-aligned bands)")
    val nWords: Int = (dim + 63) / 64
    require(nBands >= nWords,
      s"nBands=$nBands < nWords=$nWords: a band may not span words")
    val cb: Int = nWords * 64 / nBands // power of two <= 64: never crosses a word
    val mask: Long = if (cb == 64) -1L else (1L << cb) - 1L

    /** Per-band substitution budget for `radius`; rejects the s ≥ 2
      * regimes that degrade toward all-pairs.
      */
    def probeBits(radius: Int): Int = {
      require(radius >= 0, s"radius=$radius must be >= 0")
      val s = radius / nBands
      require(s <= 1,
        s"radius=$radius over nBands=$nBands needs $s-bit probe balls per " +
          "band; only s <= 1 is supported — raise nBands (wider codes) or " +
          "lower the radius, s >= 2 probe enumeration degrades toward all-pairs")
      s
    }

    def bandVal(code: Column, j: Column): Column =
      call_function("shiftrightunsigned",
        element_at(code, ((j * cb) / 64 + 1).cast("int")),
        ((j * cb) % 64).cast("int")).bitwiseAND(lit(mask))

    /** The radius-`s` Hamming ball around a band value (s ∈ {0, 1}). */
    def probeBall(bv0: Column, s: Int): Column =
      if (s == 0) array(bv0)
      else concat(
        array(bv0),
        transform(sequence(lit(0), lit(cb - 1)),
          t => bv0.bitwiseXOR(call_function("shiftleft", lit(1L), t))
            .bitwiseAND(lit(mask))))
  }

  /** Solved MIH geometry from [[hammingParamsFor]]: the band count to
    * pass to [[hammingRadiusPairs]] / [[HammingIndex.hammingWriteIndex]]
    * (with `nBuckets` for the persisted layout), plus the cost terms
    * the choice was made on — all PER VECTOR, so they read the same at
    * any corpus size: `probeRowsPerVec` rows fed into the band join and
    * `expCandidatesPerVec` random-collision candidates surviving it
    * (each paying one native exact check).
    */
  case class HammingParams(
      nBands: Int,
      bandWidth: Int,
      probeBits: Int,
      nBuckets: Int,
      probeRowsPerVec: Double,
      expCandidatesPerVec: Double,
      costPerVec: Double)

  /** Closed-form MIH parameter solver — the [[Dedup.minhashParamsFor]]
    * / [[Similarity.srpParamsFor]] treatment for the Hamming family,
    * replacing the round-12 "use dim ≥ 256" scaladoc guidance with an
    * honest model: for every legal band count m (power of two ≥ the
    * word count, per-band probe budget s = ⌊radius/m⌋ ≤ 1 — the
    * [[BandSpec]] constraints), the per-vector work is
    *
    *   cost(m) = m·(1 + V)            — band rows fed + probe-ball rows
    *           + m·n·V / 2^w          — expected random-collision
    *                                    candidates (uniform-code model),
    *                                    each one exact XOR+POPCNT check
    *
    * with w = bandWidth(m) and V = ball volume (1 for s=0, 1+w for
    * s=1). The result is EXACT regardless of the choice (the
    * pigeonhole guarantee never depends on m); only the cost moves.
    * Returns the argmin if its cost fits `costBudgetPerVector`;
    * otherwise throws naming the best achievable cost and the honest
    * fixes (wider codes, smaller radius, bigger budget) — an
    * infeasible (n, dim, radius) should fail loudly at plan time, not
    * run as a quadratic-leaning job (the q141 64×=9.95 bucket-
    * collision term, now priced before it runs).
    *
    * Model caveats, deliberately conservative: codes are assumed
    * uniform (real sign codes correlate, RAISING collisions — treat
    * the budget as a floor, not a ceiling) and a dim not divisible by
    * 64 leaves zero-padding that concentrates the last band's values
    * (same direction). `nBuckets` is layout-only (partition-pruning
    * granularity for [[HammingIndex]]): capped so a build stays under
    * ~512 directories per index.
    */
  def hammingParamsFor(
      n: Long,
      dim: Int,
      radius: Int,
      costBudgetPerVector: Double = 4096.0,
      maxBands: Int = 64): HammingParams = {
    require(n >= 1, s"n=$n must be >= 1")
    require(dim >= 1, s"dim=$dim must be >= 1")
    require(radius >= 0, s"radius=$radius must be >= 0")
    require(costBudgetPerVector > 0, "costBudgetPerVector must be > 0")
    val nWords = (dim + 63) / 64
    val candidates = Iterator.iterate(1)(_ * 2)
      .takeWhile(m => m <= maxBands && m <= nWords * 64)
      .filter(m => m >= nWords && radius / m <= 1)
      .map { m =>
        val w = nWords * 64 / m
        val s = radius / m
        val v = if (s == 0) 1.0 else 1.0 + w
        val feed = m * (1.0 + v)
        val coll = m * n.toDouble * v / math.pow(2.0, w.toDouble)
        val nBuckets = math.min(1L << math.min(w, 30),
          Integer.highestOneBit(math.max(8, 512 / m))).toInt
        HammingParams(m, w, s, nBuckets, m * v, coll, feed + coll)
      }
      .toSeq
    require(candidates.nonEmpty,
      s"hammingParamsFor: no legal band count for dim=$dim radius=$radius " +
        s"within maxBands=$maxBands — every power-of-two m in " +
        s"[$nWords, $maxBands] needs a ≥2-bit per-band probe ball " +
        "(radius too large for the code width); use wider codes or a " +
        "smaller radius")
    val best = candidates.minBy(_.costPerVec)
    require(best.costPerVec <= costBudgetPerVector,
      f"hammingParamsFor: best achievable cost ${best.costPerVec}%.1f " +
        f"work units/vector (nBands=${best.nBands}, " +
        f"${best.expCandidatesPerVec}%.1f expected collision candidates) " +
        f"exceeds budget $costBudgetPerVector%.1f at n=$n dim=$dim " +
        f"radius=$radius — use wider codes, a smaller radius, or raise " +
        "the budget if the scan cost is acceptable")
    best
  }

  // ------------------------------------------------------------------
  // Slot-keyed partial-overlap mining (shared by the video frame and
  // audio segment fingerprints)
  // ------------------------------------------------------------------

  /** Composite slot-key stride for [[slotVotePairs]]/[[slotAlignPairs]]:
    * key = id·64 + slot keeps keys monotone in the parent id (so MIH's
    * `id_a < id_b` pair ordering at the slot level IS parent-id
    * ordering across parents). Bounds: slot < 64, id < 2⁵⁷ (the full
    * Long headroom: encode is exact integer multiply-add, decode is
    * [[parentOf]]'s shiftright/bitmask — no floating-point division
    * anywhere, so no 2⁵³ Double-precision cliff).
    */
  val SlotStride = 64L

  /** log2([[SlotStride]]) — the shift the exact composite-key decode
    * uses. Slot keys must stay power-of-two-strided for this to hold.
    */
  val SlotShift = 6

  /** Exact parent-id half of a composite slot key: integer shiftright,
    * valid for every id the encode accepts (id < 2⁵⁷) — a Long/Long
    * `/` in Catalyst is Double division, exact only below 2⁵³.
    */
  def parentOf(fid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    shiftright(fid, SlotShift)

  /** Exact slot half of a composite slot key (low [[SlotShift]] bits). */
  def slotOf(fid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    fid.bitwiseAND(lit(SlotStride - 1L))

  /** Range-checked slot column for the composite encode: any slot
    * outside [0, bound) would alias another parent's key and corrupt
    * the pair relation silently — fail the job instead. One codegen'd
    * comparison per row; `bound` is [[SlotStride]] for the miners and
    * [[SlotStride]]−1 for [[slotProbePairs]]' parent side (63 is the
    * reserved probe slot there).
    */
  private def checkedSlot(
      slotCol: String, bound: Long, op: String): org.apache.spark.sql.Column =
    when(col(slotCol).cast("long").between(0L, bound - 1L),
        col(slotCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"$op: slot out of [0, ${bound - 1}]: "),
        col(slotCol).cast("string"))))

  private def slotMatches(
      slots: DataFrame,
      idCol: String,
      slotCol: String,
      vecCol: String,
      radius: Int,
      nBands: Int): DataFrame = {
    val fid = slots.select(
      (col(idCol).cast("long") * lit(SlotStride) +
        checkedSlot(slotCol, SlotStride, "slotMatches")).as("fid"),
      col(vecCol).as("v"))
    val dim = fid.select(size(rawVec(fid, "v")).as("d")).limit(1).head()
      .getInt(0)
    // quantize ONCE and cut the COMPACT relation: the banded join fans
    // the codes into its probe and plain sides, and without this cut
    // each side would re-run the sign pack AND whatever produced the
    // diff vectors (a decode, a stub kernel) — while the packed codes
    // are dim/64 longs per row, ~64 MB per 10⁶ slots, vs gigabytes of
    // double vectors (measured: this cut halved the 64×-probe time).
    // Upstream relations therefore do NOT need their own checkpoint
    // when they are consumed by the slot miners alone.
    val packed = Ckpt.checkpoint(binaryQuantize(fid, "fid", "v"))
    val bands =
      if (nBands > 0) nBands
      else hammingParamsFor(math.max(packed.count(), 1L), dim, radius).nBands
    hammingRadiusPairsPacked(packed, "fid", radius, BandSpec(bands, dim))
      .select(
        parentOf(col("id_a")).as("va"),
        slotOf(col("id_a")).as("slot_a"),
        parentOf(col("id_b")).as("vb"),
        slotOf(col("id_b")).as("slot_b"),
        col("hamming"))
      .filter(col("va") =!= col("vb"))
  }

  /** Partial-overlap VOTES over a `(id, slot, diff-vector)` relation —
    * slot-level radius matches through the UNCHANGED MIH banded plan
    * under composite id·64+slot keys, aggregated to parent pairs:
    *
    *   `(id_a, id_b, votes, min_hamming)` — votes = DISTINCT slots of
    *   the smaller id with ≥ 1 radius-`radius` match in the other,
    *   kept when votes ≥ `minVotes`.
    *
    * The key the whole-object code cannot give: two objects sharing
    * 3 of 5 sampled slots (an edit, a re-cut, a clip embedded in a
    * reel) vote 3 even when their global signatures diverge.
    * `nBands` ≤ 0 (the default) solves the band geometry from the
    * relation's size via [[hammingParamsFor]] — at slot-corpus scale
    * (slots× the parent count) the fixed 8-bit-band default saturates
    * its 256 buckets (the q141 collision term) while the solver's
    * 16-bit bands with 1-bit probe balls keep the candidate set
    * collision-bound; the RESULT is identical either way. The miner
    * quantizes and CUTS the compact packed codes internally before
    * fanning them into the banded join's two sides, so upstream
    * relations (a decode, a stub kernel) are evaluated once and need
    * no checkpoint of their own.
    *
    * 100 TB shape: one exchange of (8-byte code, 8-byte key) rows into
    * the banded join, then a parent-pair-keyed agg over the (sparse)
    * match set.
    */
  def slotVotePairs(
      slots: DataFrame,
      idCol: String,
      slotCol: String,
      vecCol: String,
      radius: Int = 6,
      nBands: Int = 0,
      minVotes: Int = 3): DataFrame =
    slotMatches(slots, idCol, slotCol, vecCol, radius, nBands)
      .groupBy(col("va").as("id_a"), col("vb").as("id_b"))
      .agg(countDistinct(col("slot_a")).cast("long").as("votes"),
        min(col("hamming")).cast("long").as("min_hamming"))
      .filter(col("votes") >= minVotes)

  /** Content PROBES against a slot relation — "find this known object
    * inside the corpus' sampled slots": a slot-less probe relation
    * (reference stills, banned posters, known jingles) matched at
    * Hamming ≤ `radius` against every `(id, slot, vec)` row, through
    * the SAME banded plan as [[slotVotePairs]] (probes ride the
    * reserved slot [[SlotStride]]−1, so one packed relation feeds one
    * join — no broadcast of the probe set, which may itself be large).
    * Output: `(probe_id, id, slot, hamming)` — every slot of every
    * parent within radius of a probe.
    *
    * Contract: probe ids and parent ids must be DISJOINT (they share
    * the composite key space — overlap is uncheckable here without a
    * join, so it stays the caller's contract), and the slot column
    * must stay below [[SlotStride]]−1 = 63 (the samplers use 5) —
    * ENFORCED per row: a parent row carrying the reserved probe slot
    * fails the job instead of silently reporting itself as a probe.
    */
  def slotProbePairs(
      probes: DataFrame,
      probeIdCol: String,
      probeVecCol: String,
      slots: DataFrame,
      idCol: String,
      slotCol: String,
      vecCol: String,
      radius: Int = 6,
      nBands: Int = 0): DataFrame = {
    val probeSlot = lit(SlotStride - 1L)
    val fid = probes.select(
      (col(probeIdCol).cast("long") * lit(SlotStride) + probeSlot).as("fid"),
      col(probeVecCol).as("v"))
      .unionAll(slots.select(
        (col(idCol).cast("long") * lit(SlotStride) +
          checkedSlot(slotCol, SlotStride - 1L, "slotProbePairs")).as("fid"),
        col(vecCol).as("v")))
    val dim = fid.select(size(rawVec(fid, "v")).as("d")).limit(1).head()
      .getInt(0)
    val packed = Ckpt.checkpoint(binaryQuantize(fid, "fid", "v"))
    val bands =
      if (nBands > 0) nBands
      else hammingParamsFor(math.max(packed.count(), 1L), dim, radius).nBands
    val pairs = hammingRadiusPairsPacked(packed, "fid", radius,
      BandSpec(bands, dim))
      .select(
        parentOf(col("id_a")).as("pa"),
        slotOf(col("id_a")).as("sa"),
        parentOf(col("id_b")).as("pb"),
        slotOf(col("id_b")).as("sb"),
        col("hamming"))
    // keep exactly the probe-vs-slot pairs, normalized to probe-first
    // (id_a < id_b at the composite level can put either side first)
    val probeMark = lit(SlotStride - 1L)
    pairs.filter(col("sa") === probeMark && col("sb") =!= probeMark)
      .select(col("pa").as("probe_id"), col("pb").as("id"),
        col("sb").cast("long").as("slot"), col("hamming"))
      .unionAll(
        pairs.filter(col("sb") === probeMark && col("sa") =!= probeMark)
          .select(col("pb").as("probe_id"), col("pa").as("id"),
            col("sa").cast("long").as("slot"), col("hamming")))
  }

  /** Temporal ALIGNMENT of slot-level matches — copy LOCALIZATION,
    * the readout [[slotVotePairs]]'s symmetric count cannot give: per
    * parent pair, the dominant slot OFFSET (mode of `slot_b − slot_a`
    * over radius matches, ties → smallest offset) and how many of the
    * smaller id's slots match AT that offset:
    *
    *   `(id_a, id_b, offset, aligned_votes, min_hamming)` — id_a <
    *   id_b, aligned_votes ≥ `minVotes`, min_hamming over the winning
    *   diagonal's matches.
    *
    * A trimmed re-cut or a clip embedded later in a longer recording
    * matches at a consistent non-zero offset; unrelated accidental
    * matches scatter across offsets and fail `minVotes`. Same plan as
    * [[slotVotePairs]] plus one sparse-side window over the per-pair
    * offset groups.
    */
  def slotAlignPairs(
      slots: DataFrame,
      idCol: String,
      slotCol: String,
      vecCol: String,
      radius: Int = 6,
      nBands: Int = 0,
      minVotes: Int = 3): DataFrame = {
    val byOffset = slotMatches(slots, idCol, slotCol, vecCol, radius, nBands)
      .groupBy(col("va"), col("vb"),
        (col("slot_b") - col("slot_a")).cast("long").as("offset"))
      .agg(countDistinct(col("slot_a")).cast("long").as("aligned_votes"),
        min(col("hamming")).cast("long").as("min_hamming"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("va", "vb")
      .orderBy(col("aligned_votes").desc, col("offset").asc)
    byOffset
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("aligned_votes") >= minVotes)
      .select(col("va").as("id_a"), col("vb").as("id_b"), col("offset"),
        col("aligned_votes"), col("min_hamming"))
  }

  /** Batch kNN JOIN — top-`k` cosine neighbors from `corpus` for EVERY
    * row of `queries`, both sides corpus-scale (the shape
    * [[knnClassify]]'s scaladoc defers to when the query set outgrows a
    * broadcast: retrieval labeling, dedup-against-reference,
    * neighbor-graph construction).
    *
    * Output: `(q_id, n_id, cosine, rank)`, rank 1..≤k per query
    * (cosine desc, ties by neighbor id; fewer than k rows when the
    * probed clusters hold fewer candidates).
    *
    * Scale shape — NO all-pairs term anywhere:
    *   - centroids: seeded spherical k-means on a bounded sample
    *     (driver math is [[kmeansCentroids]]'s parallel loops);
    *   - corpus: ONE map-only assignment pass, each row exchanged once
    *     keyed by its single cluster (raw float vector — half the
    *     bytes of doubles);
    *   - queries: one map-only pass computing the `nProbe` probe list
    *     per row via the native [[graft.functions.NearestCentroids]]
    *     expression, then exploded — each query row exchanged `nProbe`
    *     times;
    *   - the join co-partitions both sides on `cluster` (AQE splits a
    *     skewed cluster's partition at runtime; the nClusters ~ N
    *     operating rule keeps EXPECTED cluster size constant, same as
    *     [[semDedup]]);
    *   - per-query top-k is a `row_number ≤ k` window, which Spark
    *     rewrites to WindowGroupLimit: every map task pre-trims to k
    *     rows per query BEFORE the window exchange.
    * Scored work is nProbe × expected-cluster-size dots per query —
    * the IVF scan-fraction contract, independent of corpus size.
    * A (q, n) pair can never score twice: a corpus row lives in exactly
    * one cluster and the probe list holds distinct clusters.
    *
    * Approximate by construction (recall = probability the true
    * neighbor's cluster is probed — SimilaritySpec pins ≥ 0.95 on
    * clustered data and self-retrieval rank 1; on a structureless
    * corpus recall tracks scan fraction, the honest bound the ANN
    * comparison table documents). Deterministic for fixed inputs and
    * seed: k-means is seeded, cosine is rounded to `roundTo` before
    * ranking, all ties break by id.
    */
  def ivfKnnJoin(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nClusters: Int = 16,
      nProbe: Int = 4,
      excludeSelf: Boolean = false,
      kmeansIters: Int = 4,
      seed: Long = 42L,
      sampleRows: Int = 4096,
      roundTo: Int = 6,
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8,
      refineIters: Int = 0): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(nProbe >= 1, s"nProbe=$nProbe must be >= 1")
    val base = kmeansCentroidsRefined(corpus, vecCol, nClusters, kmeansIters,
      seed, sampleRows, refineIters, hierThreshold, coarseProbes)
    if (base.isEmpty) // empty corpus (or all zero-norm) → empty frame, same schema
      return corpus.select(col(idCol).as("q_id"), col(idCol).as("n_id"),
        lit(0.0).as("cosine"), lit(1).as("rank")).filter(lit(false))
    // Past `hierThreshold` centroids the flat per-row scan — O(k · dim)
    // on BOTH passes — dominates; route coarse→fine instead: rank only
    // the fine centroids under the `coarseProbes` nearest of ⌈√k⌉
    // coarse groups (O((√k + coarseProbes·√k) · dim) per row). The
    // routing is the standard IVF approximation (recall = probability
    // the true cluster's group is probed) and sits behind the same
    // suite recall gates; below the threshold both passes stay exact.
    val routing = routingFor(base, hierThreshold)
    // Spread degenerate scans BEFORE the probe/join chain: the planner
    // broadcasts whichever side fits, so the pair-scoring stage's
    // parallelism is the STREAM side's partition count — and a
    // single-row-group parquet input runs the entire
    // nProbe × cluster-size dot scoring on ONE task (round-17 probe:
    // the q101 join stage measured 2.3 s serial of a ~2.9 s query,
    // 2.3 µs/pair against a native dot; the build side there was the
    // exploded QUERY relation, so the serial side was the corpus).
    // Both sides get the treatment — either can end up streaming —
    // and DirLayout.spread is a no-op whenever the scan already
    // parallelizes (any real multi-split input at cluster scale).
    val c = assignClustersRouted(DirLayout.spread(corpus, col(idCol)),
        vecCol, base, routing, coarseProbes)
      .select(col("cluster"), col(idCol).as("n_id"),
        col("dv").as("nv"), col("nrm").as("nn"))
    val q = DirLayout.spread(queries, col(idCol))
      .select(col(idCol).as("q_id"), rawVec(queries, vecCol).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .filter(col("qn") > 0)
      .select(col("q_id"), col("qv"), col("qn"),
        explode(routing match {
          case Some((coarse, starts, mem)) =>
            graft.functions.GraftFunctions.nearestCentroidsHier(
              col("qv"), col("qn"), base, nProbe, coarse, starts, mem, coarseProbes)
          case None =>
            graft.functions.GraftFunctions.nearestCentroids(
              col("qv"), col("qn"), base, nProbe)
        }).as("cluster"))
    val scored = q.join(c, Seq("cluster"))
      .filter(if (excludeSelf) col("q_id") =!= col("n_id") else lit(true))
      .select(col("q_id"), col("n_id"),
        round(dot(col("qv"), col("nv")) / (col("qn") * col("nn")), roundTo).as("cosine"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= k)
  }

  /** Symmetric int8 quantization of an embedding column: per-vector
    * scale = max(|x|)/127, elements quantize to ⌊x/scale + 0.5⌋ in
    * [-127, 127] (the [[quantizeInt8(df*)*]] rounding contract —
    * floor-plus-half, cross-engine exact). 4× less storage/shuffle
    * than float32 — at 100 TB of embeddings that is the difference
    * between a broadcastable index and not. Emits
    * (scale: double, q: array<int>) columns; `dequantize` inverts.
    * Reconstruction error ≤ scale/2 per element; cosine drift is
    * bounded in the suite against exact.
    */
  def quantizeInt8(vec: Column): Column = {
    val dv = toDoubleVec(vec)
    val scale = aggregate(dv, lit(0.0), (acc, x) => greatest(acc, abs(x))) / lit(127.0)
    struct(
      scale.as("scale"),
      transform(dv, x =>
        when(scale === 0, lit(0))
          .otherwise(floor(x / scale + lit(0.5))).cast("int")).as("q"))
  }

  def dequantize(quantized: Column): Column =
    transform(quantized.getField("q"),
      q => q.cast("double") * quantized.getField("scale"))

  /** Mean-pooling: element-wise average of a group's vectors — chunk
    * embeddings → document embedding, members → cluster centroid. One
    * hash aggregation via the native [[graft.functions.VectorSum]]
    * aggregate: each map task folds its vectors into a single
    * dims-length partial buffer, so the exchange carries one buffer per
    * (task, group) — NOT the posexplode formulation, which multiplies
    * shuffle rows by the embedding dimension and needs a second shuffle
    * to reassemble (that formulation is the parity oracle in the
    * suite/q81). Rounded at 6 so the result is engine-portable.
    */
  def meanPool(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(
        graft.functions.GraftFunctions.vecSum(toDoubleVec(col(vecCol))).as("s"),
        count(lit(1)).as("n"))
      .select(col(groupCol),
        transform(col("s"), x => round(x / col("n"), 6)).as("centroid"))

  /** ColBERT-style MaxSim late-interaction scoring: each doc group (a
    * document's chunk/token vectors) is scored against a SMALL query
    * vector set as Σ over query vectors of the max cosine against any
    * of the group's vectors. The reranking shape of multi-vector
    * retrieval: the first-stage ANN (q25/q39/q101) shortlists, MaxSim
    * reranks with per-token interaction.
    *
    * Scale shape: the query set broadcasts (late-interaction queries
    * are tens of vectors — the corpus side is the big one), the
    * cross-score is a broadcast nested-loop over doc vectors (one pass,
    * map-side), and both reductions are hash aggs keyed by
    * (group, query) then group — nothing corpus-sized ever shuffles
    * except the group-keyed max rows. Zero-norm vectors are excluded on
    * both sides, not NaN-ranked (same policy as [[knnClassify]]).
    * Cosines round at 6 BEFORE the max so the result is
    * engine-portable.
    */
  def maxSimScores(
      docs: DataFrame,
      queries: DataFrame,
      groupCol: String,
      vecCol: String,
      queryIdCol: String): DataFrame = {
    val dv0 = docs.withColumn("_graft_dv", rawVec(docs, vecCol))
    val dv = dv0.filter(l2Norm(col("_graft_dv")) > 0)
      .select(col(groupCol), col("_graft_dv"),
        l2Norm(col("_graft_dv")).as("_graft_dn"))
    val qv0 = queries.withColumn("_graft_qv", rawVec(queries, vecCol))
    val qv = qv0.filter(l2Norm(col("_graft_qv")) > 0)
      .select(col(queryIdCol).as("_graft_qid"), col("_graft_qv"),
        l2Norm(col("_graft_qv")).as("_graft_qn"))
    dv.crossJoin(broadcast(qv))
      .select(col(groupCol), col("_graft_qid"),
        round(dot(col("_graft_dv"), col("_graft_qv")) /
          (col("_graft_dn") * col("_graft_qn")), 6).as("_graft_cos"))
      .groupBy(col(groupCol), col("_graft_qid"))
      .agg(max("_graft_cos").as("_graft_ms"))
      .groupBy(col(groupCol))
      .agg(round(sum("_graft_ms"), 6).as("maxsim"))
  }

  /** [[maxSimScores]] restricted to an ANN candidate set — the
    * production late-interaction shape: a first-stage retriever
    * (pooled-vector kNN, IVF probe, BM25 — anything that yields group
    * ids) shortlists, MaxSim reranks ONLY those groups. `candidates`
    * is a relation of group ids (one column named `groupCol`; extra
    * columns are ignored, duplicates collapse); it is broadcast and
    * semi-joined against the corpus BEFORE any scoring, so the
    * crossJoin-broadcast-query core runs over |shortlisted groups| ·
    * chunks rows, not the corpus. With `candidates` = all groups the
    * result is exactly [[maxSimScores]] (SimilaritySpec pins the
    * identity; the recall of a bounded pooled-cosine shortlist is
    * gated there too).
    */
  def maxSimScoresShortlisted(
      docs: DataFrame,
      queries: DataFrame,
      groupCol: String,
      vecCol: String,
      queryIdCol: String,
      candidates: DataFrame): DataFrame =
    maxSimScores(
      docs.join(broadcast(candidates.select(col(groupCol)).distinct()),
        Seq(groupCol)),
      queries, groupCol, vecCol, queryIdCol)

  /** Fixed fan-out for the driver-parallel k-means loops: chunking (and
    * therefore every partial-merge order) is this constant, not the
    * machine's core count, so results are reproducible everywhere.
    */
  private val LloydChunks = 64

  /** Run `f` over [0, n) split into at most `chunks` index ranges on
    * the JVM common pool, returning per-chunk results in CHUNK ORDER.
    * The chunk count is a function of (n, chunks) only — never of the
    * machine's core count — so partial results and any floating-point
    * merge over them are deterministic everywhere.
    */
  private def parRanges[R](n: Int, chunks: Int)(f: (Int, Int) => R): IndexedSeq[R] = {
    val cs = math.max(1, math.min(chunks, n))
    val size = (n + cs - 1) / cs
    val pool = java.util.concurrent.ForkJoinPool.commonPool()
    (0 until cs).map { c =>
      // both clamped: ceil-division can put a trailing chunk's start
      // past n (n=10, cs=7 → size=2 → chunk 6 starts at 12); such
      // chunks run empty rather than with a negative extent
      val lo = math.min(n, c * size)
      val hi = math.min(n, lo + size)
      pool.submit(new java.util.concurrent.Callable[R] {
        def call(): R = f(lo, hi)
      })
    }.map(_.get())
  }

  /** Driver-side grouping of a fine centroid table under ⌈√k⌉-ish
    * coarse centroids, for hierarchical (coarse→fine) routing: a small
    * spherical k-means over the fine centroids themselves (already
    * unit vectors — [[kmeansCentroids]] normalizes), returning the
    * coarse table plus the CSR fine→coarse layout
    * ([[graft.functions.NearestCentroidEval.nearestNHier]] consumes
    * it). Seeded by a deterministic stride over the fine table (a
    * k-means solution is spread by construction, so stride seeding is
    * already diverse); empty coarse groups keep their previous
    * centroid and simply own no members. Deterministic for fixed
    * inputs; O(k · coarseK · dim · iters) driver math, parallelized
    * over the same fixed-chunk pool as Lloyd.
    */
  private[ops] def coarseGrouping(
      cents: Array[Array[Double]],
      coarseK: Int,
      iters: Int = 4): (Array[Array[Double]], Array[Int], Array[Int]) = {
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val k = cents.length
    val dims = cents.head.length
    val ck = math.max(1, math.min(coarseK, k))
    var coarse = Array.tabulate(ck)(i => cents((i.toLong * k / ck).toInt))
    val assign = new Array[Int](k)
    for (_ <- 0 until iters) {
      parRanges(k, LloydChunks) { (lo, hi) =>
        var i = lo
        while (i < hi) {
          val p = cents(i)
          var best = 0; var bestSim = dotA(p, coarse(0)); var c = 1
          while (c < ck) {
            val s = dotA(p, coarse(c)); if (s > bestSim) { bestSim = s; best = c }; c += 1
          }
          assign(i) = best
          i += 1
        }
      }
      // disjoint index ranges → the assignment writes are race-free;
      // the recompute below is O(k · dim), serial is fine
      val sums = Array.fill(ck)(new Array[Double](dims))
      val counts = new Array[Long](ck)
      var i = 0
      while (i < k) {
        val g = assign(i)
        var d = 0
        while (d < dims) { sums(g)(d) += cents(i)(d); d += 1 }
        counts(g) += 1
        i += 1
      }
      coarse = coarse.indices.map { g =>
        if (counts(g) == 0) coarse(g)
        else {
          val n = math.sqrt(dotA(sums(g), sums(g)))
          if (n == 0) coarse(g) else sums(g).map(_ / n)
        }
      }.toArray
    }
    // final assignment under the final coarse table, then CSR
    parRanges(k, LloydChunks) { (lo, hi) =>
      var i = lo
      while (i < hi) {
        val p = cents(i)
        var best = 0; var bestSim = dotA(p, coarse(0)); var c = 1
        while (c < ck) {
          val s = dotA(p, coarse(c)); if (s > bestSim) { bestSim = s; best = c }; c += 1
        }
        assign(i) = best
        i += 1
      }
    }
    val counts = new Array[Int](ck)
    assign.foreach(g => counts(g) += 1)
    val memberStart = new Array[Int](ck + 1)
    var g = 0
    while (g < ck) { memberStart(g + 1) = memberStart(g) + counts(g); g += 1 }
    val cursor = memberStart.clone()
    val members = new Array[Int](k)
    var i = 0
    while (i < k) { // ascending fine index within each group
      members(cursor(assign(i))) = i
      cursor(assign(i)) += 1
      i += 1
    }
    (coarse, memberStart, members)
  }

  /** Spherical k-means centroids for IVF coarse quantization, over a
    * bounded deterministic sample. The sample is a distributed top-k on
    * a seeded hash of the vector (TakeOrderedAndProject: `sampleRows`
    * rows per partition, one bounded driver merge — a pseudo-random
    * sample with no full-corpus shuffle, safe at any corpus size).
    * Lloyd then runs driver-side on the sample — O(sampleRows × k ×
    * iters × dims) floating ops, microseconds next to one corpus scan —
    * with k-means++ seeding and cosine (dot-on-unit-vector) assignment;
    * empty clusters re-seed to the point farthest from its centroid.
    * Returns unit-normalized centroids; deterministic for a fixed
    * (seed, corpus).
    */
  /** PCA model: `components` is c orthonormal rows (eigenvalue-desc
    * order), `eigenvalues` the matching sample variances along them.
    * Sign-canonicalized (largest-|coordinate| entry positive) so the
    * fit is a pure function of the sample.
    */
  final case class PcaModel(
      mean: Array[Double],
      components: Array[Array[Double]],
      eigenvalues: Array[Double])

  /** Fit a PCA rotation on a bounded seeded sample — the
    * [[kmeansCentroids]] model-fitting contract applied to dimensional
    * reduction: the ONLY collect is `sampleRows` rows (hash-ordered,
    * seeded), the d×d covariance is driver math (embedding dims are
    * 10²–10³; the corpus is what's big), and the eigensolve is a
    * cyclic Jacobi on the symmetric covariance. Use ahead of ANN/PQ to
    * cut dimension (classic OPQ-style preconditioning: variance
    * concentrates in the leading components, the tail is noise).
    */
  def pcaFit(
      df: DataFrame,
      vecCol: String,
      c: Int,
      seed: Long = 42L,
      sampleRows: Int = 4096): PcaModel = {
    require(c >= 1, s"c=$c must be >= 1")
    val rows: Array[Array[Double]] = df
      .select(toDoubleVec(col(vecCol)).as("v"))
      .filter(size(col("v")) > 0)
      .orderBy(xxhash64(col("v"), lit(seed)))
      .limit(sampleRows)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "pcaFit: empty sample")
    val d = rows.head.length
    require(rows.forall(_.length == d), "pcaFit: ragged vector dimensions")
    val n = rows.length
    val mean = new Array[Double](d)
    for (r <- rows; j <- 0 until d) mean(j) += r(j)
    for (j <- 0 until d) mean(j) /= n
    // sample covariance (1/n — the population form; the eigenVECTORS,
    // which the projection uses, are scale-invariant)
    val cov = Array.ofDim[Double](d, d)
    for (r <- rows) {
      var i = 0
      while (i < d) {
        val xi = r(i) - mean(i)
        var j = i
        while (j < d) {
          cov(i)(j) += xi * (r(j) - mean(j))
          j += 1
        }
        i += 1
      }
    }
    for (i <- 0 until d; j <- i until d) {
      cov(i)(j) /= n
      cov(j)(i) = cov(i)(j)
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(i => -evals(i)).take(math.min(c, d))
    val comps = order.map { i =>
      val v = Array.tabulate(d)(j => evecs(j)(i)) // column i of V
      // canonical sign: the largest-|coordinate| entry positive
      val m = v.indices.maxBy(j => (math.abs(v(j)), -j))
      if (v(m) < 0) v.map(x => -x) else v
    }.toArray
    PcaModel(mean, comps, order.map(evals).toArray)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, V) with A·V(:,i) = λᵢ·V(:,i). Deterministic sweep
    * order; converges quadratically — 10⁻¹² relative off-diagonal mass
    * in a handful of sweeps at embedding dimensions.
    */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    val total = a.map(_.map(x => x * x).sum).sum
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-24 * math.max(total, Double.MinPositiveValue)) {
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (math.abs(apq) > 0) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val sgn = if (theta >= 0) 1.0 else -1.0 // sign(0) = +1 convention
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val cs = 1 / math.sqrt(t * t + 1)
            val sn = t * cs
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = cs * akp - sn * akq
              a(k)(q) = sn * akp + cs * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = cs * apk - sn * aqk
              a(q)(k) = sn * apk + cs * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = cs * vkp - sn * vkq
              v(k)(q) = sn * vkp + cs * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = 0.0
      for (i <- 0 until n; j <- i + 1 until n) off += a(i)(j) * a(i)(j)
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Project onto a fitted [[PcaModel]]: map-only, one native
    * `graft_dot` per component against a literal eigenvector (the mean
    * offset folds into a precomputed scalar:
    * compᵀ(x − μ) = compᵀx − compᵀμ) — the whole projection stays
    * inside whole-stage codegen, zero shuffles, and the corpus is
    * touched exactly once however many components are kept.
    */
  def pcaProject(
      df: DataFrame,
      vecCol: String,
      model: PcaModel,
      outCol: String = "pca"): DataFrame = {
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val raw = rawVec(df, vecCol)
    df.withColumn(outCol, array(model.components.map { comp =>
      dot(raw, lit(comp)) - lit(dotA(model.mean, comp))
    }: _*))
  }

  def kmeansCentroids(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 4,
      seed: Long = 42L,
      sampleRows: Int = 4096): Array[Array[Double]] = {
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val unit: Array[Array[Double]] = df
      .select(toDoubleVec(col(vecCol)).as("v"))
      .filter(size(col("v")) > 0 && l2Norm(col("v")) > 0) // zero vectors have no direction
      .orderBy(xxhash64(col("v"), lit(seed)))
      .limit(sampleRows)
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .map { p =>
        val n = math.sqrt(dotA(p, p))
        p.map(_ / n)
      }
    if (unit.isEmpty) return Array.empty
    val kk = math.min(k, unit.length)
    val rnd = new scala.util.Random(seed)
    // k-means++ on angular distance (1 - cosine): spread the seeds.
    // Each point's nearest-seed similarity is maintained INCREMENTALLY
    // (one dot against only the NEW seed per round). Recomputing the
    // max over every seed each round is O(k²·n·dim) — measured 206 s
    // of a 243 s semDedup at the corpus-scaled regime (k=1024 over an
    // 8192 sample), dwarfing Lloyd itself; the incremental form is
    // O(k·n·dim) with bit-identical selections (same d2 values, same
    // RNG draw sequence, so the same centroids fall out).
    val seeds = scala.collection.mutable.ArrayBuffer(unit(rnd.nextInt(unit.length)))
    val bestSeedSim = unit.map(p => dotA(p, seeds(0)))
    while (seeds.length < kk) {
      val d2 = Array.tabulate(unit.length) { i =>
        val d = 1.0 - bestSeedSim(i)
        d * d
      }
      val total = d2.sum
      val chosen =
        if (total <= 0) rnd.nextInt(unit.length)
        else {
          var r = rnd.nextDouble() * total; var i = 0
          while (i < unit.length - 1 && r > d2(i)) { r -= d2(i); i += 1 }
          i
        }
      seeds += unit(chosen)
      // Per-point max update: elementwise over disjoint index ranges,
      // so parallelism cannot change the result. The seeding pass is
      // O(k·n·dim) and, like Lloyd below, runs on the DRIVER — with
      // corpus-scaled k (and sample ~ 8k) that is the operator's
      // serial quadratic-in-k term, measured 2.9 s of semDedup's 9.0 s
      // at the 64× probe (k = 1024, n = 8192) before this went
      // parallel.
      // 8 chunks, not LloydChunks: one round's update is ~n·dim ops
      // (half a million at the probed regime), small enough that
      // 64-way task submission overhead would eat the parallel win —
      // this loop runs k rounds, so per-round overhead multiplies.
      parRanges(unit.length, 8) { (lo, hi) =>
        var i = lo
        while (i < hi) {
          val s = dotA(unit(i), unit(chosen))
          if (s > bestSeedSim(i)) bestSeedSim(i) = s
          i += 1
        }
      }
    }
    var cents = seeds.toArray
    val dims = unit.head.length
    // Partial-sum buffers are chunks × k × dim doubles; cap the chunk
    // count so they stay bounded when k is corpus-scaled.
    val lloydChunks = math.max(1, math.min(LloydChunks,
      (256L << 20) / math.max(1L, kk.toLong * dims * 8L)).toInt)
    for (_ <- 0 until iters) {
      // Assignment is per-point independent; per-chunk partial
      // (sums, counts) merge in FIXED chunk order, so the
      // floating-point centroid sums are deterministic on any machine
      // (chunking depends only on n, never on core count).
      val partials = parRanges(unit.length, lloydChunks) { (lo, hi) =>
        val sums = Array.fill(kk)(new Array[Double](dims))
        val counts = new Array[Long](kk)
        val sims = new Array[Double](hi - lo)
        var pi = lo
        while (pi < hi) {
          val p = unit(pi)
          var best = 0; var bestSim = dotA(p, cents(0)); var c = 1
          while (c < kk) {
            val s = dotA(p, cents(c)); if (s > bestSim) { bestSim = s; best = c }; c += 1
          }
          var d = 0
          while (d < dims) { sums(best)(d) += p(d); d += 1 }
          counts(best) += 1
          sims(pi - lo) = bestSim
          pi += 1
        }
        (lo, sums, counts, sims)
      }
      val sums = Array.fill(kk)(new Array[Double](dims))
      val counts = new Array[Long](kk)
      val bestSims = new Array[Double](unit.length)
      partials.foreach { case (lo, ps, pc, sims) =>
        var c = 0
        while (c < kk) {
          var d = 0
          while (d < dims) { sums(c)(d) += ps(c)(d); d += 1 }
          counts(c) += pc(c)
          c += 1
        }
        System.arraycopy(sims, 0, bestSims, lo, sims.length)
      }
      // Empty clusters reseed to DISTINCT worst-fit points (one centroid
      // per point) — reseeding them all to the single worst point would
      // leave duplicate centroids whose lists collapse into one.
      val reseedPool = bestSims.zipWithIndex.sortBy(_._1).iterator.map(_._2)
      cents = cents.indices.map { c =>
        val m = if (counts(c) == 0) unit(reseedPool.next()) else sums(c)
        val n = math.sqrt(dotA(m, m))
        if (n == 0) cents(c) else m.map(_ / n)
      }.toArray
    }
    cents
  }

  /** Distributed Lloyd refinement of spherical k-means centroids over
    * the FULL corpus — the scale path past [[kmeansCentroids]]'s
    * bounded-sample fit. Each iteration is ONE map-only assignment pass
    * (the native [[graft.functions.NearestCentroid]] argmax; the same
    * coarse→fine routing as the index past `hierThreshold` centroids)
    * followed by ONE hash aggregation keyed by cluster whose partial
    * buffers are `k × dim` doubles (`graft_vec_sum` over the UNIT
    * vectors — spherical k-means sums directions, so each vector is
    * divided by its own norm before the agg, exactly the driver loop's
    * `p / ||p||`). The only collect is the k-row centroid table —
    * never corpus rows — so the per-iteration cost is one corpus scan
    * plus a k×dim exchange regardless of corpus size.
    *
    * Contract differences vs the driver loop, both deliberate:
    *   - empty clusters KEEP their previous centroid instead of
    *     reseeding to worst-fit points (reseeding needs the global
    *     worst rows — a corpus-scale ordering; `init` comes from the
    *     sample fit which already reseeded its empties, so a cluster
    *     that is empty over the FULL corpus is genuinely dead and
    *     holding it still is harmless — no vector routes to it);
    *   - the centroid sums are floating-point reductions whose merge
    *     order follows the shuffle, so components are reproducible
    *     only to summation-order ulps (~1e-12 relative), not
    *     bit-identical across runs. Callers that need bit-stable
    *     probes persist the refined table once ([[ivfWriteIndex]]
    *     stores centroids with the index) — probes against a persisted
    *     table are deterministic. KmeansRefineSpec pins the refinement
    *     against an in-memory reference to 1e-9 per component and the
    *     post-refinement ASSIGNMENT to exact equality.
    */
  def kmeansRefine(
      df: DataFrame,
      vecCol: String,
      init: Array[Array[Double]],
      iters: Int = 2,
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8): Array[Array[Double]] = {
    if (init.isEmpty || iters <= 0) return init
    def dotA(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var cents = init
    for (_ <- 0 until iters) {
      val routing = routingFor(cents, hierThreshold)
      val stats = assignClustersRouted(df, vecCol, cents, routing, coarseProbes)
        .select(col("cluster"),
          transform(col("dv"), x => x / col("nrm")).as("u"))
        .groupBy("cluster")
        .agg(graft.functions.GraftFunctions.vecSum(col("u")).as("s"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .toMap
      cents = cents.indices.map { c =>
        stats.get(c) match {
          case Some(s) =>
            val n = math.sqrt(dotA(s, s))
            if (n > 0) s.map(_ / n) else cents(c) // cancelled directions: hold
          case None => cents(c) // dead over the full corpus: hold
        }
      }.toArray
    }
    cents
  }

  /** [[kmeansCentroids]] (bounded-sample seeded fit) followed by
    * `refineIters` full-corpus [[kmeansRefine]] passes — the
    * composition the large-corpus entry points take when the 4096-row
    * sample can no longer see the cluster structure (`refineIters = 0`
    * is exactly the sample fit, unchanged).
    */
  def kmeansCentroidsRefined(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 4,
      seed: Long = 42L,
      sampleRows: Int = 4096,
      refineIters: Int = 0,
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8): Array[Array[Double]] = {
    val base = kmeansCentroids(df, vecCol, k, iters, seed, sampleRows)
    if (base.isEmpty) base
    else kmeansRefine(df, vecCol, base, refineIters, hierThreshold, coarseProbes)
  }

  /** Clustering readout: fit (sample seed + `refineIters` full-corpus
    * [[kmeansRefine]] passes), assign every row once (map-only native
    * argmax, hier-routed past `hierThreshold`), and emit one row per
    * non-empty cluster — `(cluster, n, mean_cos)`, the size and mean
    * cosine-to-assigned-centroid (the spherical k-means objective,
    * rounded to 4). One corpus scan + one k-row hash agg on top of the
    * refinement passes; the centroid table rides the plan as a literal
    * array (k × dim doubles — the same task-binary budget as the
    * assignment expression itself).
    */
  def kmeansClusterProfile(
      df: DataFrame,
      vecCol: String,
      k: Int,
      iters: Int = 4,
      seed: Long = 42L,
      sampleRows: Int = 4096,
      refineIters: Int = 2,
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8): DataFrame = {
    val cents = kmeansCentroidsRefined(df, vecCol, k, iters, seed,
      sampleRows, refineIters, hierThreshold, coarseProbes)
    kmeansProfileFrom(df, vecCol, cents, hierThreshold, coarseProbes)
  }

  /** The profile readout of [[kmeansClusterProfile]] for an ALREADY
    * FITTED centroid table (one map-only assignment + one k-row agg) —
    * shared by the fitted path above and by callers that refine from a
    * literal fixture (q124's oracle-gated form).
    */
  def kmeansProfileFrom(
      df: DataFrame,
      vecCol: String,
      cents: Array[Array[Double]],
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8): DataFrame = {
    if (cents.isEmpty)
      return df.select(lit(0).as("cluster"), lit(0L).as("n"),
        lit(0.0).as("mean_cos")).filter(lit(false))
    val routing = routingFor(cents, hierThreshold)
    val table = typedLit(cents.map(_.toSeq).toSeq)
    assignClustersRouted(df, vecCol, cents, routing, coarseProbes)
      .withColumn("cos",
        dot(toDoubleVec(col("dv")),
          element_at(table, col("cluster") + 1)) / col("nrm"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), round(avg(col("cos")), 4).as("mean_cos"))
  }

  /** ANN top-k via IVF (inverted-file) coarse quantization: vectors are
    * assigned to their nearest of `nCentroids` coarse centroids (a
    * map-only argmax), and a query scans only its `nProbe` nearest
    * centroid lists. Centroids come from [[kmeansCentroids]] (seeded,
    * sample-based spherical k-means); `kmeansIters = 0` falls back to
    * the first `nCentroids` corpus vectors by id — cheaper but blind to
    * cluster structure (the suite shows it failing on clustered data).
    * Production persists the assignment as a partition column —
    * [[ivfWriteIndex]] / [[ivfProbeIndex]] below — making the probe a
    * partition-pruned scan (nProbe of nCentroids directories touched;
    * SimilaritySpec pins the pruned file listing).
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      kmeansIters: Int = 4,
      seed: Long = 42L): DataFrame = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    require(qNorm > 0, "query vector has zero norm — cosine undefined")
    val base: Array[Array[Double]] =
      if (kmeansIters > 0)
        kmeansCentroids(df, vecCol, nCentroids, kmeansIters, seed)
      else df
        .filter(l2Norm(toDoubleVec(col(vecCol))) > 0) // a zero centroid would NaN every assignment
        .orderBy(col(idCol)).limit(nCentroids)
        .select(toDoubleVec(col(vecCol)).as("v")).collect()
        .map(_.getSeq[Double](0).toArray)
    // Empty corpus (or all-empty vectors) → empty result, same schema —
    // not a zero-arg greatest() analysis crash.
    if (base.isEmpty)
      return df.select(col(idCol), lit(0.0).as("cosine")).filter(lit(false))
    val cents = indexedCents(base)
    val probes = probeClusters(cents, query, qNorm, nProbe)
    val v = assignClusters(df, vecCol, cents)
    v.filter(col("cluster").isin(probes: _*))
      .select(col(idCol),
        round(dot(col("dv"), lit(query.toArray)) / (col("nrm") * lit(qNorm)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  private[ops] def indexedCents(base: Array[Array[Double]]): Array[(Int, Array[Double], Double)] =
    base.zipWithIndex.map { case (v, i) => (i, v, math.sqrt(v.map(x => x * x).sum)) }

  /** The query's `nProbe` nearest centroid indices (driver-side — the
    * centroid table is tiny by construction). Shared with [[Pq]]'s
    * IVF-PQ probe so both index families route queries identically.
    */
  private[ops] def probeClusters(
      cents: Array[(Int, Array[Double], Double)],
      query: Seq[Double],
      qNorm: Double,
      nProbe: Int): Seq[Int] =
    cents
      .map { case (i, cv, cn) =>
        (i, cv.zip(query).map { case (a, b) => a * b }.sum / (cn * qNorm))
      }
      .sortBy { case (i, s) => (-s, i) }.take(nProbe).map(_._1).toSeq

  /** Adds (dv, nrm, cluster) columns: the map-only nearest-centroid
    * assignment via the native [[graft.functions.NearestCentroid]]
    * expression (argmax of sim = dot/(nrm·|c|), ties toward the higher
    * index). Zero-norm vectors are dropped (a NaN cosine would rank
    * above real scores).
    *
    * The pre-native formulation — `greatest` over one (sim, idx) struct
    * PER CENTROID — is pinned as the reference semantics in
    * NativeExpressionsSpec; it generated code linear in nCentroids and
    * at the corpus-scaled nClusters the operating rule calls for it
    * blew past janino's limits and fell back to interpreted struct
    * comparisons (~185× at the 64× probe). The native expression is one
    * flat double[] reference and a two-level primitive loop, the same
    * generated code at 16 centroids or 16k.
    */
  private[ops] def assignClusters(
      df: DataFrame,
      vecCol: String,
      cents: Array[(Int, Array[Double], Double)]): DataFrame = {
    df.withColumn("dv", rawVec(df, vecCol))
      .withColumn("nrm", l2Norm(col("dv")))
      .filter(col("nrm") > 0)
      .withColumn("cluster", graft.functions.GraftFunctions.nearestCentroid(
        col("dv"), col("nrm"), cents.map(_._2)))
  }

  /** [[assignClusters]] with an optional coarse→fine routing table:
    * `routing = None` is the exact flat scan; `Some(coarseGrouping(…))`
    * ranks only the fine centroids under the `coarseProbes` nearest
    * coarse groups — O((√k + probed members) · dim) per row instead of
    * O(k · dim), the ≥`hierThreshold` path of the nClusters ~ N
    * operating rule. Callers that assign TWO relations against the
    * same centroid table (semDedupDelta's base and delta) must pass
    * the SAME routing tuple so both sides route identically. Rows
    * whose probed groups are all empty (degenerate routings only)
    * drop out, like zero-norm rows.
    */
  private[ops] def assignClustersRouted(
      df: DataFrame,
      vecCol: String,
      base: Array[Array[Double]],
      routing: Option[(Array[Array[Double]], Array[Int], Array[Int])],
      coarseProbes: Int): DataFrame = routing match {
    case Some((coarse, starts, mem)) =>
      df.withColumn("dv", rawVec(df, vecCol))
        .withColumn("nrm", l2Norm(col("dv")))
        .filter(col("nrm") > 0)
        .withColumn("cluster", get(graft.functions.GraftFunctions.nearestCentroidsHier(
          col("dv"), col("nrm"), base, 1, coarse, starts, mem, coarseProbes), lit(0)))
        .filter(col("cluster").isNotNull)
    case None => assignClusters(df, vecCol, indexedCents(base))
  }

  /** The routing tuple for `nClusters` centroids under the
    * `hierThreshold` rule — shared by every caller so the threshold
    * semantics can't drift.
    */
  private[ops] def routingFor(
      base: Array[Array[Double]], hierThreshold: Int)
      : Option[(Array[Array[Double]], Array[Int], Array[Int])] =
    if (base.length >= hierThreshold)
      Some(coarseGrouping(base, math.ceil(math.sqrt(base.length)).toInt))
    else None

  /** The pre-native greatest-over-structs assignment — kept ONLY as the
    * reference semantics for the parity gate (NativeExpressionsSpec);
    * never on a production path. Known limit, accepted for a reference:
    * generated code is LINEAR in nCentroids, so somewhere around ~200
    * centroids Janino hits its 64 KB method cap and Spark silently
    * falls back to interpreted struct comparisons (the parity suite's
    * 200-centroid case logs exactly that) — the native expression has
    * no such cliff, which is half the reason it exists.
    */
  private[ops] def assignClustersComposable(
      df: DataFrame,
      vecCol: String,
      cents: Array[(Int, Array[Double], Double)]): DataFrame = {
    def nearestCentroid(vec: Column, norm: Column): Column = {
      val structs = cents.toSeq.map { case (i, cv, cn) =>
        struct((dot(vec, lit(cv)) / (norm * lit(cn))).as("sim"), lit(i).as("idx"))
      }
      if (structs.size == 1) lit(0) else greatest(structs: _*).getField("idx")
    }
    df.withColumn("dv", toDoubleVec(col(vecCol)))
      .withColumn("nrm", l2Norm(col("dv")))
      .filter(col("nrm") > 0)
      .withColumn("cluster", nearestCentroid(col("dv"), col("nrm")))
  }

  /** SemDeDup (semantic dedup by embedding clustering): cluster the
    * corpus with seeded spherical k-means, compute exact pairwise
    * cosine ONLY within each cluster, and drop every vector that has a
    * smaller-id neighbor above `threshold` — the quadratic work is
    * bounded per cluster instead of per corpus (the reference point is
    * q24's exact all-pairs relation, which is gate-scale only).
    *
    * Decisions, made deterministic:
    *   - drop every id with ANY smaller-id neighbor above `threshold`
    *     in its cluster — the witness may itself be dropped: a chain
    *     a~b~c (each link above threshold) keeps only `a`, exactly the
    *     per-pair dropped set of the exact relation q85 is gated
    *     against (connected-component semantics live in [[GraphOps]]
    *     for callers who want them);
    *   - zero-norm vectors have no direction, are never anyone's
    *     duplicate, and always survive;
    *   - clusters above `maxCluster` are skipped ENTIRELY (their
    *     members all survive): a degenerate mega-cluster would
    *     otherwise reintroduce the quadratic blow-up. Conservative by
    *     construction — skipping can only under-dedup, never drop a
    *     non-duplicate. Production sizes nClusters so cluster size ≪
    *     maxCluster; recall vs the exact relation is suite-gated.
    *
    * Scale shape: one bounded-sample k-means (driver-side, tiny), one
    * map-only assignment pass, one self-join keyed on the cluster id.
    * Approximation is the paper's: cross-cluster duplicates are missed
    * by design; with unit-norm near-dups both sides of a pair share a
    * nearest centroid unless they straddle a boundary.
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nClusters: Int = 16,
      kmeansIters: Int = 4,
      seed: Long = 42L,
      maxCluster: Int = 100000,
      sampleRows: Int = 4096,
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8,
      refineIters: Int = 0): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold must be in (0, 1]")
    // sampleRows rides along because it must GROW with nClusters: at the
    // default 4096 a corpus-scaled nClusters (the documented operating
    // rule — fixed expected cluster size) would fit centroids from a few
    // samples each, degenerating the very clustering that bounds the
    // quadratic term. Keep sampleRows >= ~8 x nClusters. Past the
    // sample's reach, `refineIters` full-corpus [[kmeansRefine]] passes
    // re-fit the table the sample seeded.
    val base = kmeansCentroidsRefined(df, vecCol, nClusters, kmeansIters,
      seed, sampleRows, refineIters, hierThreshold, coarseProbes)
    if (base.isEmpty) return df // no directions anywhere → nothing to dedup
    // The cluster self-join exchanges every surviving row TWICE with its
    // vector attached — assignClusters' `dv` is the RAW column (float
    // for the embeddings tables: half the exchange bytes of doubles);
    // graft_dot widens per element inside the pairwise loop,
    // bit-identically. Past `hierThreshold` centroids the assignment
    // routes coarse→fine (same ≥4096 rule as ivfKnnJoin — flat is
    // O(nClusters · dim)/row, the far-scale term under nClusters ~ N);
    // routing only changes which cluster a boundary row lands in, so
    // it can only under-dedup, and sits behind the same suite recall
    // gates.
    val v = assignClustersRouted(df, vecCol, base,
        routingFor(base, hierThreshold), coarseProbes)
      .select(col(idCol), col("dv").as("rawv"), col("nrm"), col("cluster"))
    // the size table is nClusters rows — broadcast it explicitly so the
    // mega-cluster filter stays map-side (no exchange between the
    // assignment pass and the size filter)
    val sized = v.join(
      broadcast(v.groupBy("cluster").agg(count(lit(1)).as("_graft_csz"))), Seq("cluster"))
      .filter(col("_graft_csz") <= maxCluster)
    val a = sized.select(col("cluster"), col(idCol).as("_graft_ida"),
      col("rawv").as("_graft_va"), col("nrm").as("_graft_na"))
    val b = sized.select(col("cluster"), col(idCol).as("_graft_idb"),
      col("rawv").as("_graft_vb"), col("nrm").as("_graft_nb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("_graft_ida") < col("_graft_idb"))
      .filter(dot(col("_graft_va"), col("_graft_vb")) /
        (col("_graft_na") * col("_graft_nb")) > threshold)
      .select(col("_graft_idb").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Incremental SemDeDup: dedup a DELTA batch against an immutable
    * KEPT corpus under FROZEN centroids — the steady-growth pattern of
    * a training pipeline (yesterday's corpus already shipped; today's
    * crawl must not re-cluster or re-judge it). Completes the delta
    * family: q75 (exact hash) and q90 (Bloom-prefiltered) are the
    * exact-duplicate deltas; this is the semantic one.
    *
    * Decision rule, per delta row (zero-norm rows have no direction
    * and always survive, as in [[semDedup]]):
    *   - DROP if some base member of its cluster has cosine >
    *     `threshold` (the base is immutable, so base ids are
    *     irrelevant — any kept neighbor makes the new row redundant);
    *   - else DROP if a SMALLER-ID delta sibling in its cluster has
    *     cosine > `threshold` (the same pairwise min-id rule as
    *     [[semDedup]], so within-batch behavior is unchanged);
    *   - clusters whose base+delta size exceeds `maxCluster` are
    *     skipped entirely (all their delta members survive) — the same
    *     conservative mega-cluster guard, sized on the UNION exactly
    *     as one batch run over base∪delta would see it.
    *
    * Incremental vs batch (base a kept corpus, delta ids above base
    * ids — the monotonic layout every append-only corpus has): the
    * incremental drops are always a SUBSET of a batch frozen-centroid
    * run over base∪delta — conservative, never dropping a row batch
    * would keep. The one deliberate divergence: batch's pairwise rule
    * lets an already-dropped row witness further drops, while the
    * incremental contract judges new rows against what the pipeline
    * KEPT (a document can't be redundant with one that isn't in the
    * corpus). When duplicate classes are direction-cliques (exact
    * twins: every member pairwise above threshold) witnesses transfer
    * and the two results are row-for-row EQUAL — SimilaritySpec pins
    * both the subset property and the clique-equality.
    *
    * Scale shape: two map-only assignment passes, a ≤`nClusters`-row
    * broadcast size table, and two cluster-keyed joins whose base side
    * is |base ∩ occupied clusters| — O(|delta| · cluster slice), never
    * O(|base|²). For a persisted corpus use [[semDedupDeltaIndexed]],
    * which prunes the base scan to the delta's clusters at file
    * listing; its survivors then append ([[CorpusUpsert.IvfTarget]])
    * straight back into the same index — the two calls are the whole
    * steady-state loop.
    */
  def semDedupDelta(
      base: DataFrame,
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      centroids: Array[Array[Double]],
      maxCluster: Int = 100000,
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold must be in (0, 1]")
    require(centroids.nonEmpty, "semDedupDelta: empty centroid table")
    // ONE routing tuple for both sides: base and delta must route
    // through identical coarse groups or a pair straddling a routing
    // disagreement would never meet in a cluster.
    val routing = routingFor(centroids, hierThreshold)
    val d = assignClustersRouted(delta, vecCol, centroids, routing, coarseProbes)
      .select(col(idCol), col("dv"), col("nrm"), col("cluster"))
    val b = assignClustersRouted(base, vecCol, centroids, routing, coarseProbes)
      .select(col(idCol), col("dv"), col("nrm"), col("cluster"))
    semDedupDeltaFrom(delta, d, b, idCol, threshold, maxCluster)
  }

  /** [[semDedupDelta]] with the kept corpus read from a persisted
    * [[ivfWriteIndex]] index instead of a DataFrame:
    * the index is partitioned by `cluster`, so the base scan is pruned
    * AT FILE LISTING to the clusters the delta actually occupies — a
    * small delta against a 100 TB corpus reads only its own clusters'
    * partitions (vectors and norms pre-materialized, no base-side
    * recompute). The occupied-cluster list is one ≤`nClusters`-int
    * driver collect — index metadata scale, not data scale.
    *
    * `centroids` must be the table the index was built with (same
    * contract as [[ivfProbeIndex]]). Survivors are the rows to append
    * ([[CorpusUpsert.IvfTarget]]) back into the same index.
    *
    * Assignment here is deliberately FLAT (no `hierThreshold` knob):
    * the delta's cluster ids must match the ids the index was WRITTEN
    * under ([[ivfWriteIndex]] assigns flat), or a boundary row would
    * prune to a partition its true neighbors don't occupy. Hierarchical
    * routing of an indexed corpus belongs at index-build time, paired
    * with the same routing on every later delta.
    */
  def semDedupDeltaIndexed(
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      indexPath: String,
      centroids: Array[Array[Double]],
      maxCluster: Int = 100000): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold must be in (0, 1]")
    require(centroids.nonEmpty, "semDedupDeltaIndexed: empty centroid table")
    val cents = indexedCents(centroids)
    val d = assignClusters(delta, vecCol, cents)
      .select(col(idCol), col("dv"), col("nrm"), col("cluster"))
    val occupied = d.select("cluster").distinct()
      .collect().map(_.getInt(0)).sorted
    // open through the tombstone filter: a deleted (taken-down) base
    // row must not suppress a new near-duplicate of itself
    val b = ivfOpenIndex(delta.sparkSession, indexPath, idCol)
      .filter(col("cluster").isin(occupied.map(Int.box).toSeq: _*))
      .select(col(idCol), col("dv"), col("nrm"), col("cluster"))
    semDedupDeltaFrom(delta, d, b, idCol, threshold, maxCluster)
  }

  /** Shared body of the two delta entry points: `d`/`b` are the
    * assigned delta and base-slice relations (idCol, dv, nrm, cluster).
    */
  private def semDedupDeltaFrom(
      delta: DataFrame,
      d: DataFrame,
      b: DataFrame,
      idCol: String,
      threshold: Double,
      maxCluster: Int): DataFrame = {
    // union size table = what one batch run over base∪delta would
    // guard on; ≤ nClusters rows, broadcast so both filters stay
    // map-side (same shape as semDedup's size attach)
    val sizes = d.select(col("cluster")).unionAll(b.select(col("cluster")))
      .groupBy("cluster").agg(count(lit(1)).as("_graft_csz"))
    def guarded(x: DataFrame): DataFrame =
      x.join(broadcast(sizes), Seq("cluster")).filter(col("_graft_csz") <= maxCluster)
    val dn = guarded(d).select(col("cluster"), col(idCol).as("_graft_idd"),
      col("dv").as("_graft_vd"), col("nrm").as("_graft_nd"))
    val bn = guarded(b).select(col("cluster"), col(idCol).as("_graft_idb"),
      col("dv").as("_graft_vb"), col("nrm").as("_graft_nb"))
    val vsBase = dn.join(bn, Seq("cluster"))
      .filter(dot(col("_graft_vd"), col("_graft_vb")) /
        (col("_graft_nd") * col("_graft_nb")) > threshold)
      .select(col("_graft_idd").as(idCol))
    val dn2 = dn.select(col("cluster"), col("_graft_idd").as("_graft_idd2"),
      col("_graft_vd").as("_graft_vd2"), col("_graft_nd").as("_graft_nd2"))
    val within = dn.join(dn2, Seq("cluster"))
      .filter(col("_graft_idd2") < col("_graft_idd"))
      .filter(dot(col("_graft_vd"), col("_graft_vd2")) /
        (col("_graft_nd") * col("_graft_nd2")) > threshold)
      .select(col("_graft_idd").as(idCol))
    val dropped = vsBase.unionAll(within).distinct()
    delta.join(dropped, Seq(idCol), "left_anti")
  }

  /** Persist an IVF index: assign every vector to its nearest centroid
    * and write the corpus PARTITIONED BY the cluster id, so probes
    * become partition-pruned scans. Stores (id, dv, nrm, cluster) —
    * the vector (kept in its raw element type: a float corpus stores a
    * float index, HALF the bytes on disk and per probe scan; the probe
    * dot widens per element, bit-identically) and its norm are
    * materialized so the probe never recomputes them. Returns the centroids; callers keep
    * them (tiny) next to the index — [[ivfProbeIndex]] needs them to
    * route queries.
    *
    * This is the 100 TB shape: index build is one map-only pass plus
    * the partitioned write; every later query touches `nProbe` of
    * `nCentroids` directories — the scan cost drops by the same factor
    * regardless of corpus size, with no driver state beyond the
    * centroid table.
    */
  def ivfWriteIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nCentroids: Int = 16,
      kmeansIters: Int = 4,
      seed: Long = 42L,
      refineIters: Int = 0): Array[Array[Double]] = {
    val base = kmeansCentroidsRefined(df, vecCol, nCentroids, kmeansIters,
      seed, refineIters = refineIters)
    require(base.nonEmpty, "ivfWriteIndex: empty corpus (or all zero-norm vectors)")
    Clusters.write(assignClusters(df, vecCol, indexedCents(base))
      .select(col(idCol), col("dv"), col("nrm"), col("cluster")), path)
    base
  }

  /** The index root itself × `cluster` — the layout exact IVF and
    * [[Pq]]'s IVF-PQ share.
    */
  private[ops] val Clusters = IndexLayout.SubDir("", Seq("cluster"))

  /** The lifecycle entry point for both `cluster=`-partitioned indexes
    * (exact IVF and IVF-PQ): `delete` tombstones ids (probes exclude
    * them at once), `purge` rewrites only the clusters holding a
    * tombstoned id, `compact` folds append litter — a probe's pruned
    * listing stays `nProbe` directories but opens one reader per tiny
    * file inside them. Purge and compaction want quiesced probes and
    * preserve probe results bit-identically.
    */
  val IvfLayout: IndexLayout = IndexLayout("ivf", Seq(Clusters))

  /** The exact family's delta writer, behind [[CorpusUpsert.IvfTarget]]
    * (every append door): the delta's index rows, cluster-assigned
    * under the index's frozen centroids, written to `stagePath` in the
    * index layout ([[writeClusterRows]]).
    */
  private[ops] def ivfWriteDelta(
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      stagePath: String,
      centroids: Array[Array[Double]]): Unit = {
    require(centroids.nonEmpty, "IvfTarget: empty centroid table")
    writeClusterRows(
      assignClusters(delta, vecCol, indexedCents(centroids))
        .select(col(idCol), col("dv"), col("nrm"), col("cluster")),
      indexPath, stagePath, centroids.length)
  }

  /** The one writer behind the exact and PQ delta writers. `rows`
    * carries `dv` in the delta's element type; the index stores `dv` in
    * the element type of the corpus that built it (float stays float —
    * see [[ivfWriteIndex]]), and parquet readers do not reconcile a
    * float file with a double file in one scan, so `dv` is cast to the
    * index's recorded type (a no-op column reference in the normal
    * case). The recorded type is one data file's footer, read on the
    * driver ([[IndexLayout.dataSchema]] — no Spark job); an index with
    * no data file yet takes the delta's type.
    *
    * The rows co-partition with the cluster layout before the
    * dynamic-partition write to `stageDir` — ≤ one file per touched
    * cluster instead of tasks×clusters, with file creation parallelized
    * (the [[HammingIndex.writeDelta]] steady-state treatment; the
    * shuffle is delta-sized).
    */
  private[ops] def writeClusterRows(
      rows: DataFrame,
      indexPath: String,
      stageDir: String,
      nClusters: Int): Unit = {
    val indexElem = IndexLayout.dataSchema(rows.sparkSession,
      Clusters.dir(indexPath)).map(_("dv").dataType)
    val aligned = indexElem match {
      case Some(t) if rows.schema("dv").dataType != t =>
        rows.withColumn("dv", col("dv").cast(t))
      case _ => rows
    }
    Clusters.write(
      DirLayout.appendToDirs(aligned, nClusters, Clusters.cols: _*), stageDir)
  }

  /** The index relation with tombstoned ids excluded — what every
    * probe should scan. Warm-workload callers (the
    * [[Pq.pqIvfShortlistFrom]] open-once pattern) open through this
    * instead of opening the index root themselves, so deletes are
    * visible to them too.
    */
  def ivfOpenIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String): DataFrame =
    Tombstones.excludeFrom(Clusters.read(spark, path), path, idCol)

  /** Top-k cosine probe against a persisted [[ivfWriteIndex]] index:
    * reads ONLY the query's `nProbe` nearest cluster partitions
    * (`cluster` is a partition column, so the filter prunes at file
    * listing — no data from other clusters is opened, let alone
    * scanned). Same result as [[ivfTopK]] with the same centroids.
    */
  def ivfProbeIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      centroids: Array[Array[Double]],
      idCol: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    require(qNorm > 0, "query vector has zero norm — cosine undefined")
    require(centroids.nonEmpty, "ivfProbeIndex: empty centroid table")
    val probes = probeClusters(indexedCents(centroids), query, qNorm, nProbe)
    // tombstone anti-join AFTER the cluster prune: the excluded set is
    // joined against the nProbe-partition slice, never the full index
    Tombstones.excludeFrom(
      Clusters.read(spark, path).filter(col("cluster").isin(probes: _*)),
      path, idCol)
      .select(col(idCol),
        round(dot(col("dv"), lit(query.toArray)) / (col("nrm") * lit(qNorm)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** BATCH top-k cosine retrieval served from a PERSISTED
    * [[ivfWriteIndex]] index — [[ivfKnnJoin]]'s one-pass query-RELATION
    * shape against the stored layout instead of a freshly assigned
    * corpus, and [[ivfProbeIndex]]'s persisted-index treatment freed
    * from its one-query-per-call driver routing (a retrieval service
    * answering thousands of queries would otherwise re-open the index
    * per query). The moving parts, all established:
    *
    *   1. each query routes itself to its `nProbe` nearest centroids
    *      in ONE map-only pass (the native
    *      [[graft.functions.NearestCentroids]] expression; the
    *      coarse→fine hierarchical routing takes over past
    *      `hierThreshold` centroids, [[ivfKnnJoin]]'s rule);
    *   2. the UNION of probed clusters prunes the index scan at file
    *      listing (≤ nClusters ints collected — the
    *      [[graft.ops.LexIndex.bm25PhraseJoin]] discipline);
    *   3. tombstoned ids are anti-joined out of the pruned slice only;
    *   4. the cluster-keyed join meets each query with just its probed
    *      clusters' vectors (the IVF scan-fraction contract — scored
    *      work is nProbe × expected cluster size dots per query, a (q,
    *      n) pair can never score twice since a row lives in exactly
    *      one cluster and probe lists are distinct);
    *   5. per-query top-k via `row_number ≤ k` → WindowGroupLimit
    *      (map-side pre-trim before the rank exchange).
    *
    * Returns `(q_id, n_id, cosine, rank)`, rank 1..k by (cosine desc,
    * n_id) on the `roundTo`-rounded score. Exact when nProbe covers
    * every cluster (the oracle regime); approximate below that with
    * [[ivfKnnJoin]]'s recall characteristics (same routing, same
    * suite gates). Zero-norm queries drop (cosine undefined).
    *
    * `rids = Some(idSet)` runs the retrieval over a SNAPSHOT (the
    * [[graft.ops.CorpusUpsert.asOfRids]] id set): the pruned slice
    * keeps tombstoned rows (superseded revisions are history until a
    * purge) and cuts to the set BEFORE ranking — post-filtering top-k
    * OUTPUT would drop below-k survivors, so the cut must precede the
    * window. Cosine is per-pair, so snapshot results are exact
    * history. One caveat vs the BM25 twin: vector layouts carry no
    * side ledger, so a rid whose rows a purge already reclaimed
    * silently vanishes rather than refusing — run purges on the
    * snapshot cadence you need (a corpus root with a BM25 target can
    * gate via [[graft.ops.LexIndex.bm25ProbeRids]]'s doclen check).
    */
  def ivfProbeJoin(
      queries: DataFrame,
      path: String,
      centroids: Array[Array[Double]],
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      roundTo: Int = 6,
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8,
      rids: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    require(k >= 1, s"ivfProbeJoin: k=$k must be >= 1")
    require(nProbe >= 1, s"ivfProbeJoin: nProbe=$nProbe must be >= 1")
    require(centroids.nonEmpty, "ivfProbeJoin: empty centroid table")
    val qBase = queries
      .select(col(idCol).as("q_id"), rawVec(queries, vecCol).as("qv"))
      .withColumn("qn", l2Norm(col("qv")))
      .filter(col("qn") > 0)
    val q = routeProbeExplode(qBase, centroids, nProbe, hierThreshold,
      coarseProbes)
    val slice = probedSlice(spark, path, idCol, q, rids)
    val scored = slice.join(q, Seq("cluster"))
      .select(col("q_id"), col(idCol).as("n_id"),
        round(dot(col("qv"), col("dv")) / (col("qn") * col("nrm")),
          roundTo).as("cosine"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= k)
  }

  /** The shared head of the batch probe joins (exact IVF here,
    * [[Pq.pqIvfProbeJoin]] for the compressed layout): explode
    * `qBase` (a `(q_id, qv, qn, …extras)` relation, zero-norm rows
    * already dropped) by its `nProbe` nearest clusters — native
    * kernels, hier routing past `hierThreshold` — one definition so
    * the exact and compressed paths can never route differently.
    */
  private[ops] def routeProbeExplode(
      qBase: DataFrame,
      centroids: Array[Array[Double]],
      nProbe: Int,
      hierThreshold: Int,
      coarseProbes: Int): DataFrame = {
    val np = math.min(nProbe, centroids.length)
    qBase.withColumn("cluster",
      explode(routingFor(centroids, hierThreshold) match {
        case Some((coarse, starts, mem)) =>
          graft.functions.GraftFunctions.nearestCentroidsHier(
            col("qv"), col("qn"), centroids, np, coarse, starts, mem,
            coarseProbes)
        case None =>
          graft.functions.GraftFunctions.nearestCentroids(
            col("qv"), col("qn"), centroids, np)
      }))
  }

  /** The shared slice of the batch probe joins: the index pruned at
    * file listing to the UNION of `q`'s probed clusters (≤ nClusters
    * ints on the driver; empty when every query was zero-norm, and
    * isin() with no values is constant-false — the empty result keeps
    * the right schema), then either the live tombstone exclusion or
    * the snapshot rid cut (tombstoned rows stay — they are history).
    */
  private[ops] def probedSlice(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      q: DataFrame,
      rids: Option[DataFrame]): DataFrame = {
    val probed = q.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq
    val slice0 = Clusters.read(spark, path)
      .filter(col("cluster").isin(probed: _*))
    rids match {
      case Some(r) => slice0.join(r.select(col(idCol)), Seq(idCol),
        "left_semi")
      case None => Tombstones.excludeFrom(slice0, path, idCol)
    }
  }

  /** ANN top-k via SRP-LSH: score only vectors sharing the query's
    * bucket in at least one of `tables` independent hash tables.
    * Approximate — recall is tested against [[bruteForceTopK]] in the
    * suite; at 100 TB the candidate set per query is a few buckets
    * instead of the full corpus, and the bucket columns can be
    * precomputed and partitioned-by for repeated query workloads.
    */
  def srpTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int,
      planes: Int = 8,
      tables: Int = 8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = df.withColumn("dv", rawVec(df, vecCol))
      .filter(l2Norm(col("dv")) > 0) // NaN cosine would rank above real scores
    val withBuckets = (0 until tables).foldLeft(v) { (d, t) =>
      d.withColumn(s"b$t", srpBucket(col("dv"), planes, t * planes))
    }
    // The query's buckets come from running the identical expression on a
    // one-row frame — same codegen path, so corpus and query agree bit-for-bit.
    val qRow = (0 until tables).foldLeft(Seq(Tuple1(query.toArray)).toDF("qv")) {
      (d, t) => d.withColumn(s"b$t", srpBucket(col("qv"), planes, t * planes))
    }.select((0 until tables).map(t => col(s"b$t")): _*).head()
    // Multi-probe: accept buckets within Hamming distance 1 of the
    // query's bucket in any table — near neighbors that land one
    // hyperplane-sign away (the dominant miss mode for SRP) are
    // recovered at ~(planes+1)× candidate cost, still sublinear.
    val cand = (0 until tables)
      .map(t => bit_count(col(s"b$t").bitwiseXOR(lit(qRow.getLong(t)))) <= 1)
      .reduce(_ || _)
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    require(qNorm > 0, "query vector has zero norm — cosine undefined")
    withBuckets.filter(cand)
      .select(col(idCol),
        round(dot(col("dv"), lit(query.toArray)) / (l2Norm(col("dv")) * lit(qNorm)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }
}
