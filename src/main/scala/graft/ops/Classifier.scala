package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed logistic-regression text classifier over hashed
  * bag-of-token features — the fastText-style quality-filter shape
  * (CCNet / GPT-3 pipelines train exactly this to keep "wiki-like"
  * documents): weak labels from a cheap heuristic, a linear model over
  * hashed n-gram features, then corpus-wide scoring.
  *
  * Everything is DataFrame algebra — no MLlib, no RDDs, no UDFs:
  * full-batch gradient descent where each iteration is two hash-agg
  * shuffles (doc-keyed margins, feature-keyed gradients) plus a
  * weight-table join. The weight table is `dim`-bounded (never
  * corpus-scale) and broadcasts at the default dims; the corpus-scale
  * posting relation is never collected, and the only driver scalar is
  * the example count. A step's materialized margins (early-stop mode)
  * are released as soon as the step is applied (the Bpe.trainMerges
  * discipline).
  */
object Classifier {

  /** Bias rides the feature relation as index -1 with value 1.0, so the
    * margin/gradient algebra needs no special case; L2 skips it.
    */
  val BiasIdx: Long = -1L

  /** Optional log-length feature index (see [[hashedFeatures]]). */
  val LenIdx: Long = -2L

  /** Hashed bag-of-tokens features: one (id, idx, x) row per distinct
    * token hash bucket per doc, x = tf / len(doc) (length-normalized
    * term frequency), plus the bias row. Map-only up to the per-doc
    * hash agg; `dim` buckets via `pmod(xxhash64(token), dim)`.
    *
    * `lengthFeature = true` adds one more row per doc at index
    * [[LenIdx]] with x = min(len(doc)/lenSat, 1) — the tf/dl
    * normalization deliberately erases document length, but
    * quality-filter labels in C4/Gopher-style pipelines are strongly
    * length-driven (the q28 heuristic weights a length term 0.5), so a
    * pure-BoW model plateaus at the base rate on such labels (measured
    * at sf0.1: 0.644 holdout vs a 0.64 majority class). The saturating
    * ramp shape mirrors the label family's own length term (Gopher
    * minWords, q28's min(n/50, 1)) — a log scaling measured ~3× more
    * iterations to separate a pure length split, because the feature's
    * within-corpus variation is small against its common offset and the
    * separating direction must cancel the bias/common-token components.
    * L2 applies to the length weight (it is not the bias).
    */
  def hashedFeatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 1 << 15,
      lengthFeature: Boolean = false,
      lenSat: Double = 50.0): DataFrame = {
    require(lenSat > 0, s"lenSat=$lenSat must be > 0")
    require(dim >= 1, s"dim=$dim must be >= 1")
    // split("", " ") is [""] — drop empty tokens so blank docs vanish
    val toks = array_remove(TextFunctions.tokens(col(textCol)), "")
    // tokenize+hash+explode is the CPU-heavy stage of the whole fit —
    // spread a degenerate scan first (DirLayout.spread: no-op when the
    // input already parallelizes; the three consumers below share the
    // one exchange through ReuseExchange)
    val src = DirLayout.spread(df, col(idCol))
    val base = src
      .filter(size(toks) >= 1)
      .select(col(idCol), size(toks).cast("double").as("dl"),
        explode(toks).as("tok"))
      .select(col(idCol), col("dl"),
        pmod(xxhash64(col("tok")), lit(dim.toLong)).as("idx"))
      .groupBy(col(idCol), col("idx"))
      .agg((count(lit(1)) / first("dl")).as("x"))
    val bias = src.filter(size(toks) >= 1)
      .select(col(idCol), lit(BiasIdx).as("idx"), lit(1.0).as("x"))
    val withBias = base.unionByName(bias)
    if (!lengthFeature) withBias
    else withBias.unionByName(
      src.filter(size(toks) >= 1)
        .select(col(idCol), lit(LenIdx).as("idx"),
          least(size(toks).cast("double") / lit(lenSat), lit(1.0)).as("x")))
  }

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  /** Full-batch AdaGrad training (Duchi et al. 2011). `feats` is
    * (id, idx, x) sparse features (bias row included, e.g. from
    * [[hashedFeatures]]); `labels` is (id, y) with y ∈ {0, 1}; every id
    * in `feats` must appear in `labels`. Returns the (idx, w) weight
    * table. Weights start at 0 for every feature index observed in
    * `feats`; unobserved indices stay implicitly 0 (they can never
    * receive gradient). L2 applies to every weight except the bias.
    *
    * Per-coordinate AdaGrad rather than plain GD because hashed-text
    * features are badly conditioned — the bias carries x = 1 while
    * length-normalized tfs are O(1/dl), so no single global step size
    * both moves the tf weights and keeps the bias from oscillating
    * (measured on the sf0.01 corpus: plain GD at the lr the tf
    * weights need diverges through the bias and degenerates to the
    * majority class). G_j accumulates g_j² across iterations and the
    * step is lr·g_j/√(G_j+ε), so each coordinate self-scales.
    *
    * Per iteration: margins m_d = Σ x·w (one feature→weight join + one
    * doc-keyed agg), residuals r_d = σ(m_d) − y_d, gradients
    * g_j = Σ_d x_{d,j}·r_d / n + λ·w_j (one doc-keyed join + one
    * feature-keyed agg, COLLECTED model-sized to the driver). The
    * weight/AdaGrad accumulator state is `dim`-bounded and lives on
    * the driver (the parameter-server shape — kmeansCentroids'
    * driver-table convention), re-entering each step's margins join as
    * a broadcast local relation; past broadcast size the join would
    * degrade to a shuffle join on `idx` — the same policy as the
    * vocabulary joins in TextAnalysis.
    *
    * Shuffle shape: the posting relation and the labels are
    * repartitioned BY DOCUMENT once up front and materialized
    * (localCheckpoint preserves the partitioning) — the margins agg,
    * the residual join, and the gradient join all satisfy their
    * distribution from that one exchange, so the only per-iteration
    * exchange over unaggregated data is the gradient's feature-keyed
    * agg, whose map-side combine bounds it at `dim` rows per task.
    * Without this, each iteration re-shuffled the corpus-scale
    * posting relation twice — ScaleProbe measured the q120 shape
    * (16 iterations) at 243.9 s / ratio 22.4 at the 64× corpus
    * before, 40.0 s / ratio 7.1 after, with the 1× run halving too
    * (10.9 → 5.6 s); ClassifierSpec's reference-equivalence pin held
    * across the change.
    *
    * Cost levers (both off by default — the defaults keep the
    * full-batch path arithmetic-identical to [[trainLogRegLocal]]):
    *   - `tol > 0` stops once the training log-loss of the current
    *     weights improves by less than `tol` over the previous
    *     iteration (evaluated from the margins relation the update
    *     already computes, materialized once — not a second pass);
    *   - `sampleFrac < 1` descends on a fresh deterministic
    *     [[Sampling.hashSample]] doc mini-batch each iteration
    *     (row-local predicate over the doc-partitioned checkpoint: no
    *     extra exchange; gradients normalize by the batch's actual
    *     count). Classic SGD noise/speed trade — hold the held-out
    *     accuracy gate, not bit-equivalence, when it's on.
    */
  def trainLogReg(
      feats: DataFrame,
      labels: DataFrame,
      idCol: String,
      iters: Int = 10,
      lr: Double = 0.5,
      l2: Double = 0.0,
      tol: Double = 0.0,
      sampleFrac: Double = 1.0,
      seed: Long = 42L,
      minSteps: Int = 3,
      patience: Int = 2): DataFrame =
    trainLogRegStats(feats, labels, idCol, iters, lr, l2, tol, sampleFrac,
      seed, minSteps, patience).weights

  /** What a training run actually did: the weight table, the number of
    * update steps applied (< the `iters` budget when `tol` stopped it),
    * and the last training log-loss observed (NaN when `tol` was off —
    * no loss pass runs then).
    */
  final case class TrainResult(
      weights: DataFrame, stepsApplied: Int, lastLoss: Double)

  /** [[trainLogReg]] returning [[TrainResult]] — same computation.
    *
    * `minSteps`: the early stop is not consulted until this many update
    * steps have applied. AdaGrad's FIRST step is a near-fixed-size jump
    * per coordinate (G holds one g², so the step is ≈ lr/√2 · sign(g))
    * that routinely overshoots and RAISES the loss before the
    * accumulator tames the step size (measured at sf0.1: loss 0.693 →
    * 1.542 → 0.671 → …); without the floor, `tol` would read that
    * first wobble as a plateau and stop at the overshot weights.
    *
    * `patience`: the stop fires only after this many CONSECUTIVE
    * sub-tol evaluations. The post-overshoot recovery oscillates
    * (improvements alternate sign with real magnitude) before the
    * descent proper begins; a single sub-tol reading inside that
    * oscillation is noise, not a plateau — with patience 1 a separable
    * fixture measured a coin-flip 0.5/1.0 outcome depending on the
    * first common-offset step's sign, with patience 2 every (lr,
    * minSteps) configuration tested separated fully.
    */
  def trainLogRegStats(
      feats: DataFrame,
      labels: DataFrame,
      idCol: String,
      iters: Int = 10,
      lr: Double = 0.5,
      l2: Double = 0.0,
      tol: Double = 0.0,
      sampleFrac: Double = 1.0,
      seed: Long = 42L,
      minSteps: Int = 3,
      patience: Int = 2): TrainResult = Ckpt.scope {
    require(iters >= 1, s"iters=$iters must be >= 1")
    require(patience >= 1, s"patience=$patience must be >= 1")
    require(sampleFrac > 0.0 && sampleFrac <= 1.0,
      s"sampleFrac=$sampleFrac out of (0,1]")
    val n = labels.count().toDouble
    require(n > 0, "trainLogReg: empty label relation")
    val eps = 1e-8
    val lossEps = 1e-12
    val spark = feats.sparkSession
    // One doc-keyed exchange up front, reused by every iteration's
    // margins agg + residual join + gradient join (localCheckpoint
    // preserves the partitioning in LogicalRDD).
    val f = Ckpt.checkpoint(feats.select(col(idCol), col("idx"), col("x"))
      .repartition(col(idCol)))
    val lab = Ckpt.checkpoint(labels.select(col(idCol), col("y"))
      .repartition(col(idCol)))
    // The weight/AdaGrad state lives on the DRIVER (round 18): it is
    // MODEL-sized — one (w, G) pair per observed idx, dim-bounded and
    // independent of corpus size (the kmeansCentroids driver-table
    // convention; the classic parameter-server shape) — so each step
    // costs ONE distributed pass (margins → residuals → gradient,
    // collected model-sized) instead of checkpoint-materializing a
    // weight DataFrame and re-broadcasting it from executor blocks:
    // the round-18 probe measured ~9 driver-scheduled jobs per step,
    // of which only the gradient pass touches data. Arithmetic is
    // UNCHANGED: margins/gradient run the same Spark aggregations, and
    // the per-coordinate update applies the same double ops in the
    // same order (ClassifierSpec's 1e-10 reference-equivalence pin).
    // This also retires the per-step Ckpt.cut (the stats-compounding
    // hazard is gone with the weight DataFrame itself).
    val idxs: Array[Long] = f.select(col("idx")).distinct()
      .collect().map(_.getLong(0)).sorted
    val w = new scala.collection.mutable.LongMap[Double](idxs.length * 2)
    val g2 = new scala.collection.mutable.LongMap[Double](idxs.length * 2)
    idxs.foreach { j => w(j) = 0.0; g2(j) = 0.0 }
    def weightsDF: DataFrame =
      spark.createDataFrame(idxs.toIndexedSeq.map(j => (j, w(j))))
        .toDF("idx", "w")
    var prevLoss = Double.MaxValue
    var it = 0
    var steps = 0
    var belowTol = 0
    var converged = false
    while (it < iters && !converged) {
      it += 1
      // Sampled-gradient option: the SAME row-local hash predicate cuts
      // the posting relation and the labels (referential integrity is
      // hashSample's contract), so the iteration sees a consistent
      // fraction-of-docs mini-batch with a fresh seed per step. The
      // filter is map-only over the already doc-partitioned checkpoint —
      // no new exchange; the one extra action is the sampled-label
      // count (the gradient's 1/n must match the batch actually seen).
      val (fi, labi, ni) =
        if (sampleFrac >= 1.0) (f, lab, n)
        else {
          val li = Sampling.hashSample(lab, idCol, sampleFrac, seed + it)
          val cnt = li.count().toDouble
          (Sampling.hashSample(f, idCol, sampleFrac, seed + it), li, cnt)
        }
      if (ni == 0) {
        // a tiny fraction on a tiny corpus can draw an empty batch —
        // skip the step rather than divide by zero
      } else {
        def applyStep(resid: DataFrame): Unit = {
          val grad = fi.join(resid, Seq(idCol))
            .groupBy("idx")
            .agg((sum(col("x") * col("r")) / lit(ni)).as("g"))
            .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
          // getOrElse 0.0: under sampling an idx can miss the batch
          // entirely and must keep its weight (gradient 0), not drop
          // from the model; with the full batch every observed idx has
          // a gradient row, so the arithmetic is identical
          idxs.foreach { j =>
            val g = grad.getOrElse(j, 0.0) +
              (if (j != BiasIdx) l2 * w(j) else 0.0)
            val gg = g2(j) + g * g
            g2(j) = gg
            w(j) -= lr * g / math.sqrt(gg + eps)
          }
          steps += 1
        }
        val margins = fi.join(broadcast(weightsDF), Seq("idx"))
          .groupBy(col(idCol))
          .agg(sum(col("x") * col("w")).as("m"))
        if (tol > 0.0) {
          // Early stop on the training objective: loss of the CURRENT
          // weights over this iteration's batch, computed from the same
          // margins relation the update needs (materialized once, so
          // the margins job is not paid twice). Stops BEFORE applying
          // another update once the improvement falls under `tol` —
          // with sampleFrac < 1 the comparison is across different
          // mini-batches, so tol should absorb that sampling noise.
          val mj = Ckpt.checkpoint(margins.join(labi, Seq(idCol)))
          val p = sigmoid(col("m"))
          val loss = mj.agg(avg(-(col("y") * log(p + lit(lossEps)) +
            (lit(1.0) - col("y")) * log(lit(1.0) - p + lit(lossEps)))))
            .head().getDouble(0)
          belowTol =
            if (steps >= minSteps && prevLoss - loss < tol) belowTol + 1
            else 0
          if (belowTol >= patience) converged = true
          else {
            prevLoss = loss
            applyStep(mj.select(col(idCol),
              (sigmoid(col("m")) - col("y")).as("r")))
          }
          Ckpt.release(mj) // superseded by the next step's margins
        } else {
          applyStep(margins.join(labi, Seq(idCol))
            .select(col(idCol), (sigmoid(col("m")) - col("y")).as("r")))
        }
      }
    }
    TrainResult(weightsDF, steps,
      if (tol > 0.0 && prevLoss != Double.MaxValue) prevLoss else Double.NaN)
  }

  /** Score every example: (id, p) with p = σ(Σ x·w). Missing weights
    * contribute 0 (inner join covers them: every observed idx has a
    * weight row after [[trainLogReg]]).
    */
  def scoreLogReg(feats: DataFrame, weights: DataFrame, idCol: String): DataFrame =
    feats.join(broadcast(weights), Seq("idx"))
      .groupBy(col(idCol))
      .agg(sigmoid(sum(col("x") * col("w"))).as("p"))

  /** Exact ROC-AUC of a score column against a binary label — the
    * rank-sum (Mann–Whitney) formulation with MID-ranks for tied
    * scores, so results match the textbook trapezoid-over-ROC value
    * exactly. One row: `(n_pos, n_neg, auc)` (auc NULL when either
    * class is empty — undefined, not 0.5-by-fiat).
    *
    * Scale shape: one map-side-combined per-distinct-score agg
    * (count, positives), an exclusive [[Sampling.prefixSum]] over the
    * score relation (two-phase — no global-window rank that would
    * serialize the corpus onto one reducer), and a 1-row final agg.
    * All rank terms are half-integers, so the sums are exact in
    * double and order-independent — the AUC is engine-replayable
    * (q147's oracle recomputes it via SQL RANK() mid-ranks).
    */
  def aucScore(scored: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val g = scored
      .select(col(scoreCol).as("score"),
        when(col(labelCol).cast("double") > 0.5, 1L).otherwise(0L).as("y"))
      .groupBy("score").agg(count(lit(1)).as("c"), sum("y").as("p"))
    val cum = Sampling.prefixSum(g, "score", "c", nShards = 32)
    // mid-rank of a score v = C_below + (c_v + 1)/2; Σ over positives
    cum.agg(
        sum("p").as("np"),
        (sum("c") - sum("p")).as("nn"),
        sum(col("p").cast("double") *
          (col("cum_sum").cast("double") + (col("c").cast("double") + 1.0) / 2.0))
          .as("sum_mr"))
      .select(col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          round(
            (col("sum_mr") - col("np").cast("double") * (col("np").cast("double") + 1.0) / 2.0)
              / (col("np").cast("double") * col("nn").cast("double")), 6))
          .as("auc"))
  }

  /** Per-group [[aucScore]] — one `(group, n_pos, n_neg, auc)` row per
    * value of `groupCol` (per-source / per-language model evaluation,
    * the grouped twin the mixture reports need). Same mid-rank
    * Mann–Whitney arithmetic; ranks come from the grouped two-phase
    * [[Sampling.prefixSumBy]] — NOT a `Window.partitionBy(group)`,
    * which caps parallelism at the group count (the first cut
    * measured 9.8× at the 64× probe on 20 sources vs 5.1× two-phase;
    * the two-phase shape lets one big group's distinct-score relation
    * span many shards). Single-class groups report NULL auc rather
    * than vanishing.
    */
  def aucByGroup(
      scored: DataFrame,
      groupCol: String,
      scoreCol: String,
      labelCol: String): DataFrame = {
    val g = scored
      .select(col(groupCol), col(scoreCol).as("score"),
        when(col(labelCol).cast("double") > 0.5, 1L).otherwise(0L).as("y"))
      .groupBy(col(groupCol), col("score"))
      .agg(count(lit(1)).as("c"), sum("y").as("p"))
    Sampling.prefixSumBy(g, Seq(groupCol), "score", "c", nShards = 32)
      .withColumnRenamed("cum_sum", "cb")
      .groupBy(col(groupCol))
      .agg(
        sum("p").as("np"),
        (sum("c") - sum("p")).as("nn"),
        sum(col("p").cast("double") *
          (col("cb").cast("double") + (col("c").cast("double") + 1.0) / 2.0))
          .as("sum_mr"))
      .select(col(groupCol),
        col("np").cast("long").as("n_pos"),
        col("nn").cast("long").as("n_neg"),
        when(col("np") > 0 && col("nn") > 0,
          round(
            (col("sum_mr") - col("np").cast("double") * (col("np").cast("double") + 1.0) / 2.0)
              / (col("np").cast("double") * col("nn").cast("double")), 6))
          .as("auc"))
  }

  /** Calibration (reliability) report for a probability score in
    * [0, 1] against a binary label: equal-width buckets of the
    * predicted probability with count, mean prediction, observed
    * positive rate, and the signed gap — the relation a reliability
    * diagram plots and ECE sums (ECE = Σ n_b/N·|gap_b|, derivable).
    * `p = 1.0` clamps into the top bucket; empty buckets are absent
    * (their gap is undefined, not zero).
    *
    * Scale shape: one map-only bucket projection + one
    * map-side-combined agg — strictly scan-shaped.
    */
  def calibrationReport(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be >= 1")
    scored
      .select(
        least(floor(col(scoreCol).cast("double") * nBuckets),
          lit(nBuckets - 1L)).cast("long").as("bucket"),
        col(scoreCol).cast("double").as("p"),
        when(col(labelCol).cast("double") > 0.5, 1.0).otherwise(0.0).as("y"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n"),
        round(avg("p"), 6).as("mean_p"),
        round(avg("y"), 6).as("frac_pos"),
        round(avg(col("y") - col("p")), 6).as("gap"))
  }

  /** Mean log-loss of `weights` on a labeled set — the training
    * objective, for convergence checks.
    */
  def logLoss(
      feats: DataFrame, labels: DataFrame, weights: DataFrame,
      idCol: String): Double = {
    val eps = 1e-12
    scoreLogReg(feats, weights, idCol)
      .join(labels, Seq(idCol))
      .select((-(col("y") * log(col("p") + lit(eps)) +
        (lit(1.0) - col("y")) * log(lit(1.0) - col("p") + lit(eps)))).as("l"))
      .agg(avg("l"))
      .head().getDouble(0)
  }

  /** Inter-annotator agreement over k rater columns (integer category
    * labels): pairwise Cohen's kappa for every rater pair plus one
    * Fleiss' kappa row (`rater_a = '_fleiss'`) for the panel — the
    * label-QA report a labeling pipeline publishes before its labels
    * are trusted as training signal (chance-corrected agreement, not
    * raw percent agree).
    *
    * Cohen per pair (A,B): po = P[A = B], pe = Σ_label pA·pB,
    * κ = (po − pe)/(1 − pe), NULL when pe = 1 (degenerate marginals).
    * Fleiss: P_i = Σ_l n_il(n_il−1) / (k(k−1)), κ = (P̄ − Σ p_l²)/(1 − Σ p_l²).
    *
    * Scale shape: labels are stacked long (k rows per item, k small)
    * and every pairwise statistic comes from ONE item-keyed self-join
    * of that bounded-fan relation plus marginal aggregates that are
    * (raters × labels)-scale — broadcast-joined, never corpus-wide.
    * Items with a NULL in any rater column are dropped up front (an
    * unlabeled item is not evidence of agreement or disagreement).
    */
  def interRaterAgreement(
      labels: DataFrame,
      idCol: String,
      raterCols: Seq[String]): DataFrame = {
    require(raterCols.size >= 2, "need at least two raters")
    val k = raterCols.size
    val complete = labels.na.drop(raterCols)
    val stackArgs = raterCols
      .map(r => s"'$r', CAST(`$r` AS BIGINT)").mkString(", ")
    val long = complete.select(col(idCol).as("item"),
      expr(s"stack($k, $stackArgs)"))
      .toDF("item", "rater", "label")
    val nItems = complete.count()
    // pairwise observed agreement: one item-keyed self-join of the
    // k-rows-per-item relation
    val po = long.as("a").join(long.as("b"), Seq("item"))
      .filter(col("a.rater") < col("b.rater"))
      .groupBy(col("a.rater").as("rater_a"), col("b.rater").as("rater_b"))
      .agg(count(lit(1)).as("n_items"),
        avg(when(col("a.label") === col("b.label"), 1.0).otherwise(0.0)).as("po"))
    // marginal label shares per rater: (raters × labels)-scale
    val marg = long.groupBy("rater", "label")
      .agg((count(lit(1)).cast("double") / nItems).as("share"))
    val pe = marg.as("ma")
      .join(marg.as("mb"), col("ma.label") === col("mb.label"))
      .filter(col("ma.rater") < col("mb.rater"))
      .groupBy(col("ma.rater").as("rater_a"), col("mb.rater").as("rater_b"))
      .agg(sum(col("ma.share") * col("mb.share")).as("pe"))
    val cohen = po.join(pe, Seq("rater_a", "rater_b"))
      .select(col("rater_a"), col("rater_b"),
        col("n_items").cast("long").as("n_items"),
        round(col("po"), 6).as("po"), round(col("pe"), 6).as("pe"),
        when(col("pe") < 1.0,
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6)).as("kappa"))
    // Fleiss over the panel: per-(item, label) rating counts
    val cell = long.groupBy("item", "label").agg(count(lit(1)).as("c"))
    val pbar = cell.groupBy("item")
      .agg((sum(col("c") * (col("c") - 1L)).cast("double") /
        (k.toLong * (k - 1L))).as("pi"))
      .agg(avg("pi").as("pbar"), count(lit(1)).cast("long").as("n_items"))
    val peF = cell.groupBy("label")
      .agg(sum("c").as("cl"))
      .agg(sum(pow(col("cl").cast("double") / (nItems * k.toLong), 2)).as("pe"))
    val fleiss = pbar.crossJoin(peF)
      .select(lit("_fleiss").as("rater_a"), lit("_all").as("rater_b"),
        col("n_items"),
        round(col("pbar"), 6).as("po"), round(col("pe"), 6).as("pe"),
        when(col("pe") < 1.0,
          round((col("pbar") - col("pe")) / (lit(1.0) - col("pe")), 6)).as("kappa"))
    cohen.unionByName(fleiss)
  }

  /** Bradley–Terry preference-strength fit over pairwise comparisons —
    * the reward-data curation primitive (which source/model/policy wins
    * head-to-head judgments, chance-adjusted for who it was compared
    * against, not raw win rate). Hunter (2004)'s MM algorithm:
    * {{{
    *   p_i ← W_i / Σ_j m_ij / (p_i + p_j)     then rescale Σ p = nItems
    * }}}
    * where W_i = wins of i and m_ij = comparisons between i and j.
    * Each MM step provably increases the BT log-likelihood; the rescale
    * fixes the scale-invariance of the model (only ratios p_i/p_j are
    * identified).
    *
    * Scale shape: the raw comparison stream collapses ONCE into the
    * symmetric match relation (i, j, m_ij) and the win table — both
    * item-pair-scale, not comparison-scale. Per iteration: one join of
    * strengths onto each endpoint of the match relation (two bounded
    * exchanges), one groupBy-i denominator agg, one broadcast 1-row
    * rescale — never a comparison-scale pass. Lineage is cut per step
    * with an eager localCheckpoint (the trainLogReg discipline). Items
    * appearing only as winners or only as losers are fine; items with
    * ZERO wins get strength → 0 as iterations grow (true MLE behavior
    * on the boundary), which the caller can floor if undesired.
    *
    * @param comparisons one row per judged pair
    * @param localMatchRows when the collapsed match relation has at
    *        most this many rows, the MM iterations run in memory over
    *        the ONE collected copy (a bounded collect — the kmeans
    *        k-rows contract) instead of as 20 scheduler-bound Spark
    *        jobs over a tiny frame; 0 forces the distributed loop
    * @return (item, wins, matches, strength) — strengths normalized to
    *         Σ = number of distinct items
    */
  def bradleyTerry(
      comparisons: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 20,
      localMatchRows: Long = 1000000L): DataFrame = Ckpt.scope {
    require(iters >= 1, "iters must be >= 1")
    val raw = comparisons
      .select(col(winnerCol).cast("string").as("w"),
        col(loserCol).cast("string").as("l"))
      .filter(col("w").isNotNull && col("l").isNotNull && col("w") =!= col("l"))
    // m_ij symmetrized: every unordered match counted once per direction,
    // so the per-i denominator sums over ALL of i's opponents in one
    // groupBy("i") with no union
    val sym = Ckpt.cache(raw.select(col("w").as("i"), col("l").as("j"))
      .union(raw.select(col("l").as("i"), col("w").as("j")))
      .groupBy("i", "j").agg(count(lit(1)).cast("double").as("m"))
      .repartition(col("i")))
    val wins = raw.groupBy(col("w").as("i"))
      .agg(count(lit(1)).cast("double").as("wins"))
    val items = Ckpt.cache(sym.select(col("i").as("item")).distinct()
      .join(wins.withColumnRenamed("i", "item"), Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0.0)).as("wins"))
      .repartition(col("item")))
    val nItems = items.count()
    // Small-tournament fast path: once the corpus has collapsed to the
    // item-pair match relation, EVERYTHING the MM iterations touch is
    // match-relation-sized — and reward tournaments usually rank a
    // handful of systems/policies, so that relation is tiny while the
    // comparison stream is huge. Running 20 Spark jobs over a 20-row
    // frame is pure scheduler/planning overhead (measured: the q154
    // bench row was ~10 s of it); when the relation fits the bounded
    // `localMatchRows` budget we collect it ONCE and iterate the same
    // update in memory (ClassifierSpec pins fast ≡ distributed). The
    // distributed loop remains the path for genuinely large item sets.
    val nSym = sym.count()
    if (nSym <= localMatchRows) {
      val symL = sym.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      // folds run in SORTED order (neighbors by j, the rescale total by
      // item) — a documented, engine-independent summation order, so
      // [[bradleyTerryOracleSql]]'s ordered list_reduce replays every
      // double bit-for-bit instead of chasing map-iteration ulps
      val neighbors = symL.keys.toSeq.groupBy(_._1)
        .map { case (i, ks) => i -> ks.map(_._2).sorted }
      val itemsL = items.collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val keys = itemsL.keys.toSeq.sorted
      var pL = keys.map(_ -> 1.0).toMap
      for (_ <- 1 to iters) {
        val unscaled = keys.map { i =>
          val denom = neighbors.getOrElse(i, Nil)
            .map(j => symL((i, j)) / (pL(i) + pL(j))).sum
          i -> (if (denom == 0) 1.0 else itemsL(i) / denom)
        }.toMap
        val t = keys.map(unscaled).sum
        pL = unscaled.map { case (i, v) => i -> v * nItems / t }
      }
      val matchesL = symL.toSeq.groupBy(_._1._1)
        .map { case (i, ks) => i -> ks.map(_._2).sum.toLong }
      val spark = comparisons.sparkSession
      import spark.implicits._
      keys.map(i => (i, itemsL(i).toLong, matchesL.getOrElse(i, 0L), pL(i)))
        .toDF("item", "wins", "matches", "strength")
    } else {
      // Ckpt.cut, not bare checkpoint: the step plan references the
      // previous state 4× under joins, so inherited checkpoint stats
      // would compound doubly-exponentially (see Ckpt.cut's scaladoc).
      var p = Ckpt.cut(items.select(col("item"), lit(1.0).as("p")))
      var it = 0
      while (it < iters) {
        val withPj = sym
          .join(p.select(col("item").as("j"), col("p").as("pj")), Seq("j"))
        val denom = withPj
          .join(p.select(col("item").as("i"), col("p").as("pi")), Seq("i"))
          .groupBy(col("i").as("item"))
          .agg(sum(col("m") / (col("pi") + col("pj"))).as("denom"))
        val unscaled = items.join(denom, Seq("item"), "left")
          .select(col("item"),
            // an item with no matches keeps p = 1 (denominator undefined);
            // zero-win items legitimately head to 0
            when(col("denom").isNull, lit(1.0))
              .otherwise(col("wins") / col("denom")).as("p0"))
        val total = unscaled.agg(sum("p0").as("t"))
        val next = Ckpt.cut(unscaled.crossJoin(broadcast(total))
          .select(col("item"), (col("p0") * nItems / col("t")).as("p")))
        Ckpt.release(p) // superseded
        p = next
        it += 1
      }
      items.join(p, Seq("item"))
        .join(sym.groupBy(col("i").as("item"))
          .agg(sum("m").cast("long").as("matches")), Seq("item"), "left")
        .select(col("item"), col("wins").cast("long").as("wins"),
          coalesce(col("matches"), lit(0L)).as("matches"),
          col("p").as("strength"))
    }
  }

  /** In-memory reference replaying [[bradleyTerry]]'s exact update, for
    * the equivalence suite.
    */
  def bradleyTerryLocal(
      comparisons: Seq[(String, String)],
      iters: Int): Map[String, Double] = {
    val raw = comparisons.filter { case (w, l) => w != l }
    val m = scala.collection.mutable.Map.empty[(String, String), Double]
      .withDefaultValue(0.0)
    raw.foreach { case (w, l) => m((w, l)) += 1.0; m((l, w)) += 1.0 }
    val wins = raw.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val items = (raw.map(_._1) ++ raw.map(_._2)).distinct.sorted
    var p = items.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val unscaled = items.map { i =>
        val denom = items.filter(j => m((i, j)) > 0)
          .map(j => m((i, j)) / (p(i) + p(j))).sum
        i -> (if (denom == 0) 1.0 else wins.getOrElse(i, 0.0) / denom)
      }.toMap
      val t = unscaled.values.sum
      p = unscaled.map { case (i, v) => i -> v * items.size / t }
    }
    p
  }

  /** The q154 oracle, generated for any iteration count so the engine
    * loop and the SQL unrolling can never disagree on the MM update —
    * the [[graft.ops.GraphOps.pageRankOracleSql]] pattern. `prefsCte`
    * must yield `(winner, loser)` rows. Floating-point contract: the
    * engine's small-tournament path folds its sums in SORTED order
    * (neighbors by j, the rescale total by item), and every sum here
    * is a `list_reduce` over a `list(... ORDER BY ...)` — a sequential
    * left fold in the SAME order (DuckDB's fold seeds with the first
    * element; Scala's seeds with 0.0, and 0.0 + x ≡ x for the positive
    * terms involved) — so 20 iterations of rational updates replay
    * bit-for-bit, not merely to ROUND-6 luck. Covers the local
    * fast path (any real reward tournament: the match relation is
    * item-pair-scale); the distributed loop's shuffle-order sums are
    * pinned against the local path by ClassifierSpec instead.
    */
  def bradleyTerryOracleSql(prefsCte: String, iters: Int): String = {
    require(iters >= 1, "iters must be >= 1")
    // every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    // each iteration references the previous strengths TWICE (pi, pj)
    // — inlining would re-expand the chain 2^iters times (first
    // symptom: file-handle exhaustion from the re-opened base scans)
    val its = (1 to iters).map { k =>
      val p = s"bt_p${k - 1}"
      s"""bt_d$k AS MATERIALIZED (SELECT s.i AS item,
         |    list_reduce(list(s.m / (pi.p + pj.p) ORDER BY s.j),
         |                (a, b) -> a + b) AS denom
         |  FROM bt_s s JOIN $p pi ON s.i = pi.item
         |              JOIN $p pj ON s.j = pj.item
         |  GROUP BY s.i),
         |bt_u$k AS MATERIALIZED (SELECT d.item, w.wins / d.denom AS p0
         |  FROM bt_d$k d JOIN bt_w w USING (item)),
         |bt_t$k AS MATERIALIZED (SELECT list_reduce(list(p0 ORDER BY item),
         |                (a, b) -> a + b) AS t FROM bt_u$k),
         |bt_p$k AS MATERIALIZED (SELECT item,
         |    p0 * (SELECT ni FROM bt_n) / (SELECT t FROM bt_t$k) AS p
         |  FROM bt_u$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH bt_pref AS MATERIALIZED ($prefsCte),
       |bt_raw AS MATERIALIZED (SELECT winner w, loser l FROM bt_pref
       |  WHERE winner IS NOT NULL AND loser IS NOT NULL AND winner <> loser),
       |bt_s AS MATERIALIZED (SELECT i, j, CAST(count(*) AS DOUBLE) m FROM (
       |    SELECT w AS i, l AS j FROM bt_raw
       |    UNION ALL SELECT l AS i, w AS j FROM bt_raw) GROUP BY i, j),
       |bt_w0 AS MATERIALIZED (SELECT w AS item, CAST(count(*) AS DOUBLE) wins
       |  FROM bt_raw GROUP BY w),
       |bt_items AS MATERIALIZED (SELECT DISTINCT i AS item FROM bt_s),
       |bt_w AS MATERIALIZED (SELECT item, COALESCE(bt_w0.wins, 0.0e0) AS wins
       |  FROM bt_items LEFT JOIN bt_w0 USING (item)),
       |bt_n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) ni FROM bt_items),
       |bt_p0 AS MATERIALIZED (SELECT item, 1.0e0 AS p FROM bt_items),
       |$its,
       |bt_m AS MATERIALIZED (SELECT i AS item, CAST(sum(m) AS BIGINT) AS matches
       |  FROM bt_s GROUP BY i)
       |SELECT bt_w.item, CAST(bt_w.wins AS BIGINT) AS wins,
       |  bt_m.matches,
       |  ROUND(bt_p$iters.p, 6) AS strength
       |FROM bt_w JOIN bt_p$iters USING (item) JOIN bt_m USING (item)
       |ORDER BY bt_w.item""".stripMargin
  }

  /** In-memory reference with the same arithmetic, for the equivalence
    * suite: rows = (id, idx, x), labels keyed by id.
    */
  def trainLogRegLocal(
      rows: Seq[(Long, Long, Double)],
      labels: Map[Long, Double],
      iters: Int,
      lr: Double,
      l2: Double = 0.0): Map[Long, Double] = {
    val n = labels.size.toDouble
    val eps = 1e-8
    val byDoc = rows.groupBy(_._1)
    var w = rows.map(_._2).distinct.map(_ -> 0.0).toMap
    var g2 = w.map { case (j, _) => j -> 0.0 }
    for (_ <- 1 to iters) {
      val resid = byDoc.map { case (id, fs) =>
        val m = fs.map { case (_, j, x) => x * w(j) }.sum
        id -> (1.0 / (1.0 + math.exp(-m)) - labels(id))
      }
      val grad = rows.groupBy(_._2).map { case (j, fs) =>
        val g0 = fs.map { case (id, _, x) => x * resid(id) }.sum / n
        j -> (g0 + (if (j != BiasIdx) l2 * w(j) else 0.0))
      }
      g2 = g2.map { case (j, s) => j -> (s + grad(j) * grad(j)) }
      w = w.map { case (j, wj) =>
        j -> (wj - lr * grad(j) / math.sqrt(g2(j) + eps))
      }
    }
    w
  }

  /** Split-conformal calibration (Vovk's inductive conformal
    * prediction; Lei et al. 2018): per group, the
    * `ceil((n+1)·(1−α))`-th smallest nonconformity score on a held-out
    * calibration set — the radius `qhat` whose prediction bands
    * `ŷ ± qhat` cover a fresh exchangeable point with probability
    * ≥ 1−α, model-agnostic and distribution-free. Grouped = "Mondrian"
    * conformal: each group (source, event type…) gets its own radius
    * and its own guarantee, the per-slice coverage a single global
    * radius cannot promise.
    *
    * α is a RATIONAL (`alphaNum/alphaDen`) so the rank is pure integer
    * arithmetic — `k = ceil((n+1)(den−num)/den)` — and the whole
    * relation replays bit-for-bit in a SQL oracle (the
    * [[Stats.exactQuantilesByGroup]] convention). When `k > n` (tiny
    * calibration group) the guarantee needs an infinite band; `qhat`
    * is NULL and [[conformalApply]] propagates unbounded rows as NULL
    * bounds rather than inventing a radius.
    *
    * Scale shape: one per-group count + rank selection over
    * [[Sampling.prefixSumBy]] (two-phase, never a whole-group window);
    * ties in the score break by `idCol`, so selection is
    * deterministic. Output: `groupCols…, n_calib, qhat`.
    */
  def conformalCalibrate(
      calib: DataFrame,
      groupCols: Seq[String],
      scoreCol: String,
      idCol: String,
      alphaNum: Int = 1,
      alphaDen: Int = 10): DataFrame = {
    require(groupCols.nonEmpty, "conformalCalibrate needs >= 1 group column")
    require(alphaDen >= 1 && alphaNum >= 1 && alphaNum < alphaDen,
      s"alpha=$alphaNum/$alphaDen outside (0, 1)")
    val gcols = groupCols.map(col)
    val s = calib.select(
      gcols :+ col(scoreCol).cast("double").as("_cf_s") :+
        col(idCol).as("_cf_id"): _*)
    val ranked = Sampling.prefixSumBy(
      s.withColumn("_cf_key", struct(col("_cf_s"), col("_cf_id")))
        .withColumn("_cf_one", lit(1L)),
      groupCols, "_cf_key", "_cf_one")
    val ns = s.groupBy(gcols: _*).agg(count(lit(1)).as("n_calib"))
    // k = ceil((n+1)(den−num)/den), all integer; (a − a mod den)/den is
    // exact floor division (the double quotient is an integer < 2^53)
    val a = (col("n_calib") + 1) * lit((alphaDen - alphaNum).toLong) +
      lit(alphaDen.toLong - 1)
    val k = ((a - pmod(a, lit(alphaDen.toLong))) / lit(alphaDen.toLong))
      .cast("long")
    val picked = ranked.join(ns, groupCols)
      .filter(col("cum_sum") === k - 1)
      .select(gcols :+ col("_cf_s").as("qhat"): _*)
    ns.join(picked, groupCols, "left")
      .select(gcols :+ col("n_calib") :+ col("qhat"): _*)
  }

  /** Isotonic (monotone) probability calibration over score buckets —
    * the FIX for what [[calibrationReport]] detects (Zadrozny & Elkan
    * 2002; Niculescu-Mizil & Caruana 2005): fit the best monotone map
    * score → P(y=1) by pool-adjacent-violators. Computed via PAV's
    * MINIMAX closed form (Barlow et al. 1972),
    * `ŷ(i) = max_{j≤i} min_{k≥i} (Σ_{j..k} y / Σ_{j..k} n)`, which —
    * unlike the sequential pooling algorithm — is a fixed-depth
    * relational expression, so the whole fit replays in a SQL oracle.
    *
    * Scale shape: ONE map-side-combined aggregation collapses the
    * corpus to ≤ `nBuckets` rows; everything after (prefix sums, the
    * j ≤ i ≤ k range product, the min/max aggs) runs on bucket-scale
    * relations (≤ B³ rows at B ≤ 128 — thousands, not corpus). The
    * prefix window is over the bucket relation only, the
    * prefixSumBy-offsets precedent. Counts are integers, so every
    * pooled average is a ratio of exact sums — deterministic
    * cross-engine.
    *
    * Output: one row per NON-EMPTY bucket — `bucket, n, mean_score,
    * frac_pos, calibrated` — with `calibrated` monotone non-decreasing
    * in `bucket`. Apply by bucketing new scores the same way and
    * joining (a group-scale broadcast, the [[conformalApply]] shape).
    */
  def isotonicCalibrate(
      scored: DataFrame,
      scoreCol: String,
      labelCol: String,
      nBuckets: Int = 20,
      roundTo: Int = 6): DataFrame = {
    require(nBuckets >= 1 && nBuckets <= 128,
      s"nBuckets=$nBuckets outside [1, 128] (the B^3 pair relation is priced for bucket counts, not histograms)")
    val b = scored.select(
      least(floor(col(scoreCol).cast("double") * nBuckets),
        lit(nBuckets - 1L)).cast("long").as("bucket"),
      col(scoreCol).cast("double").as("_iso_p"),
      when(col(labelCol).cast("double") > 0.5, 1L).otherwise(0L).as("_iso_y"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("_iso_y").as("_iso_sy"),
        round(avg("_iso_p"), roundTo).as("mean_score"))
    // inclusive/exclusive prefix sums over the ≤ nBuckets bucket rows
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val pre = b.withColumn("_iso_exn", coalesce(sum("n").over(w), lit(0L)))
      .withColumn("_iso_exy", coalesce(sum("_iso_sy").over(w), lit(0L)))
      .withColumn("_iso_cn", col("_iso_exn") + col("n"))
      .withColumn("_iso_cy", col("_iso_exy") + col("_iso_sy"))
    // pooled average of the bucket range [j, k]: (cy(k) − exy(j)) /
    // (cn(k) − exn(j)) — exact integer sums either side of the ratio
    val js = pre.select(col("bucket").as("_iso_j"),
      col("_iso_exn").as("_iso_jn"), col("_iso_exy").as("_iso_jy"))
    val ks = pre.select(col("bucket").as("_iso_k"),
      col("_iso_cn").as("_iso_kn"), col("_iso_cy").as("_iso_ky"))
    val ranges = js.join(ks, col("_iso_j") <= col("_iso_k"))
      .select(col("_iso_j"), col("_iso_k"),
        ((col("_iso_ky") - col("_iso_jy")).cast("double")
          / (col("_iso_kn") - col("_iso_jn"))).as("_iso_avg"))
    val is = pre.select(col("bucket").as("_iso_i"))
    // stage 1: m(i, j) = min over k ≥ i; stage 2: max over j ≤ i
    val fit = ranges.join(is,
        col("_iso_j") <= col("_iso_i") && col("_iso_k") >= col("_iso_i"))
      .groupBy("_iso_i", "_iso_j").agg(min("_iso_avg").as("_iso_m"))
      .groupBy("_iso_i").agg(max("_iso_m").as("_iso_fit"))
    b.join(fit, col("bucket") === col("_iso_i"))
      .select(col("bucket"), col("n"), col("mean_score"),
        round(col("_iso_sy").cast("double") / col("n"), roundTo)
          .as("frac_pos"),
        round(col("_iso_fit"), roundTo).as("calibrated"))
  }

  /** Attach conformal prediction bands to scored rows: `pi_lo/pi_hi` =
    * `yhat ± qhat` from the matching group's calibrated radius (NULL
    * bounds when the group was uncalibratable or unseen). The
    * intervals relation is group-scale — AQE broadcast-picks the join.
    */
  def conformalApply(
      df: DataFrame,
      intervals: DataFrame,
      groupCols: Seq[String],
      yhatCol: String): DataFrame =
    df.join(intervals.select(
        (groupCols.map(col) :+ col("qhat")): _*),
        groupCols, "left")
      .withColumn("pi_lo", col(yhatCol).cast("double") - col("qhat"))
      .withColumn("pi_hi", col(yhatCol).cast("double") + col("qhat"))
      .drop("qhat")
}
