package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Training-manifest v2 — the composition proof for the round-11
  * operator layer (the q95 manifest's modern successor): the stages a
  * current LLM-data pipeline actually chains, as ONE relation.
  *
  *   1. Gopher quality rules (Rae et al. 2021) as a map-only predicate
  *      ([[TextAnalysis.gopherKeep]] — no metrics self-join);
  *   2. optionally, a trained quality-classifier gate
  *      ([[Classifier]], the fastText-style filter GPT-3/CCNet
  *      pipelines run) — early-stopped training, then σ(x·w) ≥ τ;
  *   3. DSIR importance weighting + Gumbel-top-k selection (Xie et al.
  *      2023) toward the target slice;
  *   4. temperature-scaled mixture cut over the SELECTED set (the
  *      UNIMAX-style source re-balance);
  *   5. deterministic seeded shuffle into training shards; and (full
  *      variant) 6. next-fit token packing into context-window bins.
  *
  * Stages 1, 3, 4, 5 are integer-LCG/arithmetic-replayable, so the
  * [[oracleChain]] manifest carries a full end-to-end DuckDB oracle
  * (q132); stages 2 and 6 are iterative / per-partition-imperative and
  * make [[full]] rows-only (q133), pinned in ManifestV2Spec against
  * q132 via the keep-all threshold.
  *
  * 100 TB shape: the corpus is touched by (a) one codegen'd filter
  * projection, (b) the classifier's one up-front doc-keyed exchange,
  * (c) DSIR's vocabulary-bound posting passes ending in ONE TakeOrdered
  * of `selectN` rows. Everything after selection — mixture stats,
  * fractions, shuffle, packing — operates on the selectN-bounded
  * relation, so the expensive stages run exactly once over the corpus
  * and the manifest stages run over the selection.
  */
object ManifestV2 {

  /** The oracle-replayable constants q132 pins (changing any means
    * changing the registered SQL too).
    */
  val SelectN = 100
  val VocabSize = 512
  val Seed = 7L
  val BudgetTokens = 3000L
  val Temperature = 0.5
  val Shards = 4

  /** Stage 1: the corpus that survives the Gopher rules. */
  def gopherSurvivors(docs: DataFrame): DataFrame =
    docs.filter(TextAnalysis.gopherKeep(col("text")))

  /** Stages 3–5 over an already-gated corpus: DSIR Gumbel-top-k toward
    * the `doc_id % 7 = 0` target slice, temperature mixture cut,
    * seeded 4-shard shuffle. Output: (doc_id, source, n_tok, dsir_w,
    * gkey, fraction, shard, pos).
    */
  def selectAndShard(gated: DataFrame): DataFrame = {
    // The gate predicate upstream (Gopher regexes, classifier scoring)
    // is expensive per row, and this chain consumes `gated` three
    // times (DSIR features, target ids, selection metadata) — without
    // a cut, lineage re-runs the gate per consumer. Materialize the
    // three needed columns once (eager localCheckpoint; at 100 TB this
    // is the standard inter-stage materialization any manifest
    // pipeline pays, and it is ONE corpus pass instead of three).
    val g = Ckpt.checkpoint(gated.select(col("doc_id"), col("source"), col("text")))
    val sel = TextAnalysis.dsirResample(g, "doc_id", "text",
      col("doc_id") % 7 === 0, n = SelectN, vocabSize = VocabSize,
      seed = Seed)
    // dsirResample returns the selection only; rejoin the tiny selected
    // set (≤ selectN rows, broadcast) for source/token metadata
    val st = g
      .select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
      .join(broadcast(sel), Seq("doc_id"))
    val cut = Sampling.temperatureSample(st, "doc_id", "source",
        col("n_tok"), temperature = Temperature,
        budgetTokens = BudgetTokens, seed = Seed)
      .join(broadcast(sel), Seq("doc_id"))
    Sampling.seededShuffle(cut, "doc_id", Shards)
      .select("doc_id", "source", "n_tok", "dsir_w", "gkey", "fraction",
        "shard", "pos")
  }

  /** The q132 relation: Gopher → DSIR top-k → temperature cut →
    * seeded shards, no classifier, no packing — fully SQL-replayable.
    */
  def oracleChain(docs: DataFrame): DataFrame =
    selectAndShard(gopherSurvivors(docs))

  /** Manifest diff — the data-release governance report: what changed
    * between two training manifests (any relations carrying
    * `(idCol, shard, pos)`, e.g. two [[oracleChain]] outputs or two
    * q95-style manifests from different filter configurations). One
    * row per doc present in either side:
    * `(id, status, old_shard, old_pos, new_shard, new_pos)` with
    * status ∈ added | dropped | moved_shard | moved_pos | unchanged
    * (a doc that changed shard reports moved_shard even if pos also
    * moved — shard moves are the bigger retraining event).
    *
    * Scale shape: ONE full-outer equi-join on the id (each side
    * exchanged once, manifest-scale — and manifests are (id, int,
    * long) triples, not documents); status is a map-only CASE. The
    * null-safe join key means NULL ids never silently pair.
    */
  def diff(old: DataFrame, neu: DataFrame, idCol: String): DataFrame = {
    val o = old.select(col(idCol), col("shard").as("old_shard"),
      col("pos").as("old_pos"))
    val n = neu.select(col(idCol), col("shard").as("new_shard"),
      col("pos").as("new_pos"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_shard").isNull, lit("added"))
          .when(col("new_shard").isNull, lit("dropped"))
          .when(col("old_shard") =!= col("new_shard"), lit("moved_shard"))
          .when(col("old_pos") =!= col("new_pos"), lit("moved_pos"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_shard"), col("old_pos"), col("new_shard"), col("new_pos"))
  }

  /** Takedown propagation into a SHIPPED manifest — the missing half
    * of the delete lifecycle: [[Tombstones]] makes the indexes forget
    * an id, but a release manifest (any `(idCol, shard, pos)` relation
    * — [[oracleChain]], [[full]], q95-style) still schedules the
    * deleted document into training. Re-running the whole selection
    * chain would re-randomize EVERY placement; this recomputes ONLY
    * the affected shards: deleted rows drop, survivors in a shard that
    * lost rows shift up to keep positions dense (`pos` −= number of
    * deleted rows below them in the same shard), and every other shard
    * is byte-identical pass-through. All other manifest columns carry
    * through unchanged.
    *
    * Scale shape: the deleted placements are takedown-sized, so they
    * collapse to one broadcastable `(shard, sorted deleted positions)`
    * row per affected shard; the new `pos` is then a MAP-ONLY
    * projection (a bounded array scan per row — no per-shard window,
    * no sort, no shuffle of the manifest). A manifest stored
    * partitioned by shard prunes the rewrite to the affected
    * directories, the [[Tombstones]] purge discipline.
    *
    * MASS deletes (a licensing-driven bulk removal, say 5% of a
    * corpus) would blow that broadcast, so past `maxBroadcastDeletes`
    * distinct deleted ids the call dispatches to
    * [[applyTombstonesMerge]] — the sort-merge plan whose cost is one
    * manifest exchange instead of a per-row array scan
    * (ManifestV2Spec pins the two paths row-identical). The dispatch
    * count is one scan of the (by-assumption small) tombstone
    * relation; callers that KNOW the delete set is huge should call
    * the merge path directly and skip the count.
    */
  def applyTombstones(
      manifest: DataFrame,
      tombstones: DataFrame,
      idCol: String,
      maxBroadcastDeletes: Long = 4000000L): DataFrame = {
    val tombIds = tombstones.select(col(idCol)).distinct()
    if (tombIds.count() > maxBroadcastDeletes)
      return applyTombstonesMerge(manifest, tombstones, idCol)
    val delByShard = manifest
      .join(tombIds, Seq(idCol), "left_semi")
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(col("pos"))).as("_mt_dpos"))
    // the shift accumulates in LONG regardless of the manifest's pos
    // type, then casts back — a pos-typed accumulator would make the
    // ArrayAggregate's merge lambda (long-coerced) fail analysis on
    // e.g. an IntegerType pos, the very "any manifest" case this API
    // documents
    val posType = manifest.schema("pos").dataType
    val shifted = manifest
      .join(broadcast(tombIds), Seq(idCol), "left_anti")
      .join(broadcast(delByShard), Seq("shard"), "left")
      .withColumn("pos",
        when(col("_mt_dpos").isNull, col("pos"))
          .otherwise((col("pos").cast("long") - aggregate(col("_mt_dpos"),
            lit(0L),
            (acc, x) => acc + when(x < col("pos"), lit(1L)).otherwise(lit(0L))))
            .cast(posType)))
    shifted.select(manifest.columns.map(col).toIndexedSeq: _*)
  }

  /** [[applyTombstones]]' sort-merge twin for MASS delete sets — no
    * broadcast anywhere: the deleted flag arrives by a plain id join,
    * and the per-shard renumber is one running count over
    * (shard, pos) — `pos` −= deletions at lower positions in the same
    * shard, exactly the window the q214 oracle replays. Cost is one
    * manifest exchange + per-shard sort, the right trade once the
    * deleted-position arrays stop being broadcastable; the broadcast
    * path stays the default for takedown-sized sets because it never
    * shuffles the manifest at all. Same contract, row-identical
    * output (ManifestV2Spec pins it).
    */
  def applyTombstonesMerge(
      manifest: DataFrame,
      tombstones: DataFrame,
      idCol: String): DataFrame = {
    val posType = manifest.schema("pos").dataType
    val tombIds = tombstones.select(col(idCol)).distinct()
      .withColumn("_mt_del", lit(1))
    val byShardPos = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy("pos")
    val shifted = manifest
      .join(tombIds, Seq(idCol), "left")
      .withColumn("_mt_cd",
        sum(coalesce(col("_mt_del"), lit(0))).over(byShardPos))
      .filter(col("_mt_del").isNull)
      .withColumn("pos",
        (col("pos").cast("long") - col("_mt_cd")).cast(posType))
    shifted.select(manifest.columns.map(col).toIndexedSeq: _*)
  }

  /** The takedown as a governance report in [[diff]]'s exact format —
    * computed SELECTIVELY (never by materializing two full manifests):
    * deleted rows → `dropped`, survivors that shifted → `moved_pos`,
    * everything else → `unchanged`; `added`/`moved_shard` cannot occur
    * (ManifestV2Spec pins equivalence to
    * `diff(manifest, applyTombstones(manifest, …))`). Feed the
    * non-`unchanged` rows downstream as the sparse release patch.
    */
  def tombstoneDiff(
      manifest: DataFrame,
      tombstones: DataFrame,
      idCol: String): DataFrame = {
    val tombIds = tombstones.select(col(idCol)).distinct()
      .withColumn("_mt_del", lit(1))
    val delByShard = manifest
      .join(tombIds, Seq(idCol), "left_semi")
      .groupBy(col("shard"))
      .agg(sort_array(collect_list(col("pos"))).as("_mt_dpos"))
    val shift = when(col("_mt_dpos").isNull, lit(0L))
      .otherwise(aggregate(col("_mt_dpos"), lit(0L),
        (acc, x) => acc + when(x < col("pos"), lit(1L)).otherwise(lit(0L))))
    manifest
      .join(broadcast(tombIds), Seq(idCol), "left")
      .join(broadcast(delByShard), Seq("shard"), "left")
      .select(col(idCol),
        when(col("_mt_del") === 1, lit("dropped"))
          .when(shift > 0L, lit("moved_pos"))
          .otherwise(lit("unchanged")).as("status"),
        col("shard").as("old_shard"), col("pos").as("old_pos"),
        when(col("_mt_del") === 1, lit(null)).otherwise(col("shard"))
          .as("new_shard"),
        when(col("_mt_del") === 1, lit(null))
          .otherwise(col("pos") - shift).as("new_pos"))
  }

  /** The packed-artifact half of takedown propagation, for any
    * bin-membership relation `(idCol, binCol, tokCol)`
    * ([[Packing.packGreedy]] bins, [[Packing.concatChunkBlocks]]
    * blocks, q160/q168/q174 layouts): deleted docs' rows drop (bins
    * keep their ids — they go underfull rather than renumbering the
    * corpus), and the report says exactly which bins must be
    * re-emitted and how much content they lost — the steward's
    * work-list, one takedown-sized semi-join + one agg over ONLY the
    * affected bins' rows, never a full repack.
    * Output: `(binCol, docs_before, docs_after, tokens_before,
    * tokens_after)` for AFFECTED bins only.
    */
  def binTombstoneReport(
      packed: DataFrame,
      tombstones: DataFrame,
      idCol: String,
      binCol: String,
      tokCol: String): DataFrame = {
    val tombIds = tombstones.select(col(idCol)).distinct()
      .withColumn("_mt_del", lit(1))
    val affected = packed.join(tombIds.drop("_mt_del"), Seq(idCol), "left_semi")
      .select(binCol).distinct()
    packed.join(broadcast(affected), Seq(binCol), "left_semi")
      .join(broadcast(tombIds), Seq(idCol), "left")
      .groupBy(col(binCol))
      .agg(count(lit(1)).as("docs_before"),
        sum(when(col("_mt_del").isNull, 1L).otherwise(0L)).as("docs_after"),
        sum(col(tokCol)).cast("long").as("tokens_before"),
        sum(when(col("_mt_del").isNull, col(tokCol)).otherwise(lit(0L)))
          .cast("long").as("tokens_after"))
  }

  /** Inverse of [[diff]]: replay a diff onto the OLD manifest to
    * reconstruct the NEW one — the patch-apply side of release
    * governance (ship the (usually small) diff relation, not the full
    * manifest, and every consumer rebuilds the release). Pure
    * projection over the diff: rows whose status isn't `dropped` carry
    * the new placement in `new_shard`/`new_pos`; `old` participates
    * only through the contract that diff came from it (ManifestV2Spec
    * pins the round trip `applyDiff(old, diff(old, neu)) ≡ neu`).
    * Map-only, diff-scale.
    */
  def applyDiff(diffRel: DataFrame, idCol: String): DataFrame =
    diffRel.filter(col("status") =!= "dropped")
      .select(col(idCol), col("new_shard").as("shard"),
        col("new_pos").as("pos"))

  /** The streaming admission stage: row-local stages (the Gopher gate —
    * and, being row-local, they commute with micro-batching) run INSIDE
    * the stream; admissions append to `path` as the corpus the
    * periodic selection stages re-run over ("admit incrementally,
    * select periodically" — the corpus-statistics stages, DSIR and the
    * mixture, are global and belong in the batch pass;
    * ManifestV2Spec pins streamed-admissions + [[selectAndShard]] ≡
    * the batch [[oracleChain]]). Attach a checkpoint + trigger and
    * `.start()`; the parquet sink's own commit log makes redelivered
    * batches idempotent.
    */
  def admissionSink(
      stream: DataFrame,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    stream.filter(TextAnalysis.gopherKeep(col("text")))
      .writeStream.format("parquet").option("path", path)

  /** Stage 2: the quality-classifier gate — q120's recipe
    * (q28-heuristic weak labels, hashed features) trained with the
    * early-stop lever on, scoring the survivors and keeping
    * σ(x·w) ≥ threshold. Trains on the FULL corpus, not the Gopher
    * survivors: the rules and the heuristic labels agree almost
    * everywhere (measured 275 of 276 survivors label-positive at
    * sf0.001), so a survivors-only training set is one-class and the
    * model degenerate — the full corpus carries both classes, which is
    * also the production shape (the classifier is a second opinion
    * trained on the raw mix, not on the rule-filtered output).
    */
  def classifierGate(
      corpus: DataFrame,
      survivors: DataFrame,
      pThreshold: Double,
      dim: Int = 1 << 15,
      itersBudget: Int = 16,
      tol: Double = 1e-3,
      gateQuantile: Option[Double] = None,
      trainedWeights: Option[DataFrame] = None): DataFrame = Ckpt.scope {
    require(gateQuantile.forall(q => q >= 0.0 && q < 1.0),
      s"gateQuantile=$gateQuantile out of [0, 1)")
    // lengthFeature: the q28-style weak label weights a length term
    // 0.5, which tf/dl-normalized BoW cannot see (Classifier scaladoc)
    def feats0 = Classifier.hashedFeatures(corpus, "doc_id", "text", dim,
      lengthFeature = true)
    // a pre-trained gate ([[trainGateWeights]]) skips the training loop
    // AND the two-consumer checkpoint: scoring is the only feature pass
    val (feats, w) = trainedWeights match {
      case Some(tw) => (feats0, tw)
      case None =>
        val labels = corpus.select(col("doc_id"),
          when(TextAnalysis.qualityScoreCol(col("text")) >= 0.65, 1.0)
            .otherwise(0.0).as("y"))
        val f = Ckpt.checkpoint(feats0) // two consumers (train + score): one pass
        (f, Classifier.trainLogReg(f, labels, "doc_id",
          iters = itersBudget, lr = 2.0, tol = tol))
    }
    val scored = Classifier.scoreLogReg(feats, w, "doc_id")
      .join(survivors.select("doc_id"), Seq("doc_id"))
    // gateQuantile: a DATA-derived cut — drop the bottom q of the
    // SURVIVOR score distribution (an absolute threshold is only
    // meaningful when scores are calibrated; on weakly-learnable
    // labels they cluster near the base rate and a fixed 0.5 keeps
    // everything — measured at sf0.1). Exact `percentile` (the
    // q97/quantileBucket house pattern): the scored relation is one
    // double per doc, and the aggregate is merge-order invariant, so
    // the manifest stays deterministic — approx_percentile's sketch
    // merges are partition-order sensitive and would make the cut
    // drift run to run.
    val thr = gateQuantile match {
      case Some(qv) =>
        // percentile of an EMPTY score relation is NULL (no survivors,
        // or none scored) — any threshold works, nothing can pass
        val row = scored.agg(expr(s"percentile(p, $qv)")).head()
        if (row.isNullAt(0)) Double.MaxValue else row.getDouble(0)
      case None => pThreshold
    }
    // the RETURNED relation reads the feats checkpoint (scored derives
    // from feats), so the scope hands it to the caller's scope instead
    // of freeing it — the round-18 use-after-free cannot recur
    survivors.join(
      scored.filter(col("p") >= thr).select("doc_id"), Seq("doc_id"))
  }

  /** Train the [[classifierGate]] model ONCE, for reuse across
    * compositions: training is deterministic (seeded, fixed schedule),
    * so `full(docs, …, trainedWeights = Some(trainGateWeights(docs)))`
    * is RESULT-IDENTICAL to the self-training chain while paying the
    * AdaGrad loop once per corpus instead of once per invocation — the
    * production shape (a gate model is fit offline and applied to many
    * manifest builds). Returns the (idx, w) weight table; it is
    * dim-bounded (≤ 2^15 rows at the default), so callers may collect
    * and re-literalize it across sessions.
    */
  def trainGateWeights(
      corpus: DataFrame,
      dim: Int = 1 << 15,
      itersBudget: Int = 16,
      tol: Double = 1e-3): DataFrame = {
    val labels = corpus.select(col("doc_id"),
      when(TextAnalysis.qualityScoreCol(col("text")) >= 0.65, 1.0)
        .otherwise(0.0).as("y"))
    val feats = Classifier.hashedFeatures(corpus, "doc_id", "text", dim,
      lengthFeature = true)
    Classifier.trainLogReg(feats, labels, "doc_id",
      iters = itersBudget, lr = 2.0, tol = tol)
  }

  /** The q133 relation: the full six-stage chain. `pThreshold <= 0`
    * makes the classifier gate keep-all (σ > 0 always), which
    * ManifestV2Spec uses to pin this chain against [[oracleChain]];
    * packing appends `bin_id` from [[Packing.packGreedy]] over the
    * manifest's token counts at a 512-token context budget.
    * `trainedWeights` hoists the gate model ([[trainGateWeights]]).
    */
  def full(
      docs: DataFrame,
      pThreshold: Double,
      packBudget: Long = 512L,
      gateQuantile: Option[Double] = None,
      trainedWeights: Option[DataFrame] = None): DataFrame = Ckpt.scope {
    val gated = classifierGate(docs, gopherSurvivors(docs), pThreshold,
      gateQuantile = gateQuantile, trainedWeights = trainedWeights)
    // the packing join consumes the manifest twice (rows + token
    // counts); the relation is selectN-bounded, so cut its
    // whole-chain lineage before fanning out; the scope then frees the
    // gate's and the selection's checkpoints, which nothing reads past it
    val manifest = Ckpt.checkpoint(selectAndShard(gated))
    manifest.join(
      Packing.packGreedy(manifest, "doc_id", "n_tok", packBudget)
        .select(col("doc_id"), col("bin_id")),
      Seq("doc_id"))
  }
}
