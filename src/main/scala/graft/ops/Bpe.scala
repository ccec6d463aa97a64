package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge induction — the tokenizer-training primitive of
  * a training-data pipeline, run the way production BPE trainers scale:
  * ONE corpus pass builds the word histogram, then every merge
  * iteration works over the vocabulary-scale (word, weight) relation,
  * never the corpus again. Sennrich-style semantics, pinned exactly by
  * the in-memory reference implementation the suite compares against:
  *   - pair statistics count every adjacent symbol pair occurrence
  *     (overlaps included), weighted by word frequency;
  *   - the winning pair is (count desc, left asc, right asc) — the
  *     lexicographic tie-break makes training deterministic;
  *   - applying a merge rewrites each word's symbol sequence greedy
  *     left-to-right, non-overlapping (a fold: merge when the
  *     accumulator's last symbol is `left` and the current is `right`).
  * No end-of-word marker: merges are word-internal (the histogram is
  * already word-delimited); add one upstream as a token if needed.
  *
  * 100 TB shape: the corpus pass is a token explode + hash agg
  * (map-side combine) — the same plan family as every other text
  * statistic here. Iterations are vocabulary-scale: a web-scale vocab
  * (~10⁸ rows with the long tail) stays distributed, each iteration is
  * one pair-count shuffle plus a map-only rewrite, and the only driver
  * data is the argmax row per iteration plus the merge table itself
  * (`numMerges` rows — the model being trained). Lineage is truncated
  * per iteration (localCheckpoint), so the plan never grows with the
  * merge count.
  */
object Bpe {

  case class Merge(rank: Int, left: String, right: String, count: Long)

  /** Word → total occurrences, the one corpus-scale pass. */
  def wordHistogram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wc"))

  /** Initial symbol decomposition: one single-character symbol per char.
    * (Callers guarantee non-empty words — `sequence(1, 0)` would count
    * DOWN, not yield an empty array.)
    */
  private def charSyms(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** Greedy left-to-right non-overlapping merge of (l, r) in a symbol
    * array, as a fold — the distributed twin of the reference
    * implementation's `mergePair`.
    */
  private def mergeExpr(syms: Column, l: String, r: String): Column =
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(l) && s === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s))))

  /** Train `numMerges` merges over a (word, wc) histogram. Stops early
    * when no adjacent pair remains (every word fused to one symbol).
    *
    * Batched: each round does ONE pair-count shuffle, collects the
    * sorted top-K pairs (K = 4·maxBatch, a bounded driver payload),
    * selects a batch of merges that is provably identical to running
    * that many sequential argmax steps, and applies them in one
    * map-only rewrite stage. Selection rule (the safety argument):
    * scan pairs in (count desc, l asc, r asc) order, keeping pairs
    * symbol-disjoint from every pair kept so far, and stop at the
    * first pair that shares a symbol (or at maxBatch / end of the
    * collected window). Applying a kept merge cannot change the count
    * of any other kept pair (disjoint symbols ⇒ adjacency invariant),
    * zeroes its own pair, and any NEWLY created pair (one involving a
    * fused symbol) inherits count ≤ the count of a destroyed adjacency
    * — which shares a symbol with the applied merge and therefore
    * sorts at-or-after the stopping pair. Keeping only merges with
    * count STRICTLY above the stopping pair's count means no new or
    * unseen pair can tie-or-beat any kept merge, so the k-th kept pair
    * is exactly the k-th sequential argmax (ties inside the batch are
    * already in lexicographic order). If strictness empties the batch
    * (a flat tie plateau), fall back to one plain sequential step.
    * `maxBatch = 1` reproduces the classic one-merge-per-shuffle loop.
    *
    * Cost: sequential BPE is numMerges shuffles; batched is
    * numMerges / E[batch] — the per-merge-cost curve is in SCALE.md
    * (`bpe_merges`). Lineage is truncated per round (localCheckpoint)
    * and the previous round's blocks are unpersisted once the new
    * checkpoint is materialized, so executor storage stays O(vocab),
    * not O(vocab · rounds).
    */
  def trainMerges(
      hist: DataFrame, numMerges: Int, maxBatch: Int = 16): Seq[Merge] = Ckpt.scope {
    var words = Ckpt.checkpoint(
      hist.select(charSyms(col("word")).as("syms"), col("wc")))
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    val window = math.max(2, 4 * maxBatch)
    while (out.size < numMerges && !exhausted) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("wc"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(window)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        val budget = math.min(maxBatch, numMerges - out.size)
        val used = scala.collection.mutable.Set.empty[String]
        val kept = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        // cutoff = count of the pair that stopped the scan (first
        // symbol conflict, budget overflow, or the first UNSEEN pair
        // approximated by the window's last row); None when the scan
        // consumed every existing pair with room to spare.
        var cutoff: Option[Long] = None
        var stop = false
        for (p @ (l, r, c) <- top if !stop) {
          if (kept.size >= budget) { cutoff = Some(c); stop = true }
          else if (used(l) || used(r)) { cutoff = Some(c); stop = true }
          else { kept += p; used += l; used += r }
        }
        if (!stop && top.length == window) cutoff = Some(top.last._3)
        val safe = cutoff match {
          case Some(cut) => kept.takeWhile(_._3 > cut)
          case None => kept
        }
        val batch = if (safe.isEmpty) kept.take(1) else safe
        for ((l, r, c) <- batch) out += Merge(out.size, l, r, c)
        val rewritten = batch.foldLeft(col("syms")) {
          case (acc, (l, r, _)) => mergeExpr(acc, l, r)
        }
        val prev = words
        words = Ckpt.checkpoint(words.select(rewritten.as("syms"), col("wc")))
        Ckpt.release(prev) // superseded
      }
    }
    out.toSeq
  }

  /** In-memory reference implementation — identical semantics, used by
    * the suite to pin the distributed path and by callers too small to
    * need a cluster.
    */
  def trainMergesLocal(hist: Seq[(String, Long)], numMerges: Int): Seq[Merge] = {
    var words = hist.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, c) <- words; j <- 0 until syms.length - 1)
        counts((syms(j), syms(j + 1))) += c
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), c) = counts.toSeq.minBy { case ((pl, pr), pc) => (-pc, pl, pr) }
        out += Merge(i, l, r, c)
        words = words.map { case (syms, wc) => (mergePair(syms, l, r), wc) }
        i += 1
      }
    }
    out.toSeq
  }

  private def mergePair(syms: Array[String], l: String, r: String): Array[String] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    for (s <- syms) {
      if (buf.nonEmpty && buf.last == l && s == r) buf(buf.length - 1) = l + r
      else buf += s
    }
    buf.toArray
  }

  // ------------------------------------------------------------ encode

  /** Subword-tokenize a corpus under a trained merge table: whitespace
    * tokens → per-word BPE → one flattened subword array per row.
    *
    * Semantics: merges apply IN RANK ORDER, each as the greedy
    * left-to-right non-overlapping rewrite of [[trainMerges]]'s
    * histogram update — so encoding the training corpus reproduces
    * exactly the symbol state training left it in ([[encodeLocal]] is
    * the reference; BpeSpec pins the distributed path against it
    * row-for-row).
    *
    * Scale shape: map-only — zero shuffles, whatever the corpus size.
    * The per-word merge loop runs inside the native codegen'd
    * [[graft.functions.BpeEncode]] expression with a per-task
    * word → subwords cache, so Zipfian text pays the loop roughly once
    * per distinct word per task (the vocabulary-dedup trick without
    * its posting-reassembly shuffle; see BpeExpr.scala for the levers
    * and for why the composable HOF form doesn't scale in merge
    * count).
    */
  def encode(
      df: DataFrame,
      textCol: String,
      merges: Seq[Merge],
      outCol: String = "subwords"): DataFrame = {
    val sorted = merges.sortBy(_.rank)
    df.withColumn(outCol, graft.functions.GraftFunctions.bpeEncode(
      TextFunctions.tokens(col(textCol)),
      sorted.map(_.left).toArray, sorted.map(_.right).toArray))
  }

  /** Boundary-preserving encode: one subword array PER WORD
    * (`array<array<string>>`) instead of [[encode]]'s flattened stream
    * — the shape a decoder needs, since flattening erases where one
    * word's subwords end and the next begin. Same native per-word
    * expression; the surrounding `transform` only reshapes.
    */
  def encodeWords(
      df: DataFrame,
      textCol: String,
      merges: Seq[Merge],
      outCol: String = "word_subwords"): DataFrame = {
    val sorted = merges.sortBy(_.rank)
    df.withColumn(outCol, transform(
      filter(TextFunctions.tokens(col(textCol)), w => length(w) > 0),
      w => graft.functions.GraftFunctions.bpeEncode(array(w),
        sorted.map(_.left).toArray, sorted.map(_.right).toArray)))
  }

  /** Decode of [[encodeWords]] output: subwords concatenate back into
    * words, words join on single spaces. For single-spaced text with no
    * empty tokens this is the exact inverse — BpeSpec pins the
    * round-trip on the corpus and on generated word arrays. Map-only.
    */
  def decodeWords(wordSubwords: Column): Column =
    concat_ws(" ", transform(wordSubwords, sw => concat_ws("", sw)))

  /** Built-ins-only formulation of the per-token-array encode (one
    * `aggregate` HOF per merge nested in a `transform` — reference
    * semantics for the parity test, NOT the fast path: the expression
    * tree grows linearly with merge count).
    */
  def encodeTokensComposable(words: Column, merges: Seq[Merge]): Column =
    flatten(transform(
      filter(words, w => length(w) > 0),
      w => merges.sortBy(_.rank).foldLeft(charSyms(w))(
        (syms, m) => mergeExpr(syms, m.left, m.right))))

  /** In-memory reference encode: the merge table applied to one word in
    * rank order via [[mergePair]] — the ground truth the distributed
    * and composable paths are pinned against.
    */
  def encodeLocal(word: String, merges: Seq[Merge]): Seq[String] =
    if (word.isEmpty) Seq.empty
    else merges.sortBy(_.rank)
      .foldLeft(word.map(String.valueOf(_)).toArray)(
        (syms, m) => mergePair(syms, m.left, m.right))
      .toSeq
}
