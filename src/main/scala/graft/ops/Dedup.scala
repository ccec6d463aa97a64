package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Four families, in increasing tolerance:
  *   - exact: hash-groupBy on the content key — one shuffle, scales flat
  *   - MinHash + LSH: near-dup candidates by banded signature join;
  *     the only all-pairs work is inside buckets
  *   - SimHash: 64-bit sketch + pigeonhole chunk blocking for small
  *     Hamming radius
  *   - exact n-gram Jaccard: the quadratic ground truth, used as the
  *     correctness oracle for the sketch-based paths at small scale
  *
  * 100 TB design notes: every pipeline here is
  * map (signature) → shuffle on a small key → bounded per-bucket work.
  * The quadratic `ngramJaccardPairs` exists for oracle parity and is NOT
  * the scale path; `minhashLshPairs` computes the same relation
  * approximately with a recall controlled by (numHashes, bands).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** 128-bit content key: two independent xxhash64 sketches (distinct
    * literal prefixes act as distinct seeds) packed in a struct.
    *
    * Null-tagging: Spark's hash expressions SKIP null inputs entirely,
    * so without tags `(null, "x")` and `("x", null)` would feed the
    * hash the identical stream `["x"]` — a systematic cross-column
    * collision. Prefixing each value with its `isnull` flag restores a
    * prefix-free encoding (a null contributes `[true]`, a value
    * `[false, v]`), so distinct tuples yield distinct streams.
    *
    * Collision odds (the reason no verify pass is needed): modeling the
    * pair as 128 ideal bits, P(any collision among n docs) ≈ n²/2¹²⁹.
    * At n = 10¹¹ documents — a 100 TB corpus of 1 KB docs — that is
    * ≈ 1.5 × 10⁻¹⁷, far below the chance of undetected hardware
    * corruption in the same job. A single 64-bit hash would NOT do:
    * n²/2⁶⁵ is ≈ 0.3 at n = 10⁹.
    */
  def contentHash128(cols: Seq[Column]): Column = {
    val tagged = cols.flatMap(c => Seq(isnull(c), c))
    struct(
      xxhash64(lit(1L) +: tagged: _*).as("h1"),
      xxhash64(lit(2L) +: tagged: _*).as("h2"))
  }

  /** A column name guaranteed absent from `df` (suffix-extends `base`
    * until it collides with nothing) — internal working columns must
    * never silently replace caller data. Comparison is
    * case-INsensitive: Spark resolves names case-insensitively by
    * default, so a caller's "_GRAFT_CH" would be clobbered by a
    * case-sensitive check.
    */
  private[ops] def freshName(df: DataFrame, base: String): String =
    Iterator.iterate(base)(_ + "_")
      .dropWhile(n => df.columns.exists(_.equalsIgnoreCase(n))).next()

  /** Exact dedup: group on a 128-bit hash of the content column(s)
    * ([[contentHash128]]), keep the smallest id as the canonical
    * representative, then join the winning ids back to recover the
    * content columns.
    *
    * Why not `groupBy(content)`: mostly-unique corpora defeat map-side
    * combine, so a text-keyed exchange carries the corpus' full text
    * bytes — at 100 TB, a ~100 TB shuffle. Hashing first shrinks the
    * decision shuffle's rows to (16-byte key, id): ~100× less wire for
    * 1 KB docs. The winner join is the one remaining full-width
    * exchange, and AQE broadcasts the winners side when it fits.
    *
    * Requires `idCol` to uniquely identify rows (the normal contract
    * for a document id): a duplicated winning id would surface once per
    * occurrence, where the old aggregate formulation collapsed them.
    */
  def exact(df: DataFrame, idCol: String, contentCols: Seq[String]): DataFrame = {
    val h = freshName(df, "_graft_ch")
    val withH = df.withColumn(h, contentHash128(contentCols.map(col)))
    val winners = withH
      .select(col(h), col(idCol))
      .groupBy(col(h))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
    withH.join(winners, Seq(h, idCol))
      .select(contentCols.map(col) :+ col(idCol) :+ col("dup_count"): _*)
  }

  /** Cross-source duplication matrix — the governance readout that
    * names WHICH sources mirror each other (licensing review, mixture
    * double-count correction, crawl-overlap audits), not just how many
    * duplicates exist. One row per unordered source pair (a < b) with
    * the count of distinct contents present in both, plus diagonal
    * rows (a = a) counting contents duplicated WITHIN a source.
    * `keyCol` is whatever canonical key defines "the same content" —
    * full text, [[normalizeText]] output, or a lead-n-token prefix
    * (boilerplate-opening detection, q158's choice).
    *
    * Scale shape: the corpus collapses once to the distinct
    * (content-hash, source) relation — strings never shuffle after the
    * map-side hash ([[contentHash128]], the q20 hash-vs-content
    * contract). The pair join is per-content and each content's group
    * is bounded by the SOURCE COUNT, not the corpus (a content in s
    * sources yields s(s−1)/2 pair rows with s ≤ |sources|), so the
    * join cannot go quadratic in documents.
    */
  def crossSourceDupMatrix(
      df: DataFrame,
      keyCol: String,
      sourceCol: String): DataFrame = {
    val cs = df
      .select(contentHash128(Seq(col(keyCol))).as("h"),
        col(sourceCol).as("s"))
    val distinctCs = cs.distinct()
    val pairs = distinctCs.as("a")
      .join(distinctCs.as("b"), col("a.h") === col("b.h"))
      .filter(col("a.s") < col("b.s"))
      .select(col("a.s").as("source_a"), col("b.s").as("source_b"))
    val diag = cs
      .groupBy(col("h"), col("s"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("s").as("source_a"), col("s").as("source_b"))
    pairs.unionByName(diag)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("shared_contents"))
  }

  /** ASCII text normalization for dedup keys — the C4-style canonical
    * form: lowercase, every non-[a-z0-9 ] character becomes a space,
    * whitespace runs collapse, ends trim. Deliberately ASCII-scoped
    * ([a-z0-9], not \p{L}): Java-regex and RE2 Unicode classes disagree
    * at the edges, and the q137 oracle must replay this byte-for-byte
    * in DuckDB. The native single-byte-pass `graft_normalize` kernel —
    * the composable double-regex form ([[normalizeTextComposable]])
    * measured ~2 ms/doc, 22 of q137's 42 s at the 64× probe; the
    * kernel is one pass, no regex, no intermediate strings
    * (bit-parity pinned in NativeExpressionsSpec).
    */
  def normalizeText(t: Column): Column =
    graft.functions.GraftFunctions.normalize(t)

  /** Built-ins-only reference formulation of [[normalizeText]] — the
    * parity ground truth, never the production path.
    */
  private[graft] def normalizeTextComposable(t: Column): Column =
    trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9 ]", " "),
      " +", " "))

  /** Exact dedup under normalization — the report form: for every doc,
    * its canonical (min-id) doc under NORMALIZED equality, whether it
    * is a duplicate at all, and whether normalization is what caught it
    * (`norm_only_dup` = the doc survives RAW exact dedup — it is its
    * raw group's min-id winner — yet drops under normalization: the
    * case/punctuation/spacing variants raw equality provably misses).
    * Emits `(id, canonical_id, is_dup, norm_only_dup)`.
    *
    * Scale shape: [[exact]]'s discipline twice — both group-bys key on
    * the 128-bit content hash of the (normalized / raw) text, so the
    * decision shuffles carry (16-byte key, id), never document text;
    * the oracle groups the STRINGS (the q20 hash-vs-content contract).
    */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nh = freshName(df, "_graft_nh")
    val rh = freshName(df, "_graft_rh")
    val withH = df.select(col(idCol),
      contentHash128(Seq(normalizeText(col(textCol)))).as(nh),
      contentHash128(Seq(col(textCol))).as(rh))
    val normWin = withH.groupBy(col(nh))
      .agg(min(col(idCol)).as("canonical_id"))
    val rawWin = withH.groupBy(col(rh))
      .agg(min(col(idCol)).as("_graft_raw_canon"))
    withH.join(normWin, Seq(nh)).join(rawWin, Seq(rh))
      .select(col(idCol), col("canonical_id"),
        (col(idCol) =!= col("canonical_id")).as("is_dup"),
        (col(idCol) === col("_graft_raw_canon") &&
          col(idCol) =!= col("canonical_id")).as("norm_only_dup"))
  }

  /** The persisted side of INCREMENTAL dedup: the distinct 128-bit
    * content hashes of a corpus — 16 bytes per distinct document,
    * ~3 orders of magnitude smaller than the corpus it summarizes.
    * Production writes this once and appends each batch's hashes after
    * [[deltaDedup]] admits them.
    */
  def indexHashes(df: DataFrame, contentCols: Seq[String]): DataFrame =
    df.select(contentHash128(contentCols.map(col)).as("content_hash")).distinct()

  /** Incremental (delta-vs-corpus) exact dedup — the production shape:
    * a daily batch is deduped against yesterday's corpus INDEX, never
    * against the corpus itself. Keeps delta rows whose content (a) does
    * not appear in `corpusIndex` ([[indexHashes]] output) and (b) is
    * the min-id copy within the delta.
    *
    * Scale shape: the 100 TB corpus never participates — the anti-join
    * touches only (delta rows × 16-byte index rows), and the
    * within-delta election shuffles (hash, id) pairs. A day's delta and
    * the hash index are both orders of magnitude smaller than the
    * corpus, so incremental ingest stays O(|delta| + |index|).
    */
  def deltaDedup(
      delta: DataFrame,
      corpusIndex: DataFrame,
      idCol: String,
      contentCols: Seq[String]): DataFrame = {
    val h = freshName(delta, "_graft_ch")
    val withH = delta.withColumn(h, contentHash128(contentCols.map(col)))
    val unseen = withH.join(
      corpusIndex.select(col("content_hash").as(h)), Seq(h), "left_anti")
    val keep = unseen
      .select(col(h), col(idCol))
      .groupBy(col(h)).agg(min(col(idCol)).as(idCol))
    unseen.join(keep, Seq(h, idCol), "left_semi").drop(h)
  }

  /** [[deltaDedup]] with a Bloom pre-filter: same relation, smaller
    * anti-join. A Bloom sketch of the index's h1 halves is built once
    * (driver-side, `stat.bloomFilter`) and probed map-side over the
    * delta; rows the sketch rejects are DEFINITELY unseen (no false
    * negatives) and skip the anti-join entirely, so only true
    * duplicates plus an `fpp` fraction of the delta reach the exchange.
    *
    * When to prefer over [[deltaDedup]]: a mostly-novel delta (the
    * normal crawl day — dup rate a few %) shrinks the anti-join's probe
    * side ~1/(dupRate+fpp) ≈ 50–100×, for the price of one extra
    * map-side pass over the delta and a sketch broadcast. The sketch
    * costs ~1.2 GB per 10⁹ index entries at fpp 0.01 — past a few
    * billion indexed documents the broadcast stops paying and the plain
    * shuffled anti-join wins; that crossover, not correctness, is the
    * selection criterion (output is identical at any fpp).
    *
    * The probe keys on h1 alone (64 bits): a bloom miss on h1 implies
    * the 128-bit pair is absent too, and h1 false positives are exactly
    * what the anti-join verify absorbs.
    *
    * EAGER, unlike the rest of the library: composing this frame runs
    * Spark jobs NOW (the index cardinality count — skipped when
    * `nIndexHint` supplies it from table metadata — and the sketch
    * build), and the sketch is frozen into the returned plan as a
    * literal. Re-executing the frame after the index source changes
    * probes the STALE sketch while the anti-join sees fresh data — the
    * relation stays correct (the anti-join is authoritative) but the
    * prefilter's selectivity decays; rebuild the frame after index
    * updates.
    *
    * @param nIndexHint index cardinality if the caller tracks it
    *        (production table metadata does); `None` counts the index —
    *        one extra action over 16-byte rows, cheap next to the
    *        corpus but not free per call.
    */
  def bloomDeltaDedup(
      delta: DataFrame,
      corpusIndex: DataFrame,
      idCol: String,
      contentCols: Seq[String],
      fpp: Double = 0.01,
      nIndexHint: Option[Long] = None): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp $fpp must be in (0, 1)")
    require(nIndexHint.forall(_ >= 0L), s"nIndexHint $nIndexHint must be >= 0")
    val h = freshName(delta, "_graft_ch")
    val withH = delta.withColumn(h, contentHash128(contentCols.map(col)))
    val nIndex = nIndexHint.getOrElse(corpusIndex.count())
    val unseen =
      // The empty-index shortcut is taken only on a COUNTED zero: a
      // hinted 0 against a non-empty index would silently skip the
      // anti-join. The hint affects only sketch sizing — a wrong hint
      // degrades the prefilter's fpp, never the relation.
      if (nIndex == 0L && nIndexHint.isEmpty) withH
      else {
        val sketch = corpusIndex
          .select(col("content_hash").getField("h1").as("h1"))
          .stat.bloomFilter("h1", math.max(nIndex, 1L), fpp)
        val bytes = {
          val bos = new java.io.ByteArrayOutputStream()
          sketch.writeTo(bos)
          bos.toByteArray
        }
        val probe = graft.functions.GraftFunctions.bloomContains(
          bytes, col(h).getField("h1"))
        // Both branches re-scan the delta (a map-only parquet pass) —
        // cheaper than sending the skipped rows through the exchange.
        val definiteNew = withH.filter(!probe)
        val verified = withH.filter(probe).join(
          corpusIndex.select(col("content_hash").as(h)), Seq(h), "left_anti")
        definiteNew.unionByName(verified)
      }
    val keep = unseen
      .select(col(h), col(idCol))
      .groupBy(col(h)).agg(min(col(idCol)).as(idCol))
    unseen.join(keep, Seq(h, idCol), "left_semi").drop(h)
  }

  /** Span-level corpus dedup (C4-style): documents are cut into
    * non-overlapping `spanTokens`-word spans, each distinct span keeps
    * only its globally FIRST occurrence (min `(id, span_idx)` — corpus
    * order, then position), and every document is re-assembled from its
    * surviving spans. Removes boilerplate / quoted passages repeated
    * across documents while keeping the documents themselves.
    *
    * Output: `(idCol, clean_text, spans_kept, spans_total)` — one row
    * per input document; a document whose every span lost its election
    * survives with `clean_text = ""` (dropping it would conflate
    * "fully duplicated" with "never existed" for downstream joins).
    *
    * Scale shape: the span election groups on [[contentHash128]] of the
    * span, so the decision shuffle carries (16-byte hash, id, idx)
    * rows, never span text; the survivor filter is a semi-join on the
    * same key; re-assembly is one hash agg keyed by the document id.
    * No window over span content (that would shuffle the corpus' text
    * bytes and serialize per-span ordering through one partition per
    * distinct span).
    */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanTokens: Int): DataFrame = {
    require(spanTokens >= 1, s"spanTokens=$spanTokens must be >= 1")
    val toks = TextFunctions.tokens(col(textCol))
    val spans = df
      .filter(size(toks) >= 1)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(toks) - 1, lit(spanTokens)),
          st => struct(
            (st.cast("long") / lit(spanTokens)).cast("long").as("sid"),
            concat_ws(" ", slice(toks, st + 1, lit(spanTokens))).as("span")))).as("z"))
      .select(col(idCol), col("z.sid").as("sid"), col("z.span").as("span"))
    val h = freshName(df, "_graft_ch")
    val withH = spans.withColumn(h, contentHash128(Seq(col("span"))))
    val winners = withH
      .select(col(h), col(idCol), col("sid"))
      .groupBy(col(h))
      .agg(min(struct(col(idCol), col("sid"))).as("w"))
      .select(col(h), col("w")(idCol).as(idCol), col("w.sid").as("sid"))
    val kept = withH.join(winners, Seq(h, idCol, "sid"), "left_semi")
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("sid"), col("span")))),
            x => x("span"))).as("clean_text"),
        count(lit(1)).as("spans_kept"))
    spans.groupBy(col(idCol)).agg(count(lit(1)).as("spans_total"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("spans_kept"), lit(0L)).as("spans_kept"),
        col("spans_total"))
  }

  /** Exact ANY-ALIGNMENT substring dedup (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * operator family): every token window of exactly `minTokens`
    * tokens that occurs 2+ times ANYWHERE in the corpus — across
    * documents or within one — keeps its first occurrence (min
    * (doc, pos)) and every other occurrence's tokens are cut from
    * their documents. [[spanDedup]] is the fixed-stride approximation
    * (disjoint windows, so a duplicate offset by less than the span
    * width escapes); this one slides the window over every alignment.
    * Overlapping duplicated windows merge naturally: a token is
    * dropped if ANY losing window covers it.
    *
    * Scale shape:
    *   - windows are native O(n) rolling polynomial hashes
    *     (`graft_rolling_hashes`) — the window relation ships (id,
    *     pos, 8-byte hash), never width-token strings, and is
    *     token-scale (one row per window start, same order as the
    *     shingle explode every near-dup operator already pays);
    *   - the winner election is one hash agg on the window hash (the
    *     inverted-index exchange, q22's family);
    *   - only LOSING occurrences expand to token indexes (duplicated
    *     volume × width, proportional to what's actually removed);
    *   - the rebuild is MAP-ONLY: per-doc drop indexes come back as
    *     one int array (`collect_set` keyed by doc — losing-window
    *     scale), and the text is rebuilt with `array_except` over the
    *     index sequence + `element_at` projection — the token strings
    *     themselves are never shuffled (unlike [[spanDedup]]'s
    *     collect_list rebuild).
    *
    * Equal windows are grouped by their 64-bit rolling hash; the
    * DuckDB oracle groups by the window STRING — identical relations
    * absent a 64-bit collision, the same contract [[exact]] carries
    * with its 128-bit content hash (q20).
    */
  def substringDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int): DataFrame = {
    require(minTokens >= 1, s"minTokens=$minTokens must be >= 1")
    val base = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
    val wins = base
      .select(col(idCol),
        posexplode(graft.functions.GraftFunctions.rollingWindowHashes(
          col("toks"), minTokens)))
      .withColumnRenamed("col", "h")
    val dup = wins.groupBy("h")
      .agg(min(struct(col(idCol), col("pos"))).as("w"), count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .select(col("h"), col("w"))
    val losers = wins.join(dup, Seq("h"))
      .filter(struct(col(idCol), col("pos")) =!= col("w"))
    val dropIdx = losers
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(minTokens - 1))).as("ti"))
      .groupBy(col(idCol))
      .agg(collect_set(col("ti")).as("drop_ti"))
    base.join(dropIdx, Seq(idCol), "left")
      .select(col(idCol),
        when(col("drop_ti").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ",
            transform(
              array_except(
                sequence(lit(0), size(col("toks")) - 1), col("drop_ti")),
              i => element_at(col("toks"), i + 1))))
          .as("clean_text"),
        coalesce(size(col("drop_ti")), lit(0)).cast("long").as("tokens_removed"),
        size(col("toks")).cast("long").as("tokens_total"))
  }

  // -------------------------------------------------------------- minhash

  /** MinHash signature: for each of `numHashes` hash families, the
    * minimum of `xxhash64(seed, shingle)` over the document's shingle
    * set. Native codegen'd expression
    * ([[graft.functions.MinHashSignature]]); the composable form below
    * defines the semantics and pins them in the parity test.
    */
  def minhashSignature(shingleSet: Column, numHashes: Int): Column =
    graft.functions.GraftFunctions.minhashSignature(shingleSet, numHashes)

  /** Built-ins-only formulation of [[minhashSignature]] (reference
    * semantics; O(numHashes × shingles) lambda steps — not the fast path).
    */
  def minhashSignatureComposable(shingleSet: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      h => array_min(transform(shingleSet, s => xxhash64(h, s))))

  /** LSH banding: split the signature into `bands` contiguous bands and
    * hash each, yielding (bandIndex, bandHash) bucket keys. Documents
    * sharing any bucket become candidate pairs.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(signature, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))).as("bucket")))

  /** Closed-form LSH catch probability: a pair at Jaccard similarity
    * `s`, banded as `bands` bands of `rows` hashes each, shares at
    * least one bucket with probability `1 − (1 − s^rows)^bands` — the
    * standard S-curve (Leskovec et al., MMDS ch. 3).
    */
  def minhashCatchProb(bands: Int, rows: Int, s: Double): Double =
    1.0 - math.pow(1.0 - math.pow(s, rows), bands)

  /** Solve the banding for a fixed MinHash budget — the lexical twin of
    * [[Similarity.srpParamsFor]]: among the divisors of `numHashes`,
    * keep the bandings whose catch probability at `threshold` meets
    * `targetRecall`, then take the one catching the LEAST noise
    * (probability at `noiseSim`, ties toward fewer bands — fewer bucket
    * keys shuffled per doc). More bands always raises recall (rows = 1
    * degenerates to per-hash equality, catching near-everything), so
    * feasibility is monotone; infeasibility means the BUDGET is too
    * small for the threshold/recall pair and the error says so rather
    * than silently under-recalling — the same contract srpParamsFor
    * established for fixed SRP knobs going quadratic.
    *
    * Returns the band count; rows per band is `numHashes / bands`.
    */
  def minhashParamsFor(
      numHashes: Int,
      threshold: Double,
      targetRecall: Double = 0.95,
      noiseSim: Double = 0.2): Int = {
    require(numHashes >= 1, s"numHashes=$numHashes must be >= 1")
    require(threshold > 0 && threshold < 1, s"threshold=$threshold not in (0,1)")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall=$targetRecall not in (0,1)")
    require(noiseSim > 0 && noiseSim < threshold,
      s"noiseSim=$noiseSim must sit in (0, threshold)")
    val feasible = (1 to numHashes)
      .filter(numHashes % _ == 0)
      .map { b =>
        val r = numHashes / b
        (b, minhashCatchProb(b, r, threshold), minhashCatchProb(b, r, noiseSim))
      }
      .filter(_._2 >= targetRecall)
    require(feasible.nonEmpty, {
      val best = minhashCatchProb(numHashes, 1, threshold)
      s"minhashParamsFor: recall $targetRecall at threshold $threshold " +
        s"unreachable within $numHashes hashes (best achievable " +
        f"$best%.4f at bands = numHashes) — raise the hash budget"
    })
    feasible.minBy { case (b, _, noise) => (noise, b) }._1
  }

  /** [[minhashLshPairs]] with the banding solved by
    * [[minhashParamsFor]] — callers state the THRESHOLD and RECALL they
    * need and the hash budget they can afford; the S-curve picks the
    * banding instead of a hand-tuned knob that silently under-recalls
    * when the threshold moves.
    */
  def minhashLshPairsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      threshold: Double = 0.5,
      targetRecall: Double = 0.95,
      maxBucket: Int = 1000): DataFrame =
    minhashLshPairs(df, idCol, textCol, shingleN, numHashes,
      minhashParamsFor(numHashes, threshold, targetRecall),
      threshold, maxBucket)

  /** Near-duplicate pairs via MinHash + LSH, verified with exact Jaccard
    * on the shingle sets.
    *
    * @param maxBucket skew guard: buckets larger than this are dropped
    *                  (a degenerate bucket — e.g. the empty document —
    *                  would otherwise go quadratic). At production scale
    *                  this bound is what keeps the join from blowing up
    *                  on pathological content.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    // Shingle sets are computed once and kept OUT of the bucket shuffle:
    // buckets carry only (band, bucket, id); candidate pairs join back to
    // the sets for the single verify pass. At 8 bands this is 8× less
    // shuffle volume than carrying the arrays through the explode.
    // Sets are recomputed per consumer rather than cached: the native
    // shingle expression makes recompute cheaper than the cache-eviction
    // risk of persisting inside a library call the caller can't unpersist
    // — and on the CORPUS-scale scan path a materialized shingle relation
    // would be a full second copy of the corpus, which the 100 TB shape
    // forbids. Callers holding a BATCH-sized relation they already
    // materialized (the dedup gate) use [[minhashLshPairsFromSets]].
    // Spread first (no-op on multi-split inputs): the recompute-per-
    // consumer choice makes the shingle+minhash front run on the SCAN's
    // partitioning in every consumer, and a single-row-group corpus
    // pins all of them to one task.
    val sets = DirLayout.spread(df, col(idCol))
      .select(col(idCol), TextFunctions.shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    minhashLshPairsFromSets(sets, idCol, numHashes, bands, threshold,
      maxBucket)
  }

  /** [[minhashLshPairs]] over an ALREADY-SHINGLED relation `sets` =
    * (idCol, sh) — the back half shared with callers that hold a
    * materialized (batch-sized) shingle relation, so the shingle front
    * is paid once, not per consumer. Semantics identical: same banding,
    * same skew guard, same exact-Jaccard verify.
    */
  private[ops] def minhashLshPairsFromSets(
      sets: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      maxBucket: Int): DataFrame = {
    val candidates = minhashCandidatePairsFromSets(
      sets, idCol, numHashes, bands, maxBucket)
    candidates
      .join(sets.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(TextFunctions.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The LSH front half of [[minhashLshPairs]]: banded bucket generation,
    * skew guard, in-bucket pair expansion, distinct — everything up to
    * (but not including) the exact-Jaccard verify join. Exposed so stage
    * decomposition (ScaleProbe `q21decomp`) probes the shipped dataflow
    * rather than a drift-prone copy, and for callers composing their own
    * verify pass (e.g. verifying on a different similarity than Jaccard).
    * Returns distinct `(id_a, id_b)` with `id_a < id_b`.
    *
    * Candidate generation is bucket-GROUPED, not a self-join: one
    * `collect_list` aggregation per (band, bucket) and a map-side
    * ordered-pair expansion of each sorted id list. The round-11 stage
    * decomposition (SCALE.md `q21decomp`) attributed most of q21's wall
    * to the former self-join stage — two full shuffles of the bucket
    * relation (one per join side; the differently-aliased projections
    * defeat exchange reuse) plus the join itself. Grouping shuffles the
    * bucket relation ONCE and generates the same ordered pairs from
    * each list (identical relation — set equality with the self-join
    * was checked when the three candidate dataflows were measured).
    * The expansion is quadratic per bucket BY DESIGN — identical pair
    * volume to the self-join, bounded at maxBucket²/2 per key by the
    * skew guard.
    *
    * The skew guard itself is a WindowGroupLimit rank-prune rather than
    * the former count/broadcast-anti-join pre-pass: `row_number ≤
    * maxBucket + 1` over (band, bucket) caps what any degenerate key
    * can ship (Spark's WindowGroupLimit rewrite pre-prunes to
    * maxBucket+1 rows per key per MAP task, so a bucket of 10⁸ empty
    * documents never crosses the wire or sits in one aggregation
    * buffer), the grouping aggregate reuses the window's partitioning
    * (no second exchange), and a truncated bucket arrives at exactly
    * maxBucket+1 ids — so the size filter drops it EXACTLY as the
    * anti-join did, one full pass over the bucket relation cheaper.
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    val sets = DirLayout.spread(df, col(idCol))
      .select(col(idCol), TextFunctions.shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    minhashCandidatePairsFromSets(sets, idCol, numHashes, bands, maxBucket)
  }

  /** [[minhashCandidatePairs]] over an already-shingled (idCol, sh)
    * relation — see [[minhashLshPairsFromSets]].
    */
  private[ops] def minhashCandidatePairsFromSets(
      sets: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int,
      maxBucket: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val buckets = sets
      .select(col(idCol),
        explode(lshBands(minhashSignature(col("sh"), numHashes), bands, r)).as("bb"))
      .select(col(idCol), col("bb.band"), col("bb.bucket"))
    // Skew guard: rank-prune to maxBucket+1 rows per bucket BEFORE the
    // collect (WindowGroupLimit bounds a degenerate key at the map
    // side), group reusing the window's partitioning, and drop the
    // truncated — i.e. oversized — buckets by their exact arrival size.
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bucket").orderBy(col(idCol))
    // Pair feed is SINGLE-ORDERED by construction: each sorted list
    // expands to (ids(i), ids(j)) for i < j only — a reversed ordering
    // is never materialized, so the distinct (needed because any of the
    // `bands` bands can agree on a pair) dedups true multi-band hits
    // only. The q59-style halving (Similarity.scala) does not apply on
    // top: that one exists because PROBING generates each pair from
    // both sides independently; in-bucket expansion has no second
    // generation path.
    buckets
      .withColumn("rn", row_number().over(byBucket))
      .filter(col("rn") <= maxBucket + 1)
      .groupBy("band", "bucket")
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(array_sort(col("ids")).as("ids"))
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(
          slice(col("ids"), i + lit(2), size(col("ids")) - i - lit(1)),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct() // each pair verified exactly once, however many bands agree
  }

  /** [[minhashLshPairs]] with the verify pass on SIGNATURE AGREEMENT
    * (fraction of equal MinHash components — the unbiased Jaccard
    * estimator) instead of exact shingle-set Jaccard: candidate pairs
    * join back to the signatures, never to the shingle sets, so the
    * verify payload is numHashes longs per doc regardless of document
    * length. This is the batch twin of the streaming near-dup path
    * ([[graft.streaming.DedupStream.nearDupPairs]]), which retains
    * exactly these signatures as bucket state — DedupStreamSpec pins
    * the two relations equal on the same corpus.
    */
  def minhashEstPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      sigThreshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val sigs = df
      .select(col(idCol), TextFunctions.shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col(idCol), minhashSignature(col("sh"), numHashes).as("sig"))
    val candidates = minhashCandidatePairs(
      df, idCol, textCol, shingleN, numHashes, bands, maxBucket)
    val matches = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    candidates
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(matches.cast("double") / lit(numHashes), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= sigThreshold)
  }

  // ----------------------------------------------------- exact n-gram Jaccard

  /** Ground-truth near-dup relation: all pairs with shingle-set Jaccard
    * >= threshold. EXACT, but not quadratic: any qualifying pair
    * (jaccard >= t > 0) shares at least one shingle, so candidates come
    * from an inverted-index self-join on shingles, and the join's
    * per-pair match count IS |A ∩ B| — no array intersection over full
    * sets ever runs (the equi-join + count formulation of set-similarity
    * join, à la Vernica et al.). Work is Σ_shingle n_shingle², i.e.
    * proportional to real shingle overlap, not to |docs|².
    *
    * @param maxDocFreq hot-shingle frequency cut bounding the worst case
    *   at corpus scale (0 = off). Shingles contained in more than
    *   `maxDocFreq` documents are EXCLUDED from candidate generation —
    *   one boilerplate shingle shared by 1 % of a 10⁹-doc corpus would
    *   otherwise contribute (10⁷)² join rows on a single key. Found
    *   pairs still score their EXACT Jaccard: each doc's (tiny) hot
    *   shingle array rides along and `array_intersect` restores the hot
    *   part of |A ∩ B| after the cold count. The only loss is pairs
    *   whose ENTIRE intersection is hot — such a pair shares
    *   ≥ t/(1+t)·(|A|+|B|) shingles, every one in >maxDocFreq docs,
    *   i.e. pure boilerplate similarity (DedupSpec pins both the bound
    *   and exactness of surviving scores).
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Int = 0): DataFrame = {
    // Spread a degenerate scan first: one posting side of the
    // inverted-index self-join below is broadcast, so the join + the
    // pair-count partial aggregation run at the STREAM side's scan
    // parallelism — a single-row-group parquet corpus put the whole
    // 2 s join stage on ONE task (round-17 probe, q22/q50/q100's
    // dominant job). No-op whenever the scan already parallelizes.
    val spreadDf = DirLayout.spread(df, col(idCol))
    val s = spreadDf.select(col(idCol),
        TextFunctions.shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col(idCol), col("sh"), size(col("sh")).as("sz"))
    val ex = s.select(col(idCol), col("sz"), explode(col("sh")).as("shingle"))
    // Positional length filter (exactness-preserving): jaccard >= t
    // implies |A∩B| >= t·max(|A|,|B|) and |A∩B| <= min(|A|,|B|), so any
    // qualifying pair has min(sz) >= t·max(sz). Evaluated as an extra
    // join predicate — mismatched-size pairs never reach the per-pair
    // count exchange, the expensive shuffle of this plan.
    val lengthOk =
      col("sz_a") >= lit(threshold) * col("sz_b") &&
      col("sz_b") >= lit(threshold) * col("sz_a")
    if (maxDocFreq <= 0) {
      val a = ex.select(col("shingle"), col(idCol).as("id_a"), col("sz").as("sz_a"))
      val b = ex.select(col("shingle"), col(idCol).as("id_b"), col("sz").as("sz_b"))
      a.join(b, Seq("shingle"))
        .filter(col("id_a") < col("id_b") && lengthOk)
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(count(lit(1)).as("c")) // = |A ∩ B|: shingle sets are distinct
        .select(col("id_a"), col("id_b"),
          round(col("c").cast("double") /
            (col("sz_a") + col("sz_b") - col("c")).cast("double"), 6).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      // At most Σdf/maxDocFreq distinct hot shingles exist — small enough
      // to broadcast for the map-side anti/semi splits below.
      val hot = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDocFreq)
        .select("shingle")
      val cold = ex.join(broadcast(hot), Seq("shingle"), "left_anti")
      // Per-doc hot-shingle arrays: one row per doc CONTAINING a hot
      // shingle; each array is tiny (⊆ that doc's shingles ∩ hot set).
      // Not force-broadcast — at boilerplate scale this can be a large
      // fraction of the corpus; AQE picks broadcast when it is small.
      val hotByDoc = ex.join(broadcast(hot), Seq("shingle"))
        .groupBy(col(idCol))
        .agg(collect_list(col("shingle")).as("hsh"))
      val a = cold.select(col("shingle"), col(idCol).as("id_a"), col("sz").as("sz_a"))
      val b = cold.select(col("shingle"), col(idCol).as("id_b"), col("sz").as("sz_b"))
      a.join(b, Seq("shingle"))
        .filter(col("id_a") < col("id_b") && lengthOk)
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(count(lit(1)).as("c_cold"))
        .join(hotByDoc.select(col(idCol).as("id_a"), col("hsh").as("hsh_a")), Seq("id_a"), "left")
        .join(hotByDoc.select(col(idCol).as("id_b"), col("hsh").as("hsh_b")), Seq("id_b"), "left")
        .withColumn("c", col("c_cold") +
          when(col("hsh_a").isNull || col("hsh_b").isNull, lit(0L))
            .otherwise(size(array_intersect(col("hsh_a"), col("hsh_b"))).cast("long")))
        .select(col("id_a"), col("id_b"),
          round(col("c").cast("double") /
            (col("sz_a") + col("sz_b") - col("c")).cast("double"), 6).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** Exact set-similarity join with PREFIX FILTERING (Chaudhuri/Xiao
    * style): shingles get a global rarity order (document frequency,
    * then value); each document indexes only its first
    * `|A| − ⌈t·|A|⌉ + 1` shingles in that order. Any pair with
    * Jaccard ≥ t has overlap ≥ ⌈t·|A|⌉, which cannot fit entirely in
    * the non-indexed suffix — so joining prefix postings against full
    * postings finds every qualifying pair, while the hot shingles that
    * blow up a plain inverted-index join sort to the END of documents'
    * orders and mostly drop out of prefixes. Same exact result as
    * [[ngramJaccardPairs]] (equivalence-tested); better worst case when
    * shingle frequency is skewed — on uniform corpora the ranking
    * window costs more than it saves (measured 8.4s vs 2.6s at sf0.1
    * on the synthetic docs), so pick by data shape.
    */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val s = df.select(col(idCol), TextFunctions.shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col(idCol), col("sh"), size(col("sh")).as("sz"))
    val postings = s.select(col(idCol), col("sz"), explode(col("sh")).as("shingle"))
    val docFreq = postings.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = postings.join(docFreq, "shingle")
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(idCol).orderBy(col("df"), col("shingle"))))
    // prefix length |A| − ⌈t·|A|⌉ + 1
    val prefix = ranked
      .filter(col("rank") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("shingle"), col(idCol).as("id_p"), col("sz").as("sz_p"))
    val full = postings.select(col("shingle"), col(idCol).as("id_f"), col("sz").as("sz_f"))
    // Same positional length filter as the plain path: min(sz) >= t·max(sz)
    // is necessary for jaccard >= t, so mismatched-size candidates drop
    // before the pair distinct.
    val candidates = prefix.join(full, "shingle")
      .filter(col("id_p") =!= col("id_f") &&
        col("sz_p") >= lit(threshold) * col("sz_f") &&
        col("sz_f") >= lit(threshold) * col("sz_p"))
      .select(least(col("id_p"), col("id_f")).as("id_a"),
        greatest(col("id_p"), col("id_f")).as("id_b"))
      .distinct()
    candidates
      .join(s.select(col(idCol).as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(s.select(col(idCol).as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(TextFunctions.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Which exact set-similarity plan [[ngramJaccardPairsAuto]] picked.
    * Both candidates compute the IDENTICAL relation; the choice is pure
    * cost. Exposed so tests (and logs) can assert the selection without
    * re-deriving the statistics.
    */
  sealed trait JaccardPath
  /** Plain inverted-index join ([[ngramJaccardPairs]], no hot cut). */
  case object JaccardExact extends JaccardPath
  /** Prefix-filtered join ([[ngramJaccardPairsPrefix]]). */
  case object JaccardPrefix extends JaccardPath

  /** Pure decision rule for [[ngramJaccardPairsAuto]], unit-testable
    * without a corpus. The plain join's output volume is Σ_shingle df²;
    * its linear costs (explode, posting exchange) are O(P = Σ df). The
    * prefix path replaces the join blow-up with a rank window over the
    * postings (~3x the plain path's constant on uniform corpora,
    * measured 8.4 s vs 2.6 s at sf0.1). So prefix pays exactly when
    * join volume dominates the linear work:
    *
    *   - `sumDfSq / P > 32` — the average posting joins against > 32
    *     others, so join output is > 32 full passes over the postings
    *     (the synthetic corpus sits at ~11 and the plain join wins
    *     there; boilerplate corpora sit orders of magnitude higher); or
    *   - `maxDf² > 16·P` — one hot shingle ALONE out-costs 16 linear
    *     passes; besides volume this is a straggler (a single join key
    *     never parallelizes), which the prefix order sorts to the end
    *     of every document and drops.
    */
  def chooseJaccardPath(totalPostings: Long, sumDfSq: Long, maxDf: Long): JaccardPath = {
    if (totalPostings <= 0) JaccardExact
    else if (sumDfSq.toDouble / totalPostings > 32 ||
      maxDf.toDouble * maxDf > 16.0 * totalPostings) JaccardPrefix
    else JaccardExact
  }

  /** Posting statistics + chosen plan for `df`'s shingle relation — the
    * selection half of [[ngramJaccardPairsAuto]], exposed for tests.
    *
    * Statistics come from a DETERMINISTIC 1-in-`sampleMod` document
    * sample (hash of the id, so the decision is reproducible), scaled
    * back before the decision: sampling documents at rate r scales a
    * shingle's df by ~r, so P scales by r, Σdf² by r² and maxDf by r —
    * the estimates multiply by sampleMod, sampleMod² and sampleMod
    * respectively. A full-corpus frequency pass would itself be a
    * corpus-scale job at 100 TB — the decision must stay cheap relative
    * to BOTH candidate plans or measuring beats guessing by less than
    * it costs. Sampling noise is harmless here: the decision margins
    * are wide (the uniform corpus sits at Σdf²/P ≈ 11 against a
    * threshold of 32; boilerplate corpora overshoot it by orders of
    * magnitude), and an empty sample falls back to the plain join.
    * Noise band (property-tested, JaccardPathPropertiesSpec): at the
    * default sampleMod = 4 the sampled decision matches the
    * exact-statistics decision whenever the TRUE Σdf²/P sits outside
    * [32/1.5, 32·1.5] — inside that band a flip is possible but
    * benign, because the band brackets where the two plans' modeled
    * costs cross (the ~3× flip penalty is measured far below the
    * threshold, at Σdf²/P ≈ 11). `sampleMod = 1` disables sampling
    * (exact statistics).
    */
  def jaccardPathFor(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int = 3,
      sampleMod: Int = 4): JaccardPath = {
    require(sampleMod >= 1, "sampleMod must be >= 1")
    val sampled =
      if (sampleMod == 1) df
      else df.filter(pmod(xxhash64(col(idCol)), lit(sampleMod)) === 0)
    val docFreq = sampled
      .select(explode(TextFunctions.shingleSet(col(textCol), shingleN)).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
    val st = docFreq.agg(
      coalesce(sum("df"), lit(0L)).as("p"),
      coalesce(sum(col("df") * col("df")), lit(0L)).as("j"),
      coalesce(max("df"), lit(0L)).as("m")).head()
    val m = sampleMod.toLong
    chooseJaccardPath(st.getLong(0) * m, st.getLong(1) * m * m, st.getLong(2) * m)
  }

  /** Exact n-gram-Jaccard pairs with the physical plan chosen from
    * measured posting statistics: the plain inverted-index join on
    * uniform shingle frequencies, the prefix-filtered join when
    * frequency skew would blow up (or straggler) the plain join — the
    * caller no longer needs to know the corpus shape. Both plans
    * produce the identical exact relation (equivalence-tested), so the
    * choice can never change results, only cost. The explicit
    * `maxDocFreq` hot-cut of [[ngramJaccardPairs]] stays a caller-only
    * knob: it trades recall for cost, which an automatic path must not
    * do silently.
    */
  def ngramJaccardPairsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame =
    jaccardPathFor(df, idCol, textCol, shingleN) match {
      case JaccardExact  => ngramJaccardPairs(df, idCol, textCol, shingleN, threshold)
      case JaccardPrefix => ngramJaccardPairsPrefix(df, idCol, textCol, shingleN, threshold)
    }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over the token multiset: each token's xxhash64
    * contributes ±1 per bit position; the sketch takes the sign of each
    * accumulated position. Native codegen'd expression
    * ([[graft.functions.SimHash64]]); semantics pinned by the
    * composable form in the parity test.
    */
  def simhash(toks: Column): Column =
    graft.functions.GraftFunctions.simhash(toks)

  /** Built-ins-only formulation of [[simhash]] (reference semantics). */
  def simhashComposable(toks: Column): Column = {
    val contrib = (t: Column) =>
      transform(sequence(lit(0), lit(63)),
        b => when(call_function("shiftright", xxhash64(t), b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
    val sums = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc, contrib(t), (x, y) => x + y))
    aggregate(
      zip_with(sums, sequence(lit(0), lit(63)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x))
  }

  /** Near-dup pairs with SimHash Hamming distance <= maxDistance.
    * Blocking: split the sketch into `maxDistance + 1` chunks — by
    * pigeonhole any pair within the radius agrees on at least one whole
    * chunk, so candidates are found with equi-joins on (chunk index,
    * chunk value), never an all-pairs scan.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3): DataFrame = {
    // chunks must leave >=1 bit each or every row lands in one bucket
    // (a silent full cross product); 15 keeps bitsPerChunk >= 4.
    require(maxDistance >= 1 && maxDistance <= 15,
      s"maxDistance must be in [1, 15], got $maxDistance")
    val chunks = maxDistance + 1
    val bitsPerChunk = 64 / chunks
    val sk = df
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("sim", simhash(col("toks")))
    val chunked = sk.select(col(idCol), col("sim"),
      explode(transform(sequence(lit(0), lit(chunks - 1)),
        c => struct(c.as("chunk"),
          call_function("shiftright", col("sim"), c * lit(bitsPerChunk))
            .bitwiseAND(lit((1L << bitsPerChunk) - 1)).as("v")))).as("cc"))
      .select(col(idCol), col("sim"), col("cc.chunk"), col("cc.v"))
    val a = chunked.select(col("chunk"), col("v"), col(idCol).as("id_a"), col("sim").as("sim_a"))
    val b = chunked.select(col("chunk"), col("v"), col(idCol).as("id_b"), col("sim").as("sim_b"))
    // Single-ordered feed, same as minhashLshPairs: the `id_a < id_b`
    // predicate folds into the chunk self-join (PlanSpec), so reversed
    // orderings never reach the hamming filter or the pair groupBy.
    a.join(b, Seq("chunk", "v"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .groupBy("id_a", "id_b")
      .agg(first(col("hamming")).cast("long").as("hamming"))
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-duplicate pairs above a similarity threshold.
    * Quadratic ground truth (cast to double before any arithmetic so the
    * result is engine-portable); the scale path is SRP-LSH bucketing in
    * [[Similarity.srpNearDupPairs]], whose recall against this relation
    * is measured in DedupSpec.
    *
    * Zero-norm vectors are EXCLUDED: their cosine is 0/0 = NaN, and
    * Spark (and DuckDB) order NaN above every number, so an unguarded
    * `cosine >= threshold` would pair a zero vector with the entire
    * corpus — phantom duplicates that would delete unrelated documents.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol), VectorOps.toDoubleVec(col(vecCol)).as("v"))
      .withColumn("nrm", VectorOps.l2Norm(col("v")))
      .filter(col("nrm") > 0)
    val a = v.select(col(idCol).as("id_a"), col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = v.select(col(idCol).as("id_b"), col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorOps.dot(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
