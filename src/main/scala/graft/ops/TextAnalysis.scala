package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-level text analysis: token counting, quality scoring, and
  * order-sensitive fingerprinting. All map-only codegen'd projections —
  * the 100 TB cost is exactly one pass over the text column, and column
  * pruning means the scan reads nothing else.
  */
object TextAnalysis {

  /** Stopword list used by the quality heuristic (drawn from the fixture
    * vocabulary; any list works — the point is the ratio semantics).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** PII scrubbing pass: replace email-shaped spans, then runs of 5+
    * digits (phone/account numbers), with typed placeholders. Order
    * matters — emails first, so their digit runs never half-redact into
    * `user<NUM>@…`. Map-only chained `regexp_replace` (codegen'd; both
    * patterns are plain character classes + quantifiers, identical
    * semantics in Java regex and RE2-family engines — the q77 oracle
    * pins the cross-engine agreement). A placeholder, not deletion:
    * downstream token counts stay meaningful and the redaction is
    * auditable.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      // (?i): mixed-case addresses are still PII — a lowercase-only
      // class would leak John.Doe@Example.com wholesale
      regexp_replace(text, "(?i)[a-z0-9._-]+@[a-z0-9.-]+", "<EMAIL>"),
      "[0-9]{5,}", "<NUM>")

  /** Whitespace and BPE-ish token counts per document. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      TextFunctions.wsTokenCount(col(textCol)).cast("long").as("ws_tokens"),
      TextFunctions.bpeishTokenCount(col(textCol)).cast("long").as("bpeish_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Token count of a text column (shared by qualityMetrics and the
    * pipeline's annotation pass).
    */
  def nTokensCol(text: Column): Column = size(TextFunctions.tokens(text))

  /** Composite quality score in [0, 1] as a pure column expression —
    * usable as a `withColumn` with no join/shuffle. Ratios are int/int
    * divisions in double (exact, engine-portable).
    */
  def qualityScoreCol(text: Column): Column = {
    // ONE native byte pass ([[graft.functions.TextStats]]) replaces
    // split + markerTokenCount + a full-text regexp_replace read only
    // for its length — the composable form measured 53× on the 64×
    // probe (per-doc regex cost) before the kernel; parity is pinned
    // in NativeExpressionsSpec. element_at calls CSE into a single
    // kernel eval inside codegen.
    val st = graft.functions.GraftFunctions.textStats(text)
    val nTok = element_at(st, 2).cast("double")
    val nChars = element_at(st, 1).cast("double")
    val stopHits = element_at(st, 3).cast("double")
    val punct = element_at(st, 4).cast("double")
    val stopRatio = stopHits / nTok
    val punctRatio = punct / nChars
    // Heuristic composite: reward mid-length docs and presence of
    // stopwords, penalize punctuation soup. Bounded to [0,1].
    val lengthScore = least(nTok / lit(50.0), lit(1.0))
    greatest(lit(0.0),
      least(lit(1.0),
        lit(0.5) * lengthScore + lit(0.4) * least(stopRatio * 5, lit(1.0)) +
          lit(0.1) * (lit(1.0) - least(punctRatio * 10, lit(1.0)))))
  }

  /** Quality metrics: length, token stats, stopword ratio, punctuation
    * ratio, and the composite score — all from the one-pass native
    * stats kernel (see [[qualityScoreCol]]).
    */
  def qualityMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val st = graft.functions.GraftFunctions.textStats(t)
    val nTok = element_at(st, 2).cast("double")
    val nChars = element_at(st, 1).cast("double")
    val stopHits = element_at(st, 3).cast("double")
    val punct = element_at(st, 4).cast("double")
    val avgTokLen = (nChars - (nTok - 1)) / nTok // chars minus separators
    df.select(col(idCol),
      nTok.cast("long").as("n_tokens"),
      round(avgTokLen, 4).as("avg_token_len"),
      round(stopHits / nTok, 4).as("stopword_ratio"),
      round(punct / nChars, 4).as("punct_ratio"),
      round(qualityScoreCol(t), 4).as("quality_score"))
  }

  /** Gopher quality-rule filter (Rae et al. 2021, §A1.1): the published
    * per-document REJECTION rules as named booleans plus the composite
    * `keep`, so a pipeline can both cut and audit which rule fired.
    * Implemented rules (the corpus has no line structure, so the
    * line-based rules — bullet/ellipsis line starts, duplicate lines —
    * live with the span machinery in [[graft.ops.Dedup]] instead):
    *   - word count within [minWords, maxWords];
    *   - mean word length within [minMeanLen, maxMeanLen] (computed
    *     from character counts: token chars = chars − separators, the
    *     q28 identity — no per-token pass);
    *   - symbol-to-word ratio (`#` or `...`) ≤ maxSymbolRatio;
    *   - fraction of words containing an alphabetic character
    *     ≥ minAlphaFrac;
    *   - at least minStopwords stop-word hits.
    * All thresholds compare UNROUNDED values — integer counts divided
    * once, deterministic IEEE arithmetic any engine reproduces exactly
    * (the emitted metrics round to 4 for display only). Map-only,
    * single codegen'd projection; no shuffle anywhere.
    */
  /** The composite Gopher keep flag alone, as a filter-ready Column —
    * the map-only predicate shape compositions want (q132 filters the
    * corpus with this directly: no self-join back to the metrics
    * relation, nothing but a codegen'd projection in the plan). Same
    * arithmetic as [[gopherQualityRules]]'s `keep` column.
    */
  def gopherKeep(
      t: Column,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): Column = {
    val toks = TextFunctions.tokens(t)
    val nTok = size(toks).cast("double")
    val meanLen = (length(t).cast("double") - (nTok - 1)) / nTok
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val ellipses = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
      .cast("double")
    val symbolRatio = (hashes + ellipses) / nTok
    val alphaFrac = size(filter(toks, tok => tok.rlike("[A-Za-z]"))).cast("double") / nTok
    val stopHits = TextFunctions.markerTokenCount(toks, Stopwords)
    size(toks) >= minWords && size(toks) <= maxWords &&
      meanLen >= minMeanLen && meanLen <= maxMeanLen &&
      symbolRatio <= maxSymbolRatio &&
      alphaFrac >= minAlphaFrac &&
      stopHits >= minStopwords
  }

  def gopherQualityRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopwords: Int = 2): DataFrame = {
    val t = col(textCol)
    val toks = TextFunctions.tokens(t)
    val nTok = size(toks).cast("double")
    val meanLen = (length(t).cast("double") - (nTok - 1)) / nTok
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val ellipses = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3)
      .cast("double")
    val symbolRatio = (hashes + ellipses) / nTok
    // "contains an alphabetic character" (Rae et al. §A1.1) — both
    // cases, so an uppercase-only word counts on non-lowercased corpora
    val alphaFrac = size(filter(toks, tok => tok.rlike("[A-Za-z]"))).cast("double") / nTok
    val stopHits = TextFunctions.markerTokenCount(toks, Stopwords)
    val rWords = size(toks) >= minWords && size(toks) <= maxWords
    val rMeanLen = meanLen >= minMeanLen && meanLen <= maxMeanLen
    val rSymbol = symbolRatio <= maxSymbolRatio
    val rAlpha = alphaFrac >= minAlphaFrac
    val rStop = stopHits >= minStopwords
    df.select(col(idCol),
      size(toks).cast("long").as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symbolRatio, 4).as("symbol_ratio"),
      round(alphaFrac, 4).as("alpha_frac"),
      stopHits.cast("long").as("stop_hits"),
      rWords.as("r_words"),
      rMeanLen.as("r_mean_len"),
      rSymbol.as("r_symbol"),
      rAlpha.as("r_alpha"),
      rStop.as("r_stop"),
      (rWords && rMeanLen && rSymbol && rAlpha && rStop).as("keep"))
  }

  /** Per-document token Shannon entropy — the gibberish/degeneracy
    * signal the quality rules can't see: a doc of one token repeated
    * has entropy 0 however long it is, while natural text sits near
    * the corpus's vocabulary entropy. Emits
    * `(id, n_tokens, n_distinct, entropy, norm_entropy)` with
    * `entropy = −Σ (c_w/n)·ln(c_w/n)` over the doc's token histogram
    * and `norm_entropy = entropy / ln(n_distinct)` (0 when the doc has
    * one distinct token — already fully degenerate), both rounded to 4.
    *
    * Scale shape: one explode + one (id, token)-keyed hash agg + one
    * id-keyed hash agg — the per-doc histogram partials combine
    * map-side, so the exchange carries distinct (id, token) rows, not
    * token instances. No vocabulary table, no join.
    */
  def tokenEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = df
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("c"))
    counts
      .groupBy(col(idCol))
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clogc"))
      // −Σ (c/n)·ln(c/n) = ln(n) − (Σ c·ln c)/n — one pass, no second
      // join against the total
      .select(col(idCol),
        col("n").cast("long").as("n_tokens"),
        col("n_distinct").cast("long").as("n_distinct"),
        round(log(col("n").cast("double")) - col("clogc") / col("n"), 4).as("entropy"),
        round(when(col("n_distinct") === 1, lit(0.0))
          .otherwise((log(col("n").cast("double")) - col("clogc") / col("n"))
            / log(col("n_distinct").cast("double"))), 4).as("norm_entropy"))
  }

  /** Per-document n-gram novelty against a reference corpus: the
    * fraction of a doc's DISTINCT n-gram shingles absent from the
    * reference — the freshness/diversity twin of contamination (which
    * asks the opposite question about a benchmark). Emits
    * `(id, n_shingles, n_novel, novelty)` for docs holding ≥ 1 shingle.
    *
    * Scale shape: both sides shingle map-only (native
    * `graft_shingles`), then ship 8-byte `xxhash64(shingle)` keys —
    * never shingle strings (the q21 exchange discipline; membership by
    * hash equality is the q20 hash-vs-content contract, and the oracle
    * joins the STRINGS). The reference side is one distinct
    * (vocabulary-bound) relation; the join keys on the hash; per-doc
    * counts combine map-side. The hash contract's failure mode is
    * one-sided here: a 64-bit collision can only mark a genuinely novel
    * shingle as known, so `novelty` is (vanishingly rarely) an
    * UNDERESTIMATE — and unlike the dedup paths there is no exact
    * verify stage behind it; corpora that need the guarantee should
    * join shingle strings for the flagged docs.
    */
  def ngramNovelty(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ref: DataFrame,
      refTextCol: String,
      n: Int = 3): DataFrame = {
    val sh = df
      .select(col(idCol),
        explode(TextFunctions.shingleSet(col(textCol), n)).as("sh"))
      .select(col(idCol), xxhash64(col("sh")).as("h"))
    val refSh = ref
      .select(explode(TextFunctions.shingleSet(col(refTextCol), n)).as("sh"))
      .select(xxhash64(col("sh")).as("h"))
      .distinct()
    sh.join(refSh.withColumn("known", lit(1)), Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("known").isNull, 1).otherwise(0)).cast("long").as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 4))
  }

  /** Per-document n-gram duplication profile — the memorization-risk /
    * boilerplate governance report. Lee et al. 2022 showed sequences
    * duplicated across a training corpus are memorized
    * disproportionately, and C4/CCNet-style audits flag template text
    * by repeated shingles; this reports, per doc, where its distinct
    * n-shingles sit on that spectrum: `n_unique` (document frequency
    * = 1 — content found nowhere else: the verbatim-leak surface a
    * privacy audit reads), `n_boiler` (df ≥ `boilerDf` — shared
    * template/boilerplate mass), plus `max_df`/`mean_df`.
    *
    * Scale shape: one map-only shingle pass (per-doc distinct inside
    * the native expression), a df count over 8-byte `xxhash64` keys
    * (map-side combined, vocabulary-bound output), the posting→df
    * equi-join on the same 8-byte keys, and one per-doc agg — shingle
    * STRINGS never enter an exchange (the q20/q131 hash-vs-content
    * contract; a 64-bit collision merges two shingles' df, biasing
    * `n_unique` low and df's high — one-sided, like [[ngramNovelty]]'s
    * novelty underestimate).
    */
  def ngramDupProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      boilerDf: Int = 5): DataFrame = {
    require(boilerDf >= 2, s"boilerDf=$boilerDf must be >= 2")
    val sh = df
      .select(col(idCol),
        explode(TextFunctions.shingleSet(col(textCol), n)).as("sh"))
      .select(col(idCol), xxhash64(col("sh")).as("h"))
    // shingleSet is per-doc distinct, so count(*) per hash IS document
    // frequency
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("df") === 1, 1).otherwise(0)).cast("long").as("n_unique"),
        sum(when(col("df") >= boilerDf, 1).otherwise(0)).cast("long")
          .as("n_boiler"),
        max(col("df")).cast("long").as("max_df"),
        round(avg(col("df").cast("double")), 4).as("mean_df"))
  }

  /** Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    * copy-detection selection): per doc, the `(pos, fp)` k-gram rolling
    * hashes selected by a `window`-wide sliding minimum — any shared
    * run of ≥ window+k−1 tokens between two documents shares at least
    * one selected fingerprint (the coverage theorem WinnowSpec pins as
    * a property), at an expected 2/(window+1) of the positions (the
    * compression that makes corpus-scale copy detection affordable:
    * the posting index holds the winnowed fraction, not every window).
    * Map-only: one native O(m) expression per row, then an explode.
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      window: Int = 4): DataFrame =
    df.select(col(idCol),
        explode(graft.functions.GraftFunctions.winnow(
          TextFunctions.tokens(col(textCol)), k, window)).as("f"))
      .select(col(idCol), col("f.pos").as("pos"), col("f.fp").as("fp"))

  /** Candidate copy pairs from shared winnowed fingerprints — the MOSS
    * report shape: pairs of documents sharing at least `minShared`
    * selected fingerprints, with the shared count. Inverted-index join
    * keyed by the 8-byte fingerprint (the winnowed posting list — the
    * 2/(window+1) density is exactly what bounds this join at scale),
    * with the standard degenerate-posting cap: fingerprints shared by
    * more than `maxPosting` documents are dropped whole (boilerplate
    * k-grams — each would contribute ~|posting|² pairs; dropping can
    * only lower shared counts, the conservative direction).
    *
    * The winnowing coverage theorem only guarantees ONE shared
    * fingerprint for a minimum-length match (window+k−1 tokens), so the
    * default `minShared = 2` trades that boundary-length guarantee for
    * noise suppression: pairs whose only overlap is a single
    * minimum-length run can be missed. Set `minShared = 1` when the
    * full coverage guarantee matters more than report noise.
    */
  def winnowCopyPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      window: Int = 4,
      minShared: Int = 2,
      maxPosting: Int = 1000): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, window)
      .select(col(idCol).as("id"), col("fp")).distinct()
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxPosting && col("df") >= 2)
    val pruned = fps.join(keep.select("fp"), Seq("fp"))
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Order-sensitive rolling-hash fingerprint per document (see
    * [[TextFunctions.polyFingerprint]]), plus an order-insensitive
    * content hash for exact-dup grouping.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    df.select(col(idCol),
      TextFunctions.polyFingerprint(toks).as("rolling_fp"),
      xxhash64(col(textCol)).as("content_hash"))
  }

  /** Gopher-style repetition metrics (the duplicate-n-gram family of
    * quality heuristics from Rae et al. 2021, §A1): documents dominated
    * by repeated n-grams are boilerplate/spam and get filtered before
    * training.
    *   - `dup_{2,3}gram_frac`: 1 − distinct n-grams / total n-grams —
    *     a pure column expression, map-only at any scale.
    *   - `top_2gram_frac`: occurrences of the doc's most frequent
    *     2-gram / total 2-grams — needs per-gram counts, done as two
    *     hash aggregations (doc×gram, then doc), the same scale shape
    *     as [[tfidfTopTerms]], never a per-doc quadratic scan.
    * Docs shorter than n tokens score 0.0 (nothing repeats).
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    def dupFrac(n: Int): Column = {
      val g = TextFunctions.shinglesComposable(toks, n)
      when(size(g) === 0, lit(0.0))
        .otherwise(round(
          lit(1.0) - size(array_distinct(g)).cast("double") / size(g).cast("double"), 6))
    }
    val base = df.select(col(idCol),
      dupFrac(2).as("dup_2gram_frac"), dupFrac(3).as("dup_3gram_frac"))
    val top = df
      .select(col(idCol),
        explode(TextFunctions.shinglesComposable(toks, 2)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(round(max("c").cast("double") / sum("c").cast("double"), 6).as("top_2gram_frac"))
    base.join(top, Seq(idCol), "left") // short docs have no 2-grams → 0.0
      .select(col(idCol), col("dup_2gram_frac"), col("dup_3gram_frac"),
        coalesce(col("top_2gram_frac"), lit(0.0)).as("top_2gram_frac"))
  }

  /** Per-document top-`k` terms by TF-IDF (tf = raw in-doc count,
    * idf = ln(N / df), df = #docs containing the term — keyword
    * extraction for corpus triage). Plan shape at scale: one explode,
    * TWO hash aggregations (doc-term counts, then term doc-frequencies
    * aggregated once over the already-distinct doc-term pairs — never
    * per posting), the tiny (term, idf) table broadcast back onto the
    * doc-term counts, and a rank-filter window that Spark plans with
    * WindowGroupLimit: each map task pre-prunes to k rows per doc
    * BEFORE the shuffle. N rides the plan as a broadcast scalar, not a
    * driver-side count. Ties break by term for a deterministic top-k.
    */
  def tfidfTopTerms(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = df.agg(count(lit(1)).as("n_docs"))
    val idf = docFreq.crossJoin(broadcast(total))
      .select(col("term"), log(col("n_docs").cast("double") / col("df")).as("idf"))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(idf), Seq("term"))
      .select(col(idCol), col("term"),
        round(col("tf").cast("double") * col("idf"), 4).as("tfidf"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col(idCol), col("rk"), col("term"), col("tfidf"))
  }

  /** Context-window chunking: split each document into token windows of
    * `chunkTokens` advancing by `stride` (overlapping when
    * stride < chunkTokens) — how long documents become training
    * sequences without losing cross-boundary context. Map-only: a
    * generated start sequence exploded per doc, no shuffle at any
    * corpus size; chunk ids are deterministic (start / stride).
    * The final window may be shorter than `chunkTokens` (truncating it
    * would silently drop tail content — callers filter on `chunk_tokens`
    * if they need full windows only).
    */
  def chunkDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      stride: Int): DataFrame = {
    require(chunkTokens >= 1 && stride >= 1,
      s"chunkTokens=$chunkTokens and stride=$stride must be >= 1")
    val toks = TextFunctions.tokens(col(textCol))
    df.filter(size(toks) >= 1)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(toks) - 1, lit(stride)),
          st => struct(
            (st.cast("long") / lit(stride)).cast("long").as("chunk_id"),
            concat_ws(" ", slice(toks, st + 1, lit(chunkTokens))).as("chunk")))).as("c"))
      .select(col(idCol), col("c.chunk_id"), col("c.chunk"),
        size(split(col("c.chunk"), " ")).cast("long").as("chunk_tokens"))
  }

  /** EXACT heavy hitters (items with count strictly > N/k) in two
    * passes, neither of which shuffles the full (item, count) table:
    *
    *   1. candidate pass — the native mergeable Misra–Gries summary
    *      ([[graft.functions.MisraGriesTopK]], capacity = k) guarantees
    *      every item with count > N/(k+1) survives, and only ≤ k
    *      counters per partition ever move;
    *   2. exact pass — a broadcast semi-join keeps only candidate
    *      items, then ONE hash agg counts them exactly and the
    *      `cnt · k > N` filter applies the threshold.
    *
    * The output is therefore exact and partitioning-independent even
    * though MG residuals are not — the sketch only decides what gets
    * COUNTED, never what gets reported. At web scale the vocabulary
    * (trillions of distinct n-grams) never aggregates globally; only
    * candidates (≤ k rows) do. NULL items are ignored in both passes.
    */
  def heavyHitters(items: DataFrame, itemCol: String, k: Int): DataFrame = {
    require(k >= 1, s"heavyHitters: k must be >= 1, got $k")
    val candidates = items
      .agg(graft.functions.GraftFunctions.mgTopK(col(itemCol), k).as("s"))
      .select(explode(col("s")).as("c"))
      .select(col("c.item").as(itemCol))
    val total = items.filter(col(itemCol).isNotNull)
      .agg(count(lit(1)).as("_graft_n"))
    items.join(broadcast(candidates), Seq(itemCol), "left_semi")
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("_graft_n"))
      .select(col(itemCol), col("cnt"))
  }

  /** Quality-filter funnel report: for a cascade of named predicates
    * applied in order (each stage only sees survivors of the previous
    * one), the per-group count of rows surviving each stage — the
    * standard diagnostic a C4/Gopher/FineWeb-style cleaning pipeline
    * publishes before anyone trusts its output. One map-only pass plus
    * one hash agg: every stage becomes a cumulative-AND boolean summed
    * as BIGINT, so the corpus is read once no matter how many stages.
    */
  def filterFunnel(
      df: DataFrame,
      groupCol: String,
      stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "filterFunnel needs at least one stage")
    val names = stages.map(_._1)
    require(names.distinct == names, s"duplicate stage names: $names")
    require(!names.exists(n => n.equalsIgnoreCase(groupCol) || n.equalsIgnoreCase("n_total")),
      s"stage names must not collide with '$groupCol'/'n_total': $names")
    val cumulative = stages.scanLeft(lit(true)) { case (acc, (_, p)) => acc && p }.tail
    val aggs = count(lit(1)).as("n_total") +:
      cumulative.zip(names).map { case (c, n) => sum(c.cast("long")).as(n) }
    df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-source dataset datasheet — the one-row-per-source governance
    * summary a data release ships (Gebru et al. 2021 "Datasheets for
    * Datasets" motivates the artifact; these are the mechanical
    * columns of it): doc count, whitespace-token mass and corpus
    * share, language count + Shannon entropy of the language mix
    * (the [[tokenEntropy]] ln-identity, so no per-source total join),
    * exact-duplicate count/rate (distinct `xxhash64(text)` — the
    * hash-vs-content contract), and mean composite quality
    * ([[qualityScoreCol]], rounded per doc first so the mean is
    * engine-replayable).
    *
    * Scale shape: TWO corpus passes, both map-side-combined group-bys
    * (one on source carrying count/sum/distinct-hash/quality, one on
    * (source, lang)); everything downstream — the entropy agg, the
    * token-total, the final join — runs on source-scale rows. Sources
    * are few by construction; a skewed giant source is exactly what
    * partial aggregation absorbs.
    */
  def sourceDatasheet(
      df: DataFrame,
      sourceCol: String,
      textCol: String,
      langCol: String): DataFrame = {
    val base = df.groupBy(col(sourceCol)).agg(
      count(lit(1)).cast("long").as("n_docs"),
      sum(size(TextFunctions.tokens(col(textCol)))).cast("long").as("n_tokens"),
      countDistinct(xxhash64(col(textCol))).cast("long").as("n_distinct"),
      round(avg(round(qualityScoreCol(col(textCol)), 4)), 6).as("avg_quality"))
    val langs = df.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(sourceCol)).agg(
        count(lit(1)).cast("long").as("n_langs"),
        sum("c").as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("clc"))
      .select(col(sourceCol), col("n_langs"),
        round(log(col("n").cast("double")) - col("clc") / col("n").cast("double"), 6)
          .as("lang_entropy"))
    val tot = base.agg(sum("n_tokens").as("t"))
    base.join(langs, Seq(sourceCol)).crossJoin(broadcast(tot))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("t"), 6).as("token_share"),
        col("n_langs"), col("lang_entropy"), col("n_distinct"),
        round((col("n_docs") - col("n_distinct")).cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        col("avg_quality"))
  }

  /** CCNet-style unigram language-model score: the mean log corpus
    * probability of a document's tokens — low scores flag gibberish /
    * OCR noise / wrong-language text whose tokens are rare in the
    * corpus. Two-pass shape at scale: the (token, count) vocabulary is
    * usually orders of magnitude smaller than the corpus, and AQE
    * broadcasts it from runtime stats when it fits — deliberately NOT a
    * hard hint, because a web-scale vocabulary (typos, numbers, URLs)
    * can be huge and must degrade to a shuffle join, not OOM the
    * driver (same policy as [[Contamination]]'s bench side). The
    * scoring pass is the posting-level join + one hash agg, work ∝
    * total tokens.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val e = df.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
    val f = e.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = f.agg(sum("c").as("s"))
    e.join(f, Seq("w"))
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(round(avg(log(col("c").cast("double") / col("s").cast("double"))), 4)
        .as("lm_score"))
  }

  /** Per-group unigram KL divergence against the corpus: for each value
    * of `groupCol` (a source, a shard, a date), D(P_g ‖ P_corpus) =
    * Σ_w P_g(w)·ln(P_g(w)/P(w)) over the group's vocabulary. The
    * mixture-health diagnostic: a source whose KL drifts up is diverging
    * from the corpus distribution (new domain, scraper breakage, spam
    * flood). Always finite — every group word is a corpus word, so
    * P(w) > 0 wherever P_g(w) > 0.
    *
    * Scale shape: one explode feeds a (group, word) hash agg with
    * map-side combine, so everything past the token scan is
    * vocabulary-scale, not corpus-scale. Corpus word counts REUSE that
    * aggregate (second agg over it) instead of re-scanning the text.
    * The (group, word) ⋈ (word) join shuffles vocab-sized sides — web
    * vocabularies (10⁸⁺ with the long tail) exceed broadcast, so no
    * broadcast hint; per-group totals and the grand total are scalar-ish
    * and do broadcast.
    */
  def sourceKlDivergence(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val sw = df
      .select(col(groupCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy(col(groupCol), col("w")).agg(count(lit(1)).as("c"))
    val cw = sw.groupBy("w").agg(sum("c").as("cc"))
    val st = sw.groupBy(groupCol).agg(sum("c").as("tot"))
    val g = cw.agg(sum("cc").as("gtot"))
    val p = col("c").cast("double") / col("tot").cast("double")
    val q = col("cc").cast("double") / col("gtot").cast("double")
    sw.join(cw, Seq("w"))
      .join(broadcast(st), Seq(groupCol))
      .crossJoin(broadcast(g))
      .select(col(groupCol), (p * log(p / q)).as("term"))
      .groupBy(col(groupCol))
      .agg(round(sum("term"), 6).as("kl"))
  }

  /** Bigram conditional-continuation table: for every token, its top-`k`
    * successors by count — the n-gram LM statistic behind completion
    * heuristics and boilerplate detection. Same plan family as
    * [[tfidfTopTerms]]: one explode, one hash agg, and a rank-filter
    * window planned as WindowGroupLimit (map-side pre-prune per w1).
    * Ties break by successor token for a deterministic table.
    */
  /** Interpolated bigram LM score per document: mean log of
    * P(w2|w1) = λ·c(w1,w2)/c(w1,·) + (1−λ)·c(w2)/N over the doc's
    * bigrams — the KenLM-filtering shape (CCNet scores docs by LM
    * perplexity; [[unigramLogProb]] is the order-1 version, this is the
    * order-2 with unigram interpolation, so unseen-context backoff never
    * hits log 0). c(w1,·) is the bigram-table row sum, so the
    * conditional normalizes over observed continuations; docs need ≥ 2
    * tokens to own a bigram and shorter docs drop out, same contract as
    * [[bigramTopK]].
    *
    * Scale shape: one explode feeds the (w1,w2) hash agg (map-side
    * combine), context and unigram tables are second-level aggs over
    * vocabulary-scale relations, and scoring is posting-level joins on
    * the bigram/context/unigram keys. Web-scale vocabularies exceed
    * broadcast (same policy as [[sourceKlDivergence]]), so the joins
    * shuffle vocab-sized sides; only the scalar total broadcasts.
    */
  def bigramInterpLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lambda: Double = 0.75): DataFrame = {
    val base = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("tok"))
    val e = base.filter(size(col("tok")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("tok"), lit(1), size(col("tok")) - 1),
        slice(col("tok"), lit(2), size(col("tok")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bg = e.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val ctx = bg.groupBy("w1").agg(sum("c12").as("c1"))
    val uni = base.select(explode(col("tok")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum("c").cast("double").as("n"))
    // evaluation order mirrors the oracle SQL exactly: (λ·c12)/c1 + ((1−λ)·c)/N
    val p = lit(lambda) * col("c12").cast("double") / col("c1").cast("double") +
      lit(1.0 - lambda) * col("c").cast("double") / col("n")
    e.join(bg, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(uni, col("w2") === col("w"))
      .crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(round(avg(log(p)), 4).as("bg_score"))
  }

  /** Interpolated Kneser–Ney bigram LM score per document: mean log of
    * P_KN(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
    *             + D·N1+(w1·)/c(w1·) · N1+(·w2)/B
    * where N1+(w1·) is the number of distinct continuations of w1,
    * N1+(·w2) the number of distinct contexts preceding w2, and B the
    * total number of distinct bigram types (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form). The continuation probability is
    * what separates this from [[bigramInterpLogProb]]'s unigram
    * interpolation: a token that appears often but only ever after ONE
    * context ("Francisco") gets a LOW backoff weight — the smoothing
    * that makes KN the standard n-gram filter LM. Scoring is over the
    * training counts themselves (c12 ≥ 1), and the continuation term is
    * strictly positive, so the log never hits −∞; docs need ≥ 2 tokens
    * to own a bigram, the [[bigramInterpLogProb]] contract.
    *
    * Scale shape: one explode feeds the (w1,w2) hash agg with map-side
    * combine; context totals, continuation fan-in/out counts, and the
    * type total are second-level aggs over the vocabulary-scale bigram
    * table, and — unlike [[bigramInterpLogProb]]'s three-way stream
    * join — the per-bigram probability is assembled ON the vocab-scale
    * table first, so the corpus-scale bigram stream is exchanged
    * exactly ONCE (on (w1,w2), against the pre-scored table). The
    * vocab-scale joins shuffle vocab-sized sides (web vocabularies
    * exceed broadcast — [[sourceKlDivergence]] policy); only the
    * scalar B broadcasts. Measured at the 64× probe: the stream-join
    * formulation read 12.2, this shape 3–4 (the q103 vocabulary band).
    */
  def kneserNeyLogProb(
      df: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"kneserNeyLogProb: discount must be in (0,1), got $discount")
    val base = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("tok"))
    val e = base.filter(size(col("tok")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("tok"), lit(1), size(col("tok")) - 1),
        slice(col("tok"), lit(2), size(col("tok")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bg = e.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // one pass over the bigram table yields BOTH per-context statistics
    val ctx = bg.groupBy("w1").agg(
      sum("c12").as("c1"), count(lit(1)).as("n_follow"))
    val cont = bg.groupBy("w2").agg(count(lit(1)).as("n_prec"))
    val types = bg.agg(count(lit(1)).cast("double").as("b_types"))
    // evaluation order mirrors the oracle SQL exactly
    val p = greatest(col("c12").cast("double") - lit(discount), lit(0.0)) /
      col("c1").cast("double") +
      lit(discount) * col("n_follow").cast("double") / col("c1").cast("double") *
        (col("n_prec").cast("double") / col("b_types"))
    val scored = bg
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), log(p).as("_kn_lp"))
    e.join(scored, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(round(avg(col("_kn_lp")), 4).as("kn_score"))
  }

  /** ROUGE-N overlap scoring over a candidate/reference pair relation:
    * per pair, the CLIPPED n-gram multiset overlap (Lin 2004) —
    * Σ_g min(count_cand(g), count_ref(g)) — with precision (÷ candidate
    * gram count), recall (÷ reference gram count), and F1. The
    * synthetic-data QA readout: score each generated doc against its
    * source/prompt, or one release slice against another. Multiset
    * clipping is what distinguishes this from the SET-semantics overlap
    * family (q22 Jaccard / q131 novelty): a candidate repeating a rare
    * reference n-gram five times gets credit once per reference
    * occurrence, not five.
    *
    * Scale shape: each side explodes to a (pair, gram) hash agg with
    * map-side combine, the overlap join keys on (pair, xxhash64(gram))
    * — 8-byte gram keys, never gram strings, the q20/q131 hash-vs-
    * content contract (collisions clip an overlap count UP by pairing
    * unrelated grams; one-sided, negligible at 64 bits) — and
    * everything downstream is pair-content-bounded, never
    * corpus-quadratic: the pair relation itself is the caller's
    * contract.
    *
    * Output per pair id: `n_cand`, `n_ref`, `n_overlap` (exact counts),
    * `rouge_p`, `rouge_r`, `rouge_f1` (rounded 6; 0.0 — not null — for
    * empty denominators, so a gramless side reads as zero quality).
    */
  def rougeN(
      pairs: DataFrame,
      idCol: String,
      candCol: String,
      refCol: String,
      n: Int = 1): DataFrame = {
    require(n >= 1, s"rougeN: n must be >= 1, got $n")
    def grams(c: Column): Column = {
      val toks = array_remove(TextFunctions.tokens(c), "")
      if (n == 1) toks else TextFunctions.shinglesComposable(toks, n)
    }
    def sideCounts(c: String): DataFrame = pairs
      .select(col(idCol), explode(grams(col(c))).as("g"))
      .groupBy(col(idCol), xxhash64(col("g")).as("h"))
      .agg(count(lit(1)).as("c"))
    val cc = sideCounts(candCol)
    val cr = sideCounts(refCol)
    val totC = cc.groupBy(idCol).agg(sum("c").as("n_cand"))
    val totR = cr.groupBy(idCol).agg(sum("c").as("n_ref"))
    val ov = cc.join(cr.withColumnRenamed("c", "cr"), Seq(idCol, "h"))
      .groupBy(idCol)
      .agg(sum(least(col("c"), col("cr"))).as("n_overlap"))
    val base = pairs.select(col(idCol)).distinct()
    val joined = base
      .join(totC, Seq(idCol), "left")
      .join(totR, Seq(idCol), "left")
      .join(ov, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
    val p = when(col("n_cand") > 0,
      col("n_overlap").cast("double") / col("n_cand").cast("double"))
      .otherwise(lit(0.0))
    val r = when(col("n_ref") > 0,
      col("n_overlap").cast("double") / col("n_ref").cast("double"))
      .otherwise(lit(0.0))
    joined
      .withColumn("_p", p).withColumn("_r", r)
      .select(col(idCol), col("n_cand"), col("n_ref"), col("n_overlap"),
        round(col("_p"), 6).as("rouge_p"),
        round(col("_r"), 6).as("rouge_r"),
        round(when(col("_p") + col("_r") > 0,
          lit(2.0) * col("_p") * col("_r") / (col("_p") + col("_r")))
          .otherwise(lit(0.0)), 6).as("rouge_f1"))
  }

  /** Okapi BM25 scoring of every document against a SMALL query-term
    * set — the lexical side of hybrid retrieval (the vector side being
    * the ANN family + MaxSim rerank). Lucene-flavored robust idf
    * (ln((N − df + 0.5)/(df + 0.5) + 1), never negative) and the
    * standard (k1, b) saturation/length normalization; only documents
    * containing ≥ 1 query term score (the rest are 0 by definition and
    * stay out of the posting relation entirely).
    *
    * Scale shape: the query terms are a literal IN-list (tens of
    * terms — a query, not a relation), so the explode immediately
    * filters to query-term postings: everything downstream is
    * O(postings of the query terms), not corpus-scale. Document
    * lengths and the corpus mean are one hash agg + a broadcast
    * scalar; df per term is a second-level agg over the tf table. The
    * per-(doc, term) score is pure projection and the final per-doc
    * sum is one hash agg keyed by doc.
    */
  def bm25Scores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Scores: empty query-term set")
    val toks = TextFunctions.tokens(col(textCol))
    val lens = df.select(col(idCol), size(toks).cast("double").as("dl"))
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val tf = df
      .select(col(idCol), explode(toks).as("w"))
      .filter(col("w").isin(queryTerms: _*))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val term = idf * col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfreq), Seq("w")) // ≤ |queryTerms| rows by construction
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats))
      .select(col(idCol), term.as("term"))
      .groupBy(col(idCol))
      .agg(round(sum("term"), 6).as("bm25"))
  }

  /** Batch BM25 retrieval: top-`k` documents for EVERY query in a
    * query RELATION — the lexical twin of [[VectorOps.ivfKnnJoin]]'s
    * batch shape ([[bm25Scores]] is the single-query probe, as
    * [[VectorOps.ivfTopK]] is to the kNN join). `queries` is
    * (query id, terms array); scoring is per-(query, doc) over the
    * SAME robust-idf Okapi formula as [[bm25Scores]] (df/avgdl/N are
    * corpus-level and query-independent, so the two agree score-for-
    * score on shared terms). A query's duplicate terms count once —
    * the standard bag-of-query-TERMS form both entry points use.
    *
    * Scale shape — no corpus×query product anywhere:
    *   - the postings table (doc, term, tf) is built ONCE, restricted
    *     to the union vocabulary of all queries by a broadcast
    *     semi-join right after the explode (the union vocabulary is
    *     query-scale, not corpus-scale);
    *   - queries join postings KEYED BY TERM: each (query, term) row
    *     meets only that term's postings — the scored relation is
    *     Σ_q Σ_{t∈q} df(t), the inverted-index cost, not |docs|·|q|;
    *   - per-query top-k is a `row_number ≤ k` window, which Spark
    *     rewrites to WindowGroupLimit (map-side pre-trim to k before
    *     the rank exchange), exactly as in ivfKnnJoin — PlanSpec pins
    *     both the no-product and the group-limit shape.
    */
  def bm25Join(
      queries: DataFrame,
      docs: DataFrame,
      queryIdCol: String,
      termsCol: String,
      docIdCol: String,
      textCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k=$k must be >= 1")
    val qterms = queries
      .select(col(queryIdCol), explode(col(termsCol)).as("w"))
      .distinct()
    val vocab = qterms.select("w").distinct()
    val toks = TextFunctions.tokens(col(textCol))
    val lens = docs.select(col(docIdCol), size(toks).cast("double").as("dl"))
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val tf = docs
      .select(col(docIdCol), explode(toks).as("w"))
      .join(broadcast(vocab), Seq("w")) // query-vocab postings only
      .groupBy(col(docIdCol), col("w"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).cast("double").as("df"))
    val idf = log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val term = idf * col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(qterms, Seq("w")) // keyed by term: inverted-index cost
      .join(broadcast(dfreq), Seq("w"))
      .join(lens, Seq(docIdCol))
      .crossJoin(broadcast(stats))
      .select(col(queryIdCol), col(docIdCol), term.as("term"))
      .groupBy(col(queryIdCol), col(docIdCol))
      .agg(round(sum("term"), 6).as("bm25"))
    val byScore = Window.partitionBy(queryIdCol)
      .orderBy(col("bm25").desc, col(docIdCol))
    scored
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Per-document bigram feature counts: (id, f, c) where `f` is the
    * space-joined bigram string — the hashed-n-gram feature family of
    * DSIR/fastText, in its exact (un-hashed) form. Shared by
    * [[dsirWeights]] and its hashed twin so the two paths count the
    * same occurrences.
    */
  private def bigramFeatureCounts(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    df.filter(size(toks) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))).as("f"))
      .groupBy(col(idCol), col("f"))
      .agg(count(lit(1)).as("c"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed-n-gram bag is,
    * log w(d) = Σ_f c_d(f)·[ln p_tgt(f) − ln p_raw(f)], with add-one
    * smoothed bag-of-bigram models fit on the target subset
    * (`targetPred` rows) vs the whole corpus. High-weight docs are the
    * ones importance resampling keeps when curating pre-training data
    * toward a target domain. This is the EXACT-feature form (features
    * are the bigram strings themselves, vocabulary capped at the top
    * `vocabSize` by raw count, ties broken by feature string) — fully
    * SQL-expressible, so it carries the DuckDB oracle;
    * [[dsirWeightsHashed]] is the production hashed path.
    *
    * Docs owning no in-vocab bigram have weight 0 under the sum and
    * drop out of the relation (inner posting join) — the contract the
    * oracle pins.
    *
    * Scale shape: one explode feeds the per-doc feature hash agg
    * (map-side combine); raw/target models are second-level aggs over
    * the vocabulary-scale feature relation; top-V is a TakeOrdered
    * (never a full sort materialization); scoring is one broadcast
    * join of the ≤`vocabSize`-row log-ratio table against the posting
    * relation plus a doc-keyed hash agg. Nothing corpus-scale crosses
    * the driver; the only broadcast is user-bounded by `vocabSize`.
    */
  def dsirWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      vocabSize: Int = 4096): DataFrame = {
    require(vocabSize >= 1, s"vocabSize=$vocabSize must be >= 1")
    val dfc = bigramFeatureCounts(df.select(col(idCol), col(textCol)), idCol, textCol)
    val tgtIds = df.filter(targetPred).select(col(idCol))
    val raw = dfc.groupBy("f").agg(sum("c").as("craw"))
    val vocab = raw.orderBy(col("craw").desc, col("f")).limit(vocabSize)
    val tgt = dfc.join(tgtIds, Seq(idCol)).groupBy("f").agg(sum("c").as("ctgt"))
    val vt = vocab.join(tgt, Seq("f"), "left")
      .select(col("f"), col("craw"), coalesce(col("ctgt"), lit(0L)).as("ctgt"))
    val tot = vt.agg(
      sum("craw").cast("double").as("traw"),
      sum("ctgt").cast("double").as("ttgt"),
      count(lit(1)).cast("double").as("vn"))
    val ratio = log((col("ctgt") + lit(1)) / (col("ttgt") + col("vn"))) -
      log((col("craw") + lit(1)) / (col("traw") + col("vn")))
    val lr = vt.crossJoin(broadcast(tot)).select(col("f"), ratio.as("r"))
    dfc.join(broadcast(lr), Seq("f"))
      .groupBy(col(idCol))
      .agg(round(sum(col("c") * col("r")), 4).as("dsir_w"))
  }

  /** The selection step DSIR exists for: Gumbel-top-k resampling
    * WITHOUT replacement, sampling documents with probability
    * proportional to their importance weight exp(log w(d)) — add
    * independent Gumbel noise to each log-weight and take the top `n`
    * (Vieira 2014; the paper's resampling step, made deterministic
    * and distributed). The noise is seeded from a Knuth-multiplicative
    * LCG on the document id — pure integer arithmetic + ln, so the
    * whole operator (weights → noise → top-n) stays ANSI-SQL
    * expressible and carries an end-to-end DuckDB oracle, unlike an
    * engine-side RNG. One TakeOrdered over the weighted relation; no
    * global sort, no shuffle beyond [[dsirWeights]]'s own.
    */
  def dsirResample(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      n: Int,
      vocabSize: Int = 4096,
      seed: Long = 1L): DataFrame = {
    require(n >= 1, s"n=$n must be >= 1")
    val w = dsirWeights(df, idCol, textCol, targetPred, vocabSize)
    // u in (0, 1) from a 31-bit LCG round followed by a QUADRATIC
    // (middle-square-style) round: exact in any BIGINT SQL. The
    // quadratic term is what makes the seed actually reshuffle the
    // sample — any affine chain r' = a·r + f(seed) shifts every
    // document's noise by the SAME constant per seed step (mod wraps
    // aside), leaving the selection order seed-invariant; r² makes the
    // seed's effect 2Δ·r1-dependent, i.e. per-document. No
    // intermediate exceeds max(2^31·A, 2^62) < 2^63; ids must be
    // non-negative and < 2^31 (3.4e9 docs), the documented contract.
    val m = 1L << 31
    val a = 2654435761L
    val r1 = pmod(col(idCol) * lit(a) + lit(seed), lit(m))
    val r2 = pmod(r1 * r1 + lit(seed), lit(m))
    val u = (r2.cast("double") + lit(0.5)) / lit(m.toDouble)
    val gumbel = -log(-log(u))
    w.select(col(idCol), col("dsir_w"),
        round(col("dsir_w") + gumbel, 4).as("gkey"))
      .orderBy(col("gkey").desc, col(idCol))
      .limit(n)
  }

  /** Hashed-feature DSIR — the shape the paper actually runs at scale:
    * features are `pmod(xxhash64(bigram), numBuckets)` bucket ids, so
    * no vocabulary is ever built (no top-V TakeOrdered, no global
    * feature sort — the model table is bounded by `numBuckets` however
    * large the corpus vocabulary grows). Smoothing normalizes over the
    * OBSERVED distinct buckets, so on a corpus where no two bigrams
    * collide the weights equal [[dsirWeights]] with an uncapped
    * vocabulary (to float-sum tolerance) — the equivalence DsirSpec
    * pins, alongside the collision direction: colliding bigrams merge
    * into one bucket count before modeling, exactly as in the paper.
    */
  def dsirWeightsHashed(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      numBuckets: Long = 1L << 20): DataFrame = {
    require(numBuckets >= 1, s"numBuckets=$numBuckets must be >= 1")
    val dfc = bigramFeatureCounts(df.select(col(idCol), col(textCol)), idCol, textCol)
      .select(col(idCol), pmod(xxhash64(col("f")), lit(numBuckets)).as("f"), col("c"))
      .groupBy(col(idCol), col("f"))
      .agg(sum("c").as("c")) // colliding bigrams merge into one bucket count
    val tgtIds = df.filter(targetPred).select(col(idCol))
    val raw = dfc.groupBy("f").agg(sum("c").as("craw"))
    val tgt = dfc.join(tgtIds, Seq(idCol)).groupBy("f").agg(sum("c").as("ctgt"))
    val vt = raw.join(tgt, Seq("f"), "left")
      .select(col("f"), col("craw"), coalesce(col("ctgt"), lit(0L)).as("ctgt"))
    val tot = vt.agg(
      sum("craw").cast("double").as("traw"),
      sum("ctgt").cast("double").as("ttgt"),
      count(lit(1)).cast("double").as("vn"))
    val ratio = log((col("ctgt") + lit(1)) / (col("ttgt") + col("vn"))) -
      log((col("craw") + lit(1)) / (col("traw") + col("vn")))
    // The model table is numBuckets-bounded but can exceed broadcast at
    // large bucket counts — shuffle-join on the bucket key (same policy
    // as sourceKlDivergence's vocabulary joins); only the scalar totals
    // broadcast.
    val lr = vt.crossJoin(broadcast(tot)).select(col("f"), ratio.as("r"))
    dfc.join(lr, Seq("f"))
      .groupBy(col(idCol))
      .agg(round(sum(col("c") * col("r")), 4).as("dsir_w"))
  }

  def bigramTopK(df: DataFrame, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = TextFunctions.tokens(col(textCol))
    val pairs = df.filter(size(toks) >= 2)
      .select(explode(zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val w = Window.partitionBy("w1").orderBy(col("c").desc, col("w2"))
    pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("w1"), col("rk"), col("w2"), col("c"))
  }

  /** Pointwise-mutual-information collocation mining: the corpus-wide
    * top-`k` adjacent word pairs by
    * `pmi = ln(p(w1,w2) / (p(w1)·p(w2)))` among pairs seen at least
    * `minCount` times (the classic MI filter — singletons otherwise
    * saturate the top of the list with noise).
    *
    * Scale shape: one tokenize pass feeds both the unigram and bigram
    * hash aggs (vocabulary-bound relations); the `minCount` filter
    * prunes the bigram tail BEFORE the two count joins, which key on
    * the word (vocabulary-bound shuffle joins, never
    * broadcast-dependent); only the two scalar totals broadcast; the
    * global top-k is `orderBy.limit` → TakeOrdered (per-partition heap,
    * k rows to the driver — never a global sort). `pmi` is rounded to
    * 4 before ranking so the order is reproducible against the oracle;
    * (w1, w2) breaks rounded ties totally.
    */
  def pmiCollocations(
      df: DataFrame,
      textCol: String,
      minCount: Long = 5,
      k: Int = 100): DataFrame = {
    val tokenRows = df.select(TextFunctions.tokens(col(textCol)).as("t"))
    val uni = tokenRows.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val totalU = uni.agg(sum(col("cw")).as("nu"))
    val pairs = tokenRows.filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val totalB = pairs.agg(count(lit(1)).as("nb"))
    big
      .join(uni.select(col("w").as("w1"), col("cw").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totalU))
      .crossJoin(broadcast(totalB))
      .select(col("w1"), col("w2"), col("c_ab"),
        round(log(col("c_ab").cast("double") * col("nu") * col("nu") /
          (col("nb").cast("double") * col("c1") * col("c2"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Vocabulary-growth (novelty-saturation) curve per source: docs are
    * split into `nBuckets` equal index ranges in `idCol` order and each
    * bucket reports how many DISTINCT tokens appear there for the
    * FIRST time in that source, plus the running vocabulary size — the
    * Heaps-law readout that says whether more data from a source still
    * buys new vocabulary or the source has saturated.
    *
    * Scale shape: one map-only tokenize + a (source, token) min-doc
    * agg (vocabulary-bound, map-side combined); the per-source doc
    * index comes from the two-phase [[Sampling.prefixSumBy]] — never a
    * corpus-wide `Window.partitionBy(source)` (parallelism capped at
    * the source count, the q149 lesson). The only window runs on the
    * (source × nBuckets)-row bucket relation, bounded by construction.
    * Buckets where a source introduces nothing are absent (their
    * n_new is zero, not a row).
    */
  def vocabGrowth(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be >= 1")
    val d = df.select(col(sourceCol).as("source"), col(idCol).as("doc"))
      .withColumn("one", lit(1L))
    val idx = Sampling.prefixSumBy(d, Seq("source"), "doc", "one")
    val nd = d.groupBy("source").agg(count(lit(1)).as("nd"))
    val bucketed = idx.join(nd, Seq("source"))
      .select(col("source"), col("doc"),
        least(expr(s"(cum_sum * $nBuckets) div nd"),
          lit(nBuckets - 1L)).as("bucket"))
    val firsts = df
      .select(col(sourceCol).as("source"), col(idCol).as("doc"),
        explode(array_remove(TextFunctions.tokens(col(textCol)), "")).as("w"))
      .groupBy("source", "w").agg(min("doc").as("doc"))
      .groupBy("source", "doc").agg(count(lit(1)).as("nw"))
    val perBucket = firsts.join(bucketed, Seq("source", "doc"))
      .groupBy("source", "bucket")
      .agg(sum("nw").cast("long").as("n_new"))
    // bounded window: exactly ≤ nBuckets rows per source by construction
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBucket.select(col("source"), col("bucket"), col("n_new"),
      sum("n_new").over(bySource).cast("long").as("cum_vocab"))
  }

  /** All pairs of distinct `keyCol` strings at edit distance exactly 1
    * (insert / delete / substitute one character) — the fuzzy-key
    * primitive behind record linkage and spelling-variant clustering,
    * as `(w1, w2)` with `w1 < w2`.
    *
    * FastSS (Bocek et al. 2007) deletion neighborhoods: two strings are
    * at edit distance ≤ 1 iff they share an entry in each other's
    * {self} ∪ {1-deletions} set, so candidates come from ONE equi-join
    * on an 8-byte variant hash — never an all-pairs product — and the
    * codegen'd `levenshtein` verifies each candidate exactly. Hash
    * collisions only ADD candidates; the exact verify removes them
    * (stronger than the hash-vs-content contract: collisions cannot
    * change the result at all).
    *
    * Scale shape: the corpus collapses once to its distinct key set
    * (entity-cardinality-bound); each key emits len+1 variants
    * (map-only, `maxKeyLen`-bounded); the candidate join groups by
    * variant hash — posting sizes are alphabet-bounded for natural key
    * spaces, and the one histogram-scale stats pass fails fast with the
    * measured size if a degenerate key space exceeds `maxBucket`
    * instead of silently detonating the pair expansion.
    *
    * Error surface note (API contract): the `maxKeyLen` guard rides
    * the variant expansion as a `raise_error`, so an oversized key
    * fails the job as a `SparkException`-wrapped task failure naming
    * the key — NOT a driver-side `IllegalArgumentException` (changed
    * round 17; `maxBucket` still raises `IllegalArgumentException`
    * eagerly).
    */
  def editDistance1Pairs(
      df: DataFrame,
      keyCol: String,
      maxKeyLen: Int = 256,
      maxBucket: Int = 10000): DataFrame = {
    require(maxKeyLen >= 1 && maxBucket >= 2,
      s"editDistance1Pairs: maxKeyLen=$maxKeyLen, maxBucket=$maxBucket out of range")
    // the distinct's exchange doubles as the spread (HashPartitioning(w)
    // at an explicit count satisfies the dedup's clustering, and AQE
    // cannot coalesce it): without it the tiny-byte key set coalesced
    // to ONE partition and the whole expansion + candidate join +
    // banded-levenshtein verify ran as a single serial task (round-18
    // probe: a 2.1 s single job carrying most of the q162 wall)
    val words = DirLayout.spread(
        df.select(col(keyCol).cast("string").as("w")).na.drop(), col("w"))
      .distinct()
    // {self} ∪ {1-deletions}, deduped per word (deleting either of two
    // equal adjacent chars yields the same variant). Materialized ONCE
    // (checkpoint): the variant expansion feeds the skew guard's
    // bucket-size aggregate AND both sides of the candidate self-join —
    // without the checkpoint the explode ran three times (the guard
    // pass was a full extra expansion, measured ~1/3 of the q162 wall).
    // The maxKeyLen guard rides INSIDE the expansion (raise_error on
    // the offending row) instead of a separate full validation pass
    // over the distinct key set — it still fails fast, now naming the
    // key from the task that hit it (round-17 opt: the guard pass was
    // its own ~0.3 s job at sf0.1, and at corpus scale a full extra
    // scan of the key set).
    val keyed = Ckpt.checkpoint(words
      .select(when(length(col("w")) <= maxKeyLen, col("w"))
        .otherwise(raise_error(concat(
          lit("editDistance1Pairs: key "), substring(col("w"), 1, 32),
          lit(s"… exceeds maxKeyLen=$maxKeyLen — raise the knob if the " +
            "key space is real")))).as("w"))
      .select(col("w"), explode(array_distinct(expr(
        "concat(array(w), transform(sequence(1, length(w)), " +
          "i -> concat(substr(w, 1, i - 1), substr(w, i + 1))))")))
        .as("v"))
      .select(col("w"), xxhash64(col("v")).as("vh")))
    val worst = keyed.groupBy("vh").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0)
    require(worst <= maxBucket,
      s"editDistance1Pairs: a variant bucket holds $worst keys (> maxBucket=" +
        s"$maxBucket) — the key space is too self-similar for the k=1 " +
        "neighborhood join; raise maxBucket only if the pair relation is wanted")
    // verify BEFORE dedup: a candidate pair recurs only via rare
    // multi-position coincidences, so running the codegen'd levenshtein
    // on the raw join output and deduping the ~4× smaller verified
    // relation beats a distinct over every candidate (measured at 64×
    // replicated names: 61 M candidates, 17 M verified — the
    // candidate-wide distinct was the single largest exchange)
    // threshold-banded levenshtein: O(len·1) per candidate instead of
    // the O(len²) full DP — the verify runs on every candidate, so the
    // band is the second-largest term after the join itself
    keyed.as("a").join(keyed.as("b"), "vh")
      .filter(col("a.w") < col("b.w"))
      .select(col("a.w").as("w1"), col("b.w").as("w2"))
      .filter(levenshtein(col("w1"), col("w2"), 1) === 1)
      .distinct()
  }

  /** Zipf-fit report per source: least-squares slope of
    * log(frequency) on log(rank) over the top `topK` tokens — natural
    * language sits near slope −1 (Zipf 1949); templated/spammy/
    * synthetic slices flatten (repetitive small vocab) or steepen
    * (boilerplate dominating), making the slope a cheap corpus-QA
    * screen per source. Output:
    * `(source, n_terms, slope, intercept)`; sources whose top-k ranks
    * have zero log-rank variance (n_terms = 1) report NULL slope.
    *
    * Determinism across engines: each log term rounds to 6 before the
    * sums (a last-ulp `ln` difference between libms cannot reach
    * them), the fitted coefficients round to 4 — the
    * [[Features.decayedActivity]] contract.
    *
    * Scale shape: the corpus collapses to (source, token) counts
    * (map-side combined, vocabulary-bound); the rank window runs on
    * that ALREADY-COLLAPSED relation (≤ |vocab| rows per source — not
    * the q149 corpus-window trap) with WindowGroupLimit pruning to
    * topK; the regression is one per-source agg over ≤ topK rows.
    */
  def zipfFit(
      df: DataFrame,
      textCol: String,
      sourceCol: String,
      topK: Int = 100): DataFrame = {
    require(topK >= 2, s"topK=$topK must be >= 2 (a fit needs variance)")
    val counts = df
      .select(col(sourceCol).as("source"),
        explode(array_remove(TextFunctions.tokens(col(textCol)), "")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("cnt").desc, col("w"))
    val terms = counts
      .withColumn("r", row_number().over(byFreq).cast("long"))
      .filter(col("r") <= topK)
      .select(col("source"),
        round(log(col("r").cast("double")), 6).as("x"),
        round(log(col("cnt").cast("double")), 6).as("y"))
    val agg = terms.groupBy("source").agg(
      count(lit(1)).cast("long").as("n_terms"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val den = col("n_terms") * col("sxx") - col("sx") * col("sx")
    val slope = (col("n_terms") * col("sxy") - col("sx") * col("sy")) / den
    agg.select(col("source"), col("n_terms"),
      when(den =!= 0.0, round(slope, 4)).as("slope"),
      when(den =!= 0.0,
        round((col("sy") - slope * col("sx")) / col("n_terms"), 4))
        .as("intercept"))
  }

  /** T5-style span-corruption example construction (Raffel et al.
    * 2020): per document, pseudo-random token spans are replaced by
    * `<extra_id_k>` sentinels in the INPUT, and the TARGET is the
    * sentinel-delimited sequence of the masked spans — the
    * denoising-pretraining (inputs, targets) pair, built as a relation.
    *
    * Determinism contract: span starts and lengths come from the
    * engine-replayable integer LCG of `(doc_id·4096 + pos)` — a span
    * starts where `mix % startMod == 0` and runs `2 + mix % 3` tokens
    * (mean 3); overlapping spans merge into one run, exactly as T5
    * merges adjacent masks. Every decision is integer arithmetic on
    * (doc_id, pos), so a SQL oracle rebuilds the same examples
    * bit-for-bit and the round-trip invariant (splice each target span
    * back over its sentinel → the original text) holds corpus-wide.
    *
    * Scale shape: tokenize + posexplode + the mask decision are
    * map-only (the "is position p inside a span" test is a closed-form
    * OR over the 4 possible span starts covering p — never a lag/lead
    * chain); the ONE window is the per-document run counter
    * (group size = document length — the per-example boundedness
    * contract, as [[Features.eventSequences]]); assembly is one
    * partial-aggregated groupBy. Documents with no tokens emit no row.
    */
  def spanCorruption(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seed: Long = 42L,
      startMod: Int = 20): DataFrame = {
    require(startMod >= 2, s"startMod=$startMod must be >= 2 (1 masks everything)")
    val base = df
      .select(col(idCol).as("doc"),
        posexplode(array_remove(TextFunctions.tokens(col(textCol)), ""))
          .as(Seq("p", "tok")))
      .select(col("doc"), col("p").cast("long").as("pos"), col("tok"))
    def mix(p: Column): Column = pmod(
      pmod(col("doc") * 4096L + p, lit(2147483648L)) * lit(2654435761L)
        + lit(seed),
      lit(4294967296L))
    def starts(p: Column): Column = pmod(mix(p), lit(startMod.toLong)) === 0
    def slen(p: Column): Column = lit(2L) + pmod(mix(p), lit(3L))
    def maskedAt(p: Column): Column = (0 to 3).map { j =>
      (p - j >= 0) && starts(p - j) && (slen(p - j) > j)
    }.reduce(_ || _)
    val marked = base.select(col("doc"), col("pos"), col("tok"),
      maskedAt(col("pos")).as("m"),
      (maskedAt(col("pos")) &&
        !(col("pos") > 0 && maskedAt(col("pos") - 1))).as("rs"))
    // the one window: per-doc cumulative run count (doc-length groups)
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val run = marked.withColumn("rid",
      sum(when(col("rs"), 1L).otherwise(0L)).over(byPos) - 1L)
    val sentinel = concat(lit("<extra_id_"), col("rid").cast("string"), lit(">"))
    val inputItem = when(col("rs"), struct(col("pos"), lit(0).as("kind"),
        sentinel.as("it")))
      .otherwise(when(!col("m"), struct(col("pos"), lit(0).as("kind"),
        col("tok").as("it"))))
    // a run-start row contributes TWO target items: its sentinel AND
    // its own masked token (rs ⊆ m by construction)
    val tokStruct = struct(col("pos"), lit(1).as("kind"), col("tok").as("it"))
    val sentStruct = struct(col("pos"), lit(0).as("kind"), sentinel.as("it"))
    val targetItems = when(col("rs"), array(sentStruct, tokStruct))
      .otherwise(when(col("m"), array(tokStruct))
        .otherwise(array().cast("array<struct<pos:bigint,kind:int,it:string>>")))
    run.groupBy(col("doc").as(idCol))
      .agg(
        array_join(transform(array_sort(collect_list(inputItem)),
          x => x.getField("it")), " ").as("input"),
        array_join(transform(array_sort(flatten(collect_list(targetItems))),
          x => x.getField("it")), " ").as("target"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_masked"))
  }
}
