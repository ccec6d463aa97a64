package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted BM25 lexical index — the lexical twin of the persisted
  * IVF / IVF-PQ vector indexes: build once, append deltas, probe
  * without ever rescanning the corpus.
  *
  * Layout under the index root:
  *   - `postings/` — (w, <idCol>, tf, dl), hash-bucketed by term into
  *     `tb=<0..buckets-1>` partition directories: a probe prunes to
  *     the query terms' buckets AT FILE LISTING, the
  *     [[VectorOps.ivfProbeIndex]] treatment of the postings scan.
  *     Full-fidelity tokens (empty tokens included), so index scores
  *     reproduce the scan-path scores exactly. `dl`, the document's
  *     token count, rides in every row: it is fixed per id, so the copy
  *     is exact, and a score never joins back to `doclen/` for it.
  *   - `doclen/` — (<idCol>, dl), one row per document (every
  *     document, matching [[TextAnalysis.bm25Scores]]'s corpus-wide
  *     N/avgdl). It is the ONE source of the corpus statistics — N and
  *     avgdl are one aggregate over `doclen/` minus the tombstone set,
  *     so there is no side copy to keep consistent under deletes and
  *     purges — and of the snapshot cut and its purge guard.
  *   - `meta/` — (buckets, positional, postings_dl): the term-bucket
  *     fanout, persisted so append/probe can never hash terms into a
  *     different layout than the index was written under, and the
  *     marker that the postings carry `dl`. An index without the
  *     marker was written before they did; every read and append
  *     refuses it with [[OutdatedLayout]].
  *
  * Append contract (every [[CorpusUpsert.IndexTarget]]'s): delta doc
  * ids are NEW — postings/doclen rows stay unique per (term, doc) and
  * (doc), so append ≡ from-scratch rebuild gives identical probe
  * scores (LexIndexSpec pins it, plus probe ≡ the scan-path
  * bm25Scores on the same corpus). Delete, purge and compaction are
  * the shared [[IndexLayout]] lifecycle over [[Layout]].
  *
  * 100 TB shape: the build is the postings hash-agg (map-side
  * combine) plus one cheap projection; a live probe reads only the
  * query terms' partition directories (|terms| buckets of `buckets`)
  * and, once a delete has landed, the tombstone set. `dl` comes with
  * each posting, the per-term df is a window count over the slice,
  * and N/avgdl enter the plan as literals, computed once per index
  * generation ([[IndexLayout.perGeneration]] over `doclen/`, the
  * tombstones and `meta/`) and reused by every probe until a publish,
  * delete, purge or compaction changes one of them. The only join
  * left is the tombstone anti-join on the slice. Opening the index
  * costs no Spark job ([[IndexLayout.SubDir.read]]); a warm live probe
  * with tombstones present runs 4 jobs (LexIndexSpec pins it).
  * Snapshot reads ([[bm25ProbeRids]], the `rids` modes) still
  * aggregate the rid-cut `doclen/` per call, because their corpus is
  * the caller's. Scoring arithmetic is bit-for-bit
  * [[TextAnalysis.bm25Scores]]'s.
  */
object LexIndex {

  private val Postings = IndexLayout.SubDir("postings", Seq("tb"))
  private val Doclen = IndexLayout.SubDir("doclen")

  /** `postings/` × tb and the flat keyed `doclen/`: the listing
    * compaction folds and the affected dirs a purge rewrites. An index
    * written before N/avgdl derived from `doclen/` may still hold a
    * `stats/` directory; nothing reads it.
    */
  val Layout: IndexLayout = IndexLayout("bm25", Seq(Postings, Doclen))

  /** The refusal every probe, rank and append raises on an index whose
    * `meta/` lacks the `postings_dl` marker: its postings were written
    * without `dl`, and reading them — or appending rows that carry it
    * next to rows that do not — would score with null lengths. Rebuild
    * the index with [[bm25WriteIndex]].
    */
  final class OutdatedLayout(path: String) extends IllegalStateException(
    s"BM25 index at $path was written before postings carried dl " +
      "(no postings_dl marker in meta/); rebuild it with " +
      "LexIndex.bm25WriteIndex")

  /** Stable term bucket: layout hash only — scores never depend on it. */
  private def termBucket(w: org.apache.spark.sql.Column, buckets: Int) =
    pmod(xxhash64(w), lit(buckets.toLong)).cast("int")

  /** Driver-side twin of [[termBucket]] for LITERAL query terms, so a
    * probe's bucket routing costs zero Spark jobs. Not a
    * reimplementation of the hash: it calls the SAME
    * `catalyst.expressions.XXH64.hashUnsafeBytes` over the same
    * UTF8String bytes and seed (42) that the `xxhash64` expression
    * compiles to on the write path, then replays `pmod`'s
    * negative-safe wrap — LexIndexSpec pins driver ≡ Catalyst on
    * ASCII, non-ASCII, and empty terms.
    */
  private def termBucketLocal(w: String, buckets: Int): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(w)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    val b = buckets.toLong
    (((h % b) + b) % b).toInt
  }

  /** Exposed for the spec's driver ≡ Catalyst pin only. */
  private[graft] def termBucketForTest(w: String, buckets: Int): Int =
    termBucketLocal(w, buckets)

  /** The robust-idf Okapi score every probe/rank/join variant shares —
    * idf(df) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) — reading
    * `n_docs`/`avgdl`/`dl` from scope. ONE definition (and one
    * operation order, which the DuckDB oracles replay bit-for-bit) so
    * a smoothing tweak can never desynchronize the variants.
    */
  private def okapiScore(tf: Column, df: Column,
      k1: Double, b: Double): Column =
    log((col("n_docs") - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0)) *
      tf * lit(k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))

  /** `positional = true` stores each posting's sorted 0-based token
    * positions (`ps: array<int>`) next to its `tf` — the layout
    * [[bm25PhraseProbe]]/[[bm25ProximityProbe]] verify against.
    * Positions ride the posting ROW, so the entire maintenance
    * lifecycle (append under the persisted fanout, tombstone delete,
    * purge, compaction) carries them untouched — the purge/compact
    * passes rewrite whole rows, never columns. Space cost is one int
    * per token occurrence, the standard positional-postings trade.
    */
  def bm25WriteIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      buckets: Int = 64,
      positional: Boolean = false): Unit = {
    require(buckets >= 1, s"buckets=$buckets must be >= 1")
    import docs.sparkSession.implicits._
    IndexLayout.Meta.write(
      Seq((buckets, positional, true))
        .toDF("buckets", "positional", "postings_dl"), path)
    writeParts(docs, idCol, textCol, path, buckets, positional)(identity)
  }

  /** (buckets, positional), read once per generation of `meta/`
    * ([[IndexLayout.meta]] — a probe used to pay one or two Spark
    * head() jobs per call to re-learn the layout geometry). Raises
    * [[OutdatedLayout]] when the `postings_dl` marker is missing.
    */
  private def readMeta(spark: SparkSession, path: String): (Int, Boolean) =
    IndexLayout.meta(spark, path) { meta =>
      if (!meta.columns.contains("postings_dl"))
        throw new OutdatedLayout(path)
      val r = meta.select("buckets", "positional").head()
      (r.getInt(0), r.getBoolean(1))
    }

  private def readBuckets(spark: SparkSession, path: String): Int =
    readMeta(spark, path)._1

  private def readPositional(spark: SparkSession, path: String): Boolean =
    readMeta(spark, path)._2

  /** The family's one delta writer, behind [[CorpusUpsert.Bm25Target]]
    * (every append door): the delta's
    * postings/doclen rows under the index at `indexPath`'s
    * persisted bucket fanout and positional flag (an appended batch can
    * never disagree with the layout it lands in), written to
    * `stagePath` in the index layout. The postings co-partition with
    * the tb= layout first — ≤ one file per touched bucket per batch
    * instead of tasks×buckets, the [[HammingIndex.writeDelta]]
    * steady-state treatment; the shuffle is delta-sized.
    */
  private[ops] def writeDelta(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      stagePath: String): Unit = {
    val (buckets, positional) = readMeta(delta.sparkSession, indexPath)
    writeParts(delta, idCol, textCol, stagePath, buckets, positional)(
      DirLayout.appendToDirs(_, buckets, Postings.cols: _*))
  }

  /** Write the postings/doclen rows of `docs` under `path`; the
    * postings rows pass through `layOut` before their aggregation, and
    * each carries its document's `dl` (the same `size(toks)` the
    * doclen row holds). The two land in independent subtrees, so they
    * are written concurrently (wall = max of the two, not the sum; the
    * postings hash-agg dominates, so the doclen pass rides inside its
    * tail).
    */
  private def writeParts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      buckets: Int,
      positional: Boolean)(layOut: DataFrame => DataFrame): Unit = {
    val toks = TextFunctions.tokens(col(textCol))
    val dl = size(toks).cast("double").as("dl")
    val exploded =
      if (positional)
        docs.select(col(idCol), dl, posexplode(toks).as(Seq("p", "w")))
      else
        docs.select(col(idCol), dl, explode(toks).as("w"))
    // dl is fixed per id: max over a (doc, term) group is that value
    def agged(g: org.apache.spark.sql.RelationalGroupedDataset) =
      if (positional)
        g.agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"),
          sort_array(collect_list(col("p").cast("int"))).as("ps"))
      else
        g.agg(count(lit(1)).cast("double").as("tf"), max(col("dl")).as("dl"))
    WorkPool.runAll(Seq(
      () => {
        // a delta co-partitions with the tb layout (see writeDelta).
        // The exchange is SHARED with the (id, term) aggregation:
        // repartition by tb BEFORE the groupBy and key the groupBy by
        // (tb, id, w) — tb is an exchange-side column, so
        // HashPartitioning(tb) satisfies the aggregation's clustering
        // requirement and the plan runs ONE delta-sized exchange
        // instead of a groupBy exchange + a repartition exchange
        // (guide §2.4: two operations keyed compatibly share one
        // exchange).
        val rows = exploded.withColumn("tb", termBucket(col("w"), buckets))
        Postings.write(
          agged(layOut(rows).groupBy(col("tb"), col(idCol), col("w"))),
          path)
      },
      () => Doclen.write(docs.select(col(idCol), dl), path)))
  }

  /** BM25 scores for `queryTerms` over the persisted index — the
    * index-backed twin of [[TextAnalysis.bm25Scores]] (same robust-idf
    * Okapi formula, same rounding), returning `(<idCol>, bm25)` for
    * every document matching ≥ 1 term. The postings scan prunes to
    * the query terms' `tb=` directories at file listing and is the
    * only index data the plan reads: `dl` rides in the postings rows
    * and N/avgdl are this index generation's literals ([[withStats]]).
    * Tombstoned documents (`Layout.delete`) are excluded from the
    * scanned slice, the per-term document frequencies and N/avgdl.
    */
  def bm25ProbeIndex(
      spark: SparkSession,
      path: String,
      idCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Probe(spark, path, idCol, queryTerms, None, k1, b)

  /** ONE probe implementation behind [[bm25ProbeIndex]] (live:
    * tombstones excluded, corpus-wide stats) and [[bm25ProbeRids]]
    * (snapshot: tombstoned rows kept, rid cut, snapshot stats) — the
    * positional family's `rids` switch applied to the term probe, so
    * a smoothing/rounding change can never desynchronize the modes.
    */
  private def bm25Probe(
      spark: SparkSession,
      path: String,
      idCol: String,
      queryTerms: Seq[String],
      rids: Option[DataFrame],
      k1: Double,
      b: Double): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 probe: empty query-term set")
    val buckets = readBuckets(spark, path)
    // bucket routing reproduces the WRITE path's hash exactly via the
    // shared XXH64 kernel on the driver ([[termBucketLocal]] — spec-
    // pinned against the Catalyst expression), costing zero Spark jobs
    val probeBuckets =
      queryTerms.distinct.map(termBucketLocal(_, buckets)).distinct
    val slice0 = Postings.read(spark, path)
      .filter(col("tb").isin(probeBuckets: _*)) // partition-pruned
      .filter(col("w").isin(queryTerms.distinct: _*))
      .select(col(idCol), col("w"), col("tf"), col("dl"))
    // live: tombstone anti-join AFTER the bucket/term prune (slice-
    // sized, skipped when no delete ever landed); snapshot: the rid
    // cut replaces it (superseded rows are history). df inherits the
    // cut through this relation either way.
    val tf = rids match {
      case Some(r) => slice0.join(r.select(col(idCol)), Seq(idCol),
        "left_semi")
      case None => Tombstones.excludeFrom(slice0, path, idCol)
    }
    // df per term is a window count over the cut slice: one exchange
    // by term and one pass over the slice (an aggregate joined back
    // would scan it twice and add a broadcast stage)
    withStats(tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("w")).cast("double")),
        path, idCol, rids, "bm25ProbeRids")
      .select(col(idCol), okapiScore(col("tf"), col("df"), k1, b).as("term"))
      .groupBy(col(idCol))
      .agg(round(sum("term"), 6).as("bm25"))
  }

  /** HISTORICAL BM25 — the probe restricted to an explicit id set,
    * with corpus statistics computed over THAT set: `rids` is a
    * one-column relation of `idCol` values (for the upsert corpus, the
    * as-of rid set from [[graft.ops.CorpusUpsert.asOfRids]]), and
    * every moving part of the score is historical —
    *
    *   - tf and dl: the bucket-pruned postings slice scanned WITHOUT
    *     the tombstone exclusion (a superseded revision's rows are
    *     history until purged) and semi-joined to `rids`;
    *   - df: recomputed from that filtered slice — per-term document
    *     frequency IN the snapshot, free;
    *   - N / avgdl: one aggregate over the rid-filtered `doclen/`
    *     (doclen rows persist per revision until purge, so the
    *     snapshot's exact length distribution is on disk).
    *
    * This closes the caveat [[graft.ops.CorpusUpsert.revsAsOf]]
    * documents for corpus-statistic scores: the result is
    * bit-identical to [[bm25ProbeIndex]] against an index holding
    * exactly the snapshot corpus (LexIndexSpec pins it). REFUSED
    * loudly when any requested rid has no doclen row — its revision's
    * rows were already purged, and serving a silently smaller corpus
    * would corrupt every score (the purge-horizon contract).
    *
    * 100 TB shape: the postings work is [[bm25ProbeIndex]]'s pruned
    * slice plus one semi-join against the ledger-sized rid set; the
    * stats aggregate is one column-pruned pass over `doclen/` (rows =
    * revisions ever written — corpus-count-sized, not corpus-BYTES-
    * sized), and the completeness check is one anti-join on the same
    * relation.
    */
  def bm25ProbeRids(
      spark: SparkSession,
      path: String,
      idCol: String,
      queryTerms: Seq[String],
      rids: DataFrame,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    bm25Probe(spark, path, idCol, queryTerms, Some(rids), k1, b)

  /** The snapshot-read purge guard: every requested id must still have
    * its doclen row (rows persist per revision until a purge reclaims
    * them) — otherwise the snapshot is silently smaller than requested
    * and every statistic computed over it is wrong. Shared by
    * [[bm25ProbeRids]] and the positional probes' rids mode.
    */
  private def requireUnpurged(
      spark: SparkSession, path: String, idCol: String,
      idSet: DataFrame, op: String): Unit = {
    val purged = idSet
      .join(Doclen.read(spark, path), Seq(idCol), "left_anti")
      .limit(1).collect() // bounded: 0 or 1 row
    require(purged.isEmpty,
      s"$op: id ${purged.headOption.map(_.get(0)).getOrElse("?")} " +
        "has no doclen row — its revision was already purged; the " +
        "snapshot horizon is the purge cadence (see CorpusUpsert.revsAsOf)")
  }

  /** The snapshot doclen cut with [[requireUnpurged]]'s guard FUSED
    * into the projection: `(idCol, dl)` for every snapshot id, raising
    * (at the consuming action) for any id whose doclen row was already
    * purged — row-identical to `doclen semi-join idSet` when the guard
    * passes (doclen holds exactly one row per rid). Zero driver jobs
    * where the eager guard paid an anti-join collect per probe.
    */
  private def guardedSnapshotLens(
      spark: SparkSession, path: String, idCol: String,
      idSet: DataFrame, op: String): DataFrame =
    idSet.join(Doclen.read(spark, path), Seq(idCol), "left")
      .select(col(idCol),
        when(col("dl").isNull, raise_error(concat(
            lit(s"$op: id "), col(idCol).cast("string"),
            lit(" has no doclen row — its revision was already purged;" +
              " the snapshot horizon is the purge cadence (see" +
              " CorpusUpsert.revsAsOf)"))))
          .otherwise(col("dl")).as("dl"))

  /** `scored` with the `n_docs`/`avgdl` columns [[okapiScore]] reads,
    * for the corpus a score reads: live (`rids` None) or the snapshot
    * `rids`. Live: this index generation's [[liveStats]] as literals —
    * no scan. Snapshot: the broadcast one-row aggregate over
    * [[guardedSnapshotLens]], whose purge guard fires in that
    * aggregate (it consumes every lens row, so a selective consumer
    * cannot prune the guard away). Shared by [[bm25Probe]], the rank
    * entries and the batch joins.
    */
  private def withStats(
      scored: DataFrame, path: String, idCol: String,
      rids: Option[DataFrame], op: String): DataFrame = {
    val spark = scored.sparkSession
    rids match {
      case None =>
        val (n, avgdl) = liveStats(spark, path, idCol)
        scored.withColumn("n_docs", lit(n))
          .withColumn("avgdl",
            avgdl.fold(lit(null).cast("double"))(a => lit(a)))
      case Some(r) =>
        scored.crossJoin(broadcast(statsOf(
          guardedSnapshotLens(spark, path, idCol, r.select(col(idCol)), op))))
    }
  }

  /** The one `(n_docs, avgdl)` row of a `(idCol, dl)` relation. dl
    * values are integer-valued doubles, so the sum under avg is exact
    * in any order and N/avgdl is bit-identical to a rebuild's.
    */
  private def statsOf(lens: DataFrame): DataFrame =
    lens.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))

  /** The live corpus's N and avgdl (None for an empty corpus):
    * [[statsOf]] `doclen/` minus the tombstone set, collected once per
    * generation of `doclen/`, the tombstones and `meta/`
    * ([[IndexLayout.perGeneration]]), so a warm probe pays no job for
    * them. Exact through every purge interleaving, since a purge
    * drops from `doclen/` only ids the tombstones already exclude.
    */
  private def liveStats(spark: SparkSession, path: String, idCol: String)
      : (Double, Option[Double]) =
    IndexLayout.perGeneration(spark, Seq(Doclen.dir(path),
        Tombstones.dir(path), IndexLayout.Meta.dir(path))) {
      val r = statsOf(
        Tombstones.excludeFrom(Doclen.read(spark, path), path, idCol)).head()
      (r.getDouble(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
    }

  /** Candidate gather shared by the positional probes: for each doc
    * containing ALL of `terms`, a `w → ps` map of just those terms'
    * position arrays, with the doc's `dl` (a caller that never reads
    * it lets the optimizer prune it). The postings scan prunes to the
    * terms' `tb=` directories at file listing (the [[bm25ProbeIndex]]
    * treatment),
    * tombstoned docs are excluded on the pruned slice, and the
    * conjunctive cut (`size(m) = |terms|`) happens in the same hash
    * aggregation — candidate volume entering the verify expression is
    * the docs containing the RAREST term at most, never the corpus.
    */
  /** `rids = Some(idSet)` switches to SNAPSHOT mode: the slice keeps
    * tombstoned rows (superseded revisions are history until a purge)
    * and cuts to the id set instead — the
    * [[graft.ops.CorpusUpsert.asOfRids]] pairing, with the purge guard
    * [[bm25ProbeRids]] documents.
    */
  private def positionMaps(
      spark: SparkSession,
      path: String,
      idCol: String,
      terms: Seq[String],
      rids: Option[DataFrame] = None,
      guardRids: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "positional probe: empty term set")
    require(readPositional(spark, path),
      s"positional probe: index at $path was not written with " +
        "positional = true — phrase/proximity need position arrays")
    // guardRids = false when the CALLER carries the purge guard in its
    // own lens/stats plan (the rank entries) — the bare probes keep the
    // eager check, their result plan never touches doclen
    if (guardRids)
      rids.foreach(r => requireUnpurged(spark, path, idCol,
        r.select(col(idCol)), "positional probe (rids)"))
    val buckets = readBuckets(spark, path)
    val probeBuckets =
      terms.distinct.map(termBucketLocal(_, buckets)).distinct
    val slice0 = Postings.read(spark, path)
      .filter(col("tb").isin(probeBuckets: _*)) // partition-pruned
      .filter(col("w").isin(terms.distinct: _*))
      .select(col(idCol), col("w"), col("ps"), col("dl"))
    val slice = rids match {
      case Some(r) => slice0.join(r.select(col(idCol)), Seq(idCol),
        "left_semi") // the snapshot cut — tombstoned rows stay
      case None => Tombstones.excludeFrom(slice0, path, idCol)
    }
    slice
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("w"), col("ps"))))
        .as("m"), max(col("dl")).as("dl"))
      .filter(size(col("m")) === terms.distinct.size) // conjunctive
  }

  /** Exact PHRASE search over a positional index: `(<idCol>,
    * phrase_tf)` for every document where `phrase`'s terms occur at
    * CONSECUTIVE token positions, `phrase_tf` counting the phrase's
    * occurrences (anchored at the first term: positions p with
    * term(j) at p+j for every j). The verify is one codegen'd
    * higher-order expression over the candidate docs' position arrays
    * — no explode, no self-join: candidates are bounded by the rarest
    * term's document frequency, and per-candidate work by its
    * occurrence counts.
    *
    * Repeated terms are supported ("state of the union", "a b a",
    * even all-same-term runs): the candidate map keys DISTINCT terms
    * (the conjunctive cut counts distinct keys), and the anchored
    * verify is multiplicity-safe as-is — `array_contains(ps(t), p+j)`
    * asks about position p+j, and two phrase slots j≠j' can never
    * claim the same token because p+j ≠ p+j'. Anchoring on EVERY
    * occurrence of the first term stays exact when that term repeats
    * later in the phrase: the later occurrence is just another anchor
    * that passes iff a full phrase starts there.
    */
  /** `rids = Some(idSet)` runs the probe over a SNAPSHOT (the
    * [[graft.ops.CorpusUpsert.asOfRids]] id set): tombstoned rows
    * stay visible as history, the result cut to the set — exact
    * historical phrase matches (every statistic here is per-document).
    */
  def bm25PhraseProbe(
      spark: SparkSession,
      path: String,
      idCol: String,
      phrase: Seq[String],
      rids: Option[DataFrame] = None,
      guardRids: Boolean = true): DataFrame =
    phraseMatches(spark, path, idCol, phrase, rids, guardRids)
      .select(col(idCol), col("phrase_tf"))

  /** [[bm25PhraseProbe]]'s rows with each document's `dl`, which
    * [[bm25PhraseRank]] scores with.
    */
  private def phraseMatches(
      spark: SparkSession,
      path: String,
      idCol: String,
      phrase: Seq[String],
      rids: Option[DataFrame],
      guardRids: Boolean): DataFrame = {
    require(phrase.size >= 2, "bm25PhraseProbe: need >= 2 phrase terms")
    val m = positionMaps(spark, path, idCol, phrase, rids, guardRids)
    val anchors = element_at(col("m"), lit(phrase.head))
    val matches = filter(anchors, p =>
      phrase.zipWithIndex.tail
        .map { case (t, j) =>
          array_contains(element_at(col("m"), lit(t)), p + lit(j)) }
        .reduce(_ && _))
    m.select(col(idCol), size(matches).cast("long").as("phrase_tf"),
        col("dl"))
      .filter(col("phrase_tf") > 0)
  }

  /** PHRASE-RANKED retrieval: [[bm25PhraseProbe]]'s exact matches
    * scored with the Okapi formula treating the whole phrase as one
    * term — tf = the phrase's occurrence count, df = how many
    * documents contain the phrase — over the index's live N/avgdl
    * (tombstone-exact like every probe). `(<idCol>, phrase_tf, bm25)`
    * for every matching doc. The plan adds one broadcast 1×1 df
    * aggregate to the phrase probe's no-join shape; `dl` comes from
    * the postings and N/avgdl are literals ([[withStats]]).
    */
  /** `rids = Some(idSet)` scores over the SNAPSHOT: matches from the
    * rid-cut probe, df_p from those matches, N/avgdl from the
    * rid-filtered doclen — fully historical scores, the
    * [[bm25ProbeRids]] treatment for phrases. The snapshot aggregate
    * carries the purge guard, so no eager per-probe guard runs.
    */
  def bm25PhraseRank(
      spark: SparkSession,
      path: String,
      idCol: String,
      phrase: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      rids: Option[DataFrame] = None): DataFrame = {
    val m = phraseMatches(spark, path, idCol, phrase, rids,
      guardRids = false)
    val dfp = m.agg(count(lit(1)).cast("double").as("df_p"))
    val score = okapiScore(col("phrase_tf").cast("double"), col("df_p"),
      k1, b)
    withStats(m.crossJoin(broadcast(dfp)), path, idCol, rids,
        "positional probe (rids)")
      .select(col(idCol), col("phrase_tf"), round(score, 6).as("bm25"))
  }

  /** PROXIMITY search over a positional index: `(<idCol>, span)` for
    * every document whose tokens contain all of `terms` within a
    * window of at most `window` tokens — `span` is the EXACT minimal
    * window length (max − min + 1 over the best occurrence choice).
    * The scan: for each anchor position p (any occurrence of any
    * term), the tightest window starting at p ends at
    * max over terms of (first occurrence ≥ p); the true minimum is
    * attained when p is the window's leftmost occupant, so minimizing
    * over all anchors is exact. O(occurrences × |terms|) per
    * candidate, all inside one higher-order expression.
    *
    * `terms` is a MULTISET: a term listed k times must occur at ≥ k
    * distinct positions inside the window ("a a b" = two a's and a b
    * within `window` tokens). The window starting at anchor p then
    * ends at the max over distinct terms of the k-th smallest
    * occurrence ≥ p — `get(after, k-1)` on the (sorted,
    * order-preserving) filtered array generalizes the k = 1
    * `array_min` bit-identically, and the leftmost-occupant argument
    * is unchanged: the optimal window's left edge is still an
    * occurrence of some term.
    */
  def bm25ProximityProbe(
      spark: SparkSession,
      path: String,
      idCol: String,
      terms: Seq[String],
      window: Int,
      rids: Option[DataFrame] = None,
      guardRids: Boolean = true): DataFrame =
    proximityMatches(spark, path, idCol, terms, window, rids, guardRids)
      .select(col(idCol), col("span"))

  /** [[bm25ProximityProbe]]'s rows with each document's `dl`, which
    * [[bm25ProximityRank]] scores with.
    */
  private def proximityMatches(
      spark: SparkSession,
      path: String,
      idCol: String,
      terms: Seq[String],
      window: Int,
      rids: Option[DataFrame],
      guardRids: Boolean): DataFrame = {
    require(terms.size >= 2, "bm25ProximityProbe: need >= 2 terms")
    require(window >= terms.size,
      s"bm25ProximityProbe: window=$window cannot fit ${terms.size} terms")
    val mult: Map[String, Int] =
      terms.groupBy(identity).map { case (t, os) => (t, os.size) }
    val dterms = terms.distinct
    val m = positionMaps(spark, path, idCol, dterms, rids, guardRids)
    // long arithmetic: when a doc holds FEWER than k occurrences of a
    // term, every anchor coalesces far, and far − p + 1 at p = 0 would
    // overflow int (ANSI error / silent negative span pre-ANSI); the
    // distinct-term probe could never reach that state (the first
    // anchor is always feasible) but the multiset one can
    val far = lit(Int.MaxValue.toLong)
    val anchors = sort_array(flatten(array(
      dterms.map(t => element_at(col("m"), lit(t))): _*)))
    val spanAt: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      p => {
        val ends = dterms.map { t =>
          // k-th smallest occurrence of t at or after p (1-based k =
          // the term's multiplicity); `get` is the null-safe 0-based
          // accessor, so "fewer than k occurrences left" coalesces far
          val after = filter(element_at(col("m"), lit(t)), q => q >= p)
          coalesce(get(after, lit(mult(t) - 1)).cast("long"), far)
        }
        (if (ends.size == 1) ends.head else greatest(ends: _*)) - p
      }
    val minSpan = array_min(transform(anchors, p =>
      // a far-coalesced term makes this anchor unusable; Int.MaxValue
      // minus a real position still dominates every feasible span
      spanAt(p))) + lit(1)
    m.select(col(idCol), minSpan.cast("long").as("span"), col("dl"))
      .filter(col("span") <= window)
  }

  /** PROXIMITY-RANKED retrieval — [[bm25PhraseRank]]'s Okapi treatment
    * for [[bm25ProximityProbe]] matches, completing the positional
    * family: the match set is scored as one pseudo-term whose
    * "frequency" DECAYS with the span, tf_prox = |terms| / span — 1.0
    * when the terms pack tightest (span = |terms|, the adjacent
    * phrase-like hit), shrinking toward 0 as they spread (the
    * Rasolofo–Savoy-style inverse-span weight), with df = how many
    * documents match at all, over the index's live tombstone-exact
    * N/avgdl. Returns `(<idCol>, span, bm25)` for every matching doc.
    * Plan shape: the probe's no-join verify plus one broadcast 1×1 df
    * aggregate — exactly [[bm25PhraseRank]]'s.
    */
  def bm25ProximityRank(
      spark: SparkSession,
      path: String,
      idCol: String,
      terms: Seq[String],
      window: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      rids: Option[DataFrame] = None): DataFrame = {
    val m = proximityMatches(spark, path, idCol, terms, window, rids,
      guardRids = false)
    val dfp = m.agg(count(lit(1)).cast("double").as("df_p"))
    val ptf = lit(terms.size.toDouble) / col("span").cast("double")
    val score = okapiScore(ptf, col("df_p"), k1, b)
    // snapshot stats carry the fused purge guard — see bm25PhraseRank
    withStats(m.crossJoin(broadcast(dfp)), path, idCol, rids,
        "positional probe (rids)")
      .select(col(idCol), col("span"), round(score, 6).as("bm25"))
  }

  /** BATCH phrase retrieval: top-`k` documents for EVERY phrase in a
    * query RELATION — the [[graft.ops.TextAnalysis.bm25Join]] shape
    * for phrases, built so a contamination-style workload (thousands
    * of benchmark phrases vs the corpus) reads the postings ONCE
    * instead of once per phrase. `phrases` is one row per query id:
    * `(qidCol, phraseCol: array<string>)`, qids unique (two phrases
    * under one qid would merge their term maps), phrases non-empty;
    * a single-term "phrase" degenerates to that term's tf, and
    * repeated terms are first-class (the [[bm25PhraseProbe]]
    * multiplicity argument).
    *
    * One postings pass, no corpus×query product anywhere:
    *   1. the scan prunes at FILE LISTING to the union of all
    *      phrases' terms' `tb=` buckets (≤ `buckets` ints collected);
    *   2. postings meet the exploded (qid, term) relation KEYED BY
    *      TERM via broadcast — the joined volume is Σ_q Σ_{t∈q} df(t),
    *      the inverted-index cost;
    *   3. one hash agg per (qid, doc) rebuilds the per-candidate
    *      `term → positions` map, and the conjunctive cut
    *      (|map| = |distinct terms|) drops every doc missing a term —
    *      at most the rarest term's df per phrase survives into
    *   4. the same codegen'd anchored verify as [[bm25PhraseProbe]],
    *      now generic over the phrase ARRAY column (slot j checked via
    *      `zip_with(tail, sequence(1, n−1), array_contains at p+j)`);
    *   5. scoring is [[bm25PhraseRank]]'s Okapi-as-one-term over the
    *      live N/avgdl, df_p per qid from a query-scale broadcast agg;
    *      per-qid top-k is a `row_number ≤ k` window Spark rewrites to
    *      WindowGroupLimit (map-side pre-trim before the rank
    *      exchange).
    *
    * Returns `(qidCol, <idCol>, phrase_tf, bm25, rank)`, rank 1..k by
    * (bm25 desc, id) per qid.
    */
  /** Shared scaffold of the batch retrieval joins: from a `(qid,
    * terms-array)` relation, the per-(qid, doc) candidate maps over
    * ONE bucket-pruned, tombstone-excluded postings pass — exploded
    * distinct (qid, w) meets postings keyed by term (inverted-index
    * cost), one hash agg rebuilds the `w → ps` map (and carries the
    * doc's `dl`), and the conjunctive cut (|map| = |distinct terms|)
    * drops every doc missing a term. The terms array rides along as
    * `q_terms`.
    */
  private def queryCandidates(
      q: DataFrame, path: String, idCol: String, qidCol: String): DataFrame = {
    val spark = q.sparkSession
    val buckets = readBuckets(spark, path)
    val qterms = q.select(col(qidCol),
      explode(array_distinct(col("q_terms"))).as("w"))
    // union vocabulary → bucket ids: the file-listing prune (≤ buckets
    // ints on the driver, the bm25ProbeIndex treatment; the term-level
    // filter is the broadcast join itself). An empty query relation
    // leaves this empty, and isin() with no values is constant-false —
    // the plan degenerates to an empty result with the right schema.
    val probeBuckets = qterms.select("w").distinct()
      .withColumn("tb", termBucket(col("w"), buckets))
      .select("tb").distinct().collect().map(_.getInt(0)).toSeq
    val postings = Tombstones.excludeFrom(
      Postings.read(spark, path)
        .filter(col("tb").isin(probeBuckets: _*)) // partition-pruned
        .select(col(idCol), col("w"), col("ps"), col("dl")),
      path, idCol)
    postings
      .join(broadcast(qterms), Seq("w")) // inverted-index cost
      .groupBy(col(qidCol), col(idCol))
      .agg(map_from_entries(collect_list(struct(col("w"), col("ps"))))
        .as("m"), max(col("dl")).as("dl"))
      .join(broadcast(q), Seq(qidCol))
      .filter(size(col("m")) === size(array_distinct(col("q_terms"))))
  }

  /** Shared tail of the batch retrieval joins: Okapi over the live
    * N/avgdl literals ([[withStats]]) with per-qid df from a
    * query-scale broadcast agg, then the per-qid `row_number ≤ k`
    * top-k Spark rewrites to WindowGroupLimit. `m` is `(qidCol, idCol,
    * carry, dl)`; `ptf` reads from `m`'s columns.
    */
  private def scoreAndRank(
      m: DataFrame, path: String, idCol: String, qidCol: String,
      carry: String, ptf: Column, k: Int, k1: Double, b: Double): DataFrame = {
    val dfp = m.groupBy(col(qidCol))
      .agg(count(lit(1)).cast("double").as("df_p"))
    val byScore = Window.partitionBy(qidCol)
      .orderBy(col("bm25").desc, col(idCol))
    withStats(m.join(broadcast(dfp), Seq(qidCol)), // query-scale rows
        path, idCol, None, "")
      .select(col(qidCol), col(idCol), col(carry),
        round(okapiScore(ptf, col("df_p"), k1, b), 6).as("bm25"))
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .filter(col("rank") <= k)
  }

  def bm25PhraseJoin(
      phrases: DataFrame,
      path: String,
      idCol: String,
      qidCol: String,
      phraseCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val spark = phrases.sparkSession
    require(k >= 1, s"bm25PhraseJoin: k=$k must be >= 1")
    require(readPositional(spark, path),
      s"bm25PhraseJoin: index at $path was not written with " +
        "positional = true — phrase verification needs position arrays")
    val q = phrases
      .select(col(qidCol), col(phraseCol).as("q_terms"))
      .filter(size(col("q_terms")) >= 1)
    val cand = queryCandidates(q, path, idCol, qidCol)
      .withColumnRenamed("q_terms", "q_phrase")
    val n = size(col("q_phrase"))
    val anchors = element_at(col("m"), element_at(col("q_phrase"), 1))
    val matches = filter(anchors, p =>
      forall(zip_with(slice(col("q_phrase"), lit(2), n - 1),
        sequence(lit(1), n - 1),
        (t, j) => array_contains(element_at(col("m"), t), p + j)),
        ok => ok))
    // sequence(1, 0) would generate a DESCENDING [1, 0] for n = 1 —
    // the single-term phrase is its own (tf-counting) branch; CaseWhen
    // evaluates only the taken arm, so the n ≥ 2 expression never runs
    // on a 1-term row
    val ptfCol = when(n === 1, size(anchors)).otherwise(size(matches))
    val m = cand
      .select(col(qidCol), col(idCol), ptfCol.cast("long").as("phrase_tf"),
        col("dl"))
      .filter(col("phrase_tf") > 0)
    scoreAndRank(m, path, idCol, qidCol, "phrase_tf",
      col("phrase_tf").cast("double"), k, k1, b)
  }

  /** BATCH proximity retrieval — [[bm25PhraseJoin]]'s one-pass shape
    * for proximity queries: top-`k` documents for EVERY term MULTISET
    * in a query relation `(qidCol, termsCol: array<string>)` (qids
    * unique, ≥ 2 terms per row; repeats = required multiplicity, the
    * [[bm25ProximityProbe]] semantics; a row whose multiset cannot fit
    * the window is DROPPED rather than erroring the batch — the
    * relation twin of the probe's infeasible-window refusal), all
    * within one shared `window`,
    * scored with [[bm25ProximityRank]]'s inverse-span Okapi. The span
    * expression is the probe's exact anchor scan made generic over the
    * per-row terms array: per-term multiplicities come from
    * `size(filter(terms, x = t))`, the k-th-occurrence end from the
    * null-safe `get`, everything inside one codegen'd higher-order
    * expression per candidate. Same plan skeleton as the phrase join:
    * one bucket-pruned postings pass, term-keyed broadcast join,
    * per-(qid, doc) conjunctive cut, WindowGroupLimit top-k. Returns
    * `(qidCol, <idCol>, span, bm25, rank)`.
    */
  def bm25ProximityJoin(
      queries: DataFrame,
      path: String,
      idCol: String,
      qidCol: String,
      termsCol: String,
      window: Int,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val spark = queries.sparkSession
    require(k >= 1, s"bm25ProximityJoin: k=$k must be >= 1")
    require(window >= 2, s"bm25ProximityJoin: window=$window must be >= 2")
    require(readPositional(spark, path),
      s"bm25ProximityJoin: index at $path was not written with " +
        "positional = true — proximity needs position arrays")
    val q = queries
      .select(col(qidCol), col(termsCol).as("q_terms"))
      .filter(size(col("q_terms")) >= 2 &&
        size(col("q_terms")) <= window)
    val dterms = array_distinct(col("q_terms"))
    val cand = queryCandidates(q, path, idCol, qidCol)
    val far = lit(Int.MaxValue.toLong)
    val anchors = sort_array(flatten(transform(dterms,
      t => element_at(col("m"), t))))
    val spanAt: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      p => array_max(transform(dterms, t => {
        val after = filter(element_at(col("m"), t), o => o >= p)
        val mult = size(filter(col("q_terms"), x => x === t))
        coalesce(get(after, mult - 1).cast("long"), far)
      })) - p
    val minSpan = array_min(transform(anchors, p => spanAt(p))) + lit(1)
    val m = cand
      .select(col(qidCol), col(idCol), size(col("q_terms")).as("n_terms"),
        minSpan.cast("long").as("span"), col("dl"))
      .filter(col("span") <= window)
    scoreAndRank(m, path, idCol, qidCol, "span",
      col("n_terms").cast("double") / col("span").cast("double"), k, k1, b)
  }
}
