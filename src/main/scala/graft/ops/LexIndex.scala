package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted BM25 lexical index — the lexical twin of the persisted
  * IVF / IVF-PQ vector indexes: build once, append deltas, probe
  * without ever rescanning the corpus.
  *
  * Layout under the index root:
  *   - `postings/` — (w, <idCol>, tf), hash-bucketed by term into
  *     `tb=<0..buckets-1>` partition directories: a probe prunes to
  *     the query terms' buckets AT FILE LISTING, the
  *     [[VectorOps.ivfProbeIndex]] treatment of the postings scan.
  *     Full-fidelity tokens (empty tokens included), so index scores
  *     reproduce the scan-path scores exactly.
  *   - `doclen/` — (<idCol>, dl), one row per document (every
  *     document, matching [[TextAnalysis.bm25Scores]]'s corpus-wide
  *     N/avgdl).
  *   - `stats/` — one (n, sum_dl) row PER WRITE: additive, so an
  *     append is a pure append here too and the probe derives
  *     N = Σn, avgdl = Σsum_dl / Σn from a table with one row per
  *     batch ever written — never a corpus pass.
  *   - `meta/` — (buckets): the term-bucket fanout, persisted so
  *     append/probe can never hash terms into a different layout than
  *     the index was written under.
  *
  * Append contract (the [[VectorOps.ivfAppendIndex]] one): delta doc
  * ids are NEW — postings/doclen rows stay unique per (term, doc) and
  * (doc), so append ≡ from-scratch rebuild gives identical probe
  * scores (LexIndexSpec pins it, plus probe ≡ the scan-path
  * bm25Scores on the same corpus).
  *
  * 100 TB shape: the build is the postings hash-agg (map-side
  * combine) plus two cheap projections; a probe reads only the query
  * terms' partition directories (|terms| buckets of `buckets`), the
  * per-term df is a window count over those postings, and the only
  * joins are the broadcast stats row, the doclen attach on doc id and,
  * once a delete has landed, the tombstone anti-join. Opening the
  * index costs no Spark job ([[IndexLayout.SubDir.read]]), and the
  * tombstone rows are scanned once for both the anti-join and the
  * N/avgdl decrement: a live probe with tombstones present runs 9 jobs
  * (LexIndexSpec pins it). Scoring arithmetic is bit-for-bit
  * [[TextAnalysis.bm25Scores]]'s.
  */
object LexIndex {

  private val Postings = IndexLayout.SubDir("postings", Seq("tb"))
  private val Doclen = IndexLayout.SubDir("doclen")
  private val Stats = IndexLayout.SubDir("stats", keyed = false)

  /** `postings/` × tb, the flat keyed `doclen/` and the flat `stats/`
    * (no id column): the listing [[bm25CompactIndex]] folds and the
    * affected dirs [[bm25PurgeIndex]] rewrites. BM25 keeps its own
    * delete and purge on top — its tombstones carry `dl`, and the purge
    * stages a negative stats row.
    */
  val Layout: IndexLayout = IndexLayout("bm25", Seq(Postings, Doclen, Stats))

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
      Seq((buckets, positional)).toDF("buckets", "positional"), path)
    writeParts(docs, idCol, textCol, path, buckets, positional)(identity)
  }

  /** Append a delta of NEW documents (new ids — the ivfAppendIndex
    * contract): [[writeDelta]] staged and published into the live
    * index by [[IndexLayout.append]], so all three sub-relations are
    * written before any of their files becomes visible. Exactly-once
    * across crashes needs a keyed publish — the stream sink
    * ([[graft.streaming.LexIndexStream]]) or [[CorpusUpsert]].
    */
  def bm25AppendIndex(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit =
    IndexLayout.append(delta.sparkSession, path)(
      writeDelta(delta, idCol, textCol, path, _))

  /** (buckets, positional) in ONE cached read ([[MetaCache]] — a probe
    * used to pay one or two Spark head() jobs per call to re-learn the
    * layout geometry). Indexes written before the positional layout
    * existed have a one-column meta — term-frequency-only by
    * construction.
    */
  private def readMeta(spark: SparkSession, path: String): (Int, Boolean) =
    MetaCache.meta(spark, path) { meta =>
      val hasPos = meta.columns.contains("positional")
      if (hasPos) {
        val r = meta.select("buckets", "positional").head()
        (r.getInt(0), r.getBoolean(1))
      } else (meta.select("buckets").head().getInt(0), false)
    }

  private def readBuckets(spark: SparkSession, path: String): Int =
    readMeta(spark, path)._1

  private def readPositional(spark: SparkSession, path: String): Boolean =
    readMeta(spark, path)._2

  /** The family's one delta writer, behind [[bm25AppendIndex]], the
    * streaming sink and [[CorpusUpsert.Bm25Target]]: the delta's
    * postings/doclen/stats rows under the index at `indexPath`'s
    * persisted bucket fanout and positional flag (an appended batch can
    * never disagree with the layout it lands in), written to
    * `stagePath` in the index layout. The postings co-partition with
    * the tb= layout first — ≤ one file per touched bucket per batch
    * instead of tasks×buckets, the [[HammingIndex.writeDelta]]
    * steady-state treatment; the shuffle is delta-sized.
    */
  private[graft] def writeDelta(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      stagePath: String): Unit = {
    val (buckets, positional) = readMeta(delta.sparkSession, indexPath)
    writeParts(delta, idCol, textCol, stagePath, buckets, positional)(
      DirLayout.appendToDirs(_, buckets, Postings.cols: _*))
  }

  /** Write the postings/doclen/stats rows of `docs` under `path`; the
    * postings rows pass through `layOut` before their aggregation. The
    * three land in independent subtrees, so they are written
    * concurrently (wall = max of the three, not the sum; the postings
    * hash-agg dominates, so the doclen/stats passes ride inside its
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
    val exploded =
      if (positional)
        docs.select(col(idCol), posexplode(toks).as(Seq("p", "w")))
      else
        docs.select(col(idCol), explode(toks).as("w"))
    def agged(g: org.apache.spark.sql.RelationalGroupedDataset) =
      if (positional)
        g.agg(count(lit(1)).cast("double").as("tf"),
          sort_array(collect_list(col("p").cast("int"))).as("ps"))
      else
        g.agg(count(lit(1)).cast("double").as("tf"))
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
      () => Doclen.write(
        docs.select(col(idCol), size(toks).cast("double").as("dl")), path),
      () => Stats.write(
        docs.agg(count(lit(1)).as("n"),
          sum(size(toks).cast("double")).as("sum_dl")), path)))
  }

  /** Fold append litter back into a bounded file layout — the
    * [[IndexLayout.compact]] pass over [[Layout]]: every `postings/tb=`
    * partition, plus the flat `doclen/` and `stats/` directories,
    * holding more than `maxFilesPerDir` files is rewritten to
    * ⌈bytes / targetBytes⌉ files (the hidden-rename publish protocol
    * of [[Compaction.compactDirs]]).
    * Rows — including the additive stats rows — are unchanged, so
    * probe scores are identical before and after (LexIndexSpec pins
    * it). Returns per-compacted-directory (files before, after).
    */
  def bm25CompactIndex(
      spark: SparkSession,
      path: String,
      maxFilesPerDir: Int = 8,
      targetBytes: Long = 128L << 20): Map[String, (Int, Int)] = {
    // compacting stats/ would fold a generation-keyed graft-neg row
    // into an anonymous part file, erasing the name probes use to
    // exclude the current generation's published row while its
    // tombstones still exist — run the purge to completion first
    // (maintenance passes are serialized by contract anyway)
    require(!Tombstones.exists(spark, path),
      s"bm25CompactIndex: tombstones pending on $path — run " +
        "bm25PurgeIndex to completion before compacting")
    Layout.compact(spark, path, maxFilesPerDir, targetBytes)
  }

  /** Tombstone documents out of the index ([[Tombstones]] — the
    * persisted-index delete lifecycle). ONE write — the tombstone
    * append itself — so the delete is atomic by construction: there is
    * no second artifact to fall out of sync with, a crash mid-append
    * leaves a legal subset of the ids deleted, and a retry (or a
    * redelivered streaming batch) merely appends duplicate rows, which
    * every tombstone reader deduplicates.
    *
    * BM25's tombstone rows CARRY the document length: `(idCol, dl)`
    * captured from `doclen/` at delete time. That makes the probe's
    * N/avgdl decrement a function of the tombstone set ALONE — exact
    * (`dl` are integer-valued doubles) and, crucially, independent of
    * whether a purge has already physically dropped the doclen rows,
    * so probes stay bit-identical to a rebuild-without-the-ids through
    * EVERY purge-crash interleaving (an earlier design derived the
    * decrement from tombstones ⋈ doclen, which went silently stale in
    * the window between a purge's rewrite and its negative-row
    * publish; the design before that wrote the negative row at delete
    * time — two non-atomic writes that could double-decrement on
    * retry). Ids not present in `doclen/` (never indexed, or already
    * purged) contribute no tombstone row — there is nothing to exclude
    * or account.
    *
    * One refusal: while a crashed purge sits in its published-but-not-
    * cleared window (visible `graft-neg-<key>` row for the CURRENT
    * tombstone generation), new deletes would change the generation
    * under the published row and make its coverage unattributable —
    * re-run [[bm25PurgeIndex]] (cheap: skips to the clear) first.
    */
  def bm25DeleteIds(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    if (Tombstones.exists(spark, path)) {
      import org.apache.hadoop.fs.Path
      val statsDir = new Path(s"$path/stats")
      val fs = statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val key = tombstoneBatchKey(fs, path)
      require(!fs.exists(new Path(statsDir, s"graft-neg-$key.parquet")),
        s"bm25DeleteIds: a purge of the current tombstone generation " +
          s"published its stats row but did not clear — re-run " +
          s"bm25PurgeIndex(spark, \"$path\") before new deletes")
    }
    ids.select(col(idCol)).distinct()
      .join(Doclen.read(spark, path), Seq(idCol))
      .select(col(idCol), col("dl"))
      .write.mode("append").parquet(Tombstones.dir(path))
  }

  /** The deduplicated `(id, dl)` tombstone rows, or None when no
    * delete has landed. `dl` per id is stable (doclen rows are
    * immutable between build/append and purge), so distinct rows ≡
    * distinct ids.
    */
  private def tombstoneRows(
      spark: SparkSession, path: String, idCol: String): Option[DataFrame] =
    Tombstones.rows(spark, path)
      .map(_.select(col(idCol), col("dl")).distinct())

  /** One hex key per tombstone-set STATE (the sorted data-file names):
    * retries of a crashed purge see the same files, hence the same key
    * — the idempotence handle for the staged negative stats row.
    */
  private def tombstoneBatchKey(
      fs: org.apache.hadoop.fs.FileSystem, path: String): String = {
    import org.apache.hadoop.fs.Path
    val names = fs.listStatus(new Path(Tombstones.dir(path)))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(names.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Total stats repair: rebuild `stats/` as one row aggregated from
    * the CURRENT `doclen/`. REFUSED while tombstones pend: the very
    * state that suggests a repair (a crashed purge) is one where the
    * crashed rewrite may already have dropped some tombstoned doclen
    * rows — a rebuild from that doclen would exclude them while probes
    * still subtract the full tombstone-carried decrement (and a later
    * purge publishes the same negative row again), leaving N/avgdl
    * permanently under-counted for the already-rewritten subset. The
    * recovery order is therefore: run [[bm25PurgeIndex]] TO COMPLETION
    * first — it is idempotent across mid-rewrite crashes, deletes
    * superseded stage generations, and derives its negative row from
    * the tombstone rows' carried `dl` (never from doclen), so it is a
    * total repair by itself; rebuild after the clear if a physically
    * fresh single-row `stats/` is wanted. Runs in the quiesced
    * maintenance window; staged write-then-swap so a crash never
    * leaves `stats/` empty (re-run completes the swap).
    */
  def bm25RebuildStats(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    require(!Tombstones.exists(spark, path),
      s"bm25RebuildStats: tombstones pending on $path — a crashed purge " +
        "may already have dropped tombstoned doclen rows, so a rebuild " +
        "from the current doclen would double-count their decrement; run " +
        "bm25PurgeIndex to completion first (idempotent; handles " +
        "mid-rewrite crashes and superseded generations), then rebuild")
    val statsDir = new Path(s"$path/stats")
    val stage = new Path(s"$path/.stats_rebuild")
    val fs = statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.exists(new Path(stage, "_SUCCESS"))
    if (!(staged && !fs.exists(statsDir))) { // else: resume the swap
      Doclen.read(spark, path)
        .agg(count(lit(1)).as("n"),
          coalesce(sum(col("dl")), lit(0.0)).as("sum_dl"))
        .coalesce(1)
        .write.mode("overwrite").parquet(stage.toString)
      if (fs.exists(statsDir) && !fs.delete(statsDir, true))
        throw new java.io.IOException(s"bm25RebuildStats: cannot drop $statsDir")
    }
    if (!fs.rename(stage, statsDir))
      throw new java.io.IOException(
        s"bm25RebuildStats: cannot publish $stage -> $statsDir")
  }

  /** Physically drop tombstoned documents' postings/doclen rows and
    * clear the tombstone set — quiesced-window maintenance through the
    * shared [[Compaction.rewriteDirs]] publish protocol; only the
    * `tb=` buckets that actually hold a tombstoned doc's terms (plus
    * `doclen/`) are rewritten. The probe's live N/avgdl decrement is a
    * function of the tombstone rows alone (they carry `dl`), so the
    * purge's job is to swap that live term for a physical NEGATIVE
    * `stats/` row in a way no crash can double- or under-count:
    *
    *   1. stage `(−n, −Σdl)` over the DEDUPLICATED tombstone rows into
    *      a dot-hidden dir `stats/.neg_stage_<key>` — the value is
    *      reproducible at any time (tombstones are frozen until the
    *      clear), so retries recompute or reuse it identically; stage
    *      dirs from an older generation (a crash + newer deletes) are
    *      simply deleted, their never-published value superseded;
    *   2. rewrite the affected dirs (idempotent);
    *   3. rename the staged part file to `stats/graft-neg-<key>.parquet`
    *      (atomic; skipped if already published). While tombstones
    *      still exist, probes EXCLUDE this generation's published row
    *      — so the publish→clear window double-counts nothing;
    *   4. clear the tombstones (the published row takes over).
    *
    * The one corner that needs cooperation: new deletes inside the
    * publish→clear window would change the generation under the
    * published row, so [[bm25DeleteIds]] refuses them until the purge
    * is re-run (which skips straight to the clear).
    */
  def bm25PurgeIndex(
      spark: SparkSession,
      path: String,
      idCol: String,
      targetBytes: Long = 128L << 20): Map[String, (Int, Int)] = {
    import org.apache.hadoop.fs.Path
    val statsDir = new Path(s"$path/stats")
    val fs = statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!Tombstones.exists(spark, path)) return Map.empty
    val key = tombstoneBatchKey(fs, path)
    val visible = new Path(statsDir, s"graft-neg-$key.parquet")
    val stage = new Path(statsDir, s".neg_stage_$key")
    fs.listStatus(statsDir).map(_.getPath)
      .filter(p => p.getName.startsWith(".neg_stage_") &&
        p.getName != s".neg_stage_$key")
      .foreach(p => fs.delete(p, true)) // superseded, never published
    Tombstones.purge(spark, path, idCol, Layout,
      targetBytes = targetBytes, opName = "bm25PurgeIndex",
      beforeRewrite = _ => {
        val stageValid = fs.exists(new Path(stage, "_SUCCESS")) &&
          fs.exists(stage) && fs.listStatus(stage).exists(
            _.getPath.getName.startsWith("part-"))
        if (!fs.exists(visible) && !stageValid) {
          // from the tombstone rows' carried dl — NOT doclen, whose
          // rows a crashed earlier attempt may already have dropped
          tombstoneRows(spark, path, idCol).get
            .agg((lit(0L) - count(lit(1))).as("n"),
              (lit(0.0) - coalesce(sum(col("dl")), lit(0.0))).as("sum_dl"))
            .coalesce(1)
            .write.mode("overwrite").parquet(stage.toString)
        }
      },
      beforeClear = () => {
        if (!fs.exists(visible)) {
          val part = fs.listStatus(stage).map(_.getPath)
            .find(p => p.getName.startsWith("part-") &&
              p.getName.endsWith(".parquet"))
            .getOrElse(throw new java.io.IOException(
              s"bm25PurgeIndex: staged negative stats row missing in $stage"))
          if (!fs.rename(part, visible))
            throw new java.io.IOException(
              s"bm25PurgeIndex: cannot publish $part -> $visible")
        }
        fs.delete(stage, true)
        ()
      })
  }

  /** BM25 scores for `queryTerms` over the persisted index — the
    * index-backed twin of [[TextAnalysis.bm25Scores]] (same robust-idf
    * Okapi formula, same rounding), returning `(<idCol>, bm25)` for
    * every document matching ≥ 1 term. The postings scan prunes to
    * the query terms' `tb=` directories at file listing. Tombstoned
    * documents ([[bm25DeleteIds]]) are excluded from the scanned slice
    * and from the per-term document frequencies.
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
    // live: the tombstone rows are read ONCE and the one distinct
    // (id, dl) relation feeds both the slice anti-join and the N/avgdl
    // decrement — the plan scans them once and reuses the exchange
    val tombs =
      if (rids.isEmpty) tombstoneRows(spark, path, idCol) else None
    val (lens, stats0) = rids match {
      case Some(r) =>
        // the purge guard rides the doclen cut (zero extra jobs — it
        // was an eager anti-join collect per probe): a snapshot id
        // with no doclen row raises from the projection, and the
        // snapshot-stats aggregate below consumes EVERY lens row, so
        // the guard cannot be pruned away by a selective consumer
        val glens = guardedSnapshotLens(spark, path, idCol,
          r.select(col(idCol)), "bm25ProbeRids")
        (glens,
          glens.agg(count(lit(1)).cast("double").as("n_docs"),
            avg(col("dl")).as("avgdl")))
      case None => (Doclen.read(spark, path), corpusStats(spark, path, tombs))
    }
    val slice0 = Postings.read(spark, path)
      .filter(col("tb").isin(probeBuckets: _*)) // partition-pruned
      .filter(col("w").isin(queryTerms.distinct: _*))
      .select(col(idCol), col("w"), col("tf"))
    // live: tombstone anti-join AFTER the bucket/term prune (slice-
    // sized, skipped when no delete ever landed); snapshot: the rid
    // cut replaces it (superseded rows are history). df and the doclen
    // attach inherit the cut through this relation either way.
    val tf = rids match {
      case Some(r) => slice0.join(r.select(col(idCol)), Seq(idCol),
        "left_semi")
      case None => tombs.fold(slice0)(t =>
        slice0.join(t.select(col(idCol)), Seq(idCol), "left_anti"))
    }
    // df per term is a window count over the cut slice: one exchange
    // by term and one pass over the slice (an aggregate joined back
    // would scan it twice and add a broadcast stage)
    tf.withColumn("df",
        count(lit(1)).over(Window.partitionBy("w")).cast("double"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(stats0))
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
    *   - tf: the bucket-pruned postings slice scanned WITHOUT the
    *     tombstone exclusion (a superseded revision's rows are history
    *     until purged) and semi-joined to `rids`;
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

  /** One (n_docs, avgdl) row — Σ(stats rows) minus the live tombstone
    * decrement (the tombstone rows carry dl, so the decrement is
    * takedown-sized and independent of purge progress). While
    * tombstones exist, the CURRENT generation's published negative row
    * — the purge's publish→clear crash window — is EXCLUDED from
    * Σ(stats), so the live term and the physical row can never both
    * count. ONE aggregate over the stats rows ∪ one (−1, −dl) row per
    * distinct tombstone row; dl values are integer-valued doubles, so
    * every sum is exact in any order and the result is bit-identical to
    * a rebuild without the ids. `tombs` is [[tombstoneRows]], which the
    * caller may share with its slice anti-join. Shared by
    * [[bm25ProbeIndex]], [[bm25PhraseRank]], [[bm25ProximityRank]] and
    * the batch joins.
    */
  private def corpusStats(
      spark: SparkSession, path: String, tombs: Option[DataFrame]): DataFrame = {
    val rows = tombs match {
      case Some(t) =>
        import org.apache.hadoop.fs.Path
        val statsDir = new Path(Stats.dir(path))
        val fs = statsDir.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val gen = tombstoneBatchKey(fs, path)
        val files = fs.listStatus(statsDir).toSeq
          .filter(st => st.isFile && {
            val n = st.getPath.getName
            n.endsWith(".parquet") && !n.startsWith(".") &&
              !n.startsWith("_") && n != s"graft-neg-$gen.parquet"
          })
        IndexLayout.readFiles(spark, files).select("n", "sum_dl")
          .unionByName(t.select(lit(-1L).as("n"), (-col("dl")).as("sum_dl")))
      case None => Stats.read(spark, path)
    }
    rows.agg(sum("n").as("n_l"), sum("sum_dl").as("sum_dl"))
      .select(col("n_l").cast("double").as("n_docs"),
        (col("sum_dl") / col("n_l").cast("double")).as("avgdl"))
  }

  /** Candidate gather shared by the positional probes: for each doc
    * containing ALL of `terms`, a `w → ps` map of just those terms'
    * position arrays. The postings scan prunes to the terms' `tb=`
    * directories at file listing (the [[bm25ProbeIndex]] treatment),
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
      .select(col(idCol), col("w"), col("ps"))
    val slice = rids match {
      case Some(r) => slice0.join(r.select(col(idCol)), Seq(idCol),
        "left_semi") // the snapshot cut — tombstoned rows stay
      case None => Tombstones.excludeFrom(slice0, path, idCol)
    }
    slice
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("w"), col("ps"))))
        .as("m"))
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
      guardRids: Boolean = true): DataFrame = {
    require(phrase.size >= 2, "bm25PhraseProbe: need >= 2 phrase terms")
    val m = positionMaps(spark, path, idCol, phrase, rids, guardRids)
    val anchors = element_at(col("m"), lit(phrase.head))
    val matches = filter(anchors, p =>
      phrase.zipWithIndex.tail
        .map { case (t, j) =>
          array_contains(element_at(col("m"), lit(t)), p + lit(j)) }
        .reduce(_ && _))
    m.select(col(idCol), size(matches).cast("long").as("phrase_tf"))
      .filter(col("phrase_tf") > 0)
  }

  /** PHRASE-RANKED retrieval: [[bm25PhraseProbe]]'s exact matches
    * scored with the Okapi formula treating the whole phrase as one
    * term — tf = the phrase's occurrence count, df = how many
    * documents contain the phrase — over the index's live N/avgdl
    * (tombstone-exact like every probe). `(<idCol>, phrase_tf, bm25)`
    * for every matching doc. The plan adds one broadcast 1×1 df
    * aggregate and the doclen attach to the phrase probe's no-join
    * shape.
    */
  /** `rids = Some(idSet)` scores over the SNAPSHOT: matches from the
    * rid-cut probe, df_p from those matches, N/avgdl from the
    * rid-filtered doclen — fully historical scores, the
    * [[bm25ProbeRids]] treatment for phrases.
    */
  def bm25PhraseRank(
      spark: SparkSession,
      path: String,
      idCol: String,
      phrase: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      rids: Option[DataFrame] = None): DataFrame = {
    val m = bm25PhraseProbe(spark, path, idCol, phrase, rids,
      guardRids = false)
    // snapshot mode: the doclen attach and the N/avgdl stats both read
    // the GUARDED rid cut (the bm25Probe treatment) — m's ids are a
    // subset of the rid set, so the attach is row-identical to the
    // full-doclen join, the stats aggregate consumes every lens row
    // (the purge guard fires there), and the eager per-probe guard
    // collect is gone
    val (lens, stats) = rids match {
      case Some(r) =>
        val glens = guardedSnapshotLens(spark, path, idCol,
          r.select(col(idCol)), "positional probe (rids)")
        (glens,
          glens.agg(count(lit(1)).cast("double").as("n_docs"),
            avg(col("dl")).as("avgdl")))
      case None =>
        (Doclen.read(spark, path),
          corpusStats(spark, path, tombstoneRows(spark, path, idCol)))
    }
    val dfp = m.agg(count(lit(1)).cast("double").as("df_p"))
    val score = okapiScore(col("phrase_tf").cast("double"), col("df_p"),
      k1, b)
    m.join(lens, Seq(idCol))
      .crossJoin(broadcast(dfp))
      .crossJoin(broadcast(stats))
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
      guardRids: Boolean = true): DataFrame = {
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
    m.select(col(idCol), minSpan.cast("long").as("span"))
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
    * aggregate and the doclen attach — exactly [[bm25PhraseRank]]'s.
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
    val m = bm25ProximityProbe(spark, path, idCol, terms, window, rids,
      guardRids = false)
    // snapshot lens/stats carry the fused purge guard — see
    // [[bm25PhraseRank]]
    val (lens, stats) = rids match {
      case Some(r) =>
        val glens = guardedSnapshotLens(spark, path, idCol,
          r.select(col(idCol)), "positional probe (rids)")
        (glens,
          glens.agg(count(lit(1)).cast("double").as("n_docs"),
            avg(col("dl")).as("avgdl")))
      case None =>
        (Doclen.read(spark, path),
          corpusStats(spark, path, tombstoneRows(spark, path, idCol)))
    }
    val dfp = m.agg(count(lit(1)).cast("double").as("df_p"))
    val ptf = lit(terms.size.toDouble) / col("span").cast("double")
    val score = okapiScore(ptf, col("df_p"), k1, b)
    m.join(lens, Seq(idCol))
      .crossJoin(broadcast(dfp))
      .crossJoin(broadcast(stats))
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
    * cost), one hash agg rebuilds the `w → ps` map, and the
    * conjunctive cut (|map| = |distinct terms|) drops every doc
    * missing a term. The terms array rides along as `q_terms`.
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
        .select(col(idCol), col("w"), col("ps")),
      path, idCol)
    postings
      .join(broadcast(qterms), Seq("w")) // inverted-index cost
      .groupBy(col(qidCol), col(idCol))
      .agg(map_from_entries(collect_list(struct(col("w"), col("ps"))))
        .as("m"))
      .join(broadcast(q), Seq(qidCol))
      .filter(size(col("m")) === size(array_distinct(col("q_terms"))))
  }

  /** Shared tail of the batch retrieval joins: Okapi over the live
    * N/avgdl with per-qid df from a query-scale broadcast agg, then
    * the per-qid `row_number ≤ k` top-k Spark rewrites to
    * WindowGroupLimit. `m` is `(qidCol, idCol, carry)`; `ptf` reads
    * from `m`'s columns.
    */
  private def scoreAndRank(
      m: DataFrame, path: String, idCol: String, qidCol: String,
      carry: String, ptf: Column, k: Int, k1: Double, b: Double): DataFrame = {
    val spark = m.sparkSession
    val lens = Doclen.read(spark, path)
    val dfp = m.groupBy(col(qidCol))
      .agg(count(lit(1)).cast("double").as("df_p"))
    val stats = corpusStats(spark, path, tombstoneRows(spark, path, idCol))
    val byScore = Window.partitionBy(qidCol)
      .orderBy(col("bm25").desc, col(idCol))
    m.join(lens, Seq(idCol))
      .join(broadcast(dfp), Seq(qidCol)) // query-scale rows
      .crossJoin(broadcast(stats))
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
      .select(col(qidCol), col(idCol), ptfCol.cast("long").as("phrase_tf"))
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
        minSpan.cast("long").as("span"))
      .filter(col("span") <= window)
    scoreAndRank(m, path, idCol, qidCol, "span",
      col("n_terms").cast("double") / col("span").cast("double"), k, k1, b)
  }
}
