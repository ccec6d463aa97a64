package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Coordinated document UPSERT across the persisted-index family
  * (exact IVF [[VectorOps.ivfWriteIndex]], IVF-PQ [[Pq]], BM25
  * [[LexIndex]], Hamming [[HammingIndex]]) — the daily-refresh loop
  * the reference pipeline embodies (D-1 re-partitions,
  * `ipynb:155`/`ipynb:562`), made crash-safe across ALL indexes at
  * once instead of hand-sequenced per index.
  *
  * The problem it closes: every layout supports append (NEW ids) and
  * delete (tombstone → probes exclude → purge), but a REVISED document
  * is neither — re-appending under the same id would double it, and
  * tombstoning the id would hide the new version along with the old
  * (tombstones are id-keyed). The fix is the composite-key discipline
  * the slot miners already use ([[VectorOps.SlotStride]]): every index
  * row is keyed by `rid = doc_id·2^16 + rev`. A revision is then a NEW
  * id (append contract holds verbatim), the superseded revision is a
  * DIFFERENT id (tombstone contract holds verbatim), and decode is
  * exact integer shift/mask for every doc_id < 2^47.
  *
  * One upsert batch (`key` = the caller's redelivery handle, e.g. the
  * D-1 partition date) runs:
  *
  *   1. STAGE the delta payload under `root/batches/<key>/delta` —
  *      retries re-use the frozen bytes, so a nondeterministic caller
  *      recomputation cannot fork the batch's content.
  *   2. ASSIGN revisions: new_rev = (max rev over all OTHER batches)
  *      + 1, or 0 for first-seen docs — recomputed identically on
  *      every retry because the batch's own `revs/batch=<key>` rows
  *      are excluded from the lookup; then record them (overwrite,
  *      idempotent).
  *   3. Per index, through [[IndexLayout.publish]]: build the delta's
  *      index rows into a staging dir that MIRRORS the index layout
  *      (`_graft_staged` marker once complete), then PUBLISH by
  *      renaming each staged file to a deterministic batch-keyed name
  *      inside the live index, tombstone the superseded rids (a keyed
  *      publish of its own, marker `tombstoned-<index>`), and drop the
  *      `applied-<index>` marker.
  *   4. Drop the batch `done` marker.
  *
  * Exactly-once under redelivery, by construction: the per-target
  * `applied` markers are AUTHORITATIVE (`done` is only the fast path
  * for a full redelivery — a batch re-applied with targets missing
  * their marker falls through and applies just those, which is also
  * how a later-added index backfills: re-run every batch in original
  * order against the extended target set; the backfill reproduces the
  * ORIGINAL rids because rev assignment is frozen — a re-apply reads
  * `revs/batch=<key>` back instead of recomputing, which would
  * otherwise see LATER batches' higher revs and diverge. Backfill
  * therefore requires the per-batch ledger: [[compactRevs]] folds it,
  * and a backfill into a folded batch is refused loudly — compact on
  * a cadence that keeps the backfill horizon you need, or rebuild a
  * late-added index from the corpus instead). A retry skips a done index
  * at its `applied` marker, re-stages only when `_graft_staged` is absent
  * (never after a publish began — publish requires the marker), and
  * re-publishing renames only the staged files still present (each
  * rename is a per-file atomic move to a name derived from the staged
  * file's own name, so a half-published stage completes without
  * duplicating the files already moved). The superseded-rid
  * tombstones publish the same way, so they too land once. This is
  * strictly stronger than a mode("append") retry, whose multi-job
  * commit can leave a torn batch no marker protocol can repair (BM25's
  * append is two writes — postings and doclen).
  *
  * Crash-recovery order (documented contract): re-run the SAME
  * `applyBatch` call until it returns. Serialization: one apply at a
  * time per root, no concurrent purge/compaction (the maintenance
  * window rule every index already has); purges run between batches
  * on the normal cadence and need no coordination — tombstoned old
  * revisions are invisible to probes the moment their index's
  * tombstone lands, purge only reclaims bytes.
  *
  * Visibility during an apply: an index publishes the new revision
  * BEFORE tombstoning the old one, so a concurrent probe sees (old),
  * then briefly (old AND new), then (new) — never neither. Callers
  * that need single-version reads mid-apply can post-filter with
  * [[currentRevs]].
  *
  * 100 TB shape: per batch, every pass is delta-sized (stage writes,
  * rev lookup join, tombstone appends) except nothing — the live
  * indexes are never read, let alone rewritten (the publish is file
  * METADATA, one rename per staged file); the rev ledger is
  * one (doc, rev) row per revision ever applied, compactable by
  * rewriting `revs/` to its max-rev rows. Probe cost inherits each
  * index's own pruned-slice story.
  */
object CorpusUpsert {

  /** Revision bits in the composite key: 65,536 revisions per doc,
    * doc_id < 2^47.
    */
  val RevBits = 16
  val MaxRev: Int = (1 << RevBits) - 1
  val MaxDoc: Long = 1L << (62 - RevBits + 1) // 2^47: rid stays positive

  /** The id column every target index is keyed by. */
  val RidCol = "rid"

  /** Composite rid — range-checked per row: an out-of-range doc or rev
    * would alias another document's key and corrupt every index
    * silently, so the job fails instead ([[VectorOps.SlotStride]]'s
    * checkedSlot discipline).
    */
  def ridExpr(doc: Column, rev: Column): Column =
    when(doc.cast("long").between(0L, MaxDoc - 1L) &&
        rev.cast("long").between(0L, MaxRev.toLong),
      shiftleft(doc.cast("long"), RevBits) + rev.cast("long"))
      .otherwise(raise_error(concat(
        lit(s"CorpusUpsert: doc/rev out of [0,2^47)x[0,$MaxRev]: "),
        doc.cast("string"), lit("/"), rev.cast("string"))))

  /** Exact decode: integer shiftright (no Double-division cliff). */
  def docOf(rid: Column): Column = shiftright(rid, RevBits)

  def revOf(rid: Column): Column = rid.bitwiseAND(lit(MaxRev.toLong))

  /** The one write handle of a persisted index: its root, its
    * [[IndexLayout]], and `stage`, the family's delta writer, which
    * writes a delta's rows (keyed by `idCol`) under a staging root
    * mirroring that layout. Rows reach the live index through one of
    * three doors, which differ only in which publish runs the stage:
    *
    *   - [[append]]: a one-off [[IndexLayout.append]] under a fresh key;
    *   - [[graft.streaming.VectorIndexStream.appendBatch]] /
    *     `indexSink`: the keyed, ledgered publish of a micro-batch;
    *   - [[applyBatch]]: the coordinated upsert, keyed by [[RidCol]].
    *
    * Every door appends NEW ids only — a revision goes through
    * [[applyBatch]], a removal through the layout's tombstone delete,
    * quiesced-window purge and compaction. A delta lands under a fixed
    * geometry: the IVF targets carry theirs (centroids, PQ model), and
    * BM25, Hamming and near-dup read the root's `meta/`, so their
    * index must already exist (the family's build, possibly over an
    * empty frame).
    *
    * 100 TB shape, for every family: one map-only pass over the delta
    * plus a stage write co-partitioned with the layout (≤ one file per
    * touched directory) and one rename per staged file — the existing
    * index is never read, let alone re-shuffled.
    */
  sealed trait IndexTarget {
    def name: String
    def path: String
    private[ops] def layout: IndexLayout
    private[graft] def stage(
        delta: DataFrame, idCol: String, stageDir: String): Unit

    /** Publish `delta`'s rows (keyed by `idCol`) into the live index
      * in one [[IndexLayout.append]]: every sub-relation is written
      * before any of its files becomes visible. Exactly-once across
      * crashes needs a keyed publish — the stream door or
      * [[applyBatch]].
      */
    def append(delta: DataFrame, idCol: String): Unit =
      IndexLayout.append(delta.sparkSession, path)(stage(delta, idCol, _))
  }

  /** The exact IVF layout ([[VectorOps.ivfWriteIndex]]): each new
    * vector is assigned to its nearest EXISTING centroid (map-only — the
    * centroid table rides the plan as literals) and lands in the
    * matching `cluster=` partitions. Centroids are frozen, the standard
    * IVF maintenance trade: every earlier AND later probe routes against
    * the same cut of the space, so probe results over the appended
    * index are IDENTICAL to an index written from scratch with the same
    * centroids (SimilaritySpec pins this); the cost is assignment drift
    * if the delta's distribution wanders from the fit corpus — re-fit
    * and rebuild when recall decays, exactly like any vector store.
    *
    * Compaction is a separate, explicit `IvfLayout.compact` call: the
    * measured probe-vs-litter curve (SCALE.md `ivf_litter`: 98 ms
    * fresh → 206 ms at 33 files/cluster, pure per-file reader
    * overhead) says compaction CADENCE, not index size, governs probe
    * latency, and compaction's publish protocol wants QUIESCED probes
    * (a reader listing a cluster mid-rename can see a partial file
    * set) — so a steady-state deployment compacts in its maintenance
    * window, while an append is always safe next to probes.
    */
  final case class IvfTarget(
      path: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      name: String = "ivf") extends IndexTarget {
    private[ops] def layout = VectorOps.IvfLayout
    private[graft] def stage(
        delta: DataFrame, idCol: String, stageDir: String): Unit =
      VectorOps.ivfWriteDelta(delta, idCol, vecCol, path, stageDir,
        centroids)
  }

  /** The IVF-PQ layout ([[Pq.pqIvfWriteIndex]]) — the compressed twin
    * of [[IvfTarget]]. Both the coarse centroids AND the PQ model are
    * frozen — the sub-codebooks are part of the index's geometry
    * exactly like the centroid cut, so a row's codes are a pure
    * function of its vector: an appended index is BIT-IDENTICAL in
    * content to one rebuilt from scratch over the same rows (PqSpec
    * pins probe identity through [[Pq.pqIvfProbeFrom]]). Re-fit model +
    * centroids and rebuild offline when recall decays. The rest of the
    * lifecycle is the exact path's [[VectorOps.IvfLayout]].
    */
  final case class PqIvfTarget(
      path: String,
      vecCol: String,
      model: Pq.PqModel,
      centroids: Array[Array[Double]],
      name: String = "pqivf") extends IndexTarget {
    private[ops] def layout = VectorOps.IvfLayout
    private[graft] def stage(
        delta: DataFrame, idCol: String, stageDir: String): Unit =
      Pq.pqIvfWriteDelta(delta, idCol, vecCol, path, stageDir, model,
        centroids)
  }

  /** The BM25 layout ([[LexIndex.bm25WriteIndex]]): a delta's postings
    * and doclen land under the index's persisted bucket fanout, so a
    * stream- or append-built index is row-identical to a batch build
    * over the same documents (LexIndexSpec pins stream ≡ batch probe
    * scores).
    */
  final case class Bm25Target(
      path: String,
      textCol: String,
      name: String = "bm25") extends IndexTarget {
    private[ops] def layout = LexIndex.Layout
    private[graft] def stage(
        delta: DataFrame, idCol: String, stageDir: String): Unit =
      LexIndex.writeDelta(delta, idCol, textCol, path, stageDir)
  }

  /** The multi-index Hamming layout ([[HammingIndex.hammingWriteIndex]],
    * built with an explicit `dim`): a delta's band rows land under the
    * persisted band geometry. Also the index the perceptual-hash
    * streams ([[graft.streaming.PhashStream]] and its audio and video
    * twins) stage their decoded codes through.
    */
  final case class HammingTarget(
      path: String,
      vecCol: String,
      name: String = "hamming") extends IndexTarget {
    private[ops] def layout = HammingIndex.Layout
    private[graft] def stage(
        delta: DataFrame, idCol: String, stageDir: String): Unit =
      HammingIndex.writeDelta(delta, idCol, vecCol, path, stageDir)
  }

  /** The [[NearDupIndex]] MinHash-LSH layout: a delta's bucket+shingle
    * rows land under the persisted geometry. As an [[applyBatch]]
    * target the superseded rid tombstones out, so the ingest dedup
    * gate ([[NearDupIndex.dedupGate]]) always judges against the
    * corpus's CURRENT revisions; as a stream it is the arrival half of
    * the incremental-dedup loop — a gate job probes each incoming batch
    * and routes only the KEPT docs into this index.
    */
  final case class NearDupTarget(
      path: String,
      textCol: String,
      name: String = "neardup") extends IndexTarget {
    private[ops] def layout = NearDupIndex.Layout
    private[graft] def stage(
        delta: DataFrame, idCol: String, stageDir: String): Unit =
      NearDupIndex.writeDelta(delta, idCol, textCol, path, stageDir)
  }

  final case class UpsertReport(
      key: String,
      alreadyApplied: Boolean,
      nDocs: Long,
      nUpdates: Long,
      nInserts: Long)

  /** Apply one upsert batch — see the object doc for the protocol.
    * `delta` carries `docCol` plus every payload column the targets
    * need (text and/or vector); exactly ONE row per doc (a batch with
    * two revisions of a document is ambiguous — refused). Zero-norm
    * vectors follow each vector layout's own drop contract (they
    * never enter the index; BM25 still indexes the doc's text).
    */
  /** `autoFoldRevsAt`: when the batch completes and the rev ledger
    * holds MORE than this many `revs/batch=` dirs, [[compactRevs]]
    * runs inline — without it, every later batch's rev lookup (and
    * every [[currentRevs]] call) reads one parquet dir per batch ever
    * applied, the same unbounded-litter curve the index appends had
    * before co-partitioning ([[HammingIndex.writeDelta]]). The
    * fold runs AFTER the done marker inside the same serialized apply,
    * so the quiesced-window contract holds by construction; a crash
    * mid-fold leaves lookups exact in every interleaving (compactRevs'
    * invariant) and the next batch's trigger finishes it. ≤ 0 disables.
    * The fold
    * TRADES the backfill horizon (see the object doc): a later-added
    * target can only backfill batches whose per-batch revs survive,
    * so pick the threshold from how far back you add indexes.
    */
  def applyBatch(
      delta: DataFrame,
      docCol: String,
      key: String,
      root: String,
      targets: Seq[IndexTarget],
      autoFoldRevsAt: Int = 64): UpsertReport = Ckpt.scope {
    require(key.nonEmpty && key.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"applyBatch: key '$key' must be non-empty [A-Za-z0-9._-]")
    require(!key.startsWith(CompactedKey),
      s"applyBatch: key '$key' is reserved for [[compactRevs]]")
    require(targets.nonEmpty, "applyBatch: no index targets")
    require(targets.map(_.name).distinct.size == targets.size,
      "applyBatch: duplicate target names")
    val spark = delta.sparkSession
    val batchDir = new Path(s"$root/batches/$key")
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the per-target `applied` markers are AUTHORITATIVE; `done` is the
    // fast path for the common full redelivery. A batch re-applied with
    // targets that lack their marker (a crash between indexes, or an
    // index added to the coordination set later — backfill = re-run
    // every batch in original order against the extended set) falls
    // through and applies just the missing ones.
    val doneMarker = new Path(batchDir, "done")
    val wasDone = fs.exists(doneMarker)
    if (wasDone && targets.forall(t =>
        fs.exists(new Path(batchDir, s"applied-${t.name}"))))
      UpsertReport(key, alreadyApplied = true, 0L, 0L, 0L)
    else {

      // 1. freeze the payload. A done batch whose delta is GONE was
      // vacuumed ([[vacuumBatches]]) — re-freezing from the caller's
      // redelivered frame would let a nondeterministic recomputation
      // fork the backfilled index's content from the originals, so the
      // backfill is refused (same horizon trade as the compacted
      // ledger). A crash-retry can never trip this: `done` is the last
      // write.
      val deltaDir = new Path(batchDir, "delta")
      val deltaFrozen = fs.exists(new Path(deltaDir, "_SUCCESS"))
      require(!(fs.exists(doneMarker) && !deltaFrozen),
        s"applyBatch: batch '$key' is done but its frozen delta is gone " +
          "(vacuumed) — backfilling a later-added target requires the " +
          "original payload; rebuild the new index from the corpus instead")
      // the freeze write and the prior-rev materialization below read
      // disjoint inputs (the caller's frame vs revs/batch= dirs) — start
      // the freeze in the pool so the rev lookup's jobs fill its tail
      // (guide §2.6; the await before `staged` keeps the read-frozen-
      // bytes contract intact)
      val freezeF =
        if (deltaFrozen) None
        else Some(indexPool.submit {
          delta.write.mode("overwrite").parquet(deltaDir.toString) })

      // 2. revision assignment. Once recorded, a batch's revs are
      // FROZEN — a re-apply REUSES `revs/batch=<key>` instead of
      // recomputing. The self-excluding recompute is only retry-stable
      // while no LATER batch has landed (applies are serialized, so
      // that covers every crash-retry); for a BACKFILL (re-running old
      // batches against a target added later) the recompute would see
      // the later batches' higher revs and assign a revision no other
      // index has — corrupting the ledger and the new index at once.
      // Reusing the recorded rows makes backfill exact through revision
      // chains: new_rev is read back, and old_rev is derivable from it
      // alone (new_rev = old + 1, or 0 first-seen ⇒ old = rev − 1 when
      // rev > 0, else none).
      // localCheckpoint ONCE: four index stagings then read materialized
      // rows instead of each re-running the lookup join (and the rid
      // range check fails the batch up front, before any index work).
      val batchRevs = revsDir(root, key)
      val revsFrozen = fs.exists(new Path(batchRevs, "_SUCCESS"))
      // reaching here with the done marker set means a BACKFILL (some
      // target lacks its marker). Backfill needs this batch's frozen
      // revs; if compactRevs already folded them away, recomputing would
      // assign revisions the other indexes never saw — refuse loudly.
      // (A crash-retry can never trip this: `done` is the LAST write, so
      // an incomplete apply either has no done marker, or has frozen
      // revs — they land before any index work.)
      require(!(fs.exists(doneMarker) && !revsFrozen),
        s"applyBatch: batch '$key' is done but its revs/batch dir is gone " +
          "(compacted) — backfilling a later-added target requires the " +
          "per-batch rev ledger; re-apply batches newer than the last " +
          "compaction only, or rebuild the new index from the corpus")
      // `prior` is None exactly when NO other batch has ever recorded
      // revs (the bootstrap batch of every root): the lookup join would
      // be against an empty relation, so it is skipped outright —
      // old_rev is null for every row, new_rev 0 — saving the empty
      // checkpoint's driver jobs on the first batch of every lifecycle
      val prior0: Option[DataFrame] =
        if (revsFrozen)
          Some(readRevDirs(spark, Seq(batchRevs.toString))
            .select(col("doc").as(docCol),
              when(col("rev") > 0, col("rev") - 1).as("old_rev"),
              col("rev").as("frozen_rev")))
        else if (revBatchDirs(fs, root, excludeKey = key).isEmpty) None
        else
          Some(priorRevs(spark, fs, root, excludeKey = key)
            .withColumnRenamed("rev", "old_rev")
            .withColumnRenamed("doc", docCol))
      // ledger-sized; materialized NOW so its jobs overlap the in-flight
      // freeze write instead of serializing after it
      val prior = prior0.map(Ckpt.checkpoint)
      freezeF.foreach(WorkPool.await(_))
      // the fresh-freeze path just wrote these bytes from `delta`, so
      // the schema is known; a re-apply over an already-frozen delta
      // takes it from the frozen bytes (authoritative — the caller's
      // frame is not), read on the driver. Neither runs a job.
      val staged =
        if (freezeF.isDefined)
          spark.read.schema(delta.schema).parquet(deltaDir.toString)
        else IndexLayout.readDir(spark, deltaDir.toString)
      val newRev =
        if (revsFrozen)
          coalesce(col("frozen_rev"), raise_error(concat(
            lit(s"applyBatch: batch '$key' has frozen revs but doc "),
            col(docCol).cast("string"),
            lit(" is not in them — the redelivered payload diverged"))))
        else
          when(col("old_rev").isNull, lit(0))
            .otherwise(when(col("old_rev") < MaxRev, col("old_rev") + 1)
              .otherwise(raise_error(concat(
                lit(s"applyBatch: rev overflow (> $MaxRev) for doc "),
                col(docCol).cast("string")))))
      // batch sizes ride the checkpoint job as observed metrics (zero
      // extra jobs — the standalone count/countDistinct aggregate this
      // replaces cost three AQE stage jobs per batch); the duplicate-doc
      // check moved into the revs write's aggregation below, which sees
      // every row before anything is recorded
      val sizesObs = new org.apache.spark.sql.Observation()
      val joined = prior match {
        case Some(p) => staged.join(p, Seq(docCol), "left")
        case None => staged.withColumn("old_rev",
          lit(null).cast(org.apache.spark.sql.types.IntegerType))
      }
      val withRid = Ckpt.checkpoint(joined
        .withColumn("new_rev", newRev)
        .withColumn(RidCol, ridExpr(col(docCol), col("new_rev")))
        .drop("frozen_rev")
        .observe(sizesObs, count(lit(1)).as("n"),
          count(col("old_rev")).as("nUpd")))
      val sizesRow = sizesObs.get
      val nRows = sizesRow("n").asInstanceOf[Long]
      val nUpd = sizesRow("nUpd").asInstanceOf[Long]
      // record the batch's rev rows BEFORE any index work: currentRevs'
      // contract ("mid-apply this already reports the incoming
      // revision") requires it — a mid-apply reader post-filtering with
      // currentRevs while an index had already published the new rid and
      // tombstoned the old one would otherwise see NEITHER version. The
      // write is a tiny one-file job, so serializing it buys visibility
      // for almost no wall time. The per-doc aggregation REFUSES a batch
      // carrying two rows for one doc (ambiguous — one revision per doc
      // per batch) before the dir commits: a failed write leaves no
      // _SUCCESS, so no index work starts and no crash window widens.
      // When the revs are already frozen, that write succeeded once with
      // the same frozen delta bytes, so the check is already proven.
      if (!revsFrozen)
        withRid.groupBy(col(docCol).cast("long").as("doc"))
          .agg(when(count(lit(1)) > 1, raise_error(concat(
              lit(s"applyBatch: duplicate $docCol rows in batch '$key' " +
                "for doc "), col("doc").cast("string"),
              lit(" — one revision per doc per batch"))))
            .otherwise(max(col("new_rev"))).cast("int").as("rev"))
          .coalesce(1)
          .write.mode("overwrite").parquet(batchRevs.toString)
      val oldRids = withRid.filter(col("old_rev").isNotNull)
        .select(ridExpr(col(docCol), col("old_rev")).as(RidCol))

      // 3. per-index stage → publish → tombstone → marker, through the
      // one IndexLayout.publish (the `applied-<index>` marker is its done
      // marker). The index layouts are INDEPENDENT (each has its own
      // stage dir, applied marker, and tombstone set), so their blocks
      // run concurrently — wall time is the slowest layout, not the sum
      // (the serial contract is across BATCHES, not across one batch's
      // indexes).
      indexPool.mapAll(targets) { t =>
        IndexLayout.publish(spark, t.path,
          new Path(batchDir, s"stage-${t.name}"), key,
          new Path(batchDir, s"applied-${t.name}"),
          // the superseded rids tombstone out through their own keyed
          // publish, so a retry after a crash before `applied` never
          // lands them twice. An all-inserts batch (the bootstrap case)
          // tombstones nothing; skipping the write keeps the index
          // tombstone-free, so probes keep their fast no-tombstone path
          afterPublish = () =>
            if (nUpd > 0)
              IndexLayout.publish(spark, Tombstones.dir(t.path),
                new Path(batchDir, s"stage-${t.name}-tombs"), key,
                new Path(batchDir, s"tombstoned-${t.name}"))(
                Tombstones.write(oldRids, RidCol, _)))(
          t.stage(withRid, RidCol, _))
      }
      IndexLayout.touch(fs, doneMarker)
      // never fold on a BACKFILL re-apply (the batch was already done, so
      // nothing new landed in the ledger): the remaining backfill batches
      // NEED their per-batch revs, and the first re-applied batch would
      // otherwise compact them all away and wedge the rest
      if (autoFoldRevsAt > 0 && !wasDone &&
          revBatchDirs(fs, root).size > autoFoldRevsAt)
        compactRevs(spark, root)
      UpsertReport(key, alreadyApplied = false, nRows, nUpd, nRows - nUpd)
    }
  }

  /** Reclaim the frozen delta payloads of fully-applied batches — the
    * storage maintenance pass `batches/` needs on a long-lived root:
    * every batch keeps its complete payload bytes forever (that freeze
    * IS the exactly-once redelivery story), which at corpus scale is a
    * second copy of all data ever ingested. Vacuuming a batch deletes
    * `delta/` and any leftover `stage-*` dirs but KEEPS the markers
    * and the frozen revs, so:
    *   - a full redelivery still short-circuits (markers),
    *   - rev lookups are untouched (`revs/` is not here),
    *   - a BACKFILL into the vacuumed batch is refused loudly by
    *     [[applyBatch]] (re-freezing from a redelivered frame could
    *     fork the new index's content) — the same backfill-horizon
    *     trade as [[compactRevs]], so vacuum on the cadence that keeps
    *     the horizon you need.
    * Only batches with their `done` marker are touched (`keep` exempts
    * keys, e.g. the horizon you still want backfillable). Idempotent;
    * safe between applies (the serialized-applies contract). Returns
    * (key → bytes reclaimed).
    */
  def vacuumBatches(
      spark: SparkSession,
      root: String,
      keep: Set[String] = Set.empty): Map[String, Long] = {
    val batchesRoot = new Path(s"$root/batches")
    val fs = batchesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(batchesRoot)) return Map.empty
    fs.listStatus(batchesRoot).toSeq
      .filter(s => s.isDirectory && !keep(s.getPath.getName))
      .filter(s => fs.exists(new Path(s.getPath, "done")))
      .flatMap { s =>
        val victims = fs.listStatus(s.getPath)
          .filter(c => c.isDirectory &&
            (c.getPath.getName == "delta" ||
              c.getPath.getName.startsWith("stage-")))
        if (victims.isEmpty) None
        else {
          val bytes = victims.map(v =>
            fs.getContentSummary(v.getPath).getLength).sum
          victims.foreach { v =>
            if (!fs.delete(v.getPath, true))
              throw new java.io.IOException(
                s"vacuumBatches: cannot delete ${v.getPath}")
          }
          Some(s.getPath.getName -> bytes)
        }
      }.toMap
  }

  final case class MaintenanceReport(
      purged: Map[String, Map[String, (Int, Int)]],
      compacted: Map[String, Map[String, (Int, Int)]],
      vacuumedBytes: Map[String, Long],
      revsDirsBefore: Int,
      revsDirsAfter: Int)

  /** ONE quiesced-window maintenance pass for a coordinated corpus
    * root — the operational entry point that runs every layout's
    * maintenance in the order their individual contracts require,
    * instead of leaving an operator to hand-sequence five indexes ×
    * two passes + two ledger passes:
    *
    *   1. per-target PURGE (concurrently across targets — each is its
    *      own layout): the physical drop of tombstoned rows, clearing
    *      each index's tombstone set. FIRST because purging first
    *      avoids rewriting the same bytes twice;
    *   2. per-target COMPACT (concurrently): fold append litter into
    *      bounded files — probe-score-identical by each layout's
    *      contract;
    *   3. [[vacuumBatches]] (keep = `keepBatches`): reclaim done
    *      batches' frozen payloads;
    *   4. [[compactRevs]] when `foldRevs` (default true): fold the rev
    *      ledger to its max-rev rows — skips loudly if a crashed batch
    *      awaits its retry.
    *
    * Horizon trades, restated: purges bound SNAPSHOT reads (superseded
    * rows are reclaimed), the vacuum and the fold bound BACKFILL and
    * as-of granularity — pass `keepBatches` / `foldRevs = false` on
    * the cadence that keeps the history you need. Idempotent end to
    * end: every purge, compaction and the fold is one rewrite publish
    * that a re-run finishes before it lists anything
    * ([[Compaction.publishRewrite]]), the vacuum only deletes, and the
    * order is data-independent, so after a crash anywhere, re-running
    * the SAME call completes the pass. Serialized with applies like
    * every maintenance operation (the quiesced-window rule).
    */
  def maintain(
      spark: SparkSession,
      root: String,
      targets: Seq[IndexTarget],
      keepBatches: Set[String] = Set.empty,
      foldRevs: Boolean = true): MaintenanceReport = {
    require(targets.map(_.name).distinct.size == targets.size,
      "maintain: duplicate target names")
    def eachTarget(pass: IndexTarget => Map[String, (Int, Int)]) =
      targets.map(_.name).zip(
        indexPool.mapAll(targets)(pass)).toMap
    val purged = eachTarget(t => t.layout.purge(spark, t.path, RidCol))
    val compacted = eachTarget(t => t.layout.compact(spark, t.path))
    val vacuumed = vacuumBatches(spark, root, keepBatches)
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def revsDirs(): Int = revBatchDirs(fs, root).size
    val before = revsDirs()
    if (foldRevs) compactRevs(spark, root)
    MaintenanceReport(purged, compacted, vacuumed, before, revsDirs())
  }

  /** Retire documents from every target index: tombstones their
    * CURRENT revision's rid (idempotent — re-running re-appends legal
    * duplicate tombstone rows). Unknown doc ids are no-ops. The rev
    * ledger keeps the retired doc's last rev, so a later re-upsert
    * resumes at rev+1 (its rid is distinct from every tombstoned one).
    *
    * Recovery contract — the same re-run-until-it-returns rule as
    * [[applyBatch]]: a crash mid-delete leaves some targets tombstoned
    * and others not; re-running the SAME call completes the rest, and
    * the re-added tombstones on the already-done targets are legal
    * duplicates. (No marker protocol is needed because tombstone
    * appends are the only effect and they deduplicate.)
    */
  def deleteDocs(
      docIds: DataFrame,
      docCol: String,
      root: String,
      targets: Seq[IndexTarget]): Unit = Ckpt.scope {
    val spark = docIds.sparkSession
    val rids = Ckpt.checkpoint(
      docIds.select(col(docCol).cast("long").as("doc")).distinct()
        .join(currentRevs(spark, root), Seq("doc"))
        .select(ridExpr(col("doc"), col("rev")).as(RidCol)))
    indexPool.mapAll(targets)(t => t.layout.delete(rids, RidCol, t.path))
  }

  /** The current `(doc, rev)` per document — max rev over every batch
    * ever RECORDED (a batch records its revs before its index work, so
    * mid-apply this already reports the incoming revision; it is
    * authoritative once `applyBatch` returned). Add
    * `rid = doc·2^16 + rev` via [[ridExpr]] when joining against index
    * relations.
    */
  def currentRevs(spark: SparkSession, root: String): DataFrame = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    priorRevs(spark, fs, root, excludeKey = "")
  }

  /** Decode an index/probe relation's rid column into (doc_id, rev). */
  def withDocRev(df: DataFrame, ridCol: String): DataFrame =
    df.withColumn("doc_id", docOf(col(ridCol)))
      .withColumn("rev", revOf(col(ridCol)))

  /** SNAPSHOT reads — the corpus `(doc, rev)` AS OF the completion of
    * exactly the batches in `keys`: max rev over those batches' frozen
    * `revs/batch=` rows. Because a published index row stays
    * physically present under its composite rid until a purge reclaims
    * it (a revision tombstones the OLD rid, and tombstones only hide
    * rows from live probes), the as-of rid set reproduces any
    * historical corpus state still on disk — [[snapshotFilter]]
    * post-filters an index/probe relation to it.
    *
    * The contract, precisely:
    *   - `keys` must be a PREFIX of the serialized apply order
    *     restricted to the docs it touches — equivalently, per doc the
    *     included revs must be exactly {0..max}. A gap (batch B's rev 2
    *     included without batch A's rev 1) means the requested state
    *     never existed; it is DETECTED (one ledger-sized aggregate) and
    *     refused, not silently served. Batches over disjoint docs
    *     commute, so any such set is valid regardless of order.
    *   - Every key must be `done` with its per-batch revs still
    *     unfolded: [[compactRevs]] trades the as-of horizon exactly
    *     like the backfill horizon (fold on the cadence that keeps the
    *     history you need), and a mid-apply batch has no defined state.
    *   - The PHYSICAL horizon is the purge cadence: a superseded
    *     revision's rows are tombstoned at upsert time (hidden from
    *     live probes) but remain on disk until the index's purge
    *     reclaims them — snapshot probes scan with
    *     `includeTombstoned = true` (e.g.
    *     [[HammingIndex.hammingProbeIndex]]) and reach exactly the
    *     revisions whose rows still exist. Like a lakehouse VACUUM,
    *     purging trades time-travel depth for bytes; run purges on
    *     the cadence that keeps the history you need.
    *   - TAKEDOWNS ARE PERMANENT: [[snapshotFilter]] drops every doc
    *     whose CURRENT revision is tombstoned (that is [[deleteDocs]]'
    *     signature — revision tombstones always have a successor rev
    *     in the ledger; takedown tombstones are the ledger's max),
    *     and once purged the rows are physically gone — so a snapshot
    *     read never resurrects deleted content even when `keys`
    *     predates the delete: the compliance semantics a
    *     training-data corpus needs (an erasure request must not be
    *     undone by time travel). Pinned in CorpusUpsertSpec.
    *   - Distance/containment probes (Hamming, cosine, phrase match)
    *     are per-pair arithmetic, so post-filtered results are EXACT
    *     historical results. Corpus-statistic scores need their stats
    *     recomputed over the snapshot — [[LexIndex.bm25ProbeRids]]
    *     does exactly that (df from the rid-filtered postings slice,
    *     N/avgdl from the rid-filtered doclen), so historical BM25
    *     scores are exact too; post-filtering a LIVE-stats probe gives
    *     historical membership with live scores.
    *
    * 100 TB shape: reads only the named batches' rev dirs (delta-sized
    * each), one ledger aggregate to validate, one max-rev aggregate;
    * the snapshot filter is a semi-join against a ledger-sized rid
    * relation.
    */
  def revsAsOf(
      spark: SparkSession, root: String, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "revsAsOf: empty batch-key set")
    require(keys.distinct.size == keys.size, "revsAsOf: duplicate keys")
    keys.foreach(k => require(!k.startsWith(CompactedKey),
      s"revsAsOf: '$k' is the compacted partition — it holds max-revs " +
        "at fold time, not a batch; as-of reads need unfolded batches"))
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    keys.foreach { k =>
      require(fs.exists(new Path(revsDir(root, k), "_SUCCESS")),
        s"revsAsOf: batch '$k' has no frozen revs — never applied, or " +
          "folded by compactRevs (the as-of horizon is the unfolded " +
          "ledger; fold on the cadence that keeps the history you need)")
      require(fs.exists(new Path(s"$root/batches/$k/done")),
        s"revsAsOf: batch '$k' recorded revs but never completed — a " +
          "mid-apply batch has no defined snapshot state")
    }
    val all = readRevDirs(spark, keys.map(k => revsDir(root, k).toString))
    // historical-state validation: per doc the included revs must be
    // exactly {0..max} — a gap means some earlier batch touching this
    // doc was left out and the requested state never existed. The check
    // is FUSED into the result aggregation (previously a separate
    // eager limit(1).collect that re-ran the same groupBy — three AQE
    // stage jobs per call, and the as-of queries call this several
    // times per run): a gapped doc row raises from the max-rev
    // aggregate itself, so no consumer can ever read past it; the
    // error surfaces at the consuming action as a SparkException
    // carrying this message (the editDistance1Pairs guard precedent).
    all.groupBy("doc")
      .agg(when(count(lit(1)) =!= max("rev") + 1, raise_error(concat(
          lit("revsAsOf: batch set is not a prefix of the apply order" +
            " — doc "), col("doc").cast("string"),
          lit(" has a revision gap; include every earlier batch that" +
            " touched its docs"))))
        .otherwise(max("rev")).cast("int").as("rev"))
  }

  /** Restrict an index/probe relation (keyed by `ridCol`) to the
    * snapshot [[revsAsOf]] defines — a semi-join against the as-of rid
    * set, so rows from newer revisions AND superseded older revisions
    * both drop out. `indexPath` is the probed index's root: docs whose
    * CURRENT revision sits in ITS tombstone set were taken down
    * ([[deleteDocs]]) and are excluded at EVERY revision — snapshot
    * reads must not resurrect them (see [[revsAsOf]]'s permanence
    * contract; the probe ran `includeTombstoned = true`, so the
    * superseded-revision tombstones it ignored are re-applied here by
    * the as-of semi-join itself).
    */
  def snapshotFilter(
      df: DataFrame, ridCol: String, root: String,
      keys: Seq[String], indexPath: String): DataFrame =
    df.join(asOfRids(df.sparkSession, root, keys, indexPath, ridCol),
      Seq(ridCol), "left_semi")

  /** CDC between two snapshots — one row per document whose state
    * DIFFERS between as-of(`fromKeys`) and as-of(`toKeys`): `(doc,
    * from_rev, to_rev, op)` with `op` = `insert` (doc absent from the
    * earlier snapshot, `from_rev` null) or `update` (rev advanced) —
    * the `table_changes` feed a downstream consumer replays instead of
    * re-reading the corpus. `fromKeys` must be a SUBSET of `toKeys`
    * (snapshots along one history; anything else has no well-defined
    * direction and is refused), and both sets pass [[revsAsOf]]'s full
    * validation. Takedowns are deliberately NOT in the feed: deletes
    * live on the tombstone side, never in the rev ledger, and the
    * permanence contract means a consumer must drop erased docs via
    * its own takedown channel, not discover them by diffing history.
    *
    * 100 TB shape: two delta-sized ledger reads + one doc-keyed join —
    * the feed costs what changed, not what exists.
    */
  def changesBetween(
      spark: SparkSession, root: String,
      fromKeys: Seq[String], toKeys: Seq[String]): DataFrame = {
    require(fromKeys.toSet.subsetOf(toKeys.toSet),
      s"changesBetween: fromKeys must be a subset of toKeys — " +
        s"${fromKeys.toSet -- toKeys.toSet} appear only on the FROM side, " +
        "so the two snapshots are not points on one history")
    val a = revsAsOf(spark, root, fromKeys)
      .withColumnRenamed("rev", "from_rev")
    val b = revsAsOf(spark, root, toKeys)
      .withColumnRenamed("rev", "to_rev")
    b.join(a, Seq("doc"), "left")
      .filter(col("from_rev").isNull || col("to_rev") > col("from_rev"))
      .select(col("doc"), col("from_rev"), col("to_rev"),
        when(col("from_rev").isNull, lit("insert"))
          .otherwise(lit("update")).as("op"))
  }

  /** The snapshot's rid SET (one `ridCol` column): [[revsAsOf]]'s
    * (doc, rev) as composite rids, minus every doc whose CURRENT
    * revision sits in `indexPath`'s tombstone set (a takedown — see
    * the permanence contract on [[revsAsOf]]). This is the relation
    * [[snapshotFilter]] semi-joins against and the `rids` input
    * [[LexIndex.bm25ProbeRids]] expects for historical BM25.
    */
  def asOfRids(
      spark: SparkSession, root: String, keys: Seq[String],
      indexPath: String, ridCol: String = RidCol): DataFrame = {
    val asOf = revsAsOf(spark, root, keys)
      .select(ridExpr(col("doc"), col("rev")).as(ridCol))
    val cut = Tombstones.ids(spark, indexPath, ridCol) match {
      case Some(t) =>
        // taken-down docs: tombstoned rid = the doc's CURRENT rid
        val takenDocs = t.join(
            currentRevs(spark, root)
              .select(ridExpr(col("doc"), col("rev")).as(ridCol)),
            Seq(ridCol), "left_semi")
          .select(docOf(col(ridCol)).as("doc"))
        asOf.join(takenDocs,
          docOf(asOf(ridCol)) === takenDocs("doc"), "left_anti")
      case None => asOf
    }
    // materialized ONCE (ledger-sized — the deleteDocs checkpoint
    // convention): a snapshot probe references this rid set several
    // times (purge guard, doclen cut, postings cut, snapshot stats),
    // and without the checkpoint each reference re-reads every rev
    // batch dir and re-runs the max-rev/tombstone subplan — measured
    // round 18 as ~half the as-of probe's ~30 driver-scheduled jobs.
    // Revision-gap validation (revsAsOf's fused raise_error) fires
    // HERE, eagerly, as it did before the fusion.
    Ckpt.checkpoint(cut)
  }

  /** Fold the rev ledger to its current max-rev rows — the
    * maintenance pass the per-batch `revs/batch=<key>` dirs need on a
    * long-lived root (one dir per batch ever applied, like any ledger
    * litter). One rewrite publish under `revs/`
    * ([[Compaction.publishRewrite]]): the fold is staged as
    * `batch=$CompactedKey`, published into that dir, and then the
    * superseded batch dirs and the dir's earlier files are deleted. A
    * crash between the publish and the deletes leaves duplicates whose
    * max-rev fold is identical, so rev lookups are exact in every
    * interleaving, and re-running finishes the publish first. A
    * `batch=$CompactedKey-old` dir (left by an interrupted fold of an
    * earlier release) is folded and deleted like any batch. Run it in
    * the quiesced maintenance window (no concurrent applyBatch — the
    * serialized-applies contract already says so). A crashed batch
    * awaiting its retry (revs recorded, no done marker) is detected
    * and makes the pass SKIP (stderr note, no fold): folding an
    * incomplete batch's already-recorded revs into the compacted
    * partition would defeat the retry's self-excluding lookup — the
    * retry would see its own prior assignment under the compacted key
    * and bump the rev again, diverging from its crashed attempt's
    * already-staged index rows. The compacted partition participates
    * in later batches' self-excluding lookups like any other batch.
    */
  def compactRevs(spark: SparkSession, root: String): Unit = {
    val revsRoot = s"$root/revs"
    Compaction.finishRewrite(spark, revsRoot, "compactRevs")
    val fs = new Path(revsRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val old = revBatchDirs(fs, root)
    if (old.size <= 1) return
    // a CRASHED batch awaiting its retry (revs recorded, no done
    // marker) must keep its own batch= dir: folding it into the
    // compacted partition would defeat the retry's self-excluding
    // lookup — the retry would see its OWN prior assignment under the
    // compacted key and bump every rev a second time, diverging from
    // the index rows its crashed attempt already staged or published.
    // Skip the pass entirely while one pends (it resolves on retry;
    // the next fold proceeds). The compacted partitions themselves
    // have no batch dir — exempt.
    val pending = old.map(_.getName.stripPrefix("batch=")).filter(k =>
      k != CompactedKey && k != s"$CompactedKey-old" &&
        !fs.exists(new Path(s"$root/batches/$k/done")))
    if (pending.nonEmpty) {
      System.err.println(s"[graft] compactRevs: skipped — batch(es) " +
        s"${pending.mkString(", ")} recorded revs but never completed; " +
        "re-run their applyBatch to completion first")
      return
    }
    val dest = revsDir(root, CompactedKey)
    Compaction.publishRewrite(spark, revsRoot, "compactRevs") { stage =>
      priorRevs(spark, fs, root, excludeKey = "")
        .select(col("doc"), col("rev").cast("int").as("rev"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(new Path(stage, dest.getName).toString)
      // the compacted dir receives the fold, so its earlier files are
      // superseded one by one; every other batch dir goes whole
      old.flatMap { p =>
        if (p.getName != dest.getName) Seq(p)
        else fs.listStatus(p).toSeq.map(_.getPath)
          .filter(f => IndexLayout.visible(f.getName))
      }
    }
  }

  /** The reserved batch key the compacted rev rows live under — [[
    * applyBatch]] refuses it as a caller key so a compaction can never
    * collide with a live batch.
    */
  val CompactedKey = "graft-compacted"

  /** Max-rev per doc over every revs batch except `excludeKey` (the
    * caller's own partition, for retry-stable assignment). Batch dirs
    * are read as explicit paths — no partition-type inference to
    * mistype a date-like batch key.
    */
  /** The rev ledger's fixed on-disk schema — every `revs/batch=` dir
    * is written by [[applyBatch]]/[[compactRevs]] as exactly these two
    * columns, so ledger reads pin it instead of paying a per-read
    * schema-inference job (one driver-scheduled footer job per read,
    * and the lifecycle queries read the ledger many times per run).
    * A constant rather than [[IndexLayout.readFiles]]' footer read: the
    * schema is known without any I/O, and an empty ledger (no batch
    * dir yet) still gets a typed empty relation.
    */
  private val RevsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("rev",
      org.apache.spark.sql.types.IntegerType)))

  private[ops] def readRevDirs(
      spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.schema(RevsSchema).parquet(dirs: _*)

  private def priorRevs(
      spark: SparkSession,
      fs: FileSystem,
      root: String,
      excludeKey: String): DataFrame = {
    val dirs = revBatchDirs(fs, root, excludeKey).map(_.toString)
    if (dirs.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        RevsSchema)
    else
      readRevDirs(spark, dirs)
        .groupBy("doc").agg(max("rev").as("rev"))
  }

  /** The rev ledger's `revs/batch=<key>` partition dir. */
  private def revsDir(root: String, key: String): Path =
    IndexLayout.partitionPath(new Path(s"$root/revs"), "batch" -> key)

  /** Every `revs/batch=` dir but `excludeKey`'s. */
  private def revBatchDirs(
      fs: FileSystem, root: String, excludeKey: String = ""): Seq[Path] = {
    val revsRoot = new Path(s"$root/revs")
    if (!fs.exists(revsRoot)) Nil
    else IndexLayout.partitionDirs(fs, revsRoot, "batch")
      .filter(_.getName != revsDir(root, excludeKey).getName)
  }

  /** The per-index pool: every block is joined ([[WorkPool.mapAll]]),
    * so a failing target never unwinds the call while its siblings
    * still stage or publish.
    */
  private val indexPool = new WorkPool("graft-upsert-index")

}
