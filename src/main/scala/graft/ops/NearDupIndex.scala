package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH near-duplicate index — the lexical near-dup
  * member of the persisted-index family ([[VectorOps]] exact IVF,
  * [[Pq]] IVF-PQ, [[LexIndex]] BM25, [[HammingIndex]] MIH): build the
  * banded signature buckets once, append document deltas, and answer
  * "is this NEW batch a near-duplicate of anything in the corpus"
  * without rescanning the corpus — the dedup-at-ingest question every
  * batch pair-mining call ([[Dedup.minhashLshPairs]]) re-pays the full
  * corpus for.
  *
  * Layout under the index root:
  *   - `buckets/` — (bucket, <idCol>) rows, one per (doc, band),
  *     partitioned by `band` and `bb = bucket mod nBuckets`: a probe
  *     prunes to its own band values' (band, bucket-bucket)
  *     directories AT FILE LISTING — the [[LexIndex.bm25ProbeIndex]]
  *     term-bucket treatment. Because `bb` is a function of `bucket`,
  *     every (band, bucket) group lives entirely inside one directory,
  *     so per-bucket sizes (the skew guard's input) are exact on any
  *     pruned slice.
  *   - `docs/` — (<idCol>, sh) shingle sets, one row per doc,
  *     partitioned by `db = id mod nDocBuckets`, for the exact-Jaccard
  *     verify of candidates. Stored ONCE per doc — carrying sets on
  *     the band rows would multiply text-scale payload by nBands.
  *   - `meta/` — (shingleN, numHashes, bands, nBuckets, nDocBuckets):
  *     persisted so append/probe can never shingle or band a document
  *     differently than the index was written under.
  *
  * Probe semantics are EXACTLY [[Dedup.minhashLshPairs]]'s: candidates
  * from banded signature-bucket equality, oversized index buckets
  * (> maxBucket members) dropped whole (the skew guard — a degenerate
  * bucket never goes quadratic), candidates verified with exact
  * Jaccard on the shingle sets. Probing the index with its own corpus
  * and keeping `q_id < n_id` reproduces the scan-path pair relation
  * bit-for-bit (NearDupIndexSpec pins it; the q240 gate entry replays
  * q21's XXH64 oracle through the build → append → probe path).
  *
  * Append contract (the family's): delta ids are NEW. A REVISED doc is
  * an upsert — route it through [[CorpusUpsert]] with a
  * [[CorpusUpsert.NearDupTarget]], where the rid composite key makes
  * the revision a new id and the superseded rid a tombstone.
  *
  * 100 TB shape: the build is one map-only shingle+signature pass
  * (native [[graft.functions.GraftFunctions.minhashSignature]])
  * written through a (band, bb) partitioner; a probe computes the
  * query batch's band values, prunes the bucket scan to those
  * (band, bb) directories at file listing, sizes+joins only the pruned
  * slice, and verifies candidates against `docs/` directories pruned
  * to the candidates' id buckets. Nothing all-pairs, nothing
  * corpus-shuffling: probe cost scales with the query batch's bucket
  * collision volume, bounded per bucket by maxBucket.
  */
object NearDupIndex {

  private val Buckets = IndexLayout.SubDir("buckets", Seq("band", "bb"))
  private val Docs = IndexLayout.SubDir("docs", Seq("db"))

  /** The lifecycle entry point over `buckets/` × (band, bb) and
    * `docs/` × db: `Layout.delete` tombstones ids (probes exclude them
    * at once from the bucket slice and the docs lookup),
    * `Layout.purge` drops a deleted doc's nBands bucket rows and its
    * docs row from exactly the leaves holding them, `Layout.compact`
    * folds append litter with identical probe results.
    */
  val Layout: IndexLayout = IndexLayout("neardup", Seq(Buckets, Docs))

  private case class Meta(
      shingleN: Int, numHashes: Int, bands: Int,
      nBuckets: Int, nDocBuckets: Int) {
    require(numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes")
    def rowsPerBand: Int = numHashes / bands
  }

  /** Build the index from scratch. Documents whose shingle set is
    * empty (fewer than `shingleN` tokens) are not indexable in this
    * metric and are skipped — same contract as
    * [[Dedup.minhashLshPairs]]. An empty frame bootstraps an empty
    * index (geometry is explicit, nothing is derived from data) that a
    * stream can then append under.
    */
  def neardupWriteIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      nBuckets: Int = 64,
      nDocBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be >= 1")
    require(nDocBuckets >= 1, s"nDocBuckets=$nDocBuckets must be >= 1")
    val m = Meta(shingleN, numHashes, bands, nBuckets, nDocBuckets)
    import df.sparkSession.implicits._
    IndexLayout.Meta.write(
      Seq((shingleN, numHashes, bands, nBuckets, nDocBuckets)).toDF(
        "shingleN", "numHashes", "bands", "nBuckets", "nDocBuckets"), path)
    // builds co-partition to the layout with a scale-adaptive salt
    // ([[DirLayout.toDirs]] — the HammingIndex build treatment):
    // parallel file creation, bounded files per directory
    writeRows(df, idCol, textCol, path, m)((rows, dirs, sub) =>
      DirLayout.toDirs(rows, dirs, col(idCol), sub.cols: _*))
  }

  /** The family's one delta writer, behind [[CorpusUpsert.NearDupTarget]]
    * (every append door): the delta's
    * bucket and docs rows under the index at `indexPath`'s persisted
    * geometry, written to `stagePath` in the index layout. Rows
    * co-partition with the directory layout first — ≤ one file per
    * touched dir per batch instead of tasks×dirs (the
    * [[HammingIndex.writeDelta]] steady-state treatment; its measured
    * litter curve applies verbatim to this layout).
    */
  private[ops] def writeDelta(
      delta: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      stagePath: String): Unit =
    writeRows(delta, idCol, textCol, stagePath,
      readMeta(delta.sparkSession, indexPath))((rows, dirs, sub) =>
      DirLayout.appendToDirs(rows, dirs, sub.cols: _*))

  private def readMeta(spark: SparkSession, path: String): Meta =
    IndexLayout.meta(spark, path) { meta =>
      val r = meta
        .select("shingleN", "numHashes", "bands", "nBuckets", "nDocBuckets")
        .head()
      Meta(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
    }

  /** (id, sh) for every indexable doc — the shared map-only front of
    * build, append, and probe. The input is SPREAD first
    * ([[DirLayout.spread]], a no-op whenever the scan already
    * parallelizes): shingling + the minhash signatures downstream are
    * the CPU-heavy front of every path here, and a single-row-group
    * parquet corpus otherwise runs them on ONE task however many cores
    * the session has (round-17: the q240/q241 builds and probes each
    * carried ~0.5–0.7 s serial jobs of exactly this).
    */
  private def shingleSets(
      df: DataFrame, idCol: String, textCol: String, shingleN: Int)
      : DataFrame =
    DirLayout.spread(df, col(idCol)).select(col(idCol),
        TextFunctions.shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)

  /** (id, band, bucket, bb) band rows of a relation's shingle sets. */
  private def bandRows(sets: DataFrame, idCol: String, m: Meta)
      : DataFrame =
    sets.select(col(idCol),
        explode(Dedup.lshBands(
          Dedup.minhashSignature(col("sh"), m.numHashes),
          m.bands, m.rowsPerBand)).as("x"))
      .select(col(idCol), col("x.band").as("band"),
        col("x.bucket").as("bucket"))
      .withColumn("bb",
        pmod(col("bucket"), lit(m.nBuckets.toLong)).cast("int"))

  /** Write the bucket and docs rows of `df` under `path`, each laid
    * out by `layOut(rows, directory count, sub-directory)` first.
    */
  private def writeRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      m: Meta)(
      layOut: (DataFrame, Int, IndexLayout.SubDir) => DataFrame): Unit = {
    val sets = shingleSets(df, idCol, textCol, m.shingleN)
    val buckets = layOut(bandRows(sets, idCol, m), m.bands * m.nBuckets,
      Buckets)
    val docRows = layOut(sets.withColumn("db",
      pmod(col(idCol).cast("long"), lit(m.nDocBuckets.toLong)).cast("int")),
      m.nDocBuckets, Docs)
    // the two sub-layouts are independent subtrees — write them
    // concurrently (the LexIndex.writeParts treatment): the buckets
    // pass re-shingles AND minhashes while the docs pass only
    // shingles, so the docs write rides inside the buckets tail
    // instead of serializing a second full shingle pass after it
    WorkPool.runAll(Seq(
      () => Buckets.write(buckets, path),
      () => Docs.write(docRows, path)))
  }

  /** Near-duplicates of a query batch served from the index: every
    * `(q_id, n_id, jaccard)` with exact shingle-set Jaccard ≥
    * `threshold` between a query row and an indexed doc that share at
    * least one kept LSH bucket — [[Dedup.minhashLshPairs]]'s semantics
    * through the persisted layout (probing the index with its own
    * corpus and keeping `q_id < n_id` reproduces the pair relation
    * exactly; NearDupIndexSpec pins both). The bucket scan prunes to
    * the probe band values' (band, bb) directories at file listing;
    * oversized index buckets (> maxBucket rows on the pruned slice —
    * exact, since a bucket never spans directories) are dropped whole,
    * the scan-path skew guard. Tombstoned ids are excluded from the
    * index side only — a deleted doc can still be ASKED about; it just
    * can't be FOUND.
    *
    * `pruneDocLookup` (default true) collects the candidates' docs
    * bucket values (≤ nDocBuckets ints) and prunes the verify lookup's
    * file listing to them — right for the ingest-gate shape (small
    * batch vs huge corpus), at the price of computing the candidate
    * set twice. Pass false for corpus-scale probes (the self-probe
    * pair relation), where the candidate set touches every docs bucket
    * anyway and the extra pass buys nothing.
    */
  /** `pruneListing = false` skips the probe-bucket collect and scans
    * every (band, bb) directory — the [[HammingIndex.hammingProbeIndex]]
    * corpus-scale treatment: a self-probe's band values cover
    * essentially every directory, so the collect is a full extra
    * shingle+minhash pass over the queries that prunes nothing. Keep
    * the default for the ingest-gate shape (small batch vs corpus).
    */
  def neardupProbeIndex(
      spark: SparkSession,
      queries: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      pruneDocLookup: Boolean = true,
      pruneListing: Boolean = true): DataFrame = {
    val m = readMeta(spark, path)
    // materialized ONCE (checkpoint): the query shingle sets feed
    // the band rows AND the exact-Jaccard verify join — without the
    // checkpoint the shingle pass recomputes per consumer (A/B'd at
    // sf0.1: probe 3.1 s → 2.8 s, dedupGate 4.4 s → 3.6 s).
    val qsets = Ckpt.checkpoint(shingleSets(queries, idCol, textCol, m.shingleN)
      .select(col(idCol).as("q_id"), col("sh").as("qsh")))
    probeFromSets(spark, qsets, idCol, path, m, threshold, maxBucket,
      pruneDocLookup, pruneListing)
  }

  /** [[neardupProbeIndex]] over ALREADY-MATERIALIZED query shingle sets
    * (`qsets` = (q_id, qsh), checkpointed by the caller) — the shared
    * back half that lets [[dedupGate]] shingle its batch exactly once
    * for the index probe AND the within-batch pair mining.
    */
  private def probeFromSets(
      spark: SparkSession,
      qsets: DataFrame,
      idCol: String,
      path: String,
      m: Meta,
      threshold: Double,
      maxBucket: Int,
      pruneDocLookup: Boolean,
      pruneListing: Boolean): DataFrame = {
    // bucket keys only on the probe shuffle — sets join back at verify
    // (the minhashLshPairs discipline: never carry text-scale arrays
    // through the band explode)
    val qb = bandRows(qsets.select(col("q_id"), col("qsh").as("sh")),
      "q_id", m)
    val prune = if (!pruneListing) lit(true) else {
      val probeBuckets = qb.select("band", "bb").distinct()
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      require(probeBuckets.nonEmpty,
        "neardupProbeIndex: empty query batch (no doc reaches shingleN tokens)")
      probeBuckets
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toSeq
        .map { case (band, bbs) =>
          col("band") === band && col("bb").isin(bbs: _*)
        }
        .reduce(_ || _)
    }
    val idx = Tombstones.excludeFrom(
      Buckets.read(spark, path).filter(prune), // pruned at listing
      path, idCol)
    // Skew guard on the INDEX side, scan-path-identical: rank-prune to
    // maxBucket+1 rows per (band, bucket) — WindowGroupLimit bounds a
    // degenerate key at the map side — then drop buckets that arrive
    // truncated, i.e. oversized. Counts are exact on the pruned slice
    // because bb = bucket mod nBuckets confines each bucket to one dir.
    val byBucket = Window.partitionBy("band", "bucket").orderBy(col(idCol))
    val bounded = idx.select(col(idCol), col("band"), col("bucket"))
      .withColumn("rn", row_number().over(byBucket))
      .filter(col("rn") <= maxBucket + 1)
    val kept = bounded
      .withColumn("bn", max("rn").over(
        Window.partitionBy("band", "bucket")))
      .filter(col("bn") <= maxBucket)
      .select(col(idCol).as("n_id"), col("band"), col("bucket"))
    val candidates = qb.select(col("q_id"), col("band"), col("bucket"))
      .join(kept, Seq("band", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "n_id")
      .distinct() // each pair verified once, however many bands agree
    val docsRel = {
      val all = Tombstones.excludeFrom(
        Docs.read(spark, path), path, idCol)
      if (!pruneDocLookup) all
      else {
        val dbs = candidates
          .select(pmod(col("n_id").cast("long"),
            lit(m.nDocBuckets.toLong)).cast("int").as("db"))
          .distinct().collect().map(_.getInt(0)) // ≤ nDocBuckets ints
        if (dbs.isEmpty) all.limit(0)
        else all.filter(col("db").isin(dbs.toSeq: _*)) // pruned at listing
      }
    }
    candidates
      .join(qsets, Seq("q_id"))
      .join(docsRel.select(col(idCol).as("n_id"), col("sh").as("nsh")),
        Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        round(TextFunctions.jaccard(col("qsh"), col("nsh")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The ingest dedup gate: which docs of a NEW batch are
    * near-duplicates — of the indexed corpus (without rescanning it)
    * or of an earlier doc inside the batch itself — and which are
    * genuinely novel. Returns one row per batch doc:
    * `(<idCol>, kept, dup_of, jaccard)` with `dup_of`/`jaccard` NULL
    * for kept docs.
    *
    * Match rule (deterministic, so the q241 oracle replays it): a doc
    * is rejected iff it has ≥ 1 match among (a) indexed docs at
    * Jaccard ≥ threshold — [[neardupProbeIndex]] — or (b) SMALLER-ID
    * batch docs at Jaccard ≥ threshold — [[Dedup.minhashLshPairs]]
    * within the batch under the index's own persisted parameters.
    * `dup_of` is the match with the highest Jaccard, ties to the
    * smallest id. Rule (b) is deliberately NOT survivor-transitive
    * (rejecting b against an a that was itself rejected): the
    * conservative first-writer-wins convention keeps the decision a
    * join, not a fixpoint — a doc whose only twin was itself rejected
    * still points at content the corpus retains a canonical form of.
    * Batch ids must be NEW (the family's append contract; under
    * [[CorpusUpsert]] the rid key guarantees it).
    *
    * The caller appends the kept docs ([[CorpusUpsert.NearDupTarget]]) —
    * gate + append is the incremental-dedup loop that replaces
    * re-mining pairs over corpus+batch from scratch.
    */
  def dedupGate(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = Ckpt.scope {
    val spark = batch.sparkSession
    val m = readMeta(spark, path)
    // ONE shingle pass over the batch (batch-sized, so the checkpoint
    // is delta-bounded at any corpus scale): the index probe and the
    // within-batch pair mining previously each re-shingled (and the
    // miner re-minhashed) the same rows from scratch — round-17 probe:
    // the gate paid the batch's shingle front three times.
    val bsets = Ckpt.checkpoint(shingleSets(batch, idCol, textCol, m.shingleN)
      .select(col(idCol).as("q_id"), col("sh").as("qsh")))
    val vsIndex = probeFromSets(spark, bsets, idCol, path, m,
        threshold, maxBucket, pruneDocLookup = true, pruneListing = true)
      .select(col("q_id").as("id"), col("n_id").as("dup_of"),
        col("jaccard"))
    val within = Dedup.minhashLshPairsFromSets(
        bsets.select(col("q_id").as(idCol), col("qsh").as("sh")),
        idCol, m.numHashes, m.bands, threshold, maxBucket)
      .select(col("id_b").as("id"), col("id_a").as("dup_of"),
        col("jaccard")) // id_a < id_b: earlier batch doc wins
    val elected = vsIndex.unionByName(within)
      .withColumn("rn", row_number().over(
        Window.partitionBy("id")
          .orderBy(col("jaccard").desc, col("dup_of"))))
      .filter(col("rn") === 1)
      .drop("rn")
    // the gate's verdict is BATCH-sized (one row per batch doc), so
    // materializing it lets the scope free the batch shingle checkpoint
    // above HERE instead of leaking it per gate call for the JVM's
    // lifetime (round-17 verdict item); the one retained block is the
    // returned relation itself
    Ckpt.checkpoint(batch.select(col(idCol))
      .join(elected.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("kept"),
        col("dup_of"), col("jaccard")))
  }
}
