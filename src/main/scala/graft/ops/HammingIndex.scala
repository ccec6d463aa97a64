package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted multi-index Hamming index over [[VectorOps.binaryQuantize]]
  * sign codes — the binary member of the persisted-index family
  * ([[VectorOps]] exact-IVF, [[Pq]] IVF-PQ, [[LexIndex]] BM25): build
  * once, append deltas, probe radius queries without rescanning the
  * corpus.
  *
  * Layout under the index root (Norouzi et al. 2012's m hash tables,
  * as partition directories):
  *   - `bands/` — (band, bv, <idCol>, code), one row per (vector,
  *     band), partitioned by `band` and `bb = bv mod nBuckets`: a
  *     radius probe prunes to its probe values' (band, bucket)
  *     directories AT FILE LISTING — the [[LexIndex.bm25ProbeIndex]]
  *     term-bucket treatment. The full code rides along so the exact
  *     check needs no second corpus join. Space is the standard MIH
  *     trade: nBands copies of the (tiny) codes, never of the vectors.
  *   - `meta/` — (nBands, dim, nBuckets): the band geometry
  *     ([[VectorOps.BandSpec]]), persisted so append/probe can never
  *     split a code differently than the index was written under.
  *
  * Append contract (every [[CorpusUpsert.IndexTarget]]'s): delta ids
  * are NEW — band rows stay unique per (band, id), so append ≡
  * from-scratch rebuild gives identical probe results (HammingSpec
  * pins it). `Layout.compact` folds append litter in place via the
  * shared [[Compaction.compactDirs]] publish protocol with
  * bit-identical probes.
  *
  * 100 TB shape: the build is one map-only pack+explode pass written
  * through a (band, bucket) partitioner; a probe packs the query
  * batch, expands the per-band radius-⌊r/m⌋ probe balls, prunes the
  * index scan to those (band, bucket) directories, broadcasts the
  * probe rows against the pruned index slice, and pays one native
  * XOR+POPCNT exact check per candidate. Candidate volume is the MIH
  * bucket-collision term — [[VectorOps.hammingRadiusPairs]]'s
  * documented tradeoff; size `nBands`/`nBuckets` with
  * [[VectorOps.hammingParamsFor]], which prices the collision term
  * from (n, dim, radius) and refuses infeasible combinations.
  */
object HammingIndex {

  /** `bands/` × (band, bb) — the whole persisted layout besides `meta/`. */
  private val Bands = IndexLayout.SubDir("bands", Seq("band", "bb"))

  /** The lifecycle entry point: `Layout.delete` tombstones ids (probes
    * exclude them at once), `Layout.purge` drops a deleted vector's
    * nBands band rows from exactly the (band, bb) leaves holding them,
    * `Layout.compact` folds append litter with bit-identical probes.
    */
  val Layout: IndexLayout = IndexLayout("hamming", Seq(Bands))

  /** `dim` < 0 derives the dimension from the data; pass it explicitly
    * to bootstrap an EMPTY index whose geometry a stream then appends
    * under (the [[LexIndex.bm25WriteIndex]]-over-`limit(0)` stream
    * pattern — an empty frame has no row to derive from).
    */
  def hammingWriteIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nBands: Int = 8,
      nBuckets: Int = 64,
      dim: Int = -1): Unit = {
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be >= 1")
    val d = if (dim > 0) dim else {
      val rows = df.select(size(col(vecCol)).as("d")).limit(1).collect()
      require(rows.nonEmpty, "hammingWriteIndex: empty input — pass dim " +
        "explicitly to bootstrap an empty index for a stream")
      rows.head.getInt(0)
    }
    val dimV = d
    VectorOps.BandSpec(nBands, dimV) // validate geometry before any write
    import df.sparkSession.implicits._
    IndexLayout.Meta.write(
      Seq((nBands, dimV, nBuckets)).toDF("nBands", "dim", "nBuckets"), path)
    // builds co-partition to the layout with a scale-adaptive salt
    // ([[DirLayout.toDirs]]): the exchange is build-sized, file
    // creation parallelizes across tasks, and files per directory stay
    // bounded — measured 4.1 s → ~0.6 s on the gate build
    Bands.write(DirLayout.toDirs(bandRows(df, idCol, vecCol, nBands, dimV,
      nBuckets), nBands * nBuckets, col(idCol), Bands.cols: _*), path)
  }

  /** The family's one delta writer, behind [[CorpusUpsert.HammingTarget]]
    * (every append door, and the perceptual-hash streams): the delta's
    * band rows under the index at `indexPath`'s persisted geometry,
    * written to `stagePath` in the index layout (`bands/band=/bb=`).
    * The band rows co-partition with the (band, bb) directory layout
    * first — ≤ one file per touched dir per batch instead of
    * tasks×dirs. The steady-state numbers that made this the rule (a
    * 128k-code, 32-batch steady-append run): without it every append
    * wrote 2,048 files (32 tasks × 64 dirs), probe latency grew
    * linearly with the litter (3.4 s fresh → 25.3 s at 65k files) and
    * the eventual compaction of 65k files cost 113 s — the shuffle it
    * adds is delta-sized.
    */
  private[ops] def writeDelta(
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      stagePath: String): Unit = {
    val (nBands, dim, nBuckets) = readMeta(delta.sparkSession, indexPath)
    Bands.write(DirLayout.appendToDirs(
      bandRows(delta, idCol, vecCol, nBands, dim, nBuckets),
      nBands * nBuckets, Bands.cols: _*), stagePath)
  }

  private def readMeta(spark: SparkSession, path: String): (Int, Int, Int) =
    IndexLayout.meta(spark, path) { meta =>
      val m = meta.select("nBands", "dim", "nBuckets").head()
      (m.getInt(0), m.getInt(1), m.getInt(2))
    }

  /** (id, code, band, bv, bb): one row per (vector, band). */
  private def bandRows(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nBands: Int,
      dim: Int,
      nBuckets: Int): DataFrame = {
    val spec = VectorOps.BandSpec(nBands, dim)
    VectorOps.binaryQuantize(df, idCol, vecCol)
      .select(col(idCol), col("code"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bv", spec.bandVal(col("code"), col("band")))
      .withColumn("bb", pmod(col("bv"), lit(nBuckets.toLong)).cast("int"))
  }

  /** EXACT radius search served from the index: every `(q_id, n_id,
    * hamming)` with distance ≤ `radius` between a query-batch row and
    * an indexed vector — [[VectorOps.hammingRadiusPairs]]'s guarantee
    * through the persisted layout (probing the index with its own
    * corpus and keeping `q_id < n_id` reproduces the pair relation
    * exactly; HammingSpec pins both). The index scan prunes to the
    * probe values' (band, bucket) directories at file listing.
    * Tombstoned ids (`Layout.delete`) are excluded from the
    * scanned slice (never from the caller's query batch — a deleted
    * vector can still be ASKED about; it just can't be FOUND).
    *
    * `includeTombstoned = true` keeps tombstoned rows in the scan —
    * the SNAPSHOT-read mode ([[CorpusUpsert.snapshotFilter]]): a
    * superseded revision's rows are tombstoned but still physically
    * present until a purge, and Hamming distance is per-pair
    * arithmetic, so post-filtering these results by an as-of rid set
    * gives exact historical results. (The same one-line treatment
    * applies to any layout whose probe is per-pair.)
    */
  /** `pruneListing = false` skips the probe-bucket collect and scans
    * every (band, bucket) directory: right for CORPUS-SCALE query
    * batches (the self-probe pair relation), whose probe balls cover
    * essentially every directory anyway — there the collect is a full
    * extra quantize+explode pass over the queries that prunes nothing
    * (measured ~0.6 s of the q193 probe at sf0.1). Keep the default
    * for the ingest-gate shape (small batch vs huge corpus), where the
    * pruned listing is the whole point.
    */
  def hammingProbeIndex(
      spark: SparkSession,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      radius: Int,
      includeTombstoned: Boolean = false,
      pruneListing: Boolean = true): DataFrame = {
    val (nBands, dim, nBuckets) = readMeta(spark, path)
    val spec = VectorOps.BandSpec(nBands, dim)
    val s = spec.probeBits(radius)
    val probes = VectorOps.binaryQuantize(queries, idCol, vecCol)
      .select(col(idCol).as("q_id"), col("code").as("qcode"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("bv",
        explode(spec.probeBall(spec.bandVal(col("qcode"), col("band")), s)))
      .withColumn("bb", pmod(col("bv"), lit(nBuckets.toLong)).cast("int"))
    // (band, bucket) pairs to prune the listing to: bounded by
    // |queries|·nBands·(1+cb) and by nBands·nBuckets
    val prune = if (!pruneListing) lit(true) else {
      val probeBuckets = probes.select("band", "bb").distinct()
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      require(probeBuckets.nonEmpty, "hammingProbeIndex: empty query batch")
      probeBuckets
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toSeq
        .map { case (band, bbs) =>
          col("band") === band && col("bb").isin(bbs: _*)
        }
        .reduce(_ || _)
    }
    // deliberately NO broadcast hint on the probe side: a query BATCH
    // broadcasts from AQE's runtime stats, but the probe contract also
    // serves corpus-as-queries (q146's pair relation), where a forced
    // broadcast would ship |corpus|·nBands·(1+cb) rows to every task —
    // the round-12 probe measured 18.9× vs 8.6× at 64× for exactly
    // that hint before it was removed
    val slice = Bands.read(spark, path).filter(prune) // pruned
    (if (includeTombstoned) slice
     else Tombstones.excludeFrom(slice, path, idCol))
      .join(probes, Seq("band", "bv", "bb"))
      .select(col("q_id"), col(idCol).as("n_id"),
        graft.functions.GraftFunctions.hamming(col("qcode"), col("code"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= radius)
      .groupBy("q_id", "n_id")
      .agg(first("hamming").as("hamming"))
  }
}
