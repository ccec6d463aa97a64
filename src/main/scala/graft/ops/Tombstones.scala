package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delete/tombstone lifecycle for the persisted-index family (exact
  * IVF, IVF-PQ, BM25, Hamming MIH, near-dup — see [[IndexLayout]]):
  * the governance gap a takedown / right-to-be-forgotten request hits
  * first, closed without a full index rebuild.
  *
  * The mechanism is a tombstone relation per index root:
  *
  *   - `_graft_tombstones/` — a one-column parquet dir of deleted ids,
  *     underscore-hidden from every `spark.read.parquet(root)` data
  *     listing (the [[graft.streaming.VectorIndexStream]]
  *     `_graft_batches` ledger convention). Deletes APPEND here —
  *     never touch index data — so a delete is O(|ids|) regardless of
  *     index size and safe to run concurrently with probes.
  *   - Probe-side: every path-opening probe anti-joins the tombstone
  *     set out of the index slice it scanned, so deleted ids vanish
  *     from results IMMEDIATELY after the delete lands, before any
  *     physical rewrite. The anti-join is on the pruned slice (nProbe
  *     clusters / probed buckets), never the whole index, and skips
  *     entirely when no tombstones exist (one driver `exists` check).
  *   - Purge: the physical drop, run in a quiesced maintenance window
  *     like compaction. Only the [[IndexLayout.affectedDirs]] — the
  *     directories that CONTAIN tombstoned rows — are rewritten, in
  *     one rewrite publish ([[Compaction.rewriteDirs]]: the purged
  *     copies move in, then the originals are deleted); the tombstone
  *     set is cleared only after that publish completed, so
  *     re-running the same call after a crash anywhere converges. A
  *     crash between the publish's renames and its deletes leaves a
  *     rewritten directory's surviving rows visible twice (never zero
  *     times) until that re-run, which finishes the publish before it
  *     lists anything — the quiesced-window contract every
  *     maintenance pass has. No family keeps derived state beside its
  *     rows — BM25's N/avgdl is an aggregate over `doclen/` minus the
  *     tombstone set.
  *
  * Duplicate tombstone rows are legal (re-deleting an id appends
  * again): the probe-side anti-join ignores them, and every other
  * reader goes through [[ids]]' distinct. Both read the id projection
  * only, which also reads the `(id, dl)` rows older BM25 indexes
  * wrote. The sketch tables ([[Sketches]]) are deliberately NOT in
  * this family — see the note there: HLL/CMS states are not
  * subtractive, so their delete path is rebuild-from-slices.
  */
object Tombstones {

  /** The tombstone dir under an index root — underscore-prefixed so
    * parquet data listings of the root never see it.
    */
  def dir(indexRoot: String): String = s"$indexRoot/_graft_tombstones"

  /** The tombstone set's data files — empty when no delete ever landed. */
  private def files(spark: SparkSession, indexRoot: String): Seq[FileStatus] = {
    val p = new Path(dir(indexRoot))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(s =>
      s.isFile && IndexLayout.visible(s.getPath.getName))
  }

  def exists(spark: SparkSession, indexRoot: String): Boolean =
    files(spark, indexRoot).nonEmpty

  /** Append `ids` (deduplicated within the batch; duplicates vs prior
    * deletes are allowed and harmless) to the index's tombstone set.
    */
  def add(ids: DataFrame, idCol: String, indexRoot: String): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode("append").parquet(dir(indexRoot))

  /** Write `ids` (deduplicated) as tombstone rows to `stageDir` — the
    * stage of a keyed [[IndexLayout.publish]] into [[dir]], which lands
    * a batch's tombstones exactly once (the delete stream,
    * [[CorpusUpsert.applyBatch]]'s superseded rids).
    */
  private[graft] def write(
      ids: DataFrame, idCol: String, stageDir: String): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode("overwrite").parquet(stageDir)

  /** Every tombstone row as written (duplicates included), or None when
    * no delete has ever landed. The listed data files are opened by
    * path ([[IndexLayout.readFiles]]): no schema-inference job, and no
    * warning — opening the underscore-prefixed directory itself logs
    * Spark's "All paths were ignored", and a `part-*` glob its
    * "Assume no metadata directory" stack trace.
    */
  private[ops] def rows(spark: SparkSession, indexRoot: String)
      : Option[DataFrame] = {
    val found = files(spark, indexRoot)
    if (found.isEmpty) None else Some(IndexLayout.readFiles(spark, found))
  }

  /** The current tombstoned-id set as a one-column distinct frame, or
    * None when no delete has ever landed (the common case — probes
    * then skip the anti-join entirely).
    */
  def ids(spark: SparkSession, indexRoot: String, idCol: String)
      : Option[DataFrame] =
    rows(spark, indexRoot).map(_.select(col(idCol)).distinct())

  /** Anti-join the tombstone set out of an index relation — identity
    * when no tombstones exist. `idCol` must be the index relation's id
    * column (also the name the tombstones were written under). The
    * right side is the raw id projection of [[rows]], not [[ids]]: a
    * left-anti join's result does not depend on duplicate right rows,
    * so the distinct's aggregate and exchange would buy nothing.
    */
  def excludeFrom(df: DataFrame, indexRoot: String, idCol: String)
      : DataFrame =
    rows(df.sparkSession, indexRoot) match {
      case Some(t) => df.join(t.select(col(idCol)), Seq(idCol), "left_anti")
      case None => df
    }

  /** Drop the tombstone set (purge epilogue). Checked: a silent
    * failure here would be invisible until probes keep excluding
    * already-purged ids forever.
    */
  def clear(spark: SparkSession, indexRoot: String): Unit = {
    val p = new Path(dir(indexRoot))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(
        s"Tombstones.clear: could not delete $p")
  }

  /** The shared physical-drop pass: rewrite exactly the `layout`'s
    * [[IndexLayout.affectedDirs]] — the directories whose rows contain
    * a tombstoned id — dropping the matching rows, then clear the
    * tombstone set. Returns dirName → (filesBefore, filesAfter) for the
    * dirs rewritten.
    */
  private[ops] def purge(
      spark: SparkSession,
      indexRoot: String,
      idCol: String,
      layout: IndexLayout,
      targetBytes: Long,
      opName: String): Map[String, (Int, Int)] = Ckpt.scope {
    ids(spark, indexRoot, idCol) match {
      case None => Map.empty
      case Some(tombs0) =>
        // materialize the deduplicated tombstone set ONCE: every
        // affected directory's rewrite anti-joins against it, and
        // without the checkpoint each of those (now concurrent)
        // per-dir jobs would re-read the tombstone files and re-run
        // the distinct — takedown-sized work, but multiplied by up to
        // hundreds of dirs it dominated the round-17 purge probe
        val tombs = Ckpt.checkpoint(tombs0)
        val report = Compaction.rewriteDirs(spark, indexRoot,
          layout.affectedDirs(spark, indexRoot, idCol, tombs), targetBytes,
          opName,
          shouldRewrite = _ => true,
          transform = df => df.join(tombs, Seq(idCol), "left_anti"))
        clear(spark, indexRoot)
        report
    }
  }
}
