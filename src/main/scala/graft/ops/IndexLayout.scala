package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftParquet, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The directory layout of one persisted-index family, described ONCE
  * as data — which sub-directories sit under the index root, which
  * partition columns each is written `partitionBy`, and whether its
  * rows carry the index's id column. The maintenance lifecycle every
  * family shares derives from it:
  *
  *   - [[leafDirs]] — the data directories compaction folds (one per
  *     partition value combination, or the flat sub-directory itself);
  *   - [[affectedDirs]] — the directories a tombstone purge must
  *     rewrite: one column-pruned (id, partition columns) semi-join per
  *     keyed partitioned sub-directory (partition columns come from
  *     directory names, so the scan reads only the id column), plus
  *     every flat keyed sub-directory (no listing can narrow it);
  *     sub-directories without the id column are never touched;
  *   - [[delete]] / [[purge]] / [[compact]] — the [[Tombstones]] and
  *     [[Compaction]] passes over those lists.
  *
  * The families' writers take their `partitionBy` columns and
  * sub-directory names from the same constant ([[IndexLayout.SubDir.write]]),
  * so what the writer lays out and what maintenance lists cannot drift.
  * Every read of a persisted index opens through the mirror,
  * [[IndexLayout.SubDir.read]], which resolves the schema on the driver
  * instead of scheduling Spark's schema-inference job.
  * All five families (exact IVF and IVF-PQ, BM25, Hamming, near-dup)
  * run this lifecycle unmodified: no family keeps state a delete or a
  * purge must adjust beside its rows.
  *
  * Rows enter or leave a live index ONE way, [[IndexLayout.publish]]:
  * each family's delta writer stages the rows under a directory that
  * mirrors the layout, and the publish renames them in under
  * batch-keyed names. A family's delta writer has one caller, its
  * [[CorpusUpsert.IndexTarget]], whose three doors — the one-off
  * `append` ([[IndexLayout.append]]), the stream sink and
  * [[CorpusUpsert.applyBatch]] — differ only in where the stage lives,
  * which key names the files and which marker says the batch is done.
  * A rewrite ([[compact]], [[purge]]) is the same publish of a stage at
  * the root's fixed `_graft_stage/rewrite`, whose last step deletes the
  * files the staged rows replace ([[Compaction.publishRewrite]]).
  */
final case class IndexLayout(name: String, subDirs: Seq[IndexLayout.SubDir]) {
  import IndexLayout._

  /** Every existing data directory of the index under `root`. */
  def leafDirs(spark: SparkSession, root: String): Seq[Path] = {
    val fs = new Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    subDirs.flatMap { s =>
      val top = new Path(s.dir(root))
      if (!fs.exists(top)) Nil
      else s.partCols.foldLeft(Seq(top))((dirs, c) =>
        dirs.flatMap(partitionDirs(fs, _, c)))
    }
  }

  /** The data directories holding a row of any id in `tombs` (a
    * one-column `idCol` frame): per keyed partitioned sub-directory one
    * semi-join collected to its ≤ fan-out partition tuples, plus every
    * flat keyed sub-directory.
    */
  private[ops] def affectedDirs(
      spark: SparkSession, root: String, idCol: String, tombs: DataFrame)
      : Seq[Path] =
    subDirs.filter(_.keyed).flatMap { s =>
      if (s.partCols.isEmpty) Seq(new Path(s.dir(root)))
      else s.read(spark, root)
        .select((idCol +: s.partCols).map(col): _*)
        .join(tombs, Seq(idCol), "left_semi")
        .select(s.cols: _*).distinct()
        .collect()
        .map(r => partitionPath(new Path(s.dir(root)),
          s.partCols.zip(r.toSeq): _*))
        .toSeq
    }

  /** Tombstone ids out of the index ([[Tombstones]]): append-only,
    * O(|ids|), safe next to concurrent probes, which exclude the set
    * immediately; [[purge]] is the physical drop.
    */
  def delete(ids: DataFrame, idCol: String, root: String): Unit =
    Tombstones.add(ids, idCol, root)

  /** Physically drop tombstoned rows from [[affectedDirs]] only and
    * clear the tombstone set, through the shared rewrite publish
    * ([[Compaction.rewriteDirs]]). Quiesced-window maintenance;
    * re-running the same call after a crash converges ([[Tombstones]]
    * has the full story). Returns dirName → (filesBefore, filesAfter).
    */
  def purge(
      spark: SparkSession,
      root: String,
      idCol: String,
      targetBytes: Long = DefaultTargetBytes): Map[String, (Int, Int)] =
    Tombstones.purge(spark, root, idCol, this, targetBytes, s"$name purge")

  /** Fold append litter back into a bounded file layout: every leaf
    * directory holding more than `maxFilesPerDir` files is rewritten to
    * ⌈bytes / targetBytes⌉ files, in one rewrite publish
    * ([[Compaction.compact]]). Rows are unchanged, so probe results are
    * identical before and after. Returns per-compacted-directory
    * (files before, after).
    */
  def compact(
      spark: SparkSession,
      root: String,
      maxFilesPerDir: Int = 8,
      targetBytes: Long = DefaultTargetBytes): Map[String, (Int, Int)] =
    Compaction.compact(spark, root, leafDirs(spark, root), maxFilesPerDir,
      targetBytes, s"$name compact")
}

object IndexLayout {

  /** One sub-directory of an index root (`name` "" is the root itself):
    * its `partitionBy` columns (empty = a flat directory) and whether
    * its rows carry the index's id column (`keyed`).
    */
  final case class SubDir(
      name: String,
      partCols: Seq[String] = Nil,
      keyed: Boolean = true) {
    def dir(root: String): String = if (name.isEmpty) root else s"$root/$name"
    def cols: Seq[Column] = partCols.map(col)
    /** Write `df` as this sub-directory of `root` (a build's index root
      * or a delta's stage), partitioned by its columns, replacing what
      * was there.
      */
    def write(df: DataFrame, root: String): Unit = {
      val w = df.write.mode("overwrite")
      (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
        .parquet(dir(root))
    }
    /** Open this sub-directory of `root` — the read-side mirror of
      * [[write]] and the one way a persisted index is read: the
      * relation `spark.read.parquet(dir)` returns, with no Spark job
      * ([[IndexLayout.readDir]]).
      */
    def read(spark: SparkSession, root: String): DataFrame =
      readDir(spark, dir(root))
  }

  /** The geometry sub-directory (`meta/`, one row of layout constants)
    * of the BM25, Hamming and near-dup families — outside their
    * [[IndexLayout]]s (maintenance never touches it), read through
    * [[meta]].
    */
  val Meta: SubDir = SubDir("meta", keyed = false)

  /** The index at `root`'s `meta/` geometry, `decode`d from the
    * relation [[SubDir.read]] opens, once per [[perGeneration]] of the
    * `meta/` dir: a hit costs one listing, a miss only `decode`'s job.
    */
  private[ops] def meta[A](spark: SparkSession, root: String)(
      decode: DataFrame => A): A =
    perGeneration(spark, Seq(Meta.dir(root)))(decode(Meta.read(spark, root)))

  private val generations =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], (String, Any)]()

  /** The generation of the flat directories `dirs`: their driver
    * listings (name, length, mtime of every entry, `-` for a missing
    * dir). Every write into an index directory changes it — a publish
    * renames in new `graft-ups-<key>-*` names, a rewrite also deletes
    * the replaced files, a tombstone append writes new part files, a
    * purge deletes the tombstone dir, and a rebuild writes new part
    * names.
    */
  private def generation(spark: SparkSession, dirs: Seq[String]): String =
    dirs.map { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) s"$d -"
      else (d +: fs.listStatus(p).toSeq
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted).mkString("\n")
    }.mkString("\n")

  /** A value computed from the flat directories `dirs` of an index
    * root, computed once per [[generation]] of those dirs and reused
    * until any of them changes — the index's geometry ([[meta]]) and
    * BM25's live N/avgdl. A hit costs the listings and no Spark job.
    * A value is cached only when the listing is the same before and
    * after `load`, so a write racing the load is never remembered.
    * Scalars only: never rows, never anything keyed on a caller's
    * input.
    */
  private[ops] def perGeneration[A](spark: SparkSession, dirs: Seq[String])(
      load: => A): A = {
    val before = generation(spark, dirs)
    Option(generations.get(dirs)) match {
      case Some((`before`, v)) => v.asInstanceOf[A]
      case _ =>
        val v = load
        if (generation(spark, dirs) == before) generations.put(dirs, (before, v))
        else generations.remove(dirs)
        v
    }
  }

  /** `spark.read.parquet(dir)` without its schema-inference job. Spark
    * infers a directory's schema in a one-task job that reads one data
    * file's footer (the lexicographically first data file, when no
    * summary file exists). Here the driver reads that same footer
    * through Spark's own conversion ([[GraftParquet.footerSchema]]) and
    * opens `spark.read.schema(s).parquet(dir)`: the same relation,
    * partition columns still discovered from directory names, zero
    * jobs. A directory without a data file (missing, empty, or a
    * bootstrapped partitioned index with no partition yet), or one
    * carrying a streaming sink's `_spark_metadata` log (which replaces
    * the listing), opens exactly as `spark.read.parquet` does, failures
    * included. Parquet summary files (`_metadata`, `_common_metadata`)
    * are skipped: no index writer emits them (Spark's default summary
    * level is NONE).
    */
  private[graft] def readDir(spark: SparkSession, dir: String): DataFrame =
    dataSchema(spark, dir) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  /** Explicitly listed data files (non-empty, one layout's schema) opened
    * the [[readDir]] way — Spark's inference touches the first path in
    * sorted order, so that file's footer gives the schema.
    */
  private[graft] def readFiles(
      spark: SparkSession, files: Seq[FileStatus]): DataFrame =
    spark.read.schema(filesSchema(spark, files))
      .parquet(files.map(_.getPath.toString): _*)

  /** The schema Spark's inference gives a read of `files` (non-empty):
    * the footer of the first in path order.
    */
  private[graft] def filesSchema(
      spark: SparkSession, files: Seq[FileStatus]): StructType = {
    require(files.nonEmpty, "filesSchema: no data file")
    GraftParquet.footerSchema(spark, files.minBy(_.getPath.toString))
  }

  /** The schema Spark's inference would return for `dir`, read from the
    * same file's footer on the driver; None when [[readDir]] must defer
    * to `spark.read.parquet` (see there).
    */
  private[graft] def dataSchema(
      spark: SparkSession, dir: String): Option[StructType] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // depth-first over sorted names (a directory sorts as `name/`, so
    // the first file found is the first full path in string order)
    def first(d: Path): Option[FileStatus] =
      fs.listStatus(d).toSeq
        .filter(s => visible(s.getPath.getName))
        .sortBy(s => s.getPath.getName + (if (s.isDirectory) "/" else ""))
        .iterator
        .flatMap(s => if (s.isDirectory) first(s.getPath) else Some(s))
        .nextOption()
    if (!fs.exists(root) || !fs.getFileStatus(root).isDirectory) None
    else if (fs.exists(new Path(root, "_spark_metadata"))) None
    else first(root).map(GraftParquet.footerSchema(spark, _))
  }

  /** Whether a reader's data listing sees `name`: Spark's own listing
    * filter ([[GraftParquet.hiddenName]]: no `_`/`.` prefix unless a
    * `col=value` partition name), minus the parquet summary files,
    * which no index writer emits. The one predicate behind the
    * publish walk, the rewrite listing and the tombstone listing.
    */
  private[graft] def visible(name: String): Boolean =
    !GraftParquet.hiddenName(name) &&
      name != "_metadata" && name != "_common_metadata"

  /** Publish one delta into the live data at `root`, exactly once per
    * `done` marker — the only code that changes what a reader of a
    * live directory sees:
    *
    *   1. STAGE: unless `stage` holds a `_graft_staged` marker, `write`
    *      (re)writes the delta's rows under `stage`, mirroring the
    *      layout under `root`, and the marker lands;
    *   2. PUBLISH: every [[visible]] staged file moves, one checked
    *      atomic rename each, to `<root>/<same relative dir>/graft-ups-
    *      <key>-<staged name>`;
    *   3. `afterPublish` runs (the upsert tombstones superseded rids
    *      here; a rewrite deletes the files it replaced);
    *   4. the `done` marker lands, then the stage is dropped.
    *
    * Returns false, after dropping any leftover stage, when `done`
    * already exists. Re-running the SAME call after a crash at any
    * step converges: a missing marker re-stages from scratch (nothing
    * was published — publishing requires it), and a half-published
    * stage finishes without duplicates, because each target name
    * derives from the staged file's own name and the moved files are
    * gone from the stage. A batch's rows therefore land exactly once,
    * which a direct `mode("append")` followed by a marker cannot
    * promise.
    */
  private[graft] def publish(
      spark: SparkSession,
      root: String,
      stage: Path,
      key: String,
      done: Path,
      afterPublish: () => Unit = () => ())(write: String => Unit)
      : Boolean = {
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(done)) {
      fs.delete(stage, true)
      return false
    }
    val staged = new Path(stage, "_graft_staged")
    if (!fs.exists(staged)) {
      write(stage.toString)
      touch(fs, staged)
    }
    def walk(dir: Path, dest: Path): Unit =
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (!visible(n)) ()
        else if (st.isDirectory) walk(st.getPath, new Path(dest, n))
        else {
          if (!fs.exists(dest) && !fs.mkdirs(dest))
            throw new java.io.IOException(s"publish: cannot create $dest")
          val to = new Path(dest, s"graft-ups-$key-$n")
          if (!fs.exists(to)) {
            if (!fs.rename(st.getPath, to))
              throw new java.io.IOException(
                s"publish: cannot publish ${st.getPath} -> $to")
          } else if (!fs.delete(st.getPath, false))
            throw new java.io.IOException(
              s"publish: $to already published but stale stage file " +
                s"${st.getPath} cannot be deleted")
        }
      }
    walk(stage, new Path(root))
    afterPublish()
    touch(fs, done)
    fs.delete(stage, true)
    true
  }

  /** A one-off append into the live index at `root`: [[publish]] under
    * a fresh key, staged in the index's underscore-hidden
    * `_graft_stage/<key>`. Nobody retries a fresh key, so its done
    * marker lives inside the stage and goes with it; a caller that
    * needs exactly-once across crashes keys its batches itself
    * (the streaming sinks, [[CorpusUpsert.applyBatch]]).
    */
  private[graft] def append(spark: SparkSession, root: String)(
      write: String => Unit): Unit = {
    val key = java.util.UUID.randomUUID().toString
    val stage = new Path(root, s"_graft_stage/$key")
    publish(spark, root, stage, key, new Path(stage, "_graft_done"))(write)
  }

  private[graft] def touch(fs: FileSystem, p: Path): Unit = {
    if (!fs.exists(p.getParent)) fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  private val DefaultTargetBytes: Long = 128L << 20

  /** The `column=<value>` sub-directories of `parent`. */
  private[ops] def partitionDirs(
      fs: FileSystem, parent: Path, column: String): Seq[Path] =
    fs.listStatus(parent).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$column="))
      .map(_.getPath)

  /** `parent/c1=v1/c2=v2/…`. */
  private[ops] def partitionPath(parent: Path, kvs: (String, Any)*): Path =
    kvs.foldLeft(parent) { case (p, (c, v)) => new Path(p, s"$c=$v") }
}
