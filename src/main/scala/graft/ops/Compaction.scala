package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared small-file compaction for append-accumulating parquet
  * directories (the persisted-index maintenance primitive behind
  * [[IndexLayout.compact]]):
  * fold any directory over `maxFilesPerDir` visible files into
  * ⌈bytes / targetBytes⌉ files, atomically enough for concurrent
  * READERS — originals are hidden by rename only after the compacted
  * copy is fully written, every rename/delete return code is checked
  * (Hadoop reports most failures by returning false, not throwing),
  * and a mid-flight failure either rolls hidden originals back or
  * leaves them recoverable as `.*.old`, never duplicated next to the
  * compacted copy.
  *
  * The same publish protocol also serves [[Tombstones]] purges via
  * [[rewriteDirs]]: a purge is a compaction whose rewrite drops
  * tombstoned rows, so the crash-safety story is identical — a purge
  * that dies mid-way leaves the tombstone set in place and every
  * original row recoverable, and re-running it is idempotent.
  */
object Compaction {

  /** Compact each directory independently; returns
    * dirName → (filesBefore, filesAfter) for the dirs that folded.
    */
  def compactDirs(
      spark: SparkSession,
      dirs: Seq[Path],
      maxFilesPerDir: Int,
      targetBytes: Long,
      opName: String): Map[String, (Int, Int)] = {
    require(maxFilesPerDir >= 1, "maxFilesPerDir must be >= 1")
    rewriteDirs(spark, dirs, targetBytes, opName,
      shouldRewrite = (_, nFiles) => nFiles > maxFilesPerDir,
      transform = identity)
  }

  /** The generalized pass: rewrite every directory `shouldRewrite`
    * accepts through `transform` (row-preserving for compaction,
    * row-dropping for tombstone purges), behind the checked
    * hide-rename publish protocol described above. The rewritten dir
    * may legitimately end up with ZERO visible files (a purge that
    * drops every row); readers of the parent partitioned root handle
    * an empty partition directory fine.
    *
    * Execution shape: ONE distributed stage job over every accepted
    * directory, at every directory count — the union of their reads,
    * `transform`ed, repartitioned to the per-directory file targets
    * and written `partitionBy` a directory ordinal into a dot-prefixed
    * staging root — then per-directory hide-rename publishes (file
    * METADATA, pooled). The previous shape ran an independent read→write job
    * per directory (bounded 8-wide): correct, but a purge/compaction
    * over a 33–256-dir affected list was 33–256 driver-scheduled jobs
    * whose wall was scheduling, not data (round-17 probe: 63 s for
    * the 256-dir Hamming purge serially, ~9 s pooled; the bulk job
    * rewrites the same dirs in one pass). The trade at scale: the
    * stage job adds one exchange carrying exactly the affected dirs'
    * surviving bytes (the old per-dir `coalesce` moved the same bytes
    * through read+write without a network hop) and buys back O(dirs)
    * scheduling rounds and cross-dir write parallelism; maintenance
    * passes run in a quiesced window either way.
    *
    * Requirements the callers already meet: every dir holds one
    * layout's files (uniform data schema — partition columns live in
    * directory names, not files), and `transform` is a row-wise
    * filter/map that preserves extra columns (the purge anti-join and
    * the compaction identity both do).
    *
    * Crash-safety: the staging root is dot-prefixed (invisible to
    * readers) and rewritten from scratch on every run; each directory
    * publishes through the checked hide → move-in → delete-hidden
    * sequence, so a crash anywhere leaves every original row
    * recoverable and a re-run completes the remaining dirs.
    */
  def rewriteDirs(
      spark: SparkSession,
      dirs: Seq[Path],
      targetBytes: Long,
      opName: String,
      shouldRewrite: (Path, Int) => Boolean,
      transform: DataFrame => DataFrame): Map[String, (Int, Int)] = {
    def visible(p: Path): Boolean =
      !p.getName.startsWith(".") && !p.getName.startsWith("_")
    if (dirs.isEmpty) return Map.empty
    val fs = dirs.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify up front: callers mix listing-derived paths (qualified,
    // `file:/…`) with string-built ones (`/…`), and the common-parent
    // walk below compares ancestor strings
    val qdirs = dirs.map(fs.makeQualified)
    // accepted dirs with their visible files (driver metadata listings,
    // pooled — hundreds of dirs list in tens of ms each)
    val accepted: Seq[(Path, Array[org.apache.hadoop.fs.FileStatus])] =
      dirPool.mapAll(qdirs) { dir =>
        val files = fs.listStatus(dir)
          .filter(s => s.isFile && visible(s.getPath))
        if (files.isEmpty || !shouldRewrite(dir, files.length)) None
        else Some(dir -> files)
      }.flatten
    if (accepted.isEmpty) return Map.empty

    // one staging root under the accepted dirs' common parent —
    // dot-prefixed, so concurrent readers' listings never see it
    val stageRoot = new Path(commonParent(accepted.map(_._1)),
      s".graft_rewrite_tmp")
    fs.delete(stageRoot, true)

    val indexed = accepted.zipWithIndex
    // where dir `i` of schema group `g` stages (the stage job's
    // partitionBy("_graft_dir") lands its rows there)
    def stagedDirOf(g: Int, i: Int): Path =
      IndexLayout.partitionPath(new Path(stageRoot, s"g$g"), "_graft_dir" -> i)
    def targetOfFiles(files: Array[org.apache.hadoop.fs.FileStatus]): Int =
      math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)

    // a caller may pass dirs of SEVERAL sub-layouts in one list (the
    // BM25 purge rewrites postings tb= dirs AND doclen/ together) —
    // group by the Spark schema `spark.read.parquet(dir)` would infer
    // (one footer read per dir on the driver, no job) and run one bulk
    // stage job per schema group, which opens with that schema
    val groups = dirPool.mapAll(indexed) { case ((dir, files), i) =>
      (IndexLayout.filesSchema(spark, files), (dir, files, i))
    }.groupBy(_._1).toSeq.map { case (schema, g) => (schema, g.map(_._2)) }

    dirPool.mapAll(groups.zipWithIndex) { case ((schema, group), gi) =>
      // per-dir file target from the ORIGINAL byte sizes (compacted
      // bytes are ≤ original for both callers); the write lands
      // ≤ target files per dir via a deterministic row-hash salt over
      // the dir's target domain (SPARK-38388: never rand())
      val targets: Map[Int, Int] = group.map { case (_, files, i) =>
        i -> targetOfFiles(files)
      }.toMap
      // ONE multi-path scan (a per-dir union's analysis cost grows
      // superlinearly in the branch count — measured: the 256-dir
      // Hamming purge spent ~15 s planning a 256-branch unionByName);
      // the dir ordinal derives from each row's file path. transform
      // applies once to the tagged scan (row-wise, so it commutes with
      // the read order).
      val byParent: Map[String, Int] = group.map { case (dir, _, i) =>
        dir.toUri.getPath -> i
      }.toMap
      val dirTag = udf((fn: String) =>
        byParent(new Path(fn).getParent.toUri.getPath))
      val unioned = transform(
        spark.read.schema(schema)
          .parquet(group.map(_._1.toString): _*)
          .withColumn("_graft_dir", dirTag(input_file_name())))
      val dataCols = schema.fieldNames.map(col).toIndexedSeq
      val targetOf = element_at(
        map(targets.toSeq.flatMap { case (i, t) =>
          Seq(lit(i), lit(t)) }: _*), col("_graft_dir"))
      val salt = pmod(xxhash64(dataCols: _*), targetOf.cast("long"))
      val nParts = math.max(1, math.min(
        spark.conf.getOption("spark.sql.shuffle.partitions")
          .flatMap(_.toIntOption).getOrElse(200),
        targets.values.map(_.toLong).sum.min(Int.MaxValue.toLong).toInt))
      unioned
        .repartition(nParts, col("_graft_dir"), salt)
        .write.mode("overwrite").partitionBy("_graft_dir")
        .parquet(new Path(stageRoot, s"g$gi").toString)
    }
    val dirGroup: Map[Int, Int] =
      groups.zipWithIndex.flatMap { case ((_, group), gi) =>
        group.map { case (_, _, i) => i -> gi }
      }.toMap

    // per-dir publish: hide originals, move the staged files in,
    // delete the hidden copies — the checked protocol, per directory,
    // exactly as before (a silently failed hide-rename would leave an
    // original visible NEXT TO its compacted copy — duplicated rows —
    // so every step is checked and a hide failure rolls the
    // already-hidden originals back before aborting)
    val report = dirPool.mapAll(accepted.zipWithIndex) {
      case ((dir, files), i) =>
        val stagedDir = stagedDirOf(dirGroup(i), i)
        val compacted =
          if (!fs.exists(stagedDir)) Array.empty[org.apache.hadoop.fs.FileStatus]
          else fs.listStatus(stagedDir)
            .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        def hiddenOf(f: Path) = new Path(dir, "." + f.getName + ".old")
        val hidden = scala.collection.mutable.ArrayBuffer.empty[Path]
        files.foreach { f =>
          if (!fs.rename(f.getPath, hiddenOf(f.getPath))) {
            // the rollback renames can fail the same silent way; report
            // any that did rather than claiming a clean rollback
            val stuck = hidden.filterNot(h => fs.rename(h,
              new Path(dir, h.getName.stripPrefix(".").stripSuffix(".old"))))
            val rolledBack = hidden.length - stuck.length
            val stuckMsg =
              if (stuck.isEmpty) ""
              else s"; ${stuck.length} rollback renames ALSO failed — still " +
                s"hidden (recoverable) as: ${stuck.mkString(", ")}"
            throw new java.io.IOException(
              s"$opName: hide-rename of ${f.getPath} failed; " +
                s"rolled back $rolledBack hidden originals in $dir" + stuckMsg)
          }
          hidden += hiddenOf(f.getPath)
        }
        compacted.foreach { f =>
          if (!fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
            throw new java.io.IOException(
              s"$opName: publish-rename of ${f.getPath} into $dir failed; " +
                "originals remain hidden (.*.old) — every row is " +
                "recoverable but the directory needs manual repair")
        }
        hidden.foreach { h =>
          if (!fs.delete(h, false))
            throw new java.io.IOException(
              s"$opName: could not delete hidden original $h " +
                "(compacted data is live; the leftover is hidden litter, " +
                "not duplication)")
        }
        dir.getName -> (files.length, compacted.length)
    }
    if (!fs.delete(stageRoot, true))
      throw new java.io.IOException(
        s"$opName: could not delete staging root $stageRoot after publish")
    report.toMap
  }

  /** Deepest common ancestor of the given paths (all on one
    * filesystem — the layouts this serves never span stores).
    */
  private def commonParent(paths: Seq[Path]): Path = {
    def ancestors(p: Path): List[String] = {
      var cur = p.getParent
      var acc = List.empty[String]
      while (cur != null) { acc = cur.toString :: acc; cur = cur.getParent }
      acc
    }
    val common = paths.map(ancestors).reduce { (a, b) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1)
    }
    // all callers pass one filesystem's paths (qualified above), so a
    // common ancestor exists; fall back defensively all the same
    if (common.isEmpty) paths.head.getParent else new Path(common.last)
  }

  /** The per-directory pool — separate from [[CorpusUpsert]]'s, whose
    * maintenance blocks submit here (see [[WorkPool]]).
    */
  private val dirPool = new WorkPool("graft-compact-dir")
}
