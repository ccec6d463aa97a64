package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Shared small-file compaction for append-accumulating parquet
  * directories (the persisted-index maintenance primitive behind
  * [[IndexLayout.compact]]): fold any directory over `maxFilesPerDir`
  * visible files into ⌈bytes / targetBytes⌉ files.
  *
  * Every rewrite of live data — a compaction, a [[Tombstones]] purge
  * (a rewrite whose transform drops tombstoned rows) and the rev-ledger
  * fold ([[CorpusUpsert.compactRevs]]) — goes through
  * [[publishRewrite]]: the one [[IndexLayout.publish]] protocol, with
  * a stage at the fixed path `<root>/_graft_stage/rewrite` that mirrors
  * the root and a manifest of the files the staged rows replace, which
  * the publish deletes after every staged file moved in. Re-running the
  * same call after a crash at any filesystem mutation converges: a
  * stage without its marker is rewritten from scratch (nothing was
  * published), and a marked one is finished — its remaining files
  * moved in, the manifest's files deleted — before anything is listed.
  * Between the publish and the deletes a reader sees a rewritten
  * directory's rows twice (originals and copies), never zero times;
  * like every maintenance pass, a rewrite runs in a quiesced window.
  */
object Compaction {

  /** Compact each directory independently, as its own root; returns
    * dirName → (filesBefore, filesAfter) for the dirs that folded.
    */
  def compactDirs(
      spark: SparkSession,
      dirs: Seq[Path],
      maxFilesPerDir: Int,
      targetBytes: Long,
      opName: String): Map[String, (Int, Int)] =
    dirs.flatMap(d => compact(spark, d.toString, Seq(d), maxFilesPerDir,
      targetBytes, opName)).toMap

  /** Fold every directory of `dirs` (under `root`) holding more than
    * `maxFilesPerDir` visible files, in one [[rewriteDirs]] publish.
    */
  private[ops] def compact(
      spark: SparkSession,
      root: String,
      dirs: => Seq[Path],
      maxFilesPerDir: Int,
      targetBytes: Long,
      opName: String): Map[String, (Int, Int)] = {
    require(maxFilesPerDir >= 1, "maxFilesPerDir must be >= 1")
    rewriteDirs(spark, root, dirs, targetBytes, opName,
      shouldRewrite = _ > maxFilesPerDir, transform = identity)
  }

  /** The generalized pass: rewrite every directory of `dirs` (under
    * `root`, listed once any interrupted rewrite there finished) whose
    * visible file count `shouldRewrite` accepts, through `transform`
    * (row-preserving for compaction, row-dropping for purges), as ONE
    * [[publishRewrite]]. A rewritten dir may end with ZERO visible
    * files (a purge that drops every row); readers of a partitioned
    * root handle an empty partition directory fine. Returns dirName →
    * (filesBefore, filesAfter) for the dirs rewritten.
    *
    * Execution shape: one distributed stage job per base directory (a
    * dir's trailing `col=value` segments are its partition columns,
    * the rest its base — how Spark itself discovers partitions; the
    * BM25 purge rewrites `postings/tb=` dirs and `doclen/`, two jobs),
    * at every directory count: the union of the accepted dirs' reads,
    * `transform`ed, repartitioned to the per-directory file targets and
    * written `partitionBy` the base's partition columns into the stage,
    * where it lands at each dir's own relative path. The publish is
    * file metadata, one rename per staged file and one delete per
    * original. The stage job's exchange carries exactly the affected
    * dirs' surviving bytes and buys back O(dirs) scheduling rounds (a
    * job per directory measured 63 s for a 256-dir Hamming purge).
    *
    * Requirements the callers already meet: every dir holds one
    * layout's files (uniform data schema), and `transform` is a
    * row-wise filter/map that preserves extra columns (the purge
    * anti-join and the compaction identity both do).
    */
  private[ops] def rewriteDirs(
      spark: SparkSession,
      root: String,
      dirs: => Seq[Path],
      targetBytes: Long,
      opName: String,
      shouldRewrite: Int => Boolean,
      transform: DataFrame => DataFrame): Map[String, (Int, Int)] = {
    finishRewrite(spark, root, opName)
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootQ = fs.makeQualified(rootPath)
    // accepted dirs with their visible files (driver metadata listings,
    // pooled — hundreds of dirs list in tens of ms each)
    val accepted: Seq[(Path, Array[FileStatus])] =
      dirPool.mapAll(dirs.map(fs.makeQualified)) { dir =>
        val files = fs.listStatus(dir)
          .filter(s => s.isFile && IndexLayout.visible(s.getPath.getName))
        if (files.isEmpty || !shouldRewrite(files.length)) None
        else Some(dir -> files)
      }.flatten
    if (accepted.isEmpty) return Map.empty

    def rel(dir: Path): String =
      dir.toUri.getPath.stripPrefix(rootQ.toUri.getPath).stripPrefix("/")
    def under(p: Path, rel: String): Path =
      if (rel.isEmpty) p else new Path(p, rel)
    // (base, partition columns) of each accepted dir
    val bases = accepted.zipWithIndex.groupBy { case ((dir, _), _) =>
      val segs = rel(dir).split("/").toSeq.filter(_.nonEmpty)
      val (base, parts) =
        segs.splitAt(segs.lastIndexWhere(!_.contains("=")) + 1)
      (base.mkString("/"), parts.map(_.takeWhile(_ != '=')))
    }.toSeq
    var report = Map.empty[String, (Int, Int)]
    publishRewrite(spark, root, opName) { stage =>
      dirPool.mapAll(bases) { case ((base, partCols), group) =>
        val dataSchema =
          IndexLayout.filesSchema(spark, group.flatMap(_._1._2))
        // partition values read back as the strings in the dir names,
        // so the stage write reproduces every name exactly
        val schema = StructType(dataSchema.fields ++
          partCols.map(StructField(_, StringType)))
        // per-dir file target from the ORIGINAL byte sizes (rewritten
        // bytes are ≤ original for every caller); the write lands
        // ≤ target files per dir via a deterministic row-hash salt
        // over the dir's target domain (SPARK-38388: never rand())
        val targets: Map[Int, Int] = group.map { case ((_, files), i) =>
          i -> math.max(1, math.ceil(
            files.map(_.getLen).sum.toDouble / targetBytes).toInt)
        }.toMap
        // ONE multi-path scan (a per-dir union's analysis cost grows
        // superlinearly in the branch count); the dir ordinal derives
        // from each row's file path
        val ordinal: Map[String, Int] = group.map { case ((dir, _), i) =>
          dir.toUri.getPath -> i
        }.toMap
        val dirTag = udf((fn: String) =>
          ordinal(new Path(fn).getParent.toUri.getPath))
        val rows = transform(
          spark.read.option("basePath", under(rootQ, base).toString)
            .schema(schema)
            .parquet(group.map(_._1._1.toString): _*)
            .withColumn("_graft_dir", dirTag(input_file_name())))
        val targetOf = element_at(
          map(targets.toSeq.flatMap { case (i, t) =>
            Seq(lit(i), lit(t)) }: _*), col("_graft_dir"))
        val salt = pmod(xxhash64(dataSchema.fieldNames.map(col).toIndexedSeq: _*),
          targetOf.cast("long"))
        val nParts = math.max(1, math.min(
          spark.conf.getOption("spark.sql.shuffle.partitions")
            .flatMap(_.toIntOption).getOrElse(200),
          targets.values.map(_.toLong).sum.min(Int.MaxValue.toLong).toInt))
        rows
          .repartition(nParts, col("_graft_dir"), salt)
          .drop("_graft_dir")
          .write.mode("overwrite").partitionBy(partCols: _*)
          .parquet(under(stage, base).toString)
      }
      report = accepted.map { case (dir, files) =>
        val staged = under(stage, rel(dir))
        val after =
          if (!fs.exists(staged)) 0
          else fs.listStatus(staged).count(s =>
            s.isFile && IndexLayout.visible(s.getPath.getName))
        dir.getName -> (files.length, after)
      }.toMap
      accepted.flatMap(_._2.map(_.getPath))
    }
    report
  }

  /** The stage every rewrite under `root` publishes from — a fixed
    * path, so a re-run finds an interrupted rewrite whatever it is
    * about to list.
    */
  private def rewriteStage(root: String): Path =
    new Path(root, "_graft_stage/rewrite")

  /** Replace live data under `root` in one [[IndexLayout.publish]]:
    * `write` stages the replacement rows under the stage it is given,
    * mirroring `root`, and returns the paths (files or directories)
    * they supersede; that list is written as the stage's manifest
    * before its marker, and once every staged file moved in, the
    * publish deletes each listed path that still exists. The caller
    * must have run [[finishRewrite]] before listing what it rewrites.
    */
  private[ops] def publishRewrite(
      spark: SparkSession, root: String, opName: String)(
      write: Path => Seq[Path]): Unit = {
    val stage = rewriteStage(root)
    val manifest = new Path(stage, "_graft_superseded")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def superseded(): Seq[Path] = {
      val in = scala.io.Source.fromInputStream(fs.open(manifest), "UTF-8")
      try in.getLines().filter(_.nonEmpty).map(new Path(_)).toList
      finally in.close()
    }
    IndexLayout.publish(spark, root, stage, "rewrite",
      new Path(stage, "_graft_done"),
      afterPublish = () => dirPool.mapAll(superseded()) { p =>
        if (fs.exists(p) && !fs.delete(p, true))
          throw new java.io.IOException(
            s"$opName: cannot delete superseded $p")
      }) { _ =>
      // an unmarked stage is a crashed write's leftover: start clean
      fs.delete(stage, true)
      val old = write(stage)
      val out = fs.create(manifest, true)
      try out.write(old.mkString("\n").getBytes(UTF_8)) finally out.close()
    }
  }

  /** Finish the rewrite a crash interrupted under `root`, if any: a
    * marked stage publishes its remaining files and deletes what its
    * manifest lists; an unmarked one is dropped.
    */
  private[ops] def finishRewrite(
      spark: SparkSession, root: String, opName: String): Unit = {
    val stage = rewriteStage(root)
    if (stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(stage))
      publishRewrite(spark, root, opName)(_ => Nil)
  }

  /** The per-directory pool — separate from [[CorpusUpsert]]'s, whose
    * maintenance blocks submit here (see [[WorkPool]]).
    */
  private val dirPool = new WorkPool("graft-compact-dir")
}
