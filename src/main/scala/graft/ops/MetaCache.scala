package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Validated per-JVM cache for persisted-index GEOMETRY reads (the
  * `meta/` dirs of [[LexIndex]]/[[HammingIndex]]/[[NearDupIndex]]):
  * every probe used to pay one Spark job (driver collect of a one-row
  * parquet) just to re-learn a layout constant that cannot change
  * between writes. The cache is NOT trust-on-first-read: each hit
  * re-validates against a fingerprint of the meta directory's file
  * listing (name, length, mtime — one local fs listing, microseconds),
  * so rewriting an index at the same path with different geometry is
  * picked up, and a deleted index drops its entry. Geometry only —
  * never query results, never data keyed on input contents.
  */
object MetaCache {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Any)]()

  private def fingerprint(
      spark: SparkSession, dir: Path): Option[String] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else Some(fs.listStatus(dir)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString("\n"))
  }

  /** The index at `root`'s `meta/` geometry, `decode`d from the
    * relation [[IndexLayout.SubDir.read]] opens — cached as [[cached]]
    * says, so a hit costs one listing and a miss only `decode`'s job.
    */
  def meta[A](spark: SparkSession, root: String)(decode: DataFrame => A): A =
    cached(spark, IndexLayout.Meta.dir(root))(
      decode(IndexLayout.Meta.read(spark, root)))

  /** The cached value for `metaDir` when its listing fingerprint still
    * matches, else `load`s fresh and re-caches. A missing dir always
    * delegates to `load` (which will raise the layout's own error).
    */
  private def cached[A](spark: SparkSession, metaDir: String)(load: => A): A =
    fingerprint(spark, new Path(metaDir)) match {
      case None =>
        cache.remove(metaDir)
        load
      case Some(fp) =>
        Option(cache.get(metaDir)) match {
          case Some((`fp`, v)) => v.asInstanceOf[A]
          case _ =>
            val v = load
            cache.put(metaDir, (fp, v))
            v
        }
    }
}
