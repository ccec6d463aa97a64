package graft

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `faulty://` scheme, for crash tests:
  * every file creation, rename and delete is a MUTATION, and a test
  * can fail one chosen mutation — the next one whose path matches
  * ([[FaultyFs.failOnce]]) or the k-th one from now
  * ([[FaultyFs.failNth]]) — with every mutation before it durable.
  * The failed mutation throws before it touches the disk.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faulty:///")
  override def getScheme: String = "faulty"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable)
      : FSDataOutputStream = {
    FaultyFs.check("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FaultyFs.check("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.check("rename", dst, src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFs.check("delete", f)
    super.delete(f, recursive)
  }
}

object FaultyFs {

  /** One mutation: "create", "rename" or "delete", its path (a
    * rename's destination) and a rename's source (else "").
    */
  final case class Mutation(op: String, path: String, src: String) {
    /** Inside a Spark write's `_temporary/` commit tree: a task's file,
      * a commit's move out of the tree, or the tree's deletion.
      */
    def inCommitTree: Boolean =
      Seq(path, src).exists(p =>
        p.contains("/_temporary/") || p.endsWith("/_temporary"))
  }

  private var armed: Option[(String, String => Boolean)] = None
  private var failAt = 0
  private var log = Vector.empty[Mutation]

  /** Route `faulty://` paths of `spark`'s Hadoop conf here. */
  def install(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)

  /** Fail the next `op` ("create", "rename" or "delete") on a path
    * matching `hit`.
    */
  def failOnce(op: String)(hit: String => Boolean): Unit = synchronized {
    armed = Some(op -> hit)
  }

  /** Start a fresh mutation log and fail the `k`-th mutation from now
    * (1-based; 0 fails none — a counting run).
    */
  def failNth(k: Int): Unit = synchronized {
    failAt = k
    log = Vector.empty
  }

  /** The mutations since the last [[failNth]], the failed one included;
    * disarms a [[failNth]] that has not fired.
    */
  def mutations(): Vector[Mutation] = synchronized {
    failAt = 0
    log
  }

  private def check(op: String, p: Path, src: Path = null): Unit =
    synchronized {
      log :+= Mutation(op, p.toString, Option(src).fold("")(_.toString))
      if (log.size == failAt) {
        failAt = 0
        throw new java.io.IOException(s"injected failure of mutation " +
          s"${log.size} ($op $p)")
      }
      armed.foreach { case (o, hit) =>
        if (o == op && hit(p.toString)) {
          armed = None
          throw new java.io.IOException(s"injected $op failure at $p")
        }
      }
    }
}
