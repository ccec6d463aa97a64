package graft.ops

import graft.{Tables, TestSpark}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout ↔ writer agreement for every persisted-index family: the
  * directories an [[IndexLayout]] lists are exactly the ones its
  * family's writers fill, and a purge's affected set is exactly the
  * directories holding a tombstoned id's rows. The compaction and purge
  * behaviour itself is pinned per family (TombstoneSpec,
  * NearDupIndexSpec, PqSpec, LexIndexSpec, SimilaritySpec).
  */
class IndexLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-layout-$tag").toString

  private lazy val docs: DataFrame =
    Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id".as("id"), $"text")
      .filter($"id" < 100).localCheckpoint(true)
  private lazy val vecs: DataFrame =
    Tables.load(spark, TestSpark.Sf001, "embeddings")
      .select($"vec_id".as("id"), $"embedding")
      .filter($"id" < 100).localCheckpoint(true)
  private def base(df: DataFrame) = df.filter($"id" < 60)
  private def delta(df: DataFrame) = df.filter($"id" >= 60)
  private lazy val cents = VectorOps.kmeansCentroids(vecs, "embedding", 4)
  private lazy val model = Pq.pqTrain(vecs, "embedding", m = 8, codebook = 8)

  private val Victim = 65L
  private val NBands = 8

  /** One family: its layout, a build + one append into `root`, its
    * delete, and how many directories one id's rows occupy (None when
    * that depends on the document — BM25's touched term buckets).
    */
  private case class Family(
      name: String,
      layout: IndexLayout,
      buildAndAppend: String => Unit,
      delete: (DataFrame, String) => Unit,
      victimDirs: Option[Int])

  private val families = Seq(
    Family("ivf", VectorOps.IvfLayout, root => {
      val c = VectorOps.ivfWriteIndex(base(vecs), "id", "embedding", root,
        nCentroids = 4)
      VectorOps.ivfAppendIndex(delta(vecs), "id", "embedding", root, c)
    }, (ids, root) => VectorOps.IvfLayout.delete(ids, "id", root), Some(1)),
    Family("ivf-pq", VectorOps.IvfLayout, root => {
      Pq.pqIvfWriteIndex(base(vecs), "id", "embedding", root, model, cents)
      Pq.pqIvfAppendIndex(delta(vecs), "id", "embedding", root, model, cents)
    }, (ids, root) => VectorOps.IvfLayout.delete(ids, "id", root), Some(1)),
    Family("hamming", HammingIndex.Layout, root => {
      HammingIndex.hammingWriteIndex(base(vecs), "id", "embedding", root,
        nBands = NBands, nBuckets = 4)
      HammingIndex.hammingAppendIndex(delta(vecs), "id", "embedding", root)
    }, (ids, root) => HammingIndex.Layout.delete(ids, "id", root),
      Some(NBands)),
    Family("neardup", NearDupIndex.Layout, root => {
      NearDupIndex.neardupWriteIndex(base(docs), "id", "text", root,
        bands = NBands, nBuckets = 4, nDocBuckets = 4)
      NearDupIndex.neardupAppendIndex(delta(docs), "id", "text", root)
    }, (ids, root) => NearDupIndex.Layout.delete(ids, "id", root),
      Some(NBands + 1)),
    Family("bm25", LexIndex.Layout, root => {
      LexIndex.bm25WriteIndex(base(docs), "id", "text", root, buckets = 8)
      LexIndex.bm25AppendIndex(delta(docs), "id", "text", root)
    }, (ids, root) => LexIndex.bm25DeleteIds(ids, "id", root), None))

  private def key(p: Path): String = p.toUri.getPath.stripSuffix("/")

  /** Every directory under `root` holding a visible data file, except
    * the geometry (`meta/`) and hidden (`_`/`.`) subtrees.
    */
  private def dataDirs(root: String): Set[String] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    def walk(dir: Path): Seq[String] = {
      val (subs, files) = fs.listStatus(dir).toSeq.partition(_.isDirectory)
      val here =
        if (files.exists(f => !hidden(f.getPath.getName))) Seq(key(dir))
        else Nil
      here ++ subs.map(_.getPath)
        .filterNot(p => hidden(p.getName) || p.getName == "meta")
        .flatMap(walk)
    }
    walk(new Path(root)).toSet
  }

  families.foreach { f =>
    test(s"${f.name}: leafDirs are the written dirs; a tombstone's " +
        "affected dirs are the ones holding its rows") {
      val root = tmp(f.name)
      f.buildAndAppend(root)
      val written = dataDirs(root)
      assert(written.nonEmpty)
      assert(f.layout.leafDirs(spark, root).map(key).toSet === written)

      f.delete(Seq(Victim).toDF("id"), root)
      val holding = written.filter { d =>
        val rows = spark.read.parquet(d)
        rows.columns.contains("id") &&
          !rows.filter(col("id") === Victim).isEmpty
      }
      f.victimDirs.foreach(n => assert(holding.size === n))
      if (f.layout == LexIndex.Layout)
        assert(holding.exists(_.endsWith("/doclen")) &&
          holding.size >= 2)
      val tombs = Tombstones.ids(spark, root, "id").get
      assert(f.layout.affectedDirs(spark, root, "id", tombs).map(key).toSet
        === holding)
    }
  }
}
