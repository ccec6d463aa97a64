package graft.ops

import graft.{Tables, TestSpark}
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.JobCounter
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

  /** One family: its write handle over a root, a build of the base
    * rows into a root, the rows it indexes, and how many directories one
    * id's rows occupy (None when that depends on the document — BM25's
    * touched term buckets). The exact IVF family has no build over given
    * centroids, so its base is the target's own first append.
    */
  private case class Family(
      name: String,
      target: String => CorpusUpsert.IndexTarget,
      build: String => Unit,
      rows: () => DataFrame,
      victimDirs: Option[Int]) {
    def layout: IndexLayout = target("").layout
    def buildAndAppend(root: String): Unit = {
      build(root)
      target(root).append(delta(rows()), "id")
    }
  }

  private val families = Seq(
    Family("ivf", CorpusUpsert.IvfTarget(_, "embedding", cents),
      root => CorpusUpsert.IvfTarget(root, "embedding", cents)
        .append(base(vecs), "id"), () => vecs, Some(1)),
    Family("ivf-pq", CorpusUpsert.PqIvfTarget(_, "embedding", model, cents),
      Pq.pqIvfWriteIndex(base(vecs), "id", "embedding", _, model, cents),
      () => vecs, Some(1)),
    Family("hamming", CorpusUpsert.HammingTarget(_, "embedding"),
      HammingIndex.hammingWriteIndex(base(vecs), "id", "embedding", _,
        nBands = NBands, nBuckets = 4), () => vecs, Some(NBands)),
    Family("neardup", CorpusUpsert.NearDupTarget(_, "text"),
      NearDupIndex.neardupWriteIndex(base(docs), "id", "text", _,
        bands = NBands, nBuckets = 4, nDocBuckets = 4), () => docs,
      Some(NBands + 1)),
    Family("bm25", CorpusUpsert.Bm25Target(_, "text"),
      LexIndex.bm25WriteIndex(base(docs), "id", "text", _, buckets = 8),
      () => docs, None))

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

      f.layout.delete(Seq(Victim).toDF("id"), "id", root)
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

  /** Every sub-directory's rows of `f`'s index at `root`, as sorted JSON. */
  private def readout(f: Family, root: String): Seq[(String, Seq[String])] =
    f.layout.subDirs.map(s =>
      s.name -> s.read(spark, root).toJSON.collect().sorted.toSeq)

  families.foreach { f =>
    test(s"${f.name}: a stream appendBatch, then its redelivery, leaves " +
        "the rows one target.append of the same delta leaves") {
      val (streamed, appended) = (tmp(s"stream-${f.name}"),
        tmp(s"append-${f.name}"))
      Seq(streamed, appended).foreach(f.build)
      val d = delta(f.rows())
      assert(graft.streaming.VectorIndexStream.appendBatch(d, 0L, "id",
        f.target(streamed), streamId = "s"))
      assert(!graft.streaming.VectorIndexStream.appendBatch(d, 0L, "id",
        f.target(streamed), streamId = "s"))
      f.target(appended).append(d, "id")
      assert(readout(f, streamed) === readout(f, appended))
    }
  }

  /** `body`'s result and how many Spark jobs it ran. */
  private def counted[A](body: => A): (A, Int) = {
    val (a, jobs) = JobCounter(spark.sparkContext)(body)
    (a, jobs.size)
  }

  families.foreach { f =>
    test(s"${f.name}: SubDir.read opens every sub-directory with " +
        "spark.read.parquet's schema and no Spark job") {
      val root = tmp(s"read-${f.name}")
      f.buildAndAppend(root)
      f.layout.delete(Seq(Victim).toDF("id"), "id", root)
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val subs = f.layout.subDirs ++
        Seq(IndexLayout.Meta).filter(m => fs.exists(new Path(m.dir(root))))
      for (s <- subs) {
        val want = spark.read.parquet(s.dir(root)).schema
        assert(s.partCols.forall(want.fieldNames.contains), s.dir(root))
        val (got, jobs) = counted(s.read(spark, root).schema)
        assert(jobs === 0, s.dir(root))
        assert(got === want, s.dir(root))
      }
      // the tombstone set: explicit data files, same schema as the dir
      val (got, jobs) = counted(Tombstones.rows(spark, root).get.schema)
      assert(jobs === 0)
      assert(got === spark.read.parquet(Tombstones.dir(root)).schema)
      // the counter sees the inference job the reader avoids
      assert(counted(
        spark.read.parquet(f.layout.subDirs.head.dir(root)))._2 >= 1)
    }
  }

  test("a bootstrapped empty index reads exactly as spark.read.parquet " +
      "reads it, failures included") {
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("id", "embedding")
    val boots = Seq[(IndexLayout, String => Unit)](
      LexIndex.Layout -> (root =>
        LexIndex.bm25WriteIndex(empty, "id", "text", root, buckets = 4)),
      NearDupIndex.Layout -> (root => NearDupIndex.neardupWriteIndex(
        empty, "id", "text", root, nBuckets = 4, nDocBuckets = 4)),
      HammingIndex.Layout -> (root => HammingIndex.hammingWriteIndex(
        emptyVecs, "id", "embedding", root, nBands = 4, nBuckets = 4,
        dim = 64)))
    var failures = 0
    for ((layout, boot) <- boots) {
      val root = tmp(s"boot-${layout.name}")
      boot(root)
      for (s <- layout.subDirs :+ IndexLayout.Meta) {
        val want = Try(spark.read.parquet(s.dir(root)).schema)
        val got = Try(s.read(spark, root).schema)
        assert(got.isSuccess === want.isSuccess, s.dir(root))
        if (want.isSuccess) assert(got.get === want.get, s.dir(root))
        else {
          failures += 1
          assert(got.failed.get.getClass === want.failed.get.getClass)
          assert(got.failed.get.getMessage === want.failed.get.getMessage)
        }
      }
    }
    // the partitioned sub-directories hold no partition yet: those
    // reads fail, as they always did
    assert(failures > 0)
  }
}
