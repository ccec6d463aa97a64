package graft.ops

import graft.{FaultyFs, Tables, TestSpark}
import graft.streaming.DriftStream
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Named crash windows of the writes into live data: a rewrite whose
  * move of a rewritten file into the live directory fails (compaction
  * and purge), and a report sink whose ledger marker fails after its
  * rows landed. Each re-runs the same call and must end exactly where
  * a crash-free call ends: no row lost, none counted twice.
  */
class RewriteCrashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def faultyDir(tag: String): String = {
    FaultyFs.install(spark)
    s"faulty://${java.nio.file.Files.createTempDirectory(s"graft-rewrite-$tag")}"
  }

  /** Fail the next rename whose destination sits directly in `dir`
    * (a rewritten file moving into the live directory) and is not a
    * hidden `.old` copy.
    */
  private def failMoveInto(dir: String): Unit =
    FaultyFs.failOnce("rename") { p =>
      val q = new Path(p)
      q.getParent.toUri.getPath == new Path(dir).toUri.getPath &&
        !q.getName.endsWith(".old")
    }

  test("compaction: a failed move into the dir, then a re-run, keeps every row") {
    val dir = s"${faultyDir("compact")}/tbl"
    spark.range(1000).select($"id", ($"id" * 7).as("v"))
      .repartition(6).write.parquet(dir)
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visibleFiles = fs.listStatus(dirPath).count(s =>
      s.isFile && !s.getPath.getName.startsWith(".") &&
        !s.getPath.getName.startsWith("_"))
    assert(visibleFiles === 6)
    def totals = spark.read.schema("id long, v long").parquet(dir)
      .agg(count(lit(1)), coalesce(sum("id"), lit(0L))).head().toSeq
    val want = Seq(1000L, 499500L)
    def compact() = Compaction.compactDirs(spark, Seq(dirPath),
      maxFilesPerDir = 2, targetBytes = 128L << 20, opName = "compact")
    failMoveInto(dir)
    intercept[java.io.IOException](compact())
    assert(totals === want)
    compact()
    assert(totals === want)
    assert(visibleFiles <= 2)
  }

  test("BM25 purge: a failed move into doclen/, then a re-run, drops " +
      "exactly the tombstoned docs") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select("doc_id", "text").filter($"doc_id" < 40).localCheckpoint(true)
    val victims = docs.filter($"doc_id" % 5 === 2).select("doc_id")
    val root = s"${faultyDir("purge")}/idx"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", root, buckets = 2)
    LexIndex.Layout.delete(victims, "doc_id", root)
    val terms = Seq("vector", "join", "scan", "data")
    def scores(idx: String) = LexIndex.bm25ProbeIndex(spark, idx, "doc_id",
      terms).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ref = java.nio.file.Files.createTempDirectory("graft-rewrite-ref")
      .toString + "/idx"
    LexIndex.bm25WriteIndex(docs.join(victims, Seq("doc_id"), "left_anti"),
      "doc_id", "text", ref, buckets = 2)
    failMoveInto(s"$root/doclen")
    intercept[Exception](LexIndex.Layout.purge(spark, root, "doc_id"))
    LexIndex.Layout.purge(spark, root, "doc_id")
    assert(!Tombstones.exists(spark, root))
    assert(spark.read.parquet(s"$root/doclen").count() ===
      spark.read.parquet(s"$ref/doclen").count())
    assert(scores(root) === scores(ref))
  }

  test("drift sink: a failed ledger marker, then a retry, counts the batch once") {
    val old = (1 to 60).map(i => (i * 7 % 500).toDouble).toDF("v")
    val batch = (1 to 40).map(i => (i * 13 % 700).toDouble).toDF("v")
    def monitor(path: String): String = {
      Drift.psiWriteRef(old, "v", binWidth = 100.0, path)
      path
    }
    def report(path: String): Seq[String] =
      Drift.psiFromStats(spark, path).orderBy("bucket").collect()
        .map(_.toString).toSeq
    val clean = monitor(java.nio.file.Files.createTempDirectory(
      "graft-rewrite-drift").toString + "/mon")
    assert(DriftStream.appendBatch(batch, 0L, "v", clean, streamId = "s1"))
    val mon = monitor(s"${faultyDir("drift")}/mon")
    FaultyFs.failOnce("create")(_.contains("/_graft_batches/"))
    intercept[java.io.IOException](
      DriftStream.appendBatch(batch, 0L, "v", mon, streamId = "s1"))
    DriftStream.appendBatch(batch, 0L, "v", mon, streamId = "s1")
    assert(report(mon) === report(clean))
    assert(!DriftStream.appendBatch(batch, 0L, "v", mon, streamId = "s1"))
  }
}
