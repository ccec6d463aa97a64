package graft.streaming

import graft.{FaultyFs, Tables, TestSpark}
import graft.ops.{CorpusUpsert, LexIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StagedPublishCrashSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val docs = Tables.load(spark, TestSpark.Sf001, "documents")
    .select("doc_id", "text")
  private val terms = Seq("vector", "join", "scan")

  /** A BM25 index over the base docs, under the `faulty://` scheme. */
  private def bootstrap(tag: String): String = {
    FaultyFs.install(spark)
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-publish-$tag")
    val root = s"faulty://$tmp/idx"
    LexIndex.bm25WriteIndex(docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", root, buckets = 8)
    root
  }

  private def batch = docs.filter(col("doc_id") % 3 === 1)

  private def append(root: String): Boolean =
    VectorIndexStream.appendBatch(batch, 0L, "doc_id",
      CorpusUpsert.Bm25Target(root, "text"), streamId = "s1")

  /** Doclen totals (N and Σdl) and doclen rows, then probe scores. */
  private def state(root: String) = (
    spark.read.parquet(s"$root/doclen")
      .agg(count(lit(1)), sum("dl")).head().toSeq,
    spark.read.parquet(s"$root/doclen").count(),
    LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)

  /** Totals first, so a double-counted batch fails with a short message. */
  private def assertLikeClean(root: String): Unit = {
    val (got, want) = (state(root), state(clean))
    assert(got._1 === want._1)
    assert(got._2 === want._2)
    assert(got._3 === want._3)
  }

  private lazy val clean: String = {
    val root = bootstrap("clean")
    assert(append(root))
    root
  }

  test("BM25 stream append: a crash after the rows land but before the " +
      "ledger marker counts the batch once on retry") {
    val root = bootstrap("marker")
    FaultyFs.failOnce("create")(_.contains("/_graft_batches/"))
    intercept[java.io.IOException](append(root))
    // the crash window: the batch's rows are already in the index
    assert(spark.read.parquet(s"$root/doclen").count() ===
      state(clean)._2)
    assert(append(root))
    assertLikeClean(root)
    assert(!append(root))
  }

  test("BM25 stream append: a crash mid-publish finishes on retry " +
      "without duplicates") {
    val root = bootstrap("midpub")
    FaultyFs.failOnce("rename")(p =>
      p.contains("/doclen/") && p.contains("graft-ups-"))
    intercept[java.io.IOException](append(root))
    assert(append(root))
    assertLikeClean(root)
  }
}
