package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delete/tombstone lifecycle across the persisted-index family: for
  * every layout (exact IVF, IVF-PQ, BM25, Hamming/MIH), delete →
  * probe must equal a rebuild without the ids BIT-IDENTICALLY, purge
  * must physically remove the rows and clear the tombstone set while
  * leaving probes unchanged, and re-deleting must be idempotent.
  * Streaming delete batches ride the same redelivery ledger as
  * appends, in their own namespace.
  */
class TombstoneSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-tomb-$tag").toString

  private lazy val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
    .select($"vec_id", $"embedding")
  private lazy val docs = Tables.load(spark, TestSpark.Sf001, "documents")
    .select($"doc_id", $"text")

  // deterministic takedown set: ~1/7 of ids
  private def delVecs: DataFrame = embs.filter($"vec_id" % 7 === 3)
  private def keptVecs: DataFrame = embs.filter($"vec_id" % 7 =!= 3)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("IVF: delete → probe ≡ rebuild without the ids; purge drops rows, clears tombstones, keeps probes") {
    val root = tmp("ivf")
    val (idxA, idxB) = (s"$root/a", s"$root/b")
    val cents = VectorOps.ivfWriteIndex(embs, "vec_id", "embedding", idxA,
      nCentroids = 8, kmeansIters = 3)
    val query = embs.filter($"vec_id" === 2L)
      .select(VectorOps.toDoubleVec($"embedding")).head().getSeq[Double](0)
    def probe(path: String) = VectorOps.ivfProbeIndex(
      spark, path, cents, "vec_id", query, k = 12, nProbe = 4)

    val before = rows(probe(idxA))
    VectorOps.IvfLayout.delete(delVecs, "vec_id", idxA)
    // the reference: same centroids over the surviving corpus only
    CorpusUpsert.IvfTarget(idxB, "embedding", cents).append(keptVecs,
      "vec_id")
    val want = rows(probe(idxB))
    assert(rows(probe(idxA)) === want)
    assert(before !== want) // the takedown set actually hit the top-k
    // open-index helper excludes too
    assert(VectorOps.ivfOpenIndex(spark, idxA, "vec_id")
      .join(delVecs.select("vec_id"), Seq("vec_id"), "left_semi")
      .count() === 0L)

    val report = VectorOps.IvfLayout.purge(spark, idxA, "vec_id")
    assert(report.nonEmpty)
    assert(!Tombstones.exists(spark, idxA))
    assert(spark.read.parquet(idxA)
      .join(delVecs.select("vec_id"), Seq("vec_id"), "left_semi")
      .count() === 0L)
    assert(rows(probe(idxA)) === want)
    // purge with no tombstones is a no-op
    assert(VectorOps.IvfLayout.purge(spark, idxA, "vec_id").isEmpty)
  }

  test("IVF-PQ: delete → probe ≡ rebuild without the ids; purge is physical and probe-stable") {
    val root = tmp("pq")
    val (idxA, idxB) = (s"$root/a", s"$root/b")
    val model = Pq.pqTrain(embs, "embedding", m = 4, codebook = 16, iters = 3)
    val cents = VectorOps.kmeansCentroids(embs, "embedding", 8, 3)
    Pq.pqIvfWriteIndex(embs, "vec_id", "embedding", idxA, model, cents)
    val query = embs.filter($"vec_id" === 5L)
      .select(VectorOps.toDoubleVec($"embedding")).head().getSeq[Double](0)
    def probe(path: String) = Pq.pqIvfProbe(
      spark, path, model, cents, "vec_id", query, k = 10, nProbe = 4)

    VectorOps.IvfLayout.delete(delVecs, "vec_id", idxA)
    CorpusUpsert.PqIvfTarget(idxB, "embedding", model, cents).append(keptVecs,
      "vec_id")
    val want = rows(probe(idxB))
    assert(rows(probe(idxA)) === want)

    assert(VectorOps.IvfLayout.purge(spark, idxA, "vec_id").nonEmpty)
    assert(!Tombstones.exists(spark, idxA))
    assert(spark.read.parquet(idxA)
      .join(delVecs.select("vec_id"), Seq("vec_id"), "left_semi")
      .count() === 0L)
    assert(rows(probe(idxA)) === want)
  }

  private def bm25Scores(path: String): Map[Long, Double] =
    LexIndex.bm25ProbeIndex(spark, path, "doc_id", Seq("vector", "join", "scan"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** A fresh BM25 index over `corpus` under `path`: the reference a
    * lifecycle state must probe identically to.
    */
  private def bm25Rebuild(corpus: DataFrame, path: String): Map[Long, Double] = {
    LexIndex.bm25WriteIndex(corpus, "doc_id", "text", path, buckets = 8)
    bm25Scores(path)
  }

  /** (N, Σdl) over the index's `doclen/`: the corpus statistics. */
  private def doclenTotals(path: String): (Long, Double) = {
    val r = spark.read.parquet(s"$path/doclen")
      .agg(count(lit(1)), sum("dl")).head()
    (r.getLong(0), r.getDouble(1))
  }

  private def hasRows(dir: String, ids: DataFrame): Boolean =
    !spark.read.parquet(dir)
      .join(ids.select("doc_id"), Seq("doc_id"), "left_semi").isEmpty

  test("BM25: delete ≡ rebuild without the ids bit-identically (incl. N/avgdl); double-delete idempotent; purge physical") {
    val root = tmp("lex")
    val (idxA, idxB) = (s"$root/a", s"$root/b")
    val terms = Seq("vector", "join", "scan")
    val delDocs = docs.filter($"doc_id" % 5 === 1)
    val keptDocs = docs.filter($"doc_id" % 5 =!= 1)
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idxA, buckets = 16)
    LexIndex.bm25WriteIndex(keptDocs, "doc_id", "text", idxB, buckets = 16)
    def scores(path: String): Map[Long, Double] =
      LexIndex.bm25ProbeIndex(spark, path, "doc_id", terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    LexIndex.Layout.delete(delDocs, "doc_id", idxA)
    val want = scores(idxB)
    assert(scores(idxA) === want)

    // re-delete and deleting a never-indexed id change no score
    LexIndex.Layout.delete(delDocs, "doc_id", idxA)
    assert(scores(idxA) === want)
    LexIndex.Layout.delete(Seq(999999L).toDF("doc_id"), "doc_id", idxA)
    assert(scores(idxA) === want)

    assert(LexIndex.Layout.purge(spark, idxA, "doc_id").nonEmpty)
    assert(!Tombstones.exists(spark, idxA))
    assert(!hasRows(s"$idxA/postings", delDocs))
    assert(!hasRows(s"$idxA/doclen", delDocs))
    assert(scores(idxA) === want)
    // the corpus statistics are the surviving doclen rows: equal to the
    // rebuilt index's
    assert(doclenTotals(idxA) === doclenTotals(idxB))

    // re-delete ALREADY-PURGED ids (a retry long after the fact):
    // scores and totals stay put through a full second delete → purge
    LexIndex.Layout.delete(delDocs, "doc_id", idxA)
    assert(scores(idxA) === want)
    LexIndex.Layout.purge(spark, idxA, "doc_id")
    assert(!Tombstones.exists(spark, idxA))
    assert(scores(idxA) === want)
    assert(doclenTotals(idxA) === doclenTotals(idxB))
  }

  test("BM25 purge crash windows: probes exact, deletes accepted, purge converges") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = tmp("lexcrash")
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val del1 = docs.filter($"doc_id" % 5 === 1)
    val del2 = docs.filter($"doc_id" % 5 === 2)
    val want1 = bm25Rebuild(docs.filter($"doc_id" % 5 =!= 1), s"$root/ref1")
    val want2 = bm25Rebuild(
      docs.filter($"doc_id" % 5 =!= 1 && $"doc_id" % 5 =!= 2), s"$root/ref2")
    assert(want1 !== want2) // the second set actually moves the scores

    /** Both crash states continue the same way: a delete inside the
      * window is accepted and counts at once, and re-running the purge
      * converges to a physically clean index.
      */
    def deleteInWindowThenRepurge(idx: String): Unit = {
      LexIndex.Layout.delete(del2, "doc_id", idx)
      assert(bm25Scores(idx) === want2)
      LexIndex.Layout.purge(spark, idx, "doc_id")
      assert(!Tombstones.exists(spark, idx))
      assert(bm25Scores(idx) === want2)
      for (d <- Seq(del1, del2); sub <- Seq("postings", "doclen"))
        assert(!hasRows(s"$idx/$sub", d), s"$sub still holds deleted rows")
      assert(doclenTotals(idx) === doclenTotals(s"$root/ref2"))
      // a further re-run finds nothing to do
      assert(LexIndex.Layout.purge(spark, idx, "doc_id").isEmpty)
      assert(bm25Scores(idx) === want2)
    }

    // "rewrite done, tombstones not cleared": a clean purge, then the
    // tombstone files it cleared restored from a snapshot
    val done = s"$root/done"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", done, buckets = 8)
    LexIndex.Layout.delete(del1, "doc_id", done)
    val snap = s"$root/tombsnap"
    assert(FileUtil.copy(fs, new Path(Tombstones.dir(done)), fs,
      new Path(snap), false, conf))
    assert(bm25Scores(done) === want1)
    LexIndex.Layout.purge(spark, done, "doc_id")
    assert(!Tombstones.exists(spark, done))
    assert(FileUtil.copy(fs, new Path(snap), fs,
      new Path(Tombstones.dir(done)), false, conf))
    assert(Tombstones.exists(spark, done))
    assert(bm25Scores(done) === want1)
    deleteInWindowThenRepurge(done)

    // "mid-rewrite": the tombstoned doclen rows already dropped, the
    // postings not yet rewritten, tombstones live
    val mid = s"$root/mid"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", mid, buckets = 8)
    LexIndex.Layout.delete(del1, "doc_id", mid)
    val kept = spark.read.parquet(s"$mid/doclen")
      .join(del1.select("doc_id"), Seq("doc_id"), "left_anti")
    kept.coalesce(1).write.parquet(s"$root/doclen_rewrite")
    assert(fs.delete(new Path(s"$mid/doclen"), true))
    assert(fs.rename(new Path(s"$root/doclen_rewrite"), new Path(s"$mid/doclen")))
    assert(!hasRows(s"$mid/doclen", del1) && hasRows(s"$mid/postings", del1))
    assert(bm25Scores(mid) === want1)
    deleteInWindowThenRepurge(mid)
  }

  test("BM25 indexes in the stats/ layout: probe, delete, purge, compact") {
    import org.apache.hadoop.fs.Path
    val root = tmp("lexlegacy")
    val idx = s"$root/idx"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val del1 = docs.filter($"doc_id" % 5 === 1)
    val del2 = docs.filter($"doc_id" % 5 === 2)
    val want1 = bm25Rebuild(docs.filter($"doc_id" % 5 =!= 1), s"$root/ref1")
    val want2 = bm25Rebuild(
      docs.filter($"doc_id" % 5 =!= 1 && $"doc_id" % 5 =!= 2), s"$root/ref2")
    // the older layout, by hand: postings/doclen/meta as written today,
    // plus a `stats/` directory of additive (n, sum_dl) rows with a
    // published `graft-neg-<key>` row (values nothing must read), and
    // tombstone files carrying (doc_id, dl)
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idx, buckets = 8)
    val doclen = spark.read.parquet(s"$idx/doclen")
    doclen.agg(count(lit(1)).as("n"), sum("dl").as("sum_dl"))
      .write.parquet(s"$idx/stats")
    Seq((-3L, -42.0)).toDF("n", "sum_dl").coalesce(1)
      .write.parquet(s"$root/neg")
    val negPart = fs.listStatus(new Path(s"$root/neg")).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    assert(fs.rename(negPart,
      new Path(s"$idx/stats/graft-neg-00112233deadbeef.parquet")))
    doclen.join(del1.select("doc_id"), Seq("doc_id"))
      .select("doc_id", "dl").coalesce(1)
      .write.parquet(Tombstones.dir(idx))
    assert(bm25Scores(idx) === want1)

    // an id-only delete lands next to the (doc_id, dl) file; the
    // tombstone set reads the same whichever schema sorts first
    val tombDir = new Path(Tombstones.dir(idx))
    def dataFiles = fs.listStatus(tombDir).map(_.getPath)
      .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
    val Array(dlFile) = dataFiles
    LexIndex.Layout.delete(del2, "doc_id", idx)
    assert(dataFiles.length >= 2)
    val first = new Path(tombDir, "0-legacy.parquet")
    val last = new Path(tombDir, "z-legacy.parquet")
    assert(fs.rename(dlFile, first))
    assert(bm25Scores(idx) === want2)
    assert(fs.rename(first, last))
    assert(bm25Scores(idx) === want2)

    // the purge rewrites postings/doclen only (small files, so the
    // compaction below has litter to fold) and leaves stats/ alone
    val purged = LexIndex.Layout.purge(spark, idx, "doc_id",
      targetBytes = 512)
    assert(purged.nonEmpty && !purged.keys.exists(_.contains("stats")))
    assert(!Tombstones.exists(spark, idx))
    assert(bm25Scores(idx) === want2)
    val compacted = LexIndex.Layout.compact(spark, idx, maxFilesPerDir = 1)
    assert(compacted.nonEmpty && !compacted.keys.exists(_.contains("stats")))
    assert(bm25Scores(idx) === want2)
    assert(doclenTotals(idx) === doclenTotals(s"$root/ref2"))
  }

  test("Hamming: delete → probe ≡ rebuild without the ids; deleted ids still usable as queries; purge physical") {
    val root = tmp("ham")
    val (idxA, idxB) = (s"$root/a", s"$root/b")
    HammingIndex.hammingWriteIndex(embs, "vec_id", "embedding", idxA,
      nBands = 8, nBuckets = 16)
    HammingIndex.hammingWriteIndex(keptVecs, "vec_id", "embedding", idxB,
      nBands = 8, nBuckets = 16)
    def probe(path: String): Set[(Long, Long, Long)] =
      HammingIndex.hammingProbeIndex(spark, embs, "vec_id", "embedding",
          path, radius = 15)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    HammingIndex.Layout.delete(delVecs, "vec_id", idxA)
    val want = probe(idxB) // full corpus queries, surviving index side
    assert(probe(idxA) === want)
    // deleted ids appear as q_id (still askable), never as n_id
    assert(want.exists { case (q, _, _) => q % 7 == 3 })
    assert(!probe(idxA).exists { case (_, n, _) => n % 7 == 3 })

    assert(HammingIndex.Layout.purge(spark, idxA, "vec_id").nonEmpty)
    assert(!Tombstones.exists(spark, idxA))
    assert(spark.read.parquet(s"$idxA/bands")
      .join(delVecs.select("vec_id"), Seq("vec_id"), "left_semi")
      .count() === 0L)
    assert(probe(idxA) === want)
  }

  test("semDedupDeltaIndexed: a tombstoned base row no longer suppresses its near-duplicates") {
    val root = tmp("dedup")
    val idx = s"$root/idx"
    val cents = VectorOps.ivfWriteIndex(embs, "vec_id", "embedding", idx,
      nCentroids = 4, kmeansIters = 3)
    // the delta IS a kept base vector: suppressed while indexed…
    val delta = embs.filter($"vec_id" === 3L)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    assert(VectorOps.semDedupDeltaIndexed(delta, "vec_id", "embedding",
      threshold = 0.99, idx, cents).count() === 0L)
    // …and admitted once the base twin is taken down
    VectorOps.IvfLayout.delete(embs.filter($"vec_id" === 3L), "vec_id", idx)
    assert(VectorOps.semDedupDeltaIndexed(delta, "vec_id", "embedding",
      threshold = 0.99, idx, cents).count() === 1L)
  }

  test("streaming delete batches: ledgered redelivery no-ops, namespaced apart from appends") {
    val root = tmp("stream")
    // tombstone-only layouts share VectorIndexStream.deleteBatch
    val ivf = s"$root/ivf"
    val cents = VectorOps.ivfWriteIndex(embs, "vec_id", "embedding", ivf,
      nCentroids = 4, kmeansIters = 2)
    val ids = delVecs.select("vec_id")
    assert(graft.streaming.VectorIndexStream.deleteBatch(
      ids, 0L, "vec_id", ivf, streamId = "d1"))
    val nTomb = spark.read.parquet(s"$ivf/_graft_tombstones").count()
    assert(nTomb > 0L)
    // redelivery of the same (stream, batch) is a no-op
    assert(!graft.streaming.VectorIndexStream.deleteBatch(
      ids, 0L, "vec_id", ivf, streamId = "d1"))
    assert(spark.read.parquet(s"$ivf/_graft_tombstones").count() === nTomb)
    // an APPEND with the same streamId + batchId still applies: the
    // delete ledger is namespaced, not shared
    assert(graft.streaming.VectorIndexStream.appendBatch(
      embs.filter($"vec_id" === 0L).select(($"vec_id" + 20000L).as("vec_id"),
        $"embedding"),
      0L, "vec_id", CorpusUpsert.IvfTarget(ivf, "embedding", cents),
      streamId = "d1"))

    // a BM25 index takes the same delete stream; a redelivered batch
    // adds no tombstone file, and probes equal a rebuild without the ids
    val lex = s"$root/lex"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", lex, buckets = 8)
    val dIds = docs.filter($"doc_id" % 5 === 1).select("doc_id")
    assert(graft.streaming.VectorIndexStream.deleteBatch(
      dIds, 7L, "doc_id", lex, streamId = "d2"))
    val nLexTomb = spark.read.parquet(s"$lex/_graft_tombstones").count()
    assert(!graft.streaming.VectorIndexStream.deleteBatch(
      dIds, 7L, "doc_id", lex, streamId = "d2"))
    assert(spark.read.parquet(s"$lex/_graft_tombstones").count() === nLexTomb)
    assert(bm25Scores(lex) ===
      bm25Rebuild(docs.filter($"doc_id" % 5 =!= 1), s"$root/lexref"))
  }
}
