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
    VectorOps.ivfAppendIndex(keptVecs, "vec_id", "embedding", idxB, cents)
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
    Pq.pqIvfAppendIndex(keptVecs, "vec_id", "embedding", idxB, model, cents)
    val want = rows(probe(idxB))
    assert(rows(probe(idxA)) === want)

    assert(VectorOps.IvfLayout.purge(spark, idxA, "vec_id").nonEmpty)
    assert(!Tombstones.exists(spark, idxA))
    assert(spark.read.parquet(idxA)
      .join(delVecs.select("vec_id"), Seq("vec_id"), "left_semi")
      .count() === 0L)
    assert(rows(probe(idxA)) === want)
  }

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

    LexIndex.bm25DeleteIds(delDocs, "doc_id", idxA)
    val want = scores(idxB)
    assert(scores(idxA) === want)

    // re-delete: no second negative stats row for the same ids
    val statRows = spark.read.parquet(s"$idxA/stats").count()
    LexIndex.bm25DeleteIds(delDocs, "doc_id", idxA)
    assert(spark.read.parquet(s"$idxA/stats").count() === statRows)
    assert(scores(idxA) === want)
    // deleting a never-indexed id adds no stats row either
    LexIndex.bm25DeleteIds(Seq(999999L).toDF("doc_id"), "doc_id", idxA)
    assert(spark.read.parquet(s"$idxA/stats").count() === statRows)

    assert(LexIndex.bm25PurgeIndex(spark, idxA, "doc_id").nonEmpty)
    assert(!Tombstones.exists(spark, idxA))
    assert(spark.read.parquet(s"$idxA/postings")
      .join(delDocs.select("doc_id"), Seq("doc_id"), "left_semi")
      .count() === 0L)
    assert(spark.read.parquet(s"$idxA/doclen")
      .join(delDocs.select("doc_id"), Seq("doc_id"), "left_semi")
      .count() === 0L)
    assert(scores(idxA) === want)

    // the purge left EXACTLY one published negative stats row for this
    // tombstone generation, and stats totals now equal the rebuilt
    // index's (the decrement materialized physically)
    import org.apache.hadoop.fs.Path
    val fs = new Path(idxA).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val negFiles = fs.listStatus(new Path(s"$idxA/stats"))
      .map(_.getPath.getName).filter(_.startsWith("graft-neg-"))
    assert(negFiles.length === 1)
    def statTotals(p: String): (Long, Double) = {
      val r = spark.read.parquet(s"$p/stats")
        .agg(sum("n"), sum("sum_dl")).head()
      (r.getLong(0), r.getDouble(1))
    }
    assert(statTotals(idxA) === statTotals(idxB))

    // re-delete ALREADY-PURGED ids (a retry long after the fact): the
    // second generation's decrement is zero — scores and totals stay
    // put through a full second delete → purge cycle
    LexIndex.bm25DeleteIds(delDocs, "doc_id", idxA)
    assert(scores(idxA) === want)
    LexIndex.bm25PurgeIndex(spark, idxA, "doc_id")
    assert(!Tombstones.exists(spark, idxA))
    assert(scores(idxA) === want)
    assert(statTotals(idxA) === statTotals(idxB))
  }

  test("BM25 purge crash windows: stale stages superseded; mid-rewrite scores exact; publish→clear window excludes the row, refuses new deletes") {
    val root = tmp("lexcrash")
    val idx = s"$root/a"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idx, buckets = 8)
    val delDocs = docs.filter($"doc_id" % 5 === 1)
    LexIndex.bm25DeleteIds(delDocs, "doc_id", idx)
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val idxB = s"$root/b"
    LexIndex.bm25WriteIndex(docs.filter($"doc_id" % 5 =!= 1),
      "doc_id", "text", idxB, buckets = 8)
    def scores(path: String): Map[Long, Double] =
      LexIndex.bm25ProbeIndex(spark, path, "doc_id",
          Seq("vector", "join", "scan"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = scores(idxB)

    // a never-published stage from an older crashed generation is
    // simply superseded (its value is reproducible from the tombstone
    // rows), not a refusal
    fs.mkdirs(new Path(s"$idx/stats/.neg_stage_deadbeefdeadbeef"))

    // snapshot the tombstone files so crashed states can be
    // reconstructed with IDENTICAL file names (→ identical generation
    // key) after a clean purge
    val tombSnapshot = s"$root/tombsnap"
    fs.mkdirs(new Path(tombSnapshot))
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(Tombstones.dir(idx)), fs, new Path(tombSnapshot),
      false, spark.sparkContext.hadoopConfiguration)
    assert(scores(idx) === want) // pre-purge: live decrement
    LexIndex.bm25PurgeIndex(spark, idx, "doc_id")
    assert(!fs.exists(new Path(s"$idx/stats/.neg_stage_deadbeefdeadbeef")))
    assert(scores(idx) === want) // post-purge: physical row
    val negFile = fs.listStatus(new Path(s"$idx/stats"))
      .map(_.getPath).find(_.getName.startsWith("graft-neg-")).get

    // crash window "published but not cleared": restore the tombstone
    // files next to the published graft-neg row. Probes must exclude
    // that row while its generation's tombstones exist — the carried
    // dl decrement and the physical row never both count — and new
    // deletes are refused until the purge is re-run.
    def restoreTombs(): Unit =
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new Path(s"$tombSnapshot/_graft_tombstones"), fs,
        new Path(Tombstones.dir(idx)),
        false, spark.sparkContext.hadoopConfiguration)
    restoreTombs()
    assert(Tombstones.exists(spark, idx))
    assert(scores(idx) === want)
    val ex = intercept[IllegalArgumentException] {
      LexIndex.bm25DeleteIds(docs.filter($"doc_id" % 5 === 2)
        .select("doc_id"), "doc_id", idx)
    }
    assert(ex.getMessage.contains("re-run"))

    // crash window "mid-rewrite": doclen rows already dropped,
    // NOTHING published, tombstones live — drop the neg row from the
    // published state above to construct it. The decrement rides the
    // tombstone rows' carried dl, so probes stay exact even though
    // the tombstoned doclen rows no longer exist.
    assert(fs.delete(negFile, false))
    assert(scores(idx) === want)

    // retrying the purge from THIS state re-stages the identical value
    // from the tombstone rows, publishes, clears; scores stay put
    LexIndex.bm25PurgeIndex(spark, idx, "doc_id")
    assert(!Tombstones.exists(spark, idx))
    assert(scores(idx) === want)
    // compaction refuses while tombstones pend (it would fold the
    // generation-keyed row); runs clean after the purge finished
    LexIndex.bm25DeleteIds(docs.filter($"doc_id" % 5 === 2)
      .select("doc_id"), "doc_id", idx)
    val cex = intercept[IllegalArgumentException] {
      LexIndex.bm25CompactIndex(spark, idx)
    }
    assert(cex.getMessage.contains("tombstones pending"))
  }

  test("bm25RebuildStats refuses while tombstones pend — even after a crashed rewrite dropped tombstoned doclen rows — and rebuilds exactly after the purge completes") {
    val root = tmp("lexrebuild")
    val idx = s"$root/a"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idx, buckets = 8)
    val delDocs = docs.filter($"doc_id" % 5 === 1)
    LexIndex.bm25DeleteIds(delDocs, "doc_id", idx)
    def scores(path: String): Map[Long, Double] =
      LexIndex.bm25ProbeIndex(spark, path, "doc_id",
          Seq("vector", "join", "scan"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val idxB = s"$root/b"
    LexIndex.bm25WriteIndex(docs.filter($"doc_id" % 5 =!= 1),
      "doc_id", "text", idxB, buckets = 8)
    val want = scores(idxB)

    // plain pending-tombstone state: rebuild must refuse
    val ex1 = intercept[IllegalArgumentException] {
      LexIndex.bm25RebuildStats(spark, idx)
    }
    assert(ex1.getMessage.contains("bm25PurgeIndex"))

    // the ADVICE hazard state: a crashed purge already dropped SOME
    // tombstoned doclen rows (simulate the partial rewrite by hand),
    // tombstones still pending. A rebuild from this doclen would
    // exclude the dropped docs from the totals while probes still
    // subtract the full tombstone-carried decrement — refuse here too.
    val doclen = s"$idx/doclen"
    val oneDeleted = delDocs.select($"doc_id").orderBy($"doc_id")
      .head().getLong(0)
    val remaining = spark.read.parquet(doclen)
      .filter($"doc_id" =!= oneDeleted)
      .collect()
    val stageDir = s"$root/doclen_rewrite"
    spark.createDataFrame(
        spark.sparkContext.parallelize(remaining.toIndexedSeq),
        spark.read.parquet(doclen).schema)
      .coalesce(1).write.mode("overwrite").parquet(stageDir)
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(doclen), true))
    assert(fs.rename(new Path(stageDir), new Path(doclen)))
    val ex2 = intercept[IllegalArgumentException] {
      LexIndex.bm25RebuildStats(spark, idx)
    }
    assert(ex2.getMessage.contains("bm25PurgeIndex"))
    // probes stay exact through the crash state (the carried-dl design)
    assert(scores(idx) === want)

    // the documented recovery: purge TO COMPLETION (idempotent across
    // the partial rewrite), then rebuild — stats/ becomes one fresh
    // row and probes still match the rebuilt-without-ids index
    LexIndex.bm25PurgeIndex(spark, idx, "doc_id")
    assert(!Tombstones.exists(spark, idx))
    assert(scores(idx) === want)
    LexIndex.bm25RebuildStats(spark, idx)
    assert(scores(idx) === want)
    // the rebuilt stats row equals the surviving doclen totals exactly
    val st = spark.read.parquet(s"$idx/stats")
      .agg(sum("n"), sum("sum_dl")).head()
    val dl = spark.read.parquet(doclen)
      .agg(count(lit(1)), sum("dl")).head()
    assert(st.getLong(0) === dl.getLong(0))
    assert(st.getDouble(1) === dl.getDouble(1))
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
      0L, "vec_id", "embedding", ivf, cents, streamId = "d1"))

    // BM25 delete stream: ledger prevents the double-negative-stats
    val lex = s"$root/lex"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", lex, buckets = 8)
    val dIds = docs.filter($"doc_id" % 5 === 1).select("doc_id")
    assert(graft.streaming.LexIndexStream.deleteBatch(
      dIds, 7L, "doc_id", lex, streamId = "d2"))
    val statRows = spark.read.parquet(s"$lex/stats").count()
    assert(!graft.streaming.LexIndexStream.deleteBatch(
      dIds, 7L, "doc_id", lex, streamId = "d2"))
    assert(spark.read.parquet(s"$lex/stats").count() === statRows)
  }
}
