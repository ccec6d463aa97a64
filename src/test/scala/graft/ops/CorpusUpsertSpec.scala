package graft.ops

import graft.{Tables, TestSpark}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Coordinated corpus upsert ([[CorpusUpsert]]) across all four
  * persisted index layouts: final state ≡ a from-scratch build over
  * the revised corpus (bit-identical probes), redelivery is a no-op,
  * every crash window of the stage→publish→tombstone→marker protocol
  * recovers by re-running the same call, rev assignment is stable
  * under retries, and the downstream maintenance lifecycle (purge)
  * composes unchanged.
  */
class CorpusUpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ups-$tag").toString

  private val Rid = CorpusUpsert.RidCol

  // 100-doc corpus with text + embedding payloads
  private lazy val corpus0: DataFrame = {
    val d = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val e = Tables.load(spark, TestSpark.Sf001, "embeddings")
      .select($"vec_id".as("doc_id"), $"embedding")
    d.join(e, Seq("doc_id")).filter($"doc_id" < 100).localCheckpoint(true)
  }
  // revision batch: every third doc gets new text + negated embedding
  private lazy val revised: DataFrame = corpus0
    .filter($"doc_id" % 3 === 1)
    .select($"doc_id", concat($"text", lit(" upsrev")).as("text"),
      transform($"embedding", x => -x).as("embedding"))
    .localCheckpoint(true)
  // the corpus a clean rebuild should match, keyed (doc, rev)
  private lazy val finalCorpus: DataFrame = corpus0
    .filter($"doc_id" % 3 =!= 1).withColumn("rev", lit(0))
    .unionByName(revised.withColumn("rev", lit(1)))
    .withColumn(Rid, CorpusUpsert.ridExpr($"doc_id", $"rev"))
    .localCheckpoint(true)

  private lazy val cents =
    VectorOps.kmeansCentroids(corpus0, "embedding", 4)
  private lazy val model =
    Pq.pqTrain(corpus0, "embedding", m = 8, codebook = 8)
  private lazy val query: Seq[Double] = corpus0.filter($"doc_id" === 0)
    .select(transform($"embedding", x => x.cast("double")).as("v"))
    .head().getSeq[Double](0)

  private case class Roots(root: String) {
    val ups = s"$root/ups"
    val bm25 = s"$root/bm25"
    val ivf = s"$root/ivf"
    val pq = s"$root/pq"
    val ham = s"$root/ham"
    def targets: Seq[CorpusUpsert.IndexTarget] = Seq(
      CorpusUpsert.Bm25Target(bm25, "text"),
      CorpusUpsert.IvfTarget(ivf, "embedding", cents),
      CorpusUpsert.PqIvfTarget(pq, "embedding", model, cents),
      CorpusUpsert.HammingTarget(ham, "embedding"))
    def bootstrap(): Roots = {
      LexIndex.bm25WriteIndex(
        corpus0.select($"doc_id".as(Rid), $"text").limit(0),
        Rid, "text", bm25, buckets = 8)
      HammingIndex.hammingWriteIndex(
        corpus0.select($"doc_id".as(Rid), $"embedding").limit(0),
        Rid, "embedding", ham, nBands = 8, nBuckets = 8, dim = 64)
      this
    }
  }

  private def probeAll(r: Roots): Seq[Seq[Seq[Any]]] = Seq(
    LexIndex.bm25ProbeIndex(spark, r.bm25, Rid, Seq("vector", "scan"))
      .orderBy(Rid).collect().toSeq.map(_.toSeq),
    VectorOps.ivfProbeIndex(spark, r.ivf, cents, Rid, query, 15,
      nProbe = cents.length).collect().toSeq.map(_.toSeq),
    Pq.pqIvfProbe(spark, r.pq, model, cents, Rid, query, 15,
      nProbe = cents.length, overFetch = 50).collect().toSeq.map(_.toSeq),
    HammingIndex.hammingProbeIndex(spark,
        corpus0.select($"doc_id".as(Rid), $"embedding"), Rid, "embedding",
        r.ham, radius = 15)
      .orderBy("q_id", "n_id").collect().toSeq.map(_.toSeq))

  /** The reference: every layout built from scratch over the revised
    * corpus under the SAME frozen geometry.
    */
  private lazy val rebuilt: Roots = {
    val r = Roots(tmp("rebuild"))
    val fc = finalCorpus
    LexIndex.bm25WriteIndex(fc, Rid, "text", r.bm25, buckets = 8)
    HammingIndex.hammingWriteIndex(fc, Rid, "embedding", r.ham,
      nBands = 8, nBuckets = 8, dim = 64)
    VectorOps.ivfWriteDelta(fc, Rid, "embedding", r.ivf, r.ivf, cents)
    Pq.pqIvfWriteDelta(fc, Rid, "embedding", r.pq, r.pq, model, cents)
    r
  }
  private lazy val rebuiltProbes = probeAll(rebuilt)

  /** One cleanly-applied upsert root (base + revision), shared by the
    * read-only assertions.
    */
  private lazy val applied: Roots = {
    val r = Roots(tmp("clean")).bootstrap()
    val rep0 = CorpusUpsert.applyBatch(corpus0, "doc_id", "base", r.ups,
      r.targets)
    assert(!rep0.alreadyApplied && rep0.nDocs === 100 &&
      rep0.nInserts === 100 && rep0.nUpdates === 0)
    val rep1 = CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups,
      r.targets)
    assert(!rep1.alreadyApplied && rep1.nUpdates === rep1.nDocs &&
      rep1.nInserts === 0)
    r
  }

  test("upsert ≡ from-scratch rebuild over the revised corpus, all four layouts") {
    assert(probeAll(applied) === rebuiltProbes)
    // the co-partitioned stage writes keep litter layout-bounded: at
    // most one published file per touched (band, bb) dir per batch
    val bands = new Path(s"${applied.ham}/bands")
    val fs = bands.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: Path): Int = fs.listStatus(p).map { s =>
      if (s.isDirectory) files(s.getPath)
      else if (!s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith(".")) 1 else 0
    }.sum
    assert(files(bands) <= 8 * 8 * 2,
      s"band litter exceeded one file per dir per batch: ${files(bands)}")
  }

  test("probes surface only the new revision; decode recovers (doc, rev)") {
    val bm = CorpusUpsert.withDocRev(
      LexIndex.bm25ProbeIndex(spark, applied.bm25, Rid,
        Seq("upsrev")), Rid)
    // 'upsrev' appears exactly in the revised docs' new revision
    assert(bm.filter($"rev" =!= 1).count() === 0)
    assert(bm.select("doc_id").collect().map(_.getLong(0)).toSet ===
      revised.select("doc_id").collect().map(_.getLong(0)).toSet)
    val perDoc = CorpusUpsert.withDocRev(
      spark.read.parquet(s"${applied.ivf}")
        .join(Tombstones.ids(spark, applied.ivf, Rid).get, Seq(Rid),
          "left_anti"), Rid)
      .groupBy("doc_id").agg(countDistinct("rev").as("n"),
        max("rev").as("mx"))
    assert(perDoc.filter($"n" =!= 1).count() === 0)
    assert(perDoc.filter($"mx" === 1).count() === revised.count())
  }

  test("redelivery of a done batch is a no-op (markers short-circuit)") {
    val before = probeAll(applied)
    val rowsBefore = spark.read.parquet(s"${applied.ham}/bands").count()
    val rep = CorpusUpsert.applyBatch(revised, "doc_id", "rev1",
      applied.ups, applied.targets)
    assert(rep.alreadyApplied)
    assert(spark.read.parquet(s"${applied.ham}/bands").count() === rowsBefore)
    assert(probeAll(applied) === before)
  }

  test("crash between indexes: a batch applied to a target subset completes on retry") {
    val r = Roots(tmp("partial")).bootstrap()
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", r.ups, r.targets)
    // 'crash' after the first two indexes of rev1: apply to a subset...
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups,
      r.targets.take(2))
    // ...then the retry runs the full set; markers skip the done ones
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups, r.targets)
    assert(probeAll(r) === rebuiltProbes)
  }

  test("crash inside a publish: a half-moved stage completes without duplicates") {
    val r = Roots(tmp("midpub")).bootstrap()
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", r.ups, r.targets)
    // hand-build rev1's bm25 stage exactly as applyBatch would...
    val withRid = revised.repartition(4).withColumn(Rid,
      CorpusUpsert.ridExpr($"doc_id", lit(1)))
    val conf = spark.sparkContext.hadoopConfiguration
    val stageDir = new Path(s"${r.ups}/batches/rev1/stage-bm25")
    val fs = stageDir.getFileSystem(conf)
    CorpusUpsert.Bm25Target(r.bm25, "text")
      .stage(withRid, Rid, stageDir.toString)
    fs.create(new Path(stageDir, "_graft_staged"), true).close()
    // ...move HALF its doclen files by hand with the publish naming
    val doclenStage = new Path(stageDir, "doclen")
    val parts = fs.listStatus(doclenStage)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName)
    assert(parts.length >= 2, "fixture needs >= 2 staged doclen files")
    val destDir = new Path(s"${r.bm25}/doclen")
    parts.take(parts.length / 2).foreach { p =>
      assert(fs.rename(p, new Path(destDir, s"graft-ups-rev1-${p.getName}")))
    }
    // the retry must finish the publish (and the other three indexes)
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups, r.targets)
    assert(probeAll(r) === rebuiltProbes)
    // exactly one doclen row per rid ever published
    val dl = spark.read.parquet(s"${r.bm25}/doclen")
    assert(dl.groupBy(Rid).count().filter($"count" > 1).count() === 0)
  }

  test("crash after publish, before the applied marker: retry re-tombstones, never re-publishes") {
    val r = Roots(tmp("premark")).bootstrap()
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", r.ups, r.targets)
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups, r.targets)
    // simulate the window: drop rev1's hamming applied marker and
    // re-create the post-publish stage state (marker only, files moved)
    val conf = spark.sparkContext.hadoopConfiguration
    val batchDir = new Path(s"${r.ups}/batches/rev1")
    val fs = batchDir.getFileSystem(conf)
    assert(fs.delete(new Path(batchDir, "applied-hamming"), false))
    assert(fs.delete(new Path(batchDir, "done"), false))
    val stageDir = new Path(batchDir, "stage-hamming")
    fs.mkdirs(stageDir)
    fs.create(new Path(stageDir, "_graft_staged"), true).close()
    val rowsBefore = spark.read.parquet(s"${r.ham}/bands").count()
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups, r.targets)
    assert(spark.read.parquet(s"${r.ham}/bands").count() === rowsBefore)
    assert(probeAll(r) === rebuiltProbes)
  }

  test("rev assignment: three generations, inserts mid-stream, currentRevs tracks max") {
    val r = Roots(tmp("revs")).bootstrap()
    val t = r.targets.take(1) // rev machinery is index-independent
    val b0 = corpus0.filter($"doc_id" < 10).select($"doc_id", $"text")
    CorpusUpsert.applyBatch(b0, "doc_id", "g0", r.ups, t)
    val b1 = b0.filter($"doc_id" < 6)
      .unionByName(corpus0.filter($"doc_id".between(10, 12))
        .select($"doc_id", $"text"))
    val rep1 = CorpusUpsert.applyBatch(b1, "doc_id", "g1", r.ups, t)
    assert(rep1.nUpdates === 6 && rep1.nInserts === 3)
    val b2 = b0.filter($"doc_id" < 3)
    CorpusUpsert.applyBatch(b2, "doc_id", "g2", r.ups, t)
    val cur = CorpusUpsert.currentRevs(spark, r.ups)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    assert((0L until 3L).forall(cur(_) === 2))
    assert((3L until 6L).forall(cur(_) === 1))
    assert((6L until 10L).forall(cur(_) === 0))
    assert((10L until 13L).forall(cur(_) === 0))
  }

  test("a batch with duplicate doc rows is refused") {
    val r = Roots(tmp("dup")).bootstrap()
    val bad = corpus0.filter($"doc_id" < 5)
      .unionByName(corpus0.filter($"doc_id" < 2))
    // the check rides the revs write's per-doc aggregation (round 18:
    // the standalone countDistinct job is gone), so it surfaces as a
    // task failure (SparkException chain), not IllegalArgumentException
    val e = intercept[Exception] {
      CorpusUpsert.applyBatch(bad, "doc_id", "d0", r.ups,
        r.targets.take(1))
    }
    assert(e.getMessage.contains("duplicate"))
    // ...and the failed write must not have recorded the batch's revs
    // (no index work can have started either — it is ordered after)
    val revsP = new Path(s"${r.ups}/revs/batch=d0/_SUCCESS")
    assert(!revsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(revsP))
  }

  test("out-of-range doc ids fail the batch before any index work") {
    val r = Roots(tmp("range")).bootstrap()
    val bad = corpus0.filter($"doc_id" < 3)
      .withColumn("doc_id", $"doc_id" - lit(10L))
    val e = intercept[Exception] {
      CorpusUpsert.applyBatch(bad, "doc_id", "r0", r.ups,
        r.targets.take(1))
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ chain(x.getCause))
    assert(chain(e).exists(_.contains("out of")))
  }

  test("deleteDocs retires the current revision everywhere; re-upsert resumes at rev+1") {
    val r = Roots(tmp("del")).bootstrap()
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", r.ups, r.targets)
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups, r.targets)
    val gone = corpus0.filter($"doc_id" % 10 === 4).select("doc_id")
    CorpusUpsert.deleteDocs(gone, "doc_id", r.ups, r.targets)
    CorpusUpsert.deleteDocs(gone, "doc_id", r.ups, r.targets) // idempotent
    val goneSet = gone.collect().map(_.getLong(0)).toSet
    probeAll(r).zip(Seq(0, 0, 0, 1)).foreach { case (rows, nIdx) =>
      // column nIdx holds the rid (hamming reports it as n_id, col 1)
      assert(rows.forall(row =>
        !goneSet.contains(row(nIdx).asInstanceOf[Long] >> 16)))
    }
    // re-upsert one retired doc: new revision becomes visible again
    val back = corpus0.filter($"doc_id" === 4)
      .select($"doc_id", concat($"text", lit(" back")).as("text"),
        $"embedding")
    CorpusUpsert.applyBatch(back, "doc_id", "rev2", r.ups, r.targets)
    val bm = CorpusUpsert.withDocRev(
      LexIndex.bm25ProbeIndex(spark, r.bm25, Rid, Seq("back")), Rid)
      .collect().toSeq
    assert(bm.map(_.getAs[Long]("doc_id")) === Seq(4L))
    // doc 4 was revised (rev 1) then retired; the ledger keeps its max
    // rev, so the re-upsert lands at rev 2
    assert(bm.map(_.getAs[Long]("rev")) === Seq(2L))
  }

  test("compactRevs folds the ledger to one partition; lookups and later batches unchanged") {
    val r = Roots(tmp("compactrevs")).bootstrap()
    val t = r.targets.take(1)
    val b0 = corpus0.filter($"doc_id" < 10).select($"doc_id", $"text")
    CorpusUpsert.applyBatch(b0, "doc_id", "g0", r.ups, t)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 6), "doc_id", "g1", r.ups, t)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 3), "doc_id", "g2", r.ups, t)
    def cur() = CorpusUpsert.currentRevs(spark, r.ups)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    def batchDirs(): Seq[String] = {
      val p = new Path(s"${r.ups}/revs")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
        .filter(_.startsWith("batch=")).sorted
    }
    val before = cur()
    assert(batchDirs().size === 3)
    CorpusUpsert.compactRevs(spark, r.ups)
    assert(batchDirs() === Seq(s"batch=${CorpusUpsert.CompactedKey}"))
    assert(cur() === before)
    // a later batch resumes on top of the compacted ledger
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 2), "doc_id", "g3",
      r.ups, t)
    assert(cur()(0L) === 3 && cur()(1L) === 3 && cur()(2L) === 2 &&
      cur()(6L) === 0)
    // re-compaction folds the new batch plus the previous compacted dir
    CorpusUpsert.compactRevs(spark, r.ups)
    assert(batchDirs() === Seq(s"batch=${CorpusUpsert.CompactedKey}"))
    assert(cur()(0L) === 3 && cur()(6L) === 0)
    // the reserved key is refused for live batches
    val e = intercept[IllegalArgumentException](
      CorpusUpsert.applyBatch(b0, "doc_id", CorpusUpsert.CompactedKey,
        r.ups, t))
    assert(e.getMessage.contains("reserved"))
  }

  test("positional postings ride the coordinated upsert: phrase/proximity probes ≡ rebuild") {
    val r = Roots(tmp("positional"))
    // positional bootstrap: the delta writer inherits the flag from the
    // real index's meta, so the whole lifecycle carries ps arrays
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", r.bm25, buckets = 8, positional = true)
    val t = Seq[CorpusUpsert.IndexTarget](CorpusUpsert.Bm25Target(r.bm25, "text"))
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", r.ups, t)
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups, t)
    val b = tmp("positional-rebuild")
    LexIndex.bm25WriteIndex(finalCorpus, Rid, "text", b, buckets = 8,
      positional = true)
    def ph(p: String) = LexIndex
      .bm25PhraseProbe(spark, p, Rid, Seq("vector", "scan"))
      .orderBy(Rid).collect().toSeq.map(_.toSeq)
    assert(ph(r.bm25) === ph(b))
    assert(ph(r.bm25).nonEmpty)
    def px(p: String) = LexIndex
      .bm25ProximityProbe(spark, p, Rid, Seq("vector", "window"), 5)
      .orderBy(Rid).collect().toSeq.map(_.toSeq)
    assert(px(r.bm25) === px(b))
    assert(px(r.bm25).nonEmpty)
  }

  test("backfill reproduces ORIGINAL rids through revision chains (frozen rev assignment)") {
    val r = Roots(tmp("backfill"))
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", r.bm25, buckets = 8)
    val t1 = Seq[CorpusUpsert.IndexTarget](
      CorpusUpsert.Bm25Target(r.bm25, "text"))
    val b0 = corpus0.filter($"doc_id" < 20).select($"doc_id", $"text")
      .localCheckpoint(true)
    val b1 = b0.filter($"doc_id" < 10)
      .select($"doc_id", concat($"text", lit(" r1")).as("text"))
      .localCheckpoint(true)
    val b2 = b0.filter($"doc_id" < 5)
      .select($"doc_id", concat($"text", lit(" r2")).as("text"))
      .localCheckpoint(true)
    CorpusUpsert.applyBatch(b0, "doc_id", "b0", r.ups, t1)
    CorpusUpsert.applyBatch(b1, "doc_id", "b1", r.ups, t1)
    CorpusUpsert.applyBatch(b2, "doc_id", "b2", r.ups, t1)
    def cur() = CorpusUpsert.currentRevs(spark, r.ups)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    val before = cur()
    assert(before(0L) === 2 && before(7L) === 1 && before(15L) === 0)
    // add a SECOND index later; backfill = re-run b0, b1, b2 in order.
    // Without frozen rev assignment, re-running b1 would see b2's
    // rev-2 rows (its self-excluding lookup only excludes b1) and
    // assign rev 3 — corrupting the ledger and staging rids no other
    // index has. The frozen path reads revs/batch=b1 back instead.
    val second = s"${r.root}/bm25b"
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", second, buckets = 8)
    val t2 = t1 :+ CorpusUpsert.Bm25Target(second, "text", name = "bm25b")
    CorpusUpsert.applyBatch(b0, "doc_id", "b0", r.ups, t2)
    CorpusUpsert.applyBatch(b1, "doc_id", "b1", r.ups, t2)
    CorpusUpsert.applyBatch(b2, "doc_id", "b2", r.ups, t2)
    assert(cur() === before, "backfill must not move the ledger")
    // the backfilled index ≡ a from-scratch build over the final
    // corpus under the ORIGINAL rids
    val rebuild = tmp("backfill-rebuild")
    val fc = b2.withColumn("rev", lit(2))
      .unionByName(b1.filter($"doc_id" >= 5).withColumn("rev", lit(1)))
      .unionByName(b0.filter($"doc_id" >= 10).withColumn("rev", lit(0)))
      .withColumn(Rid, CorpusUpsert.ridExpr($"doc_id", $"rev"))
    LexIndex.bm25WriteIndex(fc, Rid, "text", rebuild, buckets = 8)
    def probe(p: String) =
      LexIndex.bm25ProbeIndex(spark, p, Rid, Seq("vector", "scan"))
        .orderBy(Rid).collect().toSeq.map(_.toSeq)
    assert(probe(second) === probe(rebuild))
    assert(probe(second).nonEmpty)
    // and the FIRST index (its markers short-circuited the backfill)
    // still matches too
    assert(probe(r.bm25) === probe(rebuild))
  }

  test("a backfill re-apply never auto-folds; compactRevs skips while a crashed batch pends") {
    val r = Roots(tmp("foldguards"))
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", r.bm25, buckets = 8)
    val t1 = Seq[CorpusUpsert.IndexTarget](
      CorpusUpsert.Bm25Target(r.bm25, "text"))
    val b0 = corpus0.filter($"doc_id" < 6).select($"doc_id", $"text")
    // three batches with the fold disabled — the operator is keeping
    // the backfill horizon
    CorpusUpsert.applyBatch(b0, "doc_id", "g0", r.ups, t1, autoFoldRevsAt = 0)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 4), "doc_id", "g1",
      r.ups, t1, autoFoldRevsAt = 0)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 2), "doc_id", "g2",
      r.ups, t1, autoFoldRevsAt = 0)
    val revsRoot = new Path(s"${r.ups}/revs")
    val fs = revsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs(): Seq[String] =
      fs.listStatus(revsRoot).filter(_.isDirectory).map(_.getPath.getName)
        .toSeq.filter(_.startsWith("batch=")).sorted
    assert(batchDirs().size === 3)
    // backfill a later-added target WITH the default-ish threshold:
    // the re-apply of a done batch must NOT fold (it would destroy the
    // ledger the remaining backfill batches need)
    val second = s"${r.root}/bm25b"
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", second, buckets = 8)
    val t2 = t1 :+ CorpusUpsert.Bm25Target(second, "text", name = "bm25b")
    CorpusUpsert.applyBatch(b0, "doc_id", "g0", r.ups, t2, autoFoldRevsAt = 2)
    assert(batchDirs().size === 3, "backfill re-apply must not fold")
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 4), "doc_id", "g1",
      r.ups, t2, autoFoldRevsAt = 2)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 2), "doc_id", "g2",
      r.ups, t2, autoFoldRevsAt = 2)
    // a CRASHED batch (revs recorded, no done marker) blocks the fold
    import spark.implicits._
    Seq((100L, 0)).toDF("doc", "rev").coalesce(1)
      .write.mode("overwrite").parquet(s"${r.ups}/revs/batch=crash1")
    CorpusUpsert.compactRevs(spark, r.ups)
    assert(batchDirs().size === 4, "fold must skip while a batch pends")
    // completing the crashed batch unblocks it (markers land)
    val crashDir = new Path(s"${r.ups}/batches/crash1")
    fs.mkdirs(crashDir)
    fs.create(new Path(crashDir, "done"), true).close()
    CorpusUpsert.compactRevs(spark, r.ups)
    assert(batchDirs() === Seq(s"batch=${CorpusUpsert.CompactedKey}"))
    val cur = CorpusUpsert.currentRevs(spark, r.ups)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    assert(cur(0L) === 2 && cur(5L) === 0 && cur(100L) === 0)
  }

  test("vacuumBatches reclaims frozen deltas; redelivery still no-ops; backfill refused") {
    val r = Roots(tmp("vacuum"))
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", r.bm25, buckets = 8)
    val t1 = Seq[CorpusUpsert.IndexTarget](
      CorpusUpsert.Bm25Target(r.bm25, "text"))
    val b0 = corpus0.filter($"doc_id" < 12).select($"doc_id", $"text")
    CorpusUpsert.applyBatch(b0, "doc_id", "v0", r.ups, t1)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 6), "doc_id", "v1",
      r.ups, t1)
    def cur() = CorpusUpsert.currentRevs(spark, r.ups)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    val before = cur()
    def probe() =
      LexIndex.bm25ProbeIndex(spark, r.bm25, Rid, Seq("vector", "scan"))
        .orderBy(Rid).collect().toSeq.map(_.toSeq)
    val beforeProbe = probe()
    // keep v1 backfillable, vacuum v0
    val rep = CorpusUpsert.vacuumBatches(spark, r.ups, keep = Set("v1"))
    assert(rep.keySet === Set("v0") && rep("v0") > 0)
    // idempotent; the kept batch still holds its delta
    assert(CorpusUpsert.vacuumBatches(spark, r.ups, keep = Set("v1")).isEmpty)
    // ledger, probes, and redelivery untouched
    assert(cur() === before)
    assert(probe() === beforeProbe)
    assert(CorpusUpsert.applyBatch(b0, "doc_id", "v0", r.ups, t1)
      .alreadyApplied)
    // backfill into the vacuumed batch is refused; the kept one works
    val second = s"${r.root}/bm25b"
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", second, buckets = 8)
    val t2 = t1 :+ CorpusUpsert.Bm25Target(second, "text", name = "bm25b")
    val e = intercept[IllegalArgumentException](
      CorpusUpsert.applyBatch(b0, "doc_id", "v0", r.ups, t2))
    assert(e.getMessage.contains("vacuumed"))
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 6), "doc_id", "v1",
      r.ups, t2) // backfills only the kept batch — no refusal
    assert(cur() === before)
  }

  test("backfill into a compacted ledger is refused loudly") {
    val r = Roots(tmp("backfillfold"))
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", r.bm25, buckets = 8)
    val t1 = Seq[CorpusUpsert.IndexTarget](
      CorpusUpsert.Bm25Target(r.bm25, "text"))
    val b0 = corpus0.filter($"doc_id" < 8).select($"doc_id", $"text")
    CorpusUpsert.applyBatch(b0, "doc_id", "f0", r.ups, t1)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 4), "doc_id", "f1",
      r.ups, t1)
    CorpusUpsert.compactRevs(spark, r.ups)
    val second = s"${r.root}/bm25b"
    LexIndex.bm25WriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", second, buckets = 8)
    val t2 = t1 :+ CorpusUpsert.Bm25Target(second, "text", name = "bm25b")
    val e = intercept[IllegalArgumentException](
      CorpusUpsert.applyBatch(b0, "doc_id", "f0", r.ups, t2))
    assert(e.getMessage.contains("compacted"))
  }

  test("compactRevs: a crash between publish and deletes recovers on re-run") {
    val r = Roots(tmp("compactcrash")).bootstrap()
    val t = r.targets.take(1)
    val b0 = corpus0.filter($"doc_id" < 10).select($"doc_id", $"text")
    CorpusUpsert.applyBatch(b0, "doc_id", "g0", r.ups, t)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 6), "doc_id", "g1", r.ups, t)
    CorpusUpsert.compactRevs(spark, r.ups)
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 3), "doc_id", "g2", r.ups, t)
    def cur() = CorpusUpsert.currentRevs(spark, r.ups)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    val before = cur()
    // replay compactRevs UP TO the crash point: fresh fold staged,
    // old compacted moved aside, fresh fold published — then "crash"
    // before any superseded dir is deleted
    val revsRoot = new Path(s"${r.ups}/revs")
    val fs = revsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(revsRoot, ".revs_compact")
    val dest = new Path(revsRoot, s"batch=${CorpusUpsert.CompactedKey}")
    val aside = new Path(revsRoot, s"batch=${CorpusUpsert.CompactedKey}-old")
    CorpusUpsert.currentRevs(spark, r.ups)
      .select($"doc", $"rev".cast("int").as("rev"))
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    assert(fs.rename(dest, aside))
    assert(fs.rename(stage, dest))
    def batchDirs(): Seq[String] =
      fs.listStatus(revsRoot).filter(_.isDirectory).map(_.getPath.getName)
        .toSeq.filter(_.startsWith("batch=")).sorted
    // wedge state: dest + aside + the superseded g2 dir all visible —
    // lookups stay exact (duplicates fold identically under max-rev)
    assert(batchDirs().size === 3)
    assert(cur() === before)
    // pre-fix, this re-run threw ("cannot move dest aside": rename onto
    // the existing aside fails); the documented re-run recovery must
    // finish the deletes instead
    CorpusUpsert.compactRevs(spark, r.ups)
    assert(batchDirs() === Seq(s"batch=${CorpusUpsert.CompactedKey}"))
    assert(cur() === before)
  }

  test("auto-fold: applyBatch triggers compactRevs past the threshold; a crash mid-fold heals on the next batch") {
    val r = Roots(tmp("autofold")).bootstrap()
    val t = r.targets.take(1)
    val b0 = corpus0.filter($"doc_id" < 8).select($"doc_id", $"text")
    def cur() = CorpusUpsert.currentRevs(spark, r.ups)
      .collect().map(row => row.getLong(0) -> row.getInt(1)).toMap
    val revsRoot = new Path(s"${r.ups}/revs")
    val fs = revsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirs(): Seq[String] =
      fs.listStatus(revsRoot).filter(_.isDirectory).map(_.getPath.getName)
        .toSeq.filter(_.startsWith("batch=")).sorted
    (0 until 5).foreach { i =>
      CorpusUpsert.applyBatch(b0.filter($"doc_id" >= i), "doc_id", s"a$i",
        r.ups, t, autoFoldRevsAt = 2)
      // the ledger never exceeds threshold + 1 dirs for more than the
      // fold's own duration: after each apply it is ≤ 2 (the compacted
      // dir from the previous fold + at most one new batch)
      assert(batchDirs().size <= 2, s"after batch a$i: ${batchDirs()}")
    }
    // doc d rides batches a0..a_min(d,4), so its final rev = min(d, 4)
    assert((0 until 5).forall(d => cur()(d.toLong) === d))
    assert(cur()(7L) === 4)
    // a redelivered batch whose revs dir was folded away still
    // short-circuits at its markers — the fold never touches batches/
    val rep = CorpusUpsert.applyBatch(b0, "doc_id", "a0", r.ups, t,
      autoFoldRevsAt = 2)
    assert(rep.alreadyApplied)
    // crash mid-auto-fold (the publish→deletes window), then one more
    // batch: its trigger re-runs the fold and heals the ledger
    val stage = new Path(revsRoot, ".revs_compact")
    val dest = new Path(revsRoot, s"batch=${CorpusUpsert.CompactedKey}")
    val aside = new Path(revsRoot, s"batch=${CorpusUpsert.CompactedKey}-old")
    val before = cur()
    CorpusUpsert.currentRevs(spark, r.ups)
      .select($"doc", $"rev".cast("int").as("rev"))
      .coalesce(1).write.mode("overwrite").parquet(stage.toString)
    assert(fs.rename(dest, aside))
    assert(fs.rename(stage, dest))
    assert(cur() === before) // exact through the crash window
    CorpusUpsert.applyBatch(b0.filter($"doc_id" < 2), "doc_id", "a5",
      r.ups, t, autoFoldRevsAt = 2)
    assert(batchDirs() === Seq(s"batch=${CorpusUpsert.CompactedKey}"))
    assert(cur()(0L) === 1 && cur()(1L) === 2 && cur()(7L) === 4)
  }

  test("streaming upsert: stream-applied revisions ≡ batch-applied; redelivery no-ops") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    def two(r: Roots) = r.targets.filter(t =>
      t.name == "bm25" || t.name == "hamming")
    val sr = Roots(tmp("stream")).bootstrap()
    val tw = Roots(tmp("streamtwin")).bootstrap()
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", sr.ups, two(sr))
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", tw.ups, two(tw))
    val src = tmp("streamsrc")
    revised.coalesce(1).write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = graft.streaming.CorpusUpsertStream
      .upsertSink(stream, "doc_id", sr.ups, two(sr))
      .option("checkpointLocation", tmp("streamckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", tw.ups, two(tw))
    def probes2(r: Roots) = Seq(
      LexIndex.bm25ProbeIndex(spark, r.bm25, Rid, Seq("vector", "scan"))
        .orderBy(Rid).collect().toSeq.map(_.toSeq),
      HammingIndex.hammingProbeIndex(spark,
          corpus0.select($"doc_id".as(Rid), $"embedding"), Rid,
          "embedding", r.ham, radius = 15)
        .orderBy("q_id", "n_id").collect().toSeq.map(_.toSeq))
    assert(probes2(sr) === probes2(tw))
    // redelivery of the stream's own batch is absorbed by the apply
    // markers — no extra ledger
    val queryId = q.id.toString
    val rep = graft.streaming.CorpusUpsertStream.applyBatch(
      revised, 0L, "doc_id", sr.ups, two(sr), streamId = queryId)
    assert(rep.alreadyApplied)
    assert(probes2(sr) === probes2(tw))
  }

  test("purges after upserts reclaim bytes without changing probes") {
    val r = Roots(tmp("purge")).bootstrap()
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", r.ups, r.targets)
    CorpusUpsert.applyBatch(revised, "doc_id", "rev1", r.ups, r.targets)
    val before = probeAll(r)
    assert(LexIndex.Layout.purge(spark, r.bm25, Rid).nonEmpty)
    assert(VectorOps.IvfLayout.purge(spark, r.ivf, Rid).nonEmpty)
    assert(VectorOps.IvfLayout.purge(spark, r.pq, Rid).nonEmpty)
    assert(HammingIndex.Layout.purge(spark, r.ham, Rid).nonEmpty)
    Seq(r.bm25, r.ivf, r.pq, r.ham).foreach(p =>
      assert(!Tombstones.exists(spark, p)))
    // every superseded rid is physically gone
    assert(spark.read.parquet(s"${r.ivf}")
      .filter(CorpusUpsert.revOf(col(Rid)) === 0 &&
        CorpusUpsert.docOf(col(Rid)) % 3 === 1).count() === 0)
    assert(probeAll(r) === before)
  }

  test("NearDupTarget: revisions propagate through the near-dup index; the gate judges against CURRENT revisions") {
    val root = tmp("ndtarget")
    val (ups, nd) = (s"$root/ups", s"$root/nd")
    NearDupIndex.neardupWriteIndex(
      corpus0.select($"doc_id".as(Rid), $"text").limit(0),
      Rid, "text", nd, nBuckets = 8, nDocBuckets = 4)
    val t = Seq(CorpusUpsert.NearDupTarget(nd, "text"))
    CorpusUpsert.applyBatch(corpus0, "doc_id", "base", ups, t)
    // the revision REPLACES the text entirely (id-derived tokens), so
    // old and new revisions are provably dissimilar
    val ndText = concat(lit("nd"), $"doc_id".cast("string"), lit("a nd"),
      $"doc_id".cast("string"), lit("b nd"), $"doc_id".cast("string"),
      lit("c nd"), $"doc_id".cast("string"), lit("d nd"),
      $"doc_id".cast("string"), lit("e"))
    val rev = corpus0.filter($"doc_id" % 3 === 1)
      .select($"doc_id", ndText.as("text"))
    CorpusUpsert.applyBatch(rev, "doc_id", "rev1", ups, t)
    // upsert ≡ from-scratch rebuild over the revised corpus
    val fc = corpus0.select($"doc_id", $"text")
      .filter($"doc_id" % 3 =!= 1).withColumn("rev", lit(0))
      .unionByName(rev.withColumn("rev", lit(1)))
      .withColumn(Rid, CorpusUpsert.ridExpr($"doc_id", $"rev"))
      .select(col(Rid), $"text").localCheckpoint(true)
    val fresh = s"$root/fresh"
    NearDupIndex.neardupWriteIndex(fc, Rid, "text", fresh,
      nBuckets = 8, nDocBuckets = 4)
    def probe(p: String) = NearDupIndex.neardupProbeIndex(spark, fc, Rid,
        "text", p, threshold = 0.5, pruneDocLookup = false)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1),
        r0.getDouble(2))).toSet
    assert(probe(nd) === probe(fresh))
    // the ingest gate: a copy of doc 1's CURRENT revision is rejected
    // against its rid; the SUPERSEDED revision can never be elected
    val oldText = corpus0.filter($"doc_id" === 1L)
      .select("text").head().getString(0)
    val batch = Seq(
      (1000000000L, oldText),
      (1000000001L, "nd1a nd1b nd1c nd1d nd1e"))
      .toDF(Rid, "text")
    val out = NearDupIndex.dedupGate(batch, Rid, "text", nd)
      .collect().map(r0 => r0.getLong(0) ->
        (r0.getBoolean(1), if (r0.isNullAt(2)) -1L else r0.getLong(2)))
      .toMap
    val ridNew = 1L * 65536 + 1
    assert(out(1000000001L) === (false, ridNew))
    assert(out(1000000000L)._2 !== 1L * 65536) // tombstoned rid unfindable
  }

  test("snapshot reads: every prefix state exact, non-prefix/folded/" +
      "mid-apply refused, takedowns never resurrected") {
    val r = Roots(tmp("snap")).bootstrap()
    val targets = Seq(
      CorpusUpsert.Bm25Target(r.bm25, "text"),
      CorpusUpsert.HammingTarget(r.ham, "embedding"))
    val revised2 = corpus0.filter($"doc_id" % 6 === 1)
      .select($"doc_id", concat($"text", lit(" snap2")).as("text"),
        $"embedding") // back to the ORIGINAL sign pattern (rev 2)
      .localCheckpoint(true)
    CorpusUpsert.applyBatch(corpus0, "doc_id", "b0", r.ups, targets)
    CorpusUpsert.applyBatch(revised, "doc_id", "b1", r.ups, targets)
    CorpusUpsert.applyBatch(revised2, "doc_id", "b2", r.ups, targets)

    def revMap(df: DataFrame): Map[Long, Int] =
      df.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    // prefix states
    val asOf0 = revMap(CorpusUpsert.revsAsOf(spark, r.ups, Seq("b0")))
    assert(asOf0.size === 100 && asOf0.values.forall(_ == 0))
    val asOf1 = revMap(CorpusUpsert.revsAsOf(spark, r.ups, Seq("b0", "b1")))
    assert(asOf1 === (0L until 100L)
      .map(d => d -> (if (d % 3 == 1) 1 else 0)).toMap)
    val asOf2 = revMap(
      CorpusUpsert.revsAsOf(spark, r.ups, Seq("b0", "b1", "b2")))
    assert(asOf2 === revMap(CorpusUpsert.currentRevs(spark, r.ups)
      .select($"doc", $"rev".cast("int").as("rev"))))
    assert(asOf2(1L) === 2 && asOf2(4L) === 1 && asOf2(0L) === 0)

    // snapshot probe as-of (b0, b1) ≡ a fresh index built over that
    // state — per-pair Hamming is exact history
    val queries = corpus0.select($"doc_id".as(Rid), $"embedding")
    def pairs(df: DataFrame): Set[(Long, Long, Long)] =
      df.select($"q_id", col(Rid), $"hamming").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val live = HammingIndex.hammingProbeIndex(spark, queries, Rid,
        "embedding", r.ham, radius = 15, includeTombstoned = true)
      .withColumnRenamed("n_id", Rid)
    val snap1 = CorpusUpsert.snapshotFilter(live, Rid, r.ups,
      Seq("b0", "b1"), indexPath = r.ham)
    val state1 = corpus0.filter($"doc_id" % 3 =!= 1).withColumn("rev", lit(0))
      .unionByName(revised.withColumn("rev", lit(1)))
      .withColumn(Rid, CorpusUpsert.ridExpr($"doc_id", $"rev"))
    val freshP = s"${tmp("snapfresh")}/ham"
    HammingIndex.hammingWriteIndex(state1, Rid, "embedding", freshP,
      nBands = 8, nBuckets = 8, dim = 64)
    val ref1 = HammingIndex.hammingProbeIndex(spark, queries, Rid,
        "embedding", freshP, radius = 15)
      .withColumnRenamed("n_id", Rid)
    assert(pairs(snap1) === pairs(ref1))

    // refusals: a revision gap (b2's rev 2 without b1's rev 1), an
    // unknown batch, the reserved compacted key
    // gap validation is fused into the max-rev aggregate (round 18), so
    // it surfaces at the consuming action as a task failure
    val gap = intercept[Exception](
      CorpusUpsert.revsAsOf(spark, r.ups, Seq("b0", "b2")).collect())
    assert(gap.getMessage.contains("revision gap"))
    assert(intercept[IllegalArgumentException](
      CorpusUpsert.revsAsOf(spark, r.ups, Seq("b0", "nope")))
      .getMessage.contains("no frozen revs"))
    assert(intercept[IllegalArgumentException](
      CorpusUpsert.revsAsOf(spark, r.ups,
        Seq(CorpusUpsert.CompactedKey)))
      .getMessage.contains("compacted partition"))

    // mid-apply: revs recorded but no done marker (crash window)
    CorpusUpsert.applyBatch(
      corpus0.filter($"doc_id" % 9 === 5)
        .select($"doc_id", concat($"text", lit(" b3")).as("text"),
          $"embedding"),
      "doc_id", "b3", r.ups, targets)
    val doneB3 = new Path(s"${r.ups}/batches/b3/done")
    val fs = doneB3.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(doneB3, false))
    assert(intercept[IllegalArgumentException](
      CorpusUpsert.revsAsOf(spark, r.ups, Seq("b0", "b1", "b2", "b3")))
      .getMessage.contains("never completed"))
    fs.create(doneB3, true).close()

    // CDC: changes between snapshots — updates from the revision
    // chain, inserts from a batch of NEW docs; from ⊄ to refused
    val chg01 = CorpusUpsert.changesBetween(spark, r.ups,
        Seq("b0"), Seq("b0", "b1"))
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getInt(2),
        x.getString(3))).toSet
    assert(chg01 === (0L until 100L).filter(_ % 3 == 1)
      .map(d => (d, 0, 1, "update")).toSet)
    val newDocs = corpus0.filter($"doc_id" < 5)
      .select(($"doc_id" + 500).as("doc_id"), $"text", $"embedding")
    CorpusUpsert.applyBatch(newDocs, "doc_id", "b4", r.ups, targets)
    val chg4 = CorpusUpsert.changesBetween(spark, r.ups,
        Seq("b0", "b1", "b2", "b3"), Seq("b0", "b1", "b2", "b3", "b4"))
      .collect().map(x => (x.getLong(0), x.isNullAt(1), x.getInt(2),
        x.getString(3))).toSet
    assert(chg4 === (500L until 505L).map(d => (d, true, 0, "insert")).toSet)
    assert(intercept[IllegalArgumentException](
      CorpusUpsert.changesBetween(spark, r.ups, Seq("b0", "b4"), Seq("b0")))
      .getMessage.contains("subset"))

    // takedown permanence: deleted docs stay deleted in EVERY snapshot,
    // including ones whose keys predate the delete
    CorpusUpsert.deleteDocs(
      corpus0.filter($"doc_id" % 10 === 0).select("doc_id"),
      "doc_id", r.ups, targets)
    val live2 = HammingIndex.hammingProbeIndex(spark, queries, Rid,
        "embedding", r.ham, radius = 15, includeTombstoned = true)
      .withColumnRenamed("n_id", Rid)
    val snap0 = CorpusUpsert.snapshotFilter(live2, Rid, r.ups,
      Seq("b0"), indexPath = r.ham)
    val survivors = pairs(snap0).map(_._2 >> 16)
    assert(survivors.nonEmpty && survivors.forall(_ % 10 != 0))
    // superseded revisions (not takedowns) stay REACHABLE: doc 1's
    // rev-0 row is tombstoned by the b1 revision yet serves snapshots
    assert(pairs(snap0).exists(_._2 === 1L << 16))

    // folding the ledger trades the as-of horizon, loudly
    CorpusUpsert.compactRevs(spark, r.ups)
    assert(intercept[IllegalArgumentException](
      CorpusUpsert.revsAsOf(spark, r.ups, Seq("b0")))
      .getMessage.contains("no frozen revs"))
  }
  test("maintain: one idempotent pass — purge, compact, vacuum, ledger " +
      "fold — with bit-identical probes") {
    val r = Roots(tmp("maint")).bootstrap()
    val targets = Seq(
      CorpusUpsert.Bm25Target(r.bm25, "text"),
      CorpusUpsert.HammingTarget(r.ham, "embedding"))
    CorpusUpsert.applyBatch(corpus0, "doc_id", "b0", r.ups, targets,
      autoFoldRevsAt = 0)
    CorpusUpsert.applyBatch(revised, "doc_id", "b1", r.ups, targets,
      autoFoldRevsAt = 0)
    CorpusUpsert.deleteDocs(
      corpus0.filter($"doc_id" % 10 === 3).select("doc_id"),
      "doc_id", r.ups, targets)
    def probes(): (Seq[Seq[Any]], Seq[Seq[Any]]) = (
      LexIndex.bm25ProbeIndex(spark, r.bm25, Rid, Seq("vector", "scan"))
        .orderBy(Rid).collect().toSeq.map(_.toSeq),
      HammingIndex.hammingProbeIndex(spark,
          corpus0.select($"doc_id".as(Rid), $"embedding"), Rid,
          "embedding", r.ham, radius = 15)
        .orderBy("q_id", "n_id").collect().toSeq.map(_.toSeq))
    val before = probes()
    val rep = CorpusUpsert.maintain(spark, r.ups, targets)
    assert(!Tombstones.exists(spark, r.bm25))
    assert(!Tombstones.exists(spark, r.ham))
    assert(probes() === before) // purge+compact are probe-invisible
    assert(rep.purged.keySet === Set("bm25", "hamming"))
    assert(rep.purged("bm25").nonEmpty) // tombstoned rows were dropped
    assert(rep.vacuumedBytes.keySet === Set("b0", "b1"))
    assert(rep.revsDirsBefore === 2 && rep.revsDirsAfter === 1)
    // second pass is a no-op with identical probes
    val rep2 = CorpusUpsert.maintain(spark, r.ups, targets)
    assert(rep2.purged.values.forall(_.isEmpty))
    assert(rep2.vacuumedBytes.isEmpty)
    assert(rep2.revsDirsAfter === 1)
    assert(probes() === before)
    // later applies work unchanged on the maintained root
    val b2 = corpus0.filter($"doc_id" % 9 === 2)
      .select($"doc_id", concat($"text", lit(" m2")).as("text"),
        $"embedding")
    val repB2 = CorpusUpsert.applyBatch(b2, "doc_id", "b2", r.ups, targets)
    assert(!repB2.alreadyApplied && repB2.nUpdates > 0)
  }

  test("a failing target never unwinds applyBatch while a sibling still publishes") {
    val r = Roots(tmp("joinall")).bootstrap()
    // no neardupWriteIndex: the near-dup root has no meta/, so its stage
    // fails at once while BM25 is still staging
    val targets = Seq(
      CorpusUpsert.NearDupTarget(s"${r.root}/neardup", "text"),
      CorpusUpsert.Bm25Target(r.bm25, "text"))
    intercept[Exception](CorpusUpsert.applyBatch(
      corpus0.select($"doc_id", $"text"), "doc_id", "b0", r.ups, targets))
    val fs = new Path(r.ups).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(s"${r.ups}/batches/b0/applied-bm25")),
      "applyBatch rethrew before the BM25 target finished")
  }
}
