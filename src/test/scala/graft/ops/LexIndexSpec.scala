package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LexIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private lazy val docs = Tables.load(spark, TestSpark.Sf001, "documents")
  private val terms = Seq("vector", "join", "scan")

  private def scores(d: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    d.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-lex-$tag").toString

  /** Every file scan of an executed plan, through AQE's wrappers. */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    // materialized AQE stages and reused exchanges hold their
    // subplans as fields, not children — descend explicitly
    case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scans(qs.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      scans(r.child)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  /** The scans of `d`'s executed plan rooted under a `sub` directory. */
  private def scansOf(d: org.apache.spark.sql.DataFrame, sub: String) =
    scans(d.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(s"/$sub")))

  test("index probe ≡ the scan-path bm25Scores, score for score") {
    val root = java.nio.file.Files.createTempDirectory("graft-lex").toString + "/idx"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", root, buckets = 16)
    val got = scores(LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms))
    val expected = scores(TextAnalysis.bm25Scores(docs, "doc_id", "text", terms))
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("append ≡ from-scratch rebuild: identical probe scores") {
    val appDir = java.nio.file.Files.createTempDirectory("graft-lex-app").toString + "/idx"
    val fullDir = java.nio.file.Files.createTempDirectory("graft-lex-full").toString + "/idx"
    val base = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    LexIndex.bm25WriteIndex(base, "doc_id", "text", appDir, buckets = 16)
    CorpusUpsert.Bm25Target(appDir, "text").append(delta, "doc_id")
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", fullDir, buckets = 16)
    val appended = scores(LexIndex.bm25ProbeIndex(spark, appDir, "doc_id", terms))
    val rebuilt = scores(LexIndex.bm25ProbeIndex(spark, fullDir, "doc_id", terms))
    assert(appended === rebuilt)
    // and both equal the scan path over the union corpus
    assert(rebuilt === scores(TextAnalysis.bm25Scores(docs, "doc_id", "text", terms)))
  }

  test("probe prunes the postings scan to the query terms' buckets at file listing") {
    val root = java.nio.file.Files.createTempDirectory("graft-lex-prune").toString + "/idx"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", root, buckets = 32)
    val probe = LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms)
    probe.collect()
    val tbDirs = new java.io.File(s"$root/postings").listFiles
      .count(f => f.isDirectory && f.getName.startsWith("tb="))
    assert(tbDirs > 3, s"fixture degenerated to $tbDirs term buckets")
    val postingScans = scansOf(probe, "postings")
    assert(postingScans.nonEmpty, "no postings scan in the probe plan")
    for (scan <- postingScans) {
      val pruned = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters)
      assert(pruned.length <= terms.length,
        s"probe listed ${pruned.length} term buckets for ${terms.length} terms")
    }
  }

  test("compaction folds append litter to bounded files with identical probe scores") {
    val root = java.nio.file.Files.createTempDirectory("graft-lex-compact").toString + "/idx"
    val parts = (0 until 12).map(i => docs.filter(col("doc_id") % 12 === i))
    LexIndex.bm25WriteIndex(parts.head, "doc_id", "text", root, buckets = 8)
    parts.tail.foreach(p =>
      CorpusUpsert.Bm25Target(root, "text").append(p, "doc_id"))
    val before = scores(LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms))
    def fileCount(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.count(f => f.isFile && !f.getName.startsWith(".")
        && !f.getName.startsWith("_"))
    }
    val doclenBefore = fileCount(s"$root/doclen")
    assert(doclenBefore > 8, s"fixture should litter doclen ($doclenBefore files)")
    val folded = LexIndex.Layout.compact(spark, root, maxFilesPerDir = 2,
      targetBytes = 1L << 30)
    assert(folded.nonEmpty, "compaction found nothing to fold")
    assert(fileCount(s"$root/doclen") <= 2)
    for (tb <- new java.io.File(s"$root/postings").listFiles
        if tb.isDirectory && tb.getName.startsWith("tb="))
      assert(fileCount(tb.toString) <= 2, s"${tb.getName} not folded")
    // rows unchanged → scores identical
    assert(scores(LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms)) === before)
  }

  test("stream-built index probes identically to a batch build; redelivered batch appends nothing") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-lex-stream")
    val (src, idx, ckpt, batchIdx) =
      (s"$root/src", s"$root/idx", s"$root/ckpt", s"$root/batch_idx")
    // fix the fanout over an empty frame, then stream the corpus in
    LexIndex.bm25WriteIndex(docs.limit(0), "doc_id", "text", idx, buckets = 16)
    docs.select("doc_id", "text").repartition(3).write.parquet(src)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = graft.streaming.VectorIndexStream
      .indexSink(stream, "doc_id", CorpusUpsert.Bm25Target(idx, "text"))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", batchIdx, buckets = 16)
    assert(scores(LexIndex.bm25ProbeIndex(spark, idx, "doc_id", terms))
      === scores(LexIndex.bm25ProbeIndex(spark, batchIdx, "doc_id", terms)))
    // redelivery: same (stream, batch) id is a ledger no-op
    val reIdx = s"$root/re_idx"
    LexIndex.bm25WriteIndex(docs.limit(0), "doc_id", "text", reIdx, buckets = 16)
    val b0 = docs.filter(col("doc_id") < 100).select("doc_id", "text")
    assert(graft.streaming.VectorIndexStream.appendBatch(
      b0, 0L, "doc_id", CorpusUpsert.Bm25Target(reIdx, "text"), streamId = "s1"))
    val after = spark.read.parquet(s"$reIdx/doclen").count()
    assert(!graft.streaming.VectorIndexStream.appendBatch(
      b0, 0L, "doc_id", CorpusUpsert.Bm25Target(reIdx, "text"), streamId = "s1"))
    assert(spark.read.parquet(s"$reIdx/doclen").count() === after)
    // a new stream lineage restarting at batch 0 still appends
    val b1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 150)
      .select("doc_id", "text")
    assert(graft.streaming.VectorIndexStream.appendBatch(
      b1, 0L, "doc_id", CorpusUpsert.Bm25Target(reIdx, "text"), streamId = "s2"))
    assert(spark.read.parquet(s"$reIdx/doclen").count() === after + b1.count())
  }
  test("bm25ProbeRids: snapshot scores ≡ an index holding exactly the " +
      "snapshot corpus; purged revisions refuse loudly") {
    import spark.implicits._
    // a "big" index: the full corpus plus revision rows under shifted
    // ids (the superseded originals stay physically present — no
    // tombstone machinery needed to exercise the rid cut itself)
    val off = 1000000L
    val revised = docs.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + off).as("doc_id"),
        concat(col("text"), lit(" revx")).as("text"))
    val fullDir = java.nio.file.Files
      .createTempDirectory("graft-lex-asof-full").toString + "/idx"
    LexIndex.bm25WriteIndex(
      docs.select("doc_id", "text").unionByName(revised),
      "doc_id", "text", fullDir, buckets = 16)
    // snapshot = originals for %4!=1 docs + revised rows for %4==1
    val snapIds = docs.filter(col("doc_id") % 4 =!= 1).select("doc_id")
      .unionByName(revised.select("doc_id"))
    val got = scores(LexIndex.bm25ProbeRids(spark, fullDir, "doc_id",
      terms, snapIds))
    // reference: a fresh index that only ever held the snapshot corpus
    val snapDir = java.nio.file.Files
      .createTempDirectory("graft-lex-asof-snap").toString + "/idx"
    val snapCorpus = docs.filter(col("doc_id") % 4 =!= 1)
      .select("doc_id", "text").unionByName(revised)
    LexIndex.bm25WriteIndex(snapCorpus, "doc_id", "text", snapDir,
      buckets = 16)
    val want = scores(LexIndex.bm25ProbeIndex(spark, snapDir, "doc_id",
      terms))
    assert(got === want)
    assert(got.nonEmpty)
    // live stats differ from snapshot stats (the caveat is real): the
    // full index's live probe scores diverge on shared ids
    val live = scores(LexIndex.bm25ProbeIndex(spark, fullDir, "doc_id",
      terms))
    assert(live.exists { case (id, s) => got.get(id).exists(_ != s) })
    // a rid with no doclen row (purged / never indexed) refuses loudly
    // the guard is fused into the snapshot lens projection (round 18),
    // so it surfaces at the action as a task failure, not an eager
    // IllegalArgumentException
    val bad = snapIds.unionByName(Seq(99999999L).toDF("doc_id"))
    val err = intercept[Exception](
      LexIndex.bm25ProbeRids(spark, fullDir, "doc_id", terms, bad)
        .collect())
    assert(err.getMessage.contains("purged"))
  }

  test("driver-side term bucket ≡ the Catalyst xxhash64 write-path bucket") {
    // the probe's zero-job bucket routing must reproduce the write
    // layout's hash bit-for-bit — ASCII, multi-byte UTF-8, empty, long
    val words = Seq("vector", "join", "scan", "", "a", "naïve", "héllo",
      "日本語テキスト", "x" * 100, "the", "ZZ-9_pq", "é́")
    import spark.implicits._
    for (buckets <- Seq(1, 16, 32, 64)) {
      val expected = words.toDF("w")
        .select(pmod(xxhash64(col("w")), lit(buckets.toLong)).cast("int"))
        .collect().map(_.getInt(0)).toSeq
      val got = words.map(LexIndex.termBucketForTest(_, buckets))
      assert(got === expected, s"buckets=$buckets")
    }
  }

  test("a live probe with tombstones present runs a pinned number of jobs") {
    val root = java.nio.file.Files.createTempDirectory("graft-lex-jobs").toString + "/idx"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", root, buckets = 16)
    LexIndex.Layout.delete(docs.filter(col("doc_id") % 7 === 0), "doc_id", root)
    // warm this index generation: the meta/ read and the N/avgdl
    // aggregate are one job each, once per generation
    LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms).collect()
    val (rows, jobs) = JobCounter(spark.sparkContext)(
      LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms).collect())
    assert(rows.nonEmpty)
    val sites = jobs.map(_.stageInfos.lastOption.map(_.name).getOrElse("?"))
    // no schema-inference job (stage "parquet at <read site>"): the
    // probe opens every relation with a driver-resolved schema
    assert(!sites.exists(_.startsWith("parquet at")), sites.mkString("; "))
    // N/avgdl are this generation's literals and dl rides in the
    // postings, so the plan reads the pruned postings slice and the
    // tombstone files only; df is a window
    assert(jobs.size === 4, sites.mkString("; "))
  }

  test("N/avgdl per index generation: after an append, applyBatch, delete, purge or compaction the next probe ≡ a fresh rebuild") {
    val dir = tmp("gen")
    def probe(p: String, id: String): Map[Long, Double] =
      scores(LexIndex.bm25ProbeIndex(spark, p, id, terms))
    def rebuilt(corpus: org.apache.spark.sql.DataFrame, id: String = "doc_id") = {
      val ref = tmp("gen-ref") + "/idx"
      LexIndex.bm25WriteIndex(corpus, id, "text", ref, buckets = 8)
      probe(ref, id)
    }
    val idx = s"$dir/idx"
    val kept = docs.filter(col("doc_id") % 5 =!= 0)
    LexIndex.bm25WriteIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id",
      "text", idx, buckets = 8)
    // each step probes once before its change (the cached generation)
    // and once after it
    assert(probe(idx, "doc_id") === rebuilt(docs.filter(col("doc_id") % 2 === 0)))
    CorpusUpsert.Bm25Target(idx, "text").append(
      docs.filter(col("doc_id") % 2 === 1), "doc_id")
    val all = rebuilt(docs)
    assert(probe(idx, "doc_id") === all)
    LexIndex.Layout.delete(docs.filter(col("doc_id") % 5 === 0), "doc_id", idx)
    val afterDelete = rebuilt(kept)
    assert(afterDelete !== all)
    assert(probe(idx, "doc_id") === afterDelete)
    assert(LexIndex.Layout.purge(spark, idx, "doc_id", targetBytes = 512).nonEmpty)
    assert(probe(idx, "doc_id") === afterDelete)
    assert(LexIndex.Layout.compact(spark, idx, maxFilesPerDir = 1).nonEmpty)
    assert(probe(idx, "doc_id") === afterDelete)
    // a delete and its purge with no probe between: the tombstone dir
    // is gone again, and the rewritten doclen/ alone names the change
    LexIndex.Layout.delete(kept.filter(col("doc_id") % 3 === 0), "doc_id", idx)
    LexIndex.Layout.purge(spark, idx, "doc_id")
    assert(!Tombstones.exists(spark, idx))
    assert(probe(idx, "doc_id") === rebuilt(kept.filter(col("doc_id") % 3 =!= 0)))

    // applyBatch: an inserted doc at rev 0, a revised one at rev 1 (its
    // rev-0 rid tombstoned)
    val rid = CorpusUpsert.RidCol
    val (ups, bm) = (s"$dir/ups", s"$dir/bm25")
    val base = docs.select("doc_id", "text")
    LexIndex.bm25WriteIndex(base.select(col("doc_id").as(rid), col("text")).limit(0),
      rid, "text", bm, buckets = 8)
    val targets = Seq(CorpusUpsert.Bm25Target(bm, "text"))
    def asRids(d: org.apache.spark.sql.DataFrame, rev: Int) =
      d.select(CorpusUpsert.ridExpr(col("doc_id"), lit(rev)).as(rid), col("text"))
    val first = base.filter(col("doc_id") < 300)
    CorpusUpsert.applyBatch(first, "doc_id", "b0", ups, targets)
    assert(probe(bm, rid) === rebuilt(asRids(first, 0), rid))
    val revised = first.filter(col("doc_id") % 4 === 1)
      .select(col("doc_id"), concat(col("text"), lit(" vector join")).as("text"))
    val fresh = base.filter(col("doc_id") >= 300)
    CorpusUpsert.applyBatch(revised.unionByName(fresh), "doc_id", "b1", ups, targets)
    assert(probe(bm, rid) === rebuilt(
      asRids(first.filter(col("doc_id") % 4 =!= 1).unionByName(fresh), 0)
        .unionByName(asRids(revised, 1)), rid))
  }

  test("a warm live probe, phrase rank, proximity rank and batch join scan no doclen/: dl rides in the postings") {
    import spark.implicits._
    val root = tmp("nodoclen") + "/idx"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", root, buckets = 16,
      positional = true)
    LexIndex.Layout.delete(docs.filter(col("doc_id") % 7 === 0), "doc_id", root)
    val phrases = Seq((1, Seq("vector", "scan"))).toDF("qid", "phrase")
    val plans = Seq(
      () => LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms),
      () => LexIndex.bm25PhraseRank(spark, root, "doc_id", Seq("vector", "scan")),
      () => LexIndex.bm25ProximityRank(spark, root, "doc_id",
        Seq("vector", "window"), 5),
      () => LexIndex.bm25PhraseJoin(phrases, root, "doc_id", "qid", "phrase",
        k = 5))
    for (plan <- plans) {
      plan().collect() // warm this index generation
      val d = plan()
      assert(d.collect().nonEmpty)
      assert(scansOf(d, "postings").nonEmpty, "no postings scan in the plan")
      assert(scansOf(d, "doclen").isEmpty, d.queryExecution.executedPlan.toString)
    }
  }

  test("an index written before postings carried dl is refused by name: probe, snapshot probe, rank and append") {
    import spark.implicits._
    val root = tmp("outdated") + "/idx"
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", root, buckets = 8)
    LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms).collect()
    // meta/ as the layout before the marker wrote it
    IndexLayout.Meta.write(Seq((8, false)).toDF("buckets", "positional"), root)
    val e = intercept[LexIndex.OutdatedLayout](
      LexIndex.bm25ProbeIndex(spark, root, "doc_id", terms))
    assert(e.getMessage.contains("rebuild"))
    intercept[LexIndex.OutdatedLayout](LexIndex.bm25ProbeRids(spark, root,
      "doc_id", terms, docs.select("doc_id")))
    intercept[LexIndex.OutdatedLayout](LexIndex.bm25PhraseRank(spark, root,
      "doc_id", Seq("vector", "scan")))
    val doclen0 = spark.read.parquet(s"$root/doclen").count()
    intercept[LexIndex.OutdatedLayout](CorpusUpsert.Bm25Target(root, "text")
      .append(docs.limit(5), "doc_id"))
    assert(spark.read.parquet(s"$root/doclen").count() === doclen0)
  }
}
