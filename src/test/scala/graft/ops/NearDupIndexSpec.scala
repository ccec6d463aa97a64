package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted MinHash-LSH near-dup index: probe ≡ the scan-path pair
  * relation bit-for-bit, append ≡ rebuild, file-listing pruning,
  * compaction/delete/purge identities, and the ingest dedup gate's
  * decision rule.
  */
class NearDupIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Synthetic corpus with planted near-dup twins: every 5th doc gets a
    * one-token-appended twin (shingle Jaccard 6/7 ≈ 0.857).
    */
  private def corpus(n: Int): Seq[(Long, String)] =
    (0 until n).flatMap { i =>
      val t = s"t${i}a t${i}b t${i}c t${i}d t${i}e t${i}f t${i}g t${i}h"
      if (i % 5 == 0) Seq((i.toLong * 10, t), (i.toLong * 10 + 1, s"$t x$i"))
      else Seq((i.toLong * 10, t))
    }

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ndidx-$tag")
      .toString + "/idx"

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def probePairs(path: String, q: DataFrame): Set[(Long, Long, Double)] =
    pairSet(NearDupIndex.neardupProbeIndex(spark, q, "doc_id", "text",
        path, threshold = 0.5, pruneDocLookup = false)
      .filter(col("q_id") < col("n_id")))

  test("self-probe reproduces the scan-path pair relation exactly (real corpus + planted twins)") {
    val real = Tables.load(spark, TestSpark.Sf001, "documents")
      .select("doc_id", "text")
    val twins = real.filter($"doc_id" < 5)
      .select(($"doc_id" + 10000000L).as("doc_id"),
        concat($"text", lit(" zz")).as("text"))
    val df = real.unionByName(twins)
    val root = tmpRoot("self")
    NearDupIndex.neardupWriteIndex(df, "doc_id", "text", root,
      shingleN = 3, numHashes = 32, bands = 8, nBuckets = 16,
      nDocBuckets = 8)
    val scanPath = pairSet(
      Dedup.minhashLshPairs(df, "doc_id", "text",
        shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5))
    val served = probePairs(root, df)
    assert(scanPath.nonEmpty, "planted twins must appear in the scan path")
    assert(served === scanPath)
  }

  test("build half + append half ≡ from-scratch rebuild (probe identity)") {
    val data = corpus(60)
    val df = data.toDF("doc_id", "text")
    val (a, b) = (df.filter($"doc_id" % 2 === 0), df.filter($"doc_id" % 2 === 1))
    val inc = tmpRoot("inc")
    NearDupIndex.neardupWriteIndex(a, "doc_id", "text", inc,
      nBuckets = 16, nDocBuckets = 8)
    CorpusUpsert.NearDupTarget(inc, "text").append(b, "doc_id")
    val full = tmpRoot("full")
    NearDupIndex.neardupWriteIndex(df, "doc_id", "text", full,
      nBuckets = 16, nDocBuckets = 8)
    val got = probePairs(inc, df)
    assert(got === probePairs(full, df))
    assert(got.nonEmpty)
    // content identity too, not just probe identity
    def content(p: String) = spark.read.parquet(s"$p/buckets")
      .select("doc_id", "band", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(content(inc) === content(full))
  }

  test("probe prunes the bucket scan to the probe band values' dirs at file listing") {
    val df = corpus(40).toDF("doc_id", "text")
    val root = tmpRoot("prune")
    NearDupIndex.neardupWriteIndex(df, "doc_id", "text", root,
      nBuckets = 16, nDocBuckets = 8)
    // query = an exact copy of an indexed doc under a new id:
    // guaranteed hits, so AQE cannot collapse the plan
    val q = Seq((9999L, corpus(40).head._2)).toDF("doc_id", "text")
    val probe = NearDupIndex.neardupProbeIndex(spark, q, "doc_id", "text",
      root, threshold = 0.5)
    assert(probe.collect().nonEmpty)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val bucketScans = scans(probe.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("buckets")))
    assert(bucketScans.nonEmpty, "no buckets scan in the probe plan")
    // 1 query × 8 bands × 1 bucket each = ≤ 8 (band, bb) dirs of 8×16 = 128
    for (scan <- bucketScans) {
      val pruned = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters)
      assert(pruned.length <= 8,
        s"probe listed ${pruned.length} bucket dirs (expected <= 8)")
    }
  }

  test("compaction folds append litter with bit-identical probes") {
    val data = corpus(48)
    val df = data.toDF("doc_id", "text")
    val root = tmpRoot("compact")
    NearDupIndex.neardupWriteIndex(df.filter($"doc_id" < 100), "doc_id",
      "text", root, nBuckets = 8, nDocBuckets = 4)
    for (k <- 1 to 4)
      CorpusUpsert.NearDupTarget(root, "text").append(
        df.filter($"doc_id" >= k * 100 && $"doc_id" < (k + 1) * 100),
        "doc_id")
    CorpusUpsert.NearDupTarget(root, "text")
      .append(df.filter($"doc_id" >= 500), "doc_id")
    val before = probePairs(root, df)
    val report = NearDupIndex.Layout.compact(spark, root,
      maxFilesPerDir = 1)
    assert(report.nonEmpty, "appends produced no compactable litter")
    report.foreach { case (dir, (nb, na)) =>
      assert(na <= nb && na == 1, s"$dir not folded: $nb -> $na")
    }
    assert(probePairs(root, df) === before)
    assert(before.nonEmpty)
  }

  test("delete excludes immediately; purge physically drops and probe ≡ rebuild-without") {
    val data = corpus(50)
    val df = data.toDF("doc_id", "text")
    val root = tmpRoot("del")
    NearDupIndex.neardupWriteIndex(df, "doc_id", "text", root,
      nBuckets = 8, nDocBuckets = 4)
    // delete the planted twins of the first two families (ids 1, 51)
    val dead = Seq(1L, 51L).toDF("doc_id")
    NearDupIndex.Layout.delete(dead, "doc_id", root)
    val afterDelete = probePairs(root, df)
    assert(!afterDelete.exists(p => p._1 == 1L || p._2 == 1L ||
      p._1 == 51L || p._2 == 51L))
    // purge: physical drop, tombstones cleared, probe unchanged
    val report = NearDupIndex.Layout.purge(spark, root, "doc_id")
    assert(report.nonEmpty)
    assert(spark.read.parquet(s"$root/buckets")
      .filter($"doc_id".isin(1L, 51L)).count() === 0)
    assert(spark.read.parquet(s"$root/docs")
      .filter($"doc_id".isin(1L, 51L)).count() === 0)
    assert(!Tombstones.exists(spark, root))
    assert(probePairs(root, df) === afterDelete)
    // ≡ an index that never held the ids
    val rebuilt = tmpRoot("del-rebuilt")
    NearDupIndex.neardupWriteIndex(df.filter(!$"doc_id".isin(1L, 51L)),
      "doc_id", "text", rebuilt, nBuckets = 8, nDocBuckets = 4)
    assert(probePairs(rebuilt, df) === afterDelete)
    // a deleted doc can still be ASKED about, just not FOUND
    val asDead = NearDupIndex.neardupProbeIndex(spark,
        df.filter($"doc_id" === 1L), "doc_id", "text", root)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(asDead.forall(_._1 == 1L) && asDead.nonEmpty)
  }

  test("dedupGate: corpus matches, within-batch first-writer-wins, election by (jaccard desc, dup_of asc)") {
    val idxDocs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w")).toDF("doc_id", "text")
    val root = tmpRoot("gate")
    NearDupIndex.neardupWriteIndex(idxDocs, "doc_id", "text", root,
      nBuckets = 8, nDocBuckets = 4)
    val batch = Seq(
      (101L, "a b c d e f g h"),      // exact copy of 1 -> dup_of 1
      (102L, "a b c d e f g h zz"),   // near copy of 1 (6/7) -> dup_of 1
      (104L, "k1 k2 k3 k4 k5"),       // novel -> kept
      (105L, "k1 k2 k3 k4 k5"),       // within-batch dup of 104
      (106L, "zz"),                   // below shingleN -> kept (unjudgeable)
      (107L, "a b c d e f g h"))      // matches corpus 1 AND batch 101,
                                      // both at 1.0 -> tie to smallest id: 1
      .toDF("doc_id", "text")
    val out = NearDupIndex.dedupGate(batch, "doc_id", "text", root,
        threshold = 0.5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq === Seq(
      (101L, false, 1L),
      (102L, false, 1L),
      (104L, true, -1L),
      (105L, false, 104L),
      (106L, true, -1L),
      (107L, false, 1L)))
    // jaccard of the near copy: 6 shared shingles of 7 total
    val j102 = NearDupIndex.dedupGate(batch, "doc_id", "text", root)
      .filter($"doc_id" === 102L).select("jaccard").head().getDouble(0)
    assert(math.abs(j102 - math.rint(6.0 / 7.0 * 1e6) / 1e6) < 1e-12)
    // storage hygiene (round-18): a gate call retains exactly ONE
    // persisted block set — the returned batch-sized verdict — and
    // releases its internal shingle checkpoint before returning, so a
    // long-lived ingest session does not accumulate per-call blocks
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val gated = NearDupIndex.dedupGate(batch, "doc_id", "text", root)
    val retained = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(retained.size === 1,
      s"dedupGate retained ${retained.size} block sets (want 1: the result)")
    Ckpt.release(gated) // Dataset.unpersist is a no-op on checkpoints
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    // in a scope, the result's block set is freed when the scope closes
    Ckpt.scope(NearDupIndex.dedupGate(batch, "doc_id", "text", root).count())
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "dedupGate in a scope retained block sets after the scope closed")
  }

  test("stream-built index probes identically to a batch build; redelivered batch appends nothing") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-ndidx-stream")
    val (src, idx, ckpt, batchIdx) =
      (s"$root/src", s"$root/idx", s"$root/ckpt", s"$root/bidx")
    val df = corpus(40).toDF("doc_id", "text")
    NearDupIndex.neardupWriteIndex(df.limit(0), "doc_id", "text", idx,
      nBuckets = 8, nDocBuckets = 4)
    df.repartition(3).write.parquet(src)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = graft.streaming.VectorIndexStream
      .indexSink(stream, "doc_id", CorpusUpsert.NearDupTarget(idx, "text"))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    NearDupIndex.neardupWriteIndex(df, "doc_id", "text", batchIdx,
      nBuckets = 8, nDocBuckets = 4)
    val streamed = probePairs(idx, df)
    assert(streamed === probePairs(batchIdx, df))
    assert(streamed.nonEmpty)
    // redelivery: the same (stream, batch) id is a ledger no-op
    val reIdx = s"$root/re"
    NearDupIndex.neardupWriteIndex(df.limit(0), "doc_id", "text", reIdx,
      nBuckets = 8, nDocBuckets = 4)
    assert(graft.streaming.VectorIndexStream.appendBatch(
      df, 0L, "doc_id", CorpusUpsert.NearDupTarget(reIdx, "text"), "s1"))
    val n1 = spark.read.parquet(s"$reIdx/buckets").count()
    assert(!graft.streaming.VectorIndexStream.appendBatch(
      df, 0L, "doc_id", CorpusUpsert.NearDupTarget(reIdx, "text"), "s1"))
    assert(spark.read.parquet(s"$reIdx/buckets").count() === n1)
  }

  test("guards: empty probe batch refused; bands must divide numHashes; empty bootstrap appends fine") {
    val root = tmpRoot("guard")
    val df = corpus(10).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      NearDupIndex.neardupWriteIndex(df, "doc_id", "text", root,
        numHashes = 32, bands = 7)
    }
    // empty frame bootstraps an empty index a later append fills
    NearDupIndex.neardupWriteIndex(df.limit(0), "doc_id", "text", root,
      nBuckets = 8, nDocBuckets = 4)
    CorpusUpsert.NearDupTarget(root, "text").append(df, "doc_id")
    val full = tmpRoot("guard-full")
    NearDupIndex.neardupWriteIndex(df, "doc_id", "text", full,
      nBuckets = 8, nDocBuckets = 4)
    assert(probePairs(root, df) === probePairs(full, df))
    // a probe batch with no shingle-reaching doc is refused loudly
    val e = intercept[IllegalArgumentException] {
      NearDupIndex.neardupProbeIndex(spark,
        Seq((1L, "zz")).toDF("doc_id", "text"), "doc_id", "text", root)
    }
    assert(e.getMessage.contains("empty query batch"))
  }
}
