package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
  lazy val query: Seq[Double] = embs.filter(col("vec_id") === 0)
    .select("embedding").head().getSeq[Float](0).map(_.toDouble)

  test("brute-force top-k: query vector itself ranks first with cosine 1.0") {
    val top = VectorOps.bruteForceTopK(embs, "vec_id", "embedding", query, 5).collect()
    assert(top.head.getLong(0) === 0L)
    assert(top.head.getDouble(1) === 1.0)
    // descending similarity
    val sims = top.map(_.getDouble(1)).toSeq
    assert(sims === sims.sorted.reverse)
  }

  test("knnClassify: majority label of constructed neighborhoods; vote ties take the smaller label") {
    import spark.implicits._
    // Two tight clusters on orthogonal axes. Labels: cluster A is 2/3
    // label 1, cluster B pure label 2 — so a query near A must vote 1
    // (majority, not unanimity) and one near B must vote 2.
    val corpus = Seq(
      (10L, Array(1.0f, 0.01f), 1), (11L, Array(1.0f, 0.02f), 1), (12L, Array(1.0f, 0.03f), 7),
      (20L, Array(0.01f, 1.0f), 2), (21L, Array(0.02f, 1.0f), 2), (22L, Array(0.03f, 1.0f), 2),
      (30L, Array(0.0f, 0.0f), 9)) // zero-norm: must be excluded, not NaN-ranked
      .toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(0.0f, 0.0f), 0)) // zero-norm query: dropped from output
      .toDF("vec_id", "embedding", "label")
    val out = VectorOps.knnClassify(corpus, queries, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out === Map(1L -> ((1, 2L)), 2L -> ((2, 3L))))
    // Vote tie, constructed directly: two equal-cosine neighbors with
    // labels 5 and 3, k=2 → one vote each; the smaller label must win.
    val tieCorpus = Seq(
      (1L, Array(1.0f, 0.0f), 5), (2L, Array(1.0f, 0.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val tq = Seq((9L, Array(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val tie = VectorOps.knnClassify(tieCorpus, tq, "vec_id", "embedding", "label", k = 2)
      .head()
    assert((tie.getLong(0), tie.getInt(1), tie.getLong(2)) === ((9L, 3, 1L)))
    intercept[IllegalArgumentException] {
      VectorOps.knnClassify(tieCorpus, tq, "vec_id", "embedding", "label", k = 0)
    }
  }

  test("SRP-LSH ANN: finds the query itself and recalls a sane fraction of true top-k") {
    val exact = VectorOps.bruteForceTopK(embs, "vec_id", "embedding", query, 20)
      .collect().map(_.getLong(0)).toSet
    val approx = VectorOps.srpTopK(embs, "vec_id", "embedding", query, 20)
      .collect().map(_.getLong(0)).toSet
    assert(approx.contains(0L), "bucket of the query must contain the query")
    val recall = (exact & approx).size / 20.0
    assert(recall >= 0.25, s"recall@20 = $recall — buckets degenerated")
  }

  test("IVF ANN: finds the query itself and recalls a sane fraction of true top-k") {
    val exact = VectorOps.bruteForceTopK(embs, "vec_id", "embedding", query, 20)
      .collect().map(_.getLong(0)).toSet
    val approx = VectorOps.ivfTopK(embs, "vec_id", "embedding", query, 20)
      .collect().map(_.getLong(0)).toSet
    assert(approx.contains(0L), "probed lists must contain the query's own list")
    val recall = (exact & approx).size / 20.0
    assert(recall >= 0.25, s"recall@20 = $recall — probe lists degenerated")
  }

  test("persisted IVF index: probe is a partition-pruned scan (nProbe dirs) matching ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    val cents = VectorOps.ivfWriteIndex(embs, "vec_id", "embedding", dir,
      nCentroids = 8, kmeansIters = 4)
    val probe = VectorOps.ivfProbeIndex(spark, dir, cents, "vec_id", query, 10, nProbe = 2)
    probe.collect()
    // the index has more cluster directories than the probe touches
    val clusterDirs = new java.io.File(dir).listFiles
      .count(f => f.isDirectory && f.getName.startsWith("cluster="))
    assert(clusterDirs > 2, s"index degenerated to $clusterDirs clusters")
    // the scan's pruned file listing covers exactly the nProbe partitions
    def findScan(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.FileSourceScanExec = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScan(a.executedPlan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      case other => other.children.map(findScan).head
    }
    val scan = findScan(probe.queryExecution.executedPlan)
    val pruned = scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(pruned.length === 2,
      s"probe read ${pruned.length} partitions, expected nProbe=2")
    // parity: the persisted probe and the in-memory path agree bit-for-bit
    val expected = VectorOps.ivfTopK(embs, "vec_id", "embedding", query, 10,
        nCentroids = 8, nProbe = 2, kmeansIters = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got === expected)
  }

  test("ivfWriteIndex with refineIters: persisted centroids are the sample-fit + full-corpus refinement; probe stays sound") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-ref").toString + "/idx"
    val cents = VectorOps.ivfWriteIndex(embs, "vec_id", "embedding", dir,
      nCentroids = 8, kmeansIters = 4, refineIters = 2)
    // the index-path centroids equal the manual composition (two
    // independent runs of the distributed sums — agreement to
    // exchange-order ulps, the kmeansRefine contract)
    val manual = VectorOps.kmeansRefine(embs, "embedding",
      VectorOps.kmeansCentroids(embs, "embedding", 8, 4, 42L), iters = 2)
    assert(cents.length === manual.length)
    cents.zip(manual).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    }
    // every vector indexed exactly once under the refined table
    assert(spark.read.parquet(dir).count() === embs.count())
    // self-retrieval through the refined index: the query IS vec 0
    val probe = VectorOps.ivfProbeIndex(spark, dir, cents, "vec_id",
        query, 5, nProbe = 2).collect()
    assert(probe.head.getLong(0) === 0L)
    assert(probe.head.getDouble(1) === 1.0)
  }

  test("IVF incremental append: probe over base+delta equals a from-scratch index on the same centroids") {
    val baseDir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString + "/idx"
    val fullDir = java.nio.file.Files.createTempDirectory("graft-ivf-full").toString + "/idx"
    val base = embs.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0)
    val delta = embs.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 1)
    // fit centroids on the base corpus, append the delta against them
    val cents = VectorOps.ivfWriteIndex(base, "vec_id", "embedding", baseDir,
      nCentroids = 8, kmeansIters = 4)
    CorpusUpsert.IvfTarget(baseDir, "embedding", cents).append(delta,
      "vec_id")
    // from-scratch reference: the WHOLE corpus assigned to the SAME
    // frozen centroids (append must be indistinguishable from rebuild)
    CorpusUpsert.IvfTarget(fullDir, "embedding", cents).append(embs, "vec_id")
    val got = VectorOps.ivfProbeIndex(spark, baseDir, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val expected = VectorOps.ivfProbeIndex(spark, fullDir, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got === expected)
    // the delta really landed: appended index holds the full corpus
    assert(spark.read.parquet(baseDir).count() === embs.count())
  }

  test("IVF compaction: many appended batches fold to bounded files per cluster, probe results identical") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-cmp").toString + "/idx"
    val base = embs.filter(col("vec_id") % 10 === 0)
    val cents = VectorOps.ivfWriteIndex(base, "vec_id", "embedding", dir,
      nCentroids = 8, kmeansIters = 4)
    // nine single-slice appends: the steady-drip pattern that litters
    // every cluster with one small file per batch (trigger OFF — this
    // test measures the MANUAL maintenance path)
    for (m <- 1 to 9)
      CorpusUpsert.IvfTarget(dir, "embedding", cents)
        .append(embs.filter(col("vec_id") % 10 === m), "vec_id")
    def clusterFiles() = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
      .map(d => d.getName -> d.listFiles.count { f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")
      }).toMap
    val before = clusterFiles()
    assert(before.values.exists(_ > 4), s"appends produced no small-file litter: $before")
    val probeBefore = VectorOps.ivfProbeIndex(spark, dir, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val report = VectorOps.IvfLayout.compact(spark, dir, maxFilesPerDir = 4)
    val after = clusterFiles()
    // every oversized cluster folded; compaction touched nothing else
    assert(report.nonEmpty)
    for ((cl, n) <- after) assert(n <= 4, s"$cl still has $n files")
    for ((cl, (b, a)) <- report) {
      assert(before(cl) === b && after(cl) === a && a < b, s"$cl: $b -> $a")
    }
    for ((cl, n) <- before if !report.contains(cl))
      assert(after(cl) === n, s"$cl was rewritten despite being under the threshold")
    // no rewrite litter left behind: no stage under the root's fixed
    // rewrite path, no hidden `.old` copy anywhere in the index
    assert(!new java.io.File(s"$dir/_graft_stage/rewrite").exists)
    val hidden = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .toArray.toSeq.map(_.toString).filter(_.endsWith(".old"))
    assert(hidden.isEmpty, s"litter: $hidden")
    // rows and probe results are bit-identical
    assert(spark.read.parquet(dir).count() === embs.count())
    val probeAfter = VectorOps.ivfProbeIndex(spark, dir, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(probeAfter === probeBefore)
  }

  test("IVF auto-compaction: a steady append drip keeps file counts bounded and probes ≡ rebuild") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-auto").toString + "/idx"
    val fullDir = java.nio.file.Files.createTempDirectory("graft-ivf-auto-full").toString + "/idx"
    val base = embs.filter(col("vec_id") % 10 === 0)
    val cents = VectorOps.ivfWriteIndex(base, "vec_id", "embedding", dir,
      nCentroids = 8, kmeansIters = 4)
    // the same nine-batch drip as the manual test, compacting after
    // every append with a tight knee so it must fire mid-sequence
    val reports = (1 to 9).map { m =>
      CorpusUpsert.IvfTarget(dir, "embedding", cents)
        .append(embs.filter(col("vec_id") % 10 === m), "vec_id")
      VectorOps.IvfLayout.compact(spark, dir, 4)
    }
    assert(reports.exists(_.nonEmpty), "the trigger never fired across nine appends")
    // invariant the trigger maintains: never more than the knee's file
    // count per cluster AFTER an append returns
    val counts = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
      .map(d => d.getName -> d.listFiles.count { f =>
        f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")
      }).toMap
    for ((cl, n) <- counts) assert(n <= 4, s"$cl has $n files after auto-compaction")
    // auto-compacted probe ≡ a from-scratch index on the same centroids
    CorpusUpsert.IvfTarget(fullDir, "embedding", cents).append(embs, "vec_id")
    val got = VectorOps.ivfProbeIndex(spark, dir, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val expected = VectorOps.ivfProbeIndex(spark, fullDir, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got === expected)
    assert(spark.read.parquet(dir).count() === embs.count())
  }

  test("native nearest-centroid ≡ greatest-over-structs assignment (parity incl. ties), at 16 and 200 centroids") {
    import org.apache.spark.sql.functions.col
    // Real corpus + a planted exact-tie row: the zero-sim vector ties
    // against every centroid orthogonal to it; both paths must resolve
    // toward the same (higher) index.
    for (k <- Seq(16, 200)) {
      val cents = VectorOps.indexedCents(
        VectorOps.kmeansCentroids(embs, "embedding", k, 4))
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("cluster")).collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
      val native = canon(VectorOps.assignClusters(embs, "embedding", cents))
      val reference = canon(VectorOps.assignClustersComposable(embs, "embedding", cents))
      assert(native === reference, s"k=$k: native assignment diverged")
      assert(native.nonEmpty)
    }
  }

  test("ivfKnnJoin: self-retrieval ranks self first; excludeSelf drops it; ranks contiguous") {
    val sub = embs.filter(col("vec_id") < 200)
    val knn = VectorOps.ivfKnnJoin(sub, sub, "vec_id", "embedding",
      k = 5, nClusters = 8, nProbe = 2).cache()
    try {
      val firsts = knn.filter(col("rank") === 1).collect()
      assert(firsts.length === 200)
      // every query's rank-1 neighbor is itself at cosine 1.0
      assert(firsts.forall(r => r.getLong(0) === r.getLong(1) && r.getDouble(2) === 1.0))
      // ranks are 1..n contiguous per query, pairs unique
      val perQ = knn.groupBy("q_id")
        .agg(count(lit(1)).as("n"), max("rank").as("mx"),
          countDistinct("n_id").as("dn"))
        .filter(col("n") =!= col("mx") || col("n") =!= col("dn") || col("n") > 5)
      assert(perQ.count() === 0)
      val noSelf = VectorOps.ivfKnnJoin(sub, sub, "vec_id", "embedding",
        k = 5, nClusters = 8, nProbe = 2, excludeSelf = true)
      assert(noSelf.filter(col("q_id") === col("n_id")).count() === 0)
    } finally knn.unpersist()
  }

  test("ivfKnnJoin: query-side spread is partitioning-invariant — identical rows at any partition count") {
    // the round-17 degenerate-scan spread (DirLayout.spread before the
    // probe/join chain) must never change the pair set or any rank:
    // pin the relation bit-for-bit across partition regimes, including
    // a pre-repartitioned query side where the spread is a no-op
    val sub = embs.filter(col("vec_id") < 600)
    def rows(qs: org.apache.spark.sql.DataFrame) =
      VectorOps.ivfKnnJoin(sub, qs, "vec_id", "embedding",
          k = 5, nClusters = 8, nProbe = 2, excludeSelf = true)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
    val spreadPath = rows(sub)                      // degenerate scan → spread fires
    val noopPath = rows(sub.repartition(64))        // already parallel → no-op
    assert(spreadPath.nonEmpty)
    assert(noopPath === spreadPath)
  }

  test("ivfKnnJoin: recall >= 0.95 vs exact on clustered data, scanning one cluster per query") {
    import spark.implicits._
    // same three-well-separated-clusters construction as the centroid
    // test below; every query's true neighbors live in its own cluster,
    // so nProbe = 1 must recover them while scoring ~1/3 of the corpus
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Double]) =
      base.map(x => x + 0.05 * rnd.nextGaussian())
    val bases = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val rows = (0L until 300L).map(i => (i, jitter(bases((i % 3).toInt))))
    val df = rows.toDF("vec_id", "embedding").cache()
    try {
      val knn = VectorOps.ivfKnnJoin(df, df, "vec_id", "embedding",
        k = 5, nClusters = 3, nProbe = 1, excludeSelf = true)
      // exact top-5 per query over the all-pairs relation (test-scale only)
      val a = df.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      val b = df.select(col("vec_id").as("n_id"), col("embedding").as("nv"))
      val byScore = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
      val exact = a.crossJoin(b).filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          round(VectorOps.cosine(col("qv"), col("nv")), 6).as("cosine"))
        .withColumn("rank", row_number().over(byScore))
        .filter(col("rank") <= 5)
      val exactPairs = exact.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotPairs = knn.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactPairs & gotPairs).size.toDouble / exactPairs.size
      assert(recall >= 0.95, s"recall@5 = $recall")
      // scan-fraction contract: candidates scored ~ one cluster per query
      val scoredRows = VectorOps.ivfKnnJoin(df, df, "vec_id", "embedding",
        k = Int.MaxValue, nClusters = 3, nProbe = 1).count()
      assert(scoredRows <= 300L * 150L, // ≪ the 90,000 all-pairs rows
        s"scored $scoredRows — candidate set should be ~cluster-sized, not all-pairs")
    } finally df.unpersist()
  }

  test("ivfKnnJoin hierarchical routing: recall holds on clustered data, self-retrieval intact") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def jitter(base: Array[Double]) =
      base.map(x => x + 0.05 * rnd.nextGaussian())
    val bases = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val rows = (0L until 300L).map(i => (i, jitter(bases((i % 3).toInt))))
    val df = rows.toDF("vec_id", "embedding").cache()
    try {
      // hierThreshold = 1 forces the coarse→fine path at a size where
      // the flat path is still checkable against it
      def run(thresh: Int) = VectorOps.ivfKnnJoin(df, df, "vec_id", "embedding",
          k = 5, nClusters = 12, nProbe = 4, excludeSelf = true,
          hierThreshold = thresh, coarseProbes = 2)
        .select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val flat = run(Int.MaxValue)
      val hier = run(1)
      // the routing is approximate, but on well-separated clusters with
      // coarseProbes=2 of ~sqrt(12) groups it must retain ~all pairs
      val recallVsFlat = (flat & hier).size.toDouble / flat.size
      assert(recallVsFlat >= 0.95, s"hier recall vs flat = $recallVsFlat")
      val self = VectorOps.ivfKnnJoin(df, df, "vec_id", "embedding",
        k = 1, nClusters = 12, nProbe = 4, hierThreshold = 1, coarseProbes = 2)
      val firsts = self.filter(col("rank") === 1).collect()
      assert(firsts.nonEmpty &&
        firsts.forall(r => r.getLong(0) === r.getLong(1) && r.getDouble(2) === 1.0))
    } finally df.unpersist()
  }

  test("semDedup/semDedupDelta hierarchical routing: kept set matches the flat cut on clustered data") {
    import spark.implicits._
    // planted duplicate pairs inside well-separated clusters: every id
    // 3k+1 is an exact-direction twin (2×) of id 3k, so flat semDedup
    // drops exactly the twins; hier routing (forced via hierThreshold=1)
    // must land both pair members in the same cluster and agree
    val rnd = new scala.util.Random(17)
    def jitter(base: Array[Double]) =
      base.map(x => x + 0.05 * rnd.nextGaussian())
    val bases = Seq(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val rows = (0L until 300L by 3L).flatMap { i =>
      val v = jitter(bases(((i / 3) % 3).toInt))
      Seq((i, v), (i + 1, v.map(_ * 2.0)), (i + 2, jitter(bases(((i / 3) % 3).toInt))))
    }
    val df = rows.toDF("vec_id", "embedding").cache()
    try {
      def keptIds(d: org.apache.spark.sql.DataFrame) =
        d.select("vec_id").collect().map(_.getLong(0)).toSet
      val flat = keptIds(VectorOps.semDedup(df, "vec_id", "embedding", 0.95,
        nClusters = 12, hierThreshold = Int.MaxValue))
      val hier = keptIds(VectorOps.semDedup(df, "vec_id", "embedding", 0.95,
        nClusters = 12, hierThreshold = 1, coarseProbes = 2))
      assert(flat.size < rows.size, "gate corpus must actually dedup")
      assert(hier === flat, "hier semDedup diverged from the flat cut")
      // delta contract under routing: base = even tens, delta = the rest
      val base0 = df.filter(col("vec_id") % 2 === 0)
      val delta = df.filter(col("vec_id") % 2 === 1)
      val cents = VectorOps.kmeansCentroids(df, "embedding", 12)
      val flatD = keptIds(VectorOps.semDedupDelta(base0, delta, "vec_id",
        "embedding", 0.95, cents, hierThreshold = Int.MaxValue))
      val hierD = keptIds(VectorOps.semDedupDelta(base0, delta, "vec_id",
        "embedding", 0.95, cents, hierThreshold = 1, coarseProbes = 2))
      assert(flatD.size < rows.count(_._1 % 2 == 1), "delta gate must actually dedup")
      assert(hierD === flatD, "hier semDedupDelta diverged from the flat cut")
    } finally df.unpersist()
  }

  test("IVF k-means centroids beat first-N-by-id on clustered data") {
    import spark.implicits._
    // Three well-separated clusters on the 4-sphere; ids ordered so the
    // first-N centroid heuristic draws EVERY centroid from cluster-A-like
    // vectors, leaving clusters B and C unrepresented. The first 3 ids
    // have ZERO component in the query direction (z) with a wide y/w
    // spread, so the pure-c query ties at sim 0 against all three
    // centroids (deterministic tiebreak picks one) while each C point's
    // assignment is decided by its own jitter — the query's probe list
    // decorrelates from its true neighbors. k-means places one centroid
    // per cluster and recalls everything, scanning exactly one cluster.
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Double]) =
      base.map(x => x + 0.05 * rnd.nextGaussian())
    val a = Array(1.0, 0.0, 0.0, 0.0)
    val b = Array(0.0, 1.0, 0.0, 0.0)
    val c = Array(0.0, 0.0, 1.0, 0.0)
    def aCent() = Array(1.0, 0.6 * rnd.nextGaussian(), 0.0, 0.6 * rnd.nextGaussian())
    val rows =
      (0L until 3L).map(i => (i, aCent())) ++
      (3L until 100L).map(i => (i, jitter(a))) ++
      (100L until 200L).map(i => (i, jitter(b))) ++
      (200L until 300L).map(i => (i, jitter(c)))
    val df = rows.toDF("vec_id", "embedding")
    val q = c.toSeq
    val exact = VectorOps.bruteForceTopK(df, "vec_id", "embedding", q, 20)
      .collect().map(_.getLong(0)).toSet
    assert(exact.forall(_ >= 200L)) // true neighbors are all in cluster C
    val firstN = VectorOps.ivfTopK(df, "vec_id", "embedding", q, 20,
        nCentroids = 3, nProbe = 1, kmeansIters = 0)
      .collect().map(_.getLong(0)).toSet
    val kmeans = VectorOps.ivfTopK(df, "vec_id", "embedding", q, 20,
        nCentroids = 3, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert((exact & firstN).size <= 10, // measured 5/20, scanning 26/300
      s"first-N centroids blind to cluster C should miss, hit ${(exact & firstN).size}")
    assert((exact & kmeans).size === 20,
      s"k-means recall@20 = ${(exact & kmeans).size}/20")
    // and k-means does it scanning one cluster, not the corpus
    val kmeansScanned = VectorOps.ivfTopK(df, "vec_id", "embedding", q, Int.MaxValue,
        nCentroids = 3, nProbe = 1).count()
    assert(kmeansScanned === 100L, s"scanned $kmeansScanned of 300")
  }

  test("IVF recall@20 >= 19/20 at sf0.01 (probe budget sized for a structureless corpus)") {
    // The sf0.01 embeddings are near-uniform on the sphere (max
    // off-diagonal cosine ~0.5): there are no clusters for ANY
    // partition-probe ANN to exploit, so hitting 19/20 honestly costs a
    // probe budget approaching the corpus (14/16 lists ~ 88% scanned —
    // measured; 4/16 lists gives ~6/20, chance level for 25% coverage).
    // The clustered-data test above is the regime IVF is FOR; this one
    // pins that recall scales with budget when structure is absent, with
    // the query scored OUT of corpus so no centroid list contains it for
    // free (first-N "19/20 at 25%" in earlier rounds was exactly that
    // artifact: the query was centroid #0 and its neighbors assigned to
    // its own list).
    val e01 = Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    val corpus = e01.filter(col("vec_id") =!= 0)
    val q = e01.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val exact = VectorOps.bruteForceTopK(corpus, "vec_id", "embedding", q, 20)
      .collect().map(_.getLong(0)).toSet
    val approx = VectorOps.ivfTopK(corpus, "vec_id", "embedding", q, 20, nProbe = 14)
      .collect().map(_.getLong(0)).toSet
    assert((exact & approx).size >= 19, s"recall@20 = ${(exact & approx).size}/20")
  }

  test("zero-norm corpus vectors are excluded from ANN top-k, not ranked first as NaN") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.0, 0.0)), // NaN cosine sorts above 1.0 if unguarded
      (2L, Array(1.0, 0.0)),
      (3L, Array(0.9, 0.1))).toDF("vec_id", "embedding")
    val top = VectorOps.bruteForceTopK(df, "vec_id", "embedding", Seq(1.0, 0.0), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(top === Seq(2L, 3L)) // zero vector absent, true neighbor first
    // and a zero-norm QUERY fails fast instead of returning NaN ranks
    intercept[IllegalArgumentException] {
      VectorOps.bruteForceTopK(df, "vec_id", "embedding", Seq(0.0, 0.0), 3)
    }
  }

  test("IVF on an empty corpus returns an empty frame, not an analysis error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Double])].toDF("vec_id", "embedding")
    val out = VectorOps.ivfTopK(empty, "vec_id", "embedding", Seq(1.0, 0.0), 5)
    assert(out.columns.toSeq === Seq("vec_id", "cosine"))
    assert(out.count() === 0)
  }

  test("approx_count_distinct stays within its error bound of exact") {
    val events = graft.Tables.load(spark, TestSpark.Sf001, "events")
    val rows = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact"),
        approx_count_distinct("user_id").as("approx"))
      .collect()
    rows.foreach { r =>
      val (e, a) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e <= 0.1, s"${r.getString(0)}: approx $a vs exact $e")
    }
  }

  test("int8 quantization: cosine drift bounded, zero vector safe") {
    import org.apache.spark.sql.functions._
    val q = embs
      .withColumn("dv", VectorOps.toDoubleVec(col("embedding")))
      .withColumn("qz", VectorOps.quantizeInt8(col("embedding")))
      .withColumn("dq", VectorOps.dequantize(col("qz")))
      .select(VectorOps.cosine(col("dv"), col("dq")).as("self_cos"))
      .agg(min("self_cos")).head().getDouble(0)
    // reconstructed vector stays nearly collinear with the original
    assert(q > 0.999, s"min self-cosine after int8 round-trip = $q")
    import spark.implicits._
    val zero = Seq(Tuple1(Array(0f, 0f))).toDF("embedding")
      .select(VectorOps.dequantize(VectorOps.quantizeInt8(col("embedding"))).as("v"))
      .head().getSeq[Double](0)
    assert(zero === Seq(0.0, 0.0))
  }

  test("semDedupDelta: conservative vs batch, twin drops, zero-norm survival, indexed ≡ DataFrame") {
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val e = embs.select(col("vec_id"), col("embedding"))
    val base0 = e.filter(col("vec_id") < 250)
    val fresh = e.filter(col("vec_id") >= 250)
    // exact-direction twins of every 7th base doc (scaled ×2: float-exact,
    // cosine exactly 1.0) — direction-cliques, so incremental must agree
    // with batch on them no matter which member survives
    val twins = base0.filter(col("vec_id") % 7 === 0).select(
      (col("vec_id") + 10000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val zeroRow = Seq((600L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding")
    val delta = fresh.unionAll(twins).unionAll(zeroRow)
    val cents = VectorOps.kmeansCentroids(base0, "embedding", 16, 4)
    val empty = e.limit(0)
    def ids(df: DataFrame) = df.select("vec_id").collect().map(_.getLong(0)).toSet
    // empty base ⇒ the delta rule alone IS the batch pairwise rule
    val baseKept = VectorOps.semDedupDelta(empty, base0, "vec_id", "embedding", 0.9, cents)
    val deltaKeptDf = VectorOps.semDedupDelta(baseKept, delta, "vec_id", "embedding", 0.9, cents)
    val deltaKept = ids(deltaKeptDf)
    assert(!deltaKept.exists(_ >= 10000000L), "every planted twin must drop against its kept base partner")
    assert(deltaKept.contains(600L), "zero-norm delta rows have no direction and must survive")
    // incremental result vs one batch frozen-centroid run over base∪delta:
    // drops are a subset (conservative), and on this corpus (drop classes
    // are the planted cliques) row-for-row equal
    val batchKept = ids(VectorOps.semDedupDelta(empty, base0.unionAll(delta),
      "vec_id", "embedding", 0.9, cents))
    val incrementalKept = ids(baseKept) ++ deltaKept
    assert(batchKept.subsetOf(incrementalKept), "incremental may only KEEP more, never drop more")
    assert(incrementalKept === batchKept)
    // indexed variant: kept base persisted as an IVF index on the same
    // frozen centroids reproduces the DataFrame variant exactly
    val idxDir = java.nio.file.Files.createTempDirectory("graft-semdelta").toString + "/idx"
    CorpusUpsert.IvfTarget(idxDir, "embedding", cents).append(baseKept,
      "vec_id")
    val keptIdx = ids(VectorOps.semDedupDeltaIndexed(delta, "vec_id", "embedding", 0.9, idxDir, cents))
    assert(keptIdx === deltaKept)
  }

  test("srpNearDupPairs: integer-element vectors cast through, same contract as the sketch side") {
    import spark.implicits._
    // array<int> is neither float nor double — the verify side must
    // route it through toDoubleVec (as srpCandidatePairs already does)
    // instead of failing graft_dot's type check.
    val df = Seq(
      (1L, Array(10, 0, 0)), (2L, Array(9, 1, 0)), (3L, Array(0, 10, 0)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.srpNearDupPairs(df, "vec_id", "embedding", 0.9,
        planes = 4, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("verify broadcast gate: estimated bytes, not row count alone, pick the plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    import spark.implicits._
    // dim-256 double: ~2.1 KB/row estimated, so the byte ceiling
    // (1 GiB) cuts in at ~500k rows — under the 1M row bound, which is
    // exactly the case the row-only gate got wrong (a high-dim corpus
    // broadcast past Spark's hard limit).
    val dim = 256
    val df = (0 until 8).map(i =>
        (i.toLong, Array.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.0)))
      .toDF("vec_id", "embedding")
    // the candidate side always carries broadcast hints of its own (the
    // skew-guard anti-joins), so the verify hint shows up as a DELTA of
    // two (one per verify join) over the no-claim plan
    def hints(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }.size
    val noClaim = hints(Similarity.srpNearDupPairs(df, "vec_id", "embedding", 0.9,
      planes = 4, tables = 2))
    // small claimed corpus: ~2 MB estimate -> both verify joins broadcast
    assert(hints(Similarity.srpNearDupPairs(df, "vec_id", "embedding", 0.9,
      planes = 4, tables = 2, knownRows = 1000)) === noClaim + 2)
    // row gate passes (2^20 rows) but ~2.2 GB estimate -> SMJ verify
    assert(hints(Similarity.srpNearDupPairs(df, "vec_id", "embedding", 0.9,
      planes = 4, tables = 2, knownRows = 1L << 20)) === noClaim)
  }

  test("streaming IVF maintenance: stream-built index probes identically to a batch append of the same rows") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-stream")
    val (src, idx, ckpt, batchIdx) =
      (s"$root/src", s"$root/idx", s"$root/ckpt", s"$root/batch_idx")
    val cents = VectorOps.kmeansCentroids(embs, "embedding", 8)
    embs.select("vec_id", "embedding").repartition(3).write.parquet(src)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = graft.streaming.VectorIndexStream
      .indexSink(stream, "vec_id", CorpusUpsert.IvfTarget(idx, "embedding", cents))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // batch reference: one append of the whole corpus, same frozen centroids
    CorpusUpsert.IvfTarget(batchIdx, "embedding", cents).append(embs,
      "vec_id")
    val got = VectorOps.ivfProbeIndex(spark, idx, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val expected = VectorOps.ivfProbeIndex(spark, batchIdx, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(got === expected)
    assert(spark.read.parquet(idx).count() === embs.count(),
      "every micro-batch row landed exactly once (ledger is parquet-invisible)")
  }

  test("streaming IVF maintenance: a redelivered batch id appends nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-redeliver")
    val idx = s"$root/idx"
    val cents = VectorOps.kmeansCentroids(embs, "embedding", 8)
    val b0 = embs.filter(col("vec_id") < 50).select("vec_id", "embedding")
    assert(graft.streaming.VectorIndexStream.appendBatch(
      b0, 0L, "vec_id", CorpusUpsert.IvfTarget(idx, "embedding", cents)))
    val afterFirst = spark.read.parquet(idx).count()
    // at-least-once redelivery of the SAME batch id: ledger skips it
    assert(!graft.streaming.VectorIndexStream.appendBatch(
      b0, 0L, "vec_id", CorpusUpsert.IvfTarget(idx, "embedding", cents)))
    assert(spark.read.parquet(idx).count() === afterFirst)
    // a NEW batch id still appends
    val b1 = embs.filter(col("vec_id") >= 50 && col("vec_id") < 80)
      .select("vec_id", "embedding")
    assert(graft.streaming.VectorIndexStream.appendBatch(
      b1, 1L, "vec_id", CorpusUpsert.IvfTarget(idx, "embedding", cents)))
    assert(spark.read.parquet(idx).count() === afterFirst + b1.count())
  }

  test("streaming IVF maintenance: ledger is namespaced per stream — a NEW checkpoint lineage restarting at batch 0 is not skipped") {
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-ledger-ns")
    val idx = s"$root/idx"
    val cents = VectorOps.kmeansCentroids(embs, "embedding", 8)
    val b0 = embs.filter(col("vec_id") < 40).select("vec_id", "embedding")
    val b1 = embs.filter(col("vec_id") >= 40 && col("vec_id") < 70)
      .select("vec_id", "embedding")
    // stream A writes its batch 0
    assert(graft.streaming.VectorIndexStream.appendBatch(
      b0, 0L, "vec_id", CorpusUpsert.IvfTarget(idx, "embedding", cents),
      streamId = "streamA"))
    val afterA = spark.read.parquet(idx).count()
    // a fresh checkpoint (stream B) restarts batch ids at 0: without the
    // namespace this collides with A's marker and drops the batch
    assert(graft.streaming.VectorIndexStream.appendBatch(
      b1, 0L, "vec_id", CorpusUpsert.IvfTarget(idx, "embedding", cents),
      streamId = "streamB"))
    assert(spark.read.parquet(idx).count() === afterA + b1.count())
    // redelivery within a stream is still idempotent
    assert(!graft.streaming.VectorIndexStream.appendBatch(
      b1, 0L, "vec_id", CorpusUpsert.IvfTarget(idx, "embedding", cents),
      streamId = "streamB"))
    assert(spark.read.parquet(idx).count() === afterA + b1.count())
  }

  test("maxSimScoresShortlisted: all-groups candidates ≡ full maxSim; bounded pooled shortlist recalls the true top groups") {
    val e = embs.select(pmod(col("vec_id"), lit(50L)).as("gid"),
      col("vec_id"), col("embedding"))
    val docs = e.filter(col("gid") =!= 0)
    val queries = e.filter(col("gid") === 0)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getDouble(1))).toList.sortBy(_._1)
    val full = rows(VectorOps.maxSimScores(docs, queries, "gid", "embedding", "vec_id"))
    // identity: the shortlist variant with EVERY group as candidate is
    // the same relation (same core, prefilter passes everything)
    val all = rows(VectorOps.maxSimScoresShortlisted(docs, queries,
      "gid", "embedding", "vec_id", docs.select("gid")))
    assert(all === full)
    // note: on THIS near-uniform corpus a pooled top-10 shortlist
    // genuinely misses true top-5 groups (pooling erases the per-token
    // max signal when groups have no shared direction) — measured, not
    // assumed: full top-5 contains a group outside the pooled top-10.
    // The bounded-shortlist recall gate therefore runs on clustered
    // data below, the regime the two-stage composition is FOR; q112's
    // oracle pins the pipeline math itself on the real corpus.
  }

  test("maxSim shortlist recall on clustered groups: pooled top-10 rerank reproduces full maxSim top-5") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    // 30 doc groups, each 6 chunk vectors around a per-group direction
    // (random 32-dim units are near-orthogonal); the 3-vector query set
    // sits near group 7's direction
    val bases = (0 until 31).map(_ => unit(Array.fill(32)(rnd.nextGaussian())))
    def jitter(b: Array[Double]) = b.map(x => x + 0.05 * rnd.nextGaussian())
    val docRows = for (g <- 1 to 30; c <- 0 until 6)
      yield (g.toLong, (g * 100 + c).toLong, jitter(bases(g - 1)).map(_.toFloat))
    val qRows = (0 until 3).map(i => (99000L + i, jitter(bases(6)).map(_.toFloat)))
    val docs = docRows.toDF("gid", "vec_id", "embedding").cache()
    val queries = qRows.toDF("vec_id", "embedding")
    try {
      val qpool = VectorOps.meanPool(
          queries.select(lit(0L).as("qg"), col("embedding")), "qg", "embedding")
        .select(col("centroid").as("qc"))
      val short = VectorOps.meanPool(docs, "gid", "embedding")
        .crossJoin(broadcast(qpool))
        .select(col("gid"),
          round(VectorOps.dot(col("centroid"), col("qc")) /
            (VectorOps.l2Norm(col("centroid")) * VectorOps.l2Norm(col("qc"))),
            6).as("pc"))
        .orderBy(col("pc").desc, col("gid")).limit(10)
      def top5(d: org.apache.spark.sql.DataFrame) =
        d.orderBy(col("maxsim").desc, col("gid")).limit(5)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      val reranked = top5(VectorOps.maxSimScoresShortlisted(docs, queries,
        "gid", "embedding", "vec_id", short))
      val exact = top5(VectorOps.maxSimScores(docs, queries, "gid", "embedding", "vec_id"))
      assert(reranked === exact,
        "bounded shortlist rerank diverged from full maxSim top-5")
      assert(reranked.head._1 === 7L, s"query's planted group not top-1: $reranked")
    } finally docs.unpersist()
  }

  test("maxSimScores: hand-computed Σ-of-max on constructed groups; zero-norm vectors excluded both sides") {
    import spark.implicits._
    val docs = Seq(
      (10L, Array(1.0f, 0.0f)),   // cos 1.0 with q1, 0.0 with q2
      (10L, Array(0.6f, 0.8f)),   // cos 0.6 with q1, 0.8 with q2
      (20L, Array(0.0f, 1.0f)),   // cos 0.0 with q1, 1.0 with q2
      (20L, Array(0.0f, 0.0f)))   // zero-norm member: excluded, not NaN
      .toDF("gid", "embedding")
    val queries = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.0f, 0.0f)))    // zero-norm query: contributes nothing
      .toDF("vec_id", "embedding")
    val out = VectorOps.maxSimScores(docs, queries, "gid", "embedding", "vec_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // group 10: max(1.0, 0.6) + max(0.0, 0.8) = 1.8
    // group 20: max(0.0) + max(1.0) = 1.0 (zero member dropped)
    assert(out === Map(10L -> 1.8, 20L -> 1.0))
  }

  test("cosine is symmetric and bounded on real vectors") {
    val two = embs.filter(col("vec_id") < 2)
      .select(VectorOps.toDoubleVec(col("embedding")).as("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    import spark.implicits._
    val df = Seq((two(0), two(1)), (two(1), two(0))).toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("c")).collect()
    assert(math.abs(df(0).getDouble(0) - df(1).getDouble(0)) < 1e-12)
    assert(df.forall(r => math.abs(r.getDouble(0)) <= 1.0 + 1e-12))
  }

  test("cosineCalibration ≡ an independent replay of the LCG pairing + histogram; zero-norm and self-pairs drop") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0L until 40L).map { i =>
      val v =
        if (i == 7L) Array.fill(4)(0.0f) // zero-norm: must not pair
        else Array.fill(4)(rnd.nextGaussian().toFloat)
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.cosineCalibration(df, "vec_id", "embedding")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // independent reference: same mix arithmetic, plain Scala math
    def mix(id: Long) = ((id % 2147483648L) * 2654435761L + 42L) % 4294967296L
    val byId = rows.toMap
    def norm(a: Array[Float]) = math.sqrt(a.map(x => x.toDouble * x).sum)
    val maxId = 40L // id 7 is zero-norm but ids are dense below it anyway
    val want = rows.filter(r => norm(r._2) > 0).flatMap { case (id, v) =>
      val p = mix(id) % maxId
      byId.get(p).filter(pv => p != id && norm(pv) > 0).map { pv =>
        val c = v.zip(pv).map { case (a, b) => a.toDouble * b.toDouble }.sum /
          (norm(v) * norm(pv))
        val r6 = BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        math.min(math.floor((r6 + 1.0) / 0.1).toInt, 19)
      }
    }.groupBy(identity).map { case (b, xs) => (b * 0.1 - 1.0, xs.size.toLong) }
    val tot = want.values.sum.toDouble
    val wantRows = want.toSeq.map { case (lo, n) =>
      (BigDecimal(lo).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, n,
        BigDecimal(n / tot).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got.toSeq === wantRows)
    assert(got.map(_._2).sum < 40, "self/zero-norm pairs must drop")
  }

  test("quantizeInt8: codes bounded, reconstruction within scale/2, zero vector is NaN-free") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.3f, -1.7f, 0.0f, 0.95f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Seq(-2.5f, 2.5f, 1.25f, -0.01f)))
      .toDF("vec_id", "embedding")
    val q = VectorOps.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Byte](2))).toSeq
    val orig = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    q.foreach { case (id, scale, codes) =>
      assert(codes.forall(c => c >= -127 && c <= 127), s"$id codes out of range")
      assert(!scale.isNaN)
      codes.zip(orig(id)).foreach { case (c, x) =>
        assert(math.abs(c * scale - x) <= scale / 2 + 1e-9,
          s"$id: code $c scale $scale vs $x")
      }
    }
    val zero = q.find(_._1 == 2L).get
    assert(zero._2 === 0.0 && zero._3.forall(_ == 0))
  }

  test("int8KnnJoin: cosine within quantization error of float cosine; recall@10 ≥ 0.9 vs exact") {
    val k = 10
    val queries = embs.filter(col("vec_id") < 16)
    val exact = VectorOps.bruteKnnJoin(queries, embs, "vec_id", "embedding", k = k)
      .select("q_id", "n_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val int8 = VectorOps.int8KnnJoin(queries, embs, "vec_id", "embedding", k = k)
      .select("q_id", "n_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val int8Cos = int8.map(t => (t._1, t._2) -> t._3).toMap
    // the shared pairs' int8 cosine tracks the float cosine closely
    val shared = exact.filter(t => int8Cos.contains((t._1, t._2)))
    assert(shared.nonEmpty)
    shared.foreach { case (q, n, c) =>
      assert(math.abs(int8Cos((q, n)) - c) < 0.02, s"($q,$n): ${int8Cos((q, n))} vs $c")
    }
    val exactSets = exact.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val int8Sets = int8.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = exactSets.map { case (q, s) =>
      int8Sets.get(q).fold(0.0)(g => (g & s).size.toDouble / s.size) }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean int8 recall@10 = $mean")
  }

  test("hardNegatives: the near-dup band and self never reach the shortlist; band-filtered bruteKnn equivalence") {
    val twins = graft.analytics.DataOpsQueries.twinCorpus(embs)
    val queries = twins.filter(col("vec_id") < 8)
    val hard = VectorOps.hardNegatives(queries, twins, "vec_id", "embedding",
      k = 10, dupCeiling = 0.9)
    val rows = hard.collect()
    assert(rows.length === 8 * 10)
    rows.foreach { r =>
      assert(r.getAs[Double]("cosine") < 0.9, s"near-dup leaked: $r")
      assert(r.getAs[Long]("q_id") !== r.getAs[Long]("n_id"))
    }
    // equivalence: rank the band-filtered exact scores independently
    val wide = VectorOps.bruteKnnJoin(queries, twins, "vec_id", "embedding",
        k = 50, excludeSelf = true)
      .filter(col("cosine") < 0.9)
      .collect().map(r => (r.getAs[Long]("q_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("n_id")))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._2, t._3)).take(10)
        .map(t => (t._3, t._2)).toList).toMap
    val got = rows.map(r => (r.getAs[Long]("q_id"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cosine"), r.getAs[Long]("rank")))
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toList).toMap
    assert(got === wide)
    intercept[IllegalArgumentException] {
      VectorOps.hardNegatives(queries, twins, "vec_id", "embedding",
        k = 10, dupCeiling = 1.5)
    }
  }
  test("ivfProbeJoin: batch retrieval from the persisted index — " +
      "exhaustive ≡ per-query probes, tombstones excluded, sane recall") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfjoin").toString + "/idx"
    val cents = VectorOps.ivfWriteIndex(embs, "vec_id", "embedding", dir,
      nCentroids = 8, kmeansIters = 4)
    val queries = embs.filter(col("vec_id") % 40 === 0)
    def byQid(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toList).toMap
    val batch = byQid(VectorOps.ivfProbeJoin(queries, dir, cents,
      "vec_id", "embedding", k = 5, nProbe = cents.length))
    val qids = queries.select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(batch.keySet === qids.toSet)
    // exhaustive regime: row-for-row the per-query probe's answer
    // (same rounding, same (cosine desc, id) ties), self at rank 1
    qids.foreach { qid =>
      val qv = embs.filter(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val one = VectorOps.ivfProbeIndex(spark, dir, cents, "vec_id", qv,
          5, nProbe = cents.length)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      assert(batch(qid) === one, s"qid $qid diverged from the per-query probe")
      assert(batch(qid).head._1 === qid)
    }
    // approximation contract below exhaustive: self-cluster always
    // probed (rank-1 self survives), aggregate recall stays sane
    val narrow = byQid(VectorOps.ivfProbeJoin(queries, dir, cents,
      "vec_id", "embedding", k = 5, nProbe = 2))
    qids.foreach(qid => assert(narrow(qid).head._1 === qid))
    val recall = qids.map { qid =>
      (narrow(qid).map(_._1).toSet & batch(qid).map(_._1).toSet).size / 5.0
    }.sum / qids.size
    assert(recall >= 0.3, s"batch recall@5 = $recall — routing degenerated")
    // takedown: deleted vectors can still ASK but never be FOUND
    VectorOps.IvfLayout.delete(queries.select("vec_id"), "vec_id", dir)
    val after = VectorOps.ivfProbeJoin(queries, dir, cents, "vec_id",
        "embedding", k = 5, nProbe = cents.length)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.nonEmpty)
    assert(after.forall { case (_, n) => !qids.contains(n) })
    assert(after.map(_._1).toSet === qids.toSet)
  }
  test("ivfProbeJoin rids (snapshot) mode: ≡ a fresh index over exactly " +
      "the snapshot corpus; sees through tombstones; cut precedes ranking") {
    import spark.implicits._
    val full = java.nio.file.Files
      .createTempDirectory("graft-ivfjoin-snapf").toString + "/idx"
    val snap = java.nio.file.Files
      .createTempDirectory("graft-ivfjoin-snaps").toString + "/idx"
    val off = 1000000L
    // "revisions": negated twins under shifted ids for every 5th vector
    val revised = embs.filter(col("vec_id") % 5 === 2)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val big = embs.select("vec_id", "embedding").unionByName(revised)
    val cents = VectorOps.kmeansCentroids(big, "embedding", 8)
    CorpusUpsert.IvfTarget(full, "embedding", cents).append(big, "vec_id")
    val snapCorpus = embs.filter(col("vec_id") % 5 =!= 2)
      .select("vec_id", "embedding").unionByName(revised)
    CorpusUpsert.IvfTarget(snap, "embedding", cents).append(snapCorpus,
      "vec_id")
    val snapIds = snapCorpus.select("vec_id")
    val queries = embs.filter(col("vec_id") % 40 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val got = rows(VectorOps.ivfProbeJoin(queries, full, cents, "vec_id",
      "embedding", k = 5, nProbe = cents.length, rids = Some(snapIds)))
    val want = rows(VectorOps.ivfProbeJoin(queries, snap, cents, "vec_id",
      "embedding", k = 5, nProbe = cents.length))
    assert(got === want && got.nonEmpty)
    // tombstoning a snapshot member hides it from the live join but
    // not from the rids join (the cut replaces the exclusion)
    val victim = snapIds.orderBy("vec_id").head().getLong(0)
    VectorOps.IvfLayout.delete(Seq(victim).toDF("vec_id"), "vec_id", full)
    val live = VectorOps.ivfProbeJoin(queries, full, cents, "vec_id",
        "embedding", k = 100000, nProbe = cents.length)
      .collect().map(_.getLong(1)).toSet
    assert(!live.contains(victim))
    val snapAfter = rows(VectorOps.ivfProbeJoin(queries, full, cents,
      "vec_id", "embedding", k = 5, nProbe = cents.length,
      rids = Some(snapIds)))
    assert(snapAfter === want)
  }
}
