package graft.ops

import graft.{Tables, TestSpark}
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Binary sign quantization + Hamming search: native-kernel parity
  * with the composable forms, exactness of the banded pair relation
  * against brute force, and the word-padding / rejection edges.
  */
class HammingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic pseudo-random float vectors (LCG), dim components in
    * (-1, 1), never exactly 0.
    */
  private def vecs(n: Int, dim: Int, seed: Long = 7L): Seq[(Long, Seq[Float])] =
    (0 until n).map { i =>
      var s = seed + i * 2654435761L
      val v = Seq.tabulate(dim) { _ =>
        s = (s * 6364136223846793005L + 1442695040888963407L)
        val u = ((s >>> 33).toDouble / (1L << 31).toDouble) - 0.5
        (if (u == 0.0) 0.25 else u).toFloat
      }
      (i.toLong, v)
    }

  private def refHamming(a: Seq[Float], b: Seq[Float]): Long =
    a.zip(b).count { case (x, y) => (x > 0f) != (y > 0f) }.toLong

  test("hammingParamsFor: argmin over the legal band set; exactness-preserving; honest infeasibility") {
    // brute-force the model over every legal m and check the solver
    // returns its argmin
    def brute(n: Long, dim: Int, radius: Int): Seq[(Int, Double)] = {
      val nWords = (dim + 63) / 64
      (0 to 6).map(1 << _).filter(m => m >= nWords && m <= 64 &&
          m <= nWords * 64 && radius / m <= 1)
        .map { m =>
          val w = nWords * 64 / m
          val v = if (radius / m == 0) 1.0 else 1.0 + w
          m -> (m * (1.0 + v) + m * n.toDouble * v / math.pow(2.0, w.toDouble))
        }
    }
    for ((n, dim, r) <- Seq((1000000L, 256, 15), (5000L, 64, 7),
        (320000L, 128, 9), (100L, 64, 15))) {
      val got = VectorOps.hammingParamsFor(n, dim, r)
      val want = brute(n, dim, r).minBy(_._2)
      assert(got.nBands === want._1, s"(n=$n dim=$dim r=$r)")
      assert(math.abs(got.costPerVec - want._2) < 1e-9)
      // the choice never changes the result relation, only cost: the
      // BandSpec constraints the solver promises must actually hold
      VectorOps.BandSpec(got.nBands, dim).probeBits(r)
    }
    // the round-12 watch item, priced and REFUSED: dim 64, radius 15
    // at corpus scale has no band count under the default budget
    val e = intercept[IllegalArgumentException] {
      VectorOps.hammingParamsFor(320000L, 64, 15)
    }
    assert(e.getMessage.contains("wider codes"))
    // radius too large for the code width at any m: different error
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.hammingParamsFor(1000L, 64, 200)
    }
    assert(e2.getMessage.contains("no legal band count"))
    // solver-chosen params drive the real operator to the exact
    // relation — with PLANTED near-duplicates (base vector ± a few
    // sign flips), so the compared relation is provably non-empty and
    // spans s=0/s=1 band splits
    val base = vecs(60, 128)
    val planted = base.take(10).map { case (i, v) =>
      (1000L + i, v.zipWithIndex.map { case (x, d) =>
        if (d % 37 == (i % 5)) -x else x }) // 3–4 flips per plant
    }
    val data = base ++ planted
    val df = data.toDF("vec_id", "embedding")
    val p = VectorOps.hammingParamsFor(data.length.toLong, 128, 9)
    val got = VectorOps.hammingRadiusPairs(df, "vec_id", "embedding",
        radius = 9, nBands = p.nBands)
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2))).toSet
    def ref(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).count { case (x, y) => (x > 0f) != (y > 0f) }.toLong
    val want = (for {
      (i, vi) <- data; (j, vj) <- data if i < j
      h = ref(vi, vj) if h <= 9
    } yield (i, j, h)).toSet
    assert(want.nonEmpty, "planted near-dups must appear in the reference")
    assert(got === want)
  }

  test("graft_sign_pack/graft_hamming ≡ composable sign-mismatch count on the corpus") {
    val e = Tables.load(spark, TestSpark.Sf001, "embeddings")
      .select($"vec_id", $"embedding")
    val q = e.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val pairs = e.crossJoin(broadcast(q))
    val native = pairs.select($"vec_id", $"qid",
        GraftFunctions.hamming(
          GraftFunctions.signPack($"embedding"),
          GraftFunctions.signPack($"qv")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val composable = pairs.select($"vec_id", $"qid",
        aggregate(
          zip_with($"embedding", $"qv",
            (x, y) => when((x > 0f) === (y > 0f), 0).otherwise(1)),
          lit(0), (acc, v) => acc + v).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(native.size === 2000)
    assert(native === composable)
  }

  test("padding and null edges: dim 70 packs into 2 words, padding never contributes; nulls propagate") {
    // 70 dims: word 1 uses 6 real bits + 58 padding zeros
    val a = Seq.tabulate(70)(i => if (i % 3 == 0) 1.0f else -1.0f)
    val b = Seq.tabulate(70)(i => if (i % 7 == 0) 1.0f else -1.0f)
    val df = Seq((1L, a), (2L, b)).toDF("id", "v")
    val packed = VectorOps.binaryQuantize(df, "id", "v")
    assert(packed.select(size($"code")).head().getInt(0) === 2)
    val d = packed.as("x").crossJoin(packed.as("y"))
      .filter($"x.id" === 1 && $"y.id" === 2)
      .select(GraftFunctions.hamming($"x.code", $"y.code"))
      .head().getInt(0)
    assert(d.toLong === refHamming(a, b))
    // null element → null code; mismatched code lengths → null distance
    val withNull = Seq(Seq(Some(1.0f), None, Some(-1.0f))).toDF("v")
      .select(GraftFunctions.signPack($"v").as("c"))
    assert(withNull.head().isNullAt(0))
    val mismatch = spark.sql(
      "SELECT graft_hamming(array(1L), array(1L, 2L)) IS NULL").head().getBoolean(0)
    assert(mismatch)
  }

  test("hammingKnnJoin ≡ in-memory reference (distance asc, ties by id), excludeSelf honored") {
    val data = vecs(40, 64)
    val df = data.toDF("vec_id", "embedding")
    val got = VectorOps.hammingKnnJoin(
        df.filter($"vec_id" < 3), df, "vec_id", "embedding", k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val byId = data.toMap
    for (qid <- 0L until 3L) {
      val want = data
        .map { case (nid, v) => (nid, refHamming(byId(qid), v)) }
        .sortBy { case (nid, h) => (h, nid) }.take(5)
      want.zipWithIndex.foreach { case ((nid, h), i) =>
        assert(got((qid, i + 1L)) === ((nid, h)), s"q=$qid rank=${i + 1}")
      }
    }
    val self = VectorOps.hammingKnnJoin(
        df.filter($"vec_id" === 0), df, "vec_id", "embedding",
        k = 1, excludeSelf = true)
      .head()
    assert(self.getLong(1) !== 0L)
    assert(self.getLong(2) > 0L)
  }

  test("hammingRadiusPairs ≡ brute force for s=0 and s=1, boundary inclusive, planted pairs found") {
    val base = vecs(60, 64)
    // plant two near-dups of vector 0: 3 flips (dist 3) and 13 flips (dist 13)
    def flip(v: Seq[Float], k: Int): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => if (i < k) -x else x }
    val data = base ++ Seq((100L, flip(base.head._2, 3)),
      (101L, flip(base.head._2, 13)))
    val df = data.toDF("vec_id", "embedding")
    def brute(radius: Int): Set[(Long, Long, Long)] =
      (for {
        (ia, va) <- data; (ib, vb) <- data if ia < ib
        h = refHamming(va, vb) if h <= radius
      } yield (ia, ib, h)).toSet
    for (radius <- Seq(3, 7, 13, 15)) { // s=0 at 3/7, s=1 at 13/15 (nBands=8)
      val got = VectorOps.hammingRadiusPairs(df, "vec_id", "embedding", radius)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === brute(radius), s"radius=$radius")
    }
    assert(brute(3).contains((0L, 100L, 3L)))   // boundary dist == radius kept
    assert(!brute(3).contains((0L, 101L, 13L)))
    assert(brute(13).contains((0L, 101L, 13L)))
  }

  test("hammingRerankKnn at full shortlist coverage ≡ bruteKnnJoin exactly") {
    val e = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val q = e.filter($"vec_id" < 5)
    val full = VectorOps.hammingRerankKnn(q, e, "vec_id", "embedding",
        shortlist = 500, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val brute = VectorOps.bruteKnnJoin(q, e, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(full.size === 50)
    assert(full === brute)
  }

  test("persisted index: probe ≡ scan-path pair relation and ≡ brute reference for s=0 and s=1") {
    val base = vecs(60, 64)
    def flip(v: Seq[Float], k: Int): Seq[Float] =
      v.zipWithIndex.map { case (x, i) => if (i < k) -x else x }
    val data = base ++ Seq((100L, flip(base.head._2, 3)),
      (101L, flip(base.head._2, 13)))
    val df = data.toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-hidx").toString + "/idx"
    HammingIndex.hammingWriteIndex(df, "vec_id", "embedding", root,
      nBands = 8, nBuckets = 32)
    for (radius <- Seq(3, 13)) {
      val viaIndex = HammingIndex.hammingProbeIndex(
          spark, df, "vec_id", "embedding", root, radius)
        .filter($"q_id" < $"n_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val viaScan = VectorOps.hammingRadiusPairs(df, "vec_id", "embedding", radius)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaIndex === viaScan, s"radius=$radius")
    }
    // distinct query batch vs in-memory brute force
    val q = Seq((200L, flip(base(5)._2, 2))).toDF("vec_id", "embedding")
    val got = HammingIndex.hammingProbeIndex(
        spark, q, "vec_id", "embedding", root, radius = 7)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val want = data.map { case (nid, v) =>
      (nid, refHamming(flip(base(5)._2, 2), v))
    }.filter(_._2 <= 7L).toSet
    assert(got === want)
    assert(want.exists(_._1 == 5L)) // the perturbed source is in range
  }

  test("persisted index: append ≡ rebuild bit-identity; compaction bounds files and keeps probes identical") {
    val data = vecs(50, 64, seed = 99L)
    val (a, b) = data.splitAt(30)
    val tmp = java.nio.file.Files.createTempDirectory("graft-hidx2").toString
    val full = tmp + "/full"; val inc = tmp + "/inc"
    val all = data.toDF("vec_id", "embedding")
    HammingIndex.hammingWriteIndex(all, "vec_id", "embedding", full,
      nBands = 8, nBuckets = 16)
    HammingIndex.hammingWriteIndex(a.toDF("vec_id", "embedding"),
      "vec_id", "embedding", inc, nBands = 8, nBuckets = 16)
    // three appends to generate litter
    b.grouped(7).foreach { g =>
      CorpusUpsert.HammingTarget(inc, "embedding")
        .append(g.toDF("vec_id", "embedding"), "vec_id")
    }
    def probe(path: String) = HammingIndex.hammingProbeIndex(
        spark, all, "vec_id", "embedding", path, radius = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromFull = probe(full)
    assert(probe(inc) === fromFull)
    assert(fromFull.nonEmpty)
    val report = HammingIndex.Layout.compact(spark, inc,
      maxFilesPerDir = 1, targetBytes = 128L << 20)
    assert(report.nonEmpty, "appends produced no compactable litter")
    report.foreach { case (dir, (before, after)) =>
      assert(after <= before, s"$dir grew: $before -> $after")
      assert(after == 1, s"$dir not folded to 1 file: $after")
    }
    assert(probe(inc) === fromFull) // bit-identical after compaction
  }

  test("persisted index: probe prunes the bands scan to the probe (band, bucket) dirs at file listing") {
    val df = vecs(40, 64, seed = 5L).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-hidx3").toString + "/idx"
    HammingIndex.hammingWriteIndex(df, "vec_id", "embedding", root,
      nBands = 8, nBuckets = 32)
    // query = a 2-flip perturbation of a corpus vector: guaranteed hits,
    // so AQE cannot collapse the plan to an empty LocalTableScan
    val qv = vecs(40, 64, seed = 5L).head._2
      .zipWithIndex.map { case (x, i) => if (i < 2) -x else x }
    val q = Seq((900L, qv)).toDF("vec_id", "embedding")
    val probe = HammingIndex.hammingProbeIndex(
      spark, q, "vec_id", "embedding", root, radius = 13)
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
    val bandScans = scans(probe.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("bands")))
    assert(bandScans.nonEmpty, "no bands scan in the probe plan")
    // 1 query × 8 bands × (1 + 8 flips) probe values = ≤ 72 (band, bb)
    // dirs of the 8 × 32 = 256 total
    for (scan <- bandScans) {
      val pruned = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters)
      assert(pruned.length <= 72,
        s"probe listed ${pruned.length} band-bucket dirs (expected <= 72)")
    }
  }

  test("stream-built index probes identically to a batch build; redelivered batch appends nothing") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-hidx-stream")
    val (src, idx, ckpt, batchIdx) =
      (s"$root/src", s"$root/idx", s"$root/ckpt", s"$root/batch_idx")
    val data = vecs(48, 64, seed = 21L)
    val df = data.toDF("vec_id", "embedding")
    // fix the geometry over an empty frame (explicit dim), stream in
    HammingIndex.hammingWriteIndex(df.limit(0), "vec_id", "embedding", idx,
      nBands = 8, nBuckets = 16, dim = 64)
    df.repartition(3).write.parquet(src)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = graft.streaming.VectorIndexStream
      .indexSink(stream, "vec_id", CorpusUpsert.HammingTarget(idx, "embedding"))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    HammingIndex.hammingWriteIndex(df, "vec_id", "embedding", batchIdx,
      nBands = 8, nBuckets = 16)
    def probe(path: String) = HammingIndex.hammingProbeIndex(
        spark, df, "vec_id", "embedding", path, radius = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = probe(idx)
    assert(streamed === probe(batchIdx))
    assert(streamed.nonEmpty)
    // redelivery: same (stream, batch) id is a ledger no-op
    val reIdx = s"$root/re_idx"
    HammingIndex.hammingWriteIndex(df.limit(0), "vec_id", "embedding", reIdx,
      nBands = 8, nBuckets = 16, dim = 64)
    val b0 = df.filter($"vec_id" < 20)
    assert(graft.streaming.VectorIndexStream.appendBatch(b0, 0L, "vec_id",
      CorpusUpsert.HammingTarget(reIdx, "embedding"), streamId = "s1"))
    val after = spark.read.parquet(s"$reIdx/bands").count()
    assert(!graft.streaming.VectorIndexStream.appendBatch(b0, 0L, "vec_id",
      CorpusUpsert.HammingTarget(reIdx, "embedding"), streamId = "s1"))
    assert(spark.read.parquet(s"$reIdx/bands").count() === after)
    // a new stream lineage restarting at batch 0 still appends
    val b1 = df.filter($"vec_id" >= 20 && $"vec_id" < 30)
    assert(graft.streaming.VectorIndexStream.appendBatch(b1, 0L, "vec_id",
      CorpusUpsert.HammingTarget(reIdx, "embedding"), streamId = "s2"))
    assert(spark.read.parquet(s"$reIdx/bands").count() === after + 8 * b1.count())
  }

  test("rejections: s >= 2 probe balls, non-power-of-two bands, bands narrower than words") {
    val df = vecs(4, 64).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      VectorOps.hammingRadiusPairs(df, "vec_id", "embedding", radius = 16, nBands = 8)
    }
    assert(e1.getMessage.contains("probe balls"))
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.hammingRadiusPairs(df, "vec_id", "embedding", radius = 2, nBands = 6)
    }
    assert(e2.getMessage.contains("power of two"))
    val wide = vecs(4, 128).toDF("vec_id", "embedding")
    val e3 = intercept[IllegalArgumentException] {
      VectorOps.hammingRadiusPairs(wide, "vec_id", "embedding", radius = 0, nBands = 1)
    }
    assert(e3.getMessage.contains("span words"))
  }
}
