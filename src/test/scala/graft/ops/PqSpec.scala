package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("hand-built model: codes and ADC distances are exact arithmetic; zero-norm rows dropped") {
    import spark.implicits._
    // dim 4, m=2, subspace codebooks both {(1,0), (0,1)}
    val model = Pq.PqModel(2, 2, Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(1.0, 0.0), Array(0.0, 1.0))))
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)), // unit slices (r,0),(0,r): codes [0,1]
      (2L, Array(1.0f, 0.0f, 1.0f, 0.0f)), // codes [0,0]
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // zero-norm: dropped
      .toDF("vec_id", "embedding")
    val enc = Pq.pqEncode(df, "vec_id", "embedding", model)
    val codes = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(codes === Map(1L -> List(0, 1), 2L -> List(0, 0)))

    // query (1,0,0,1): LUT per subspace vs the two centroids, by hand
    val r = 1.0 / math.sqrt(2.0)
    val near = (r - 1.0) * (r - 1.0)     // slice (r,0) vs (1,0)
    val far = r * r + 1.0                // slice (r,0) vs (0,1)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Pq.pqTopK(enc, model, "vec_id", Seq(1.0, 0.0, 0.0, 1.0), 10)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toList
    assert(got === List((1L, r6(near + near)), (2L, r6(near + far))))
  }

  test("trained PQ: ADC top-k recalls exact cosine top-k on clustered data at 32x compression") {
    import spark.implicits._
    // three well-separated clusters (the regime PQ codebooks capture);
    // dim 8 floats = 32 B → m=4 byte-ish codes: compressed-domain scan
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Double]) =
      base.map(x => x + 0.05 * rnd.nextGaussian())
    val bases = Seq(
      Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0))
    val rows = (0L until 300L).map(i => (i, jitter(bases((i % 3).toInt))))
    val df = rows.toDF("vec_id", "embedding").cache()
    try {
      val model = Pq.pqTrain(df, "embedding", m = 4, codebook = 8)
      val enc = Pq.pqEncode(df, "vec_id", "embedding", model).cache()
      val query = rows.head._2
      // coarse correctness: the quantized scan never leaves the query's
      // cluster (every ADC top-20 id is a cluster-0 member)
      val top20 = Pq.pqTopK(enc, model, "vec_id", query.toSeq, 20)
        .collect().map(_.getLong(0))
      assert(top20.forall(_ % 3 == 0L),
        s"ADC top-20 crossed clusters: ${top20.toList}")
      // deployment shape: ADC shortlist (3x over-fetch) + exact rerank —
      // the shortlist must recall the true top-20 (quantized distances
      // collapse fine in-cluster ranks; the shortlist is what PQ owes)
      val exact = VectorOps.bruteForceTopK(df, "vec_id", "embedding", query, 20)
        .collect().map(_.getLong(0)).toSet
      val shortlist = Pq.pqTopK(enc, model, "vec_id", query.toSeq, 60)
        .collect().map(_.getLong(0)).toSet
      val recall = (exact & shortlist).size.toDouble / exact.size
      assert(recall >= 0.9, s"shortlist recall@60 for top-20 = $recall")
      // every code addresses its codebook
      val mx = enc.select(max(array_max(col("codes")))).head().getInt(0)
      assert(mx < 8)
    } finally df.unpersist()
  }

  test("IVF-PQ: full over-fetch probe ≡ exact ivfProbeIndex; ADC shortlist scan never decodes the vectors") {
    val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val query = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq")
    val (pqIdx, exIdx) = (s"$root/pq", s"$root/exact")
    val cents = VectorOps.kmeansCentroids(embs, "embedding", 8)
    val model = Pq.pqTrain(embs, "embedding", m = 8, codebook = 16)
    Pq.pqIvfWriteIndex(embs, "vec_id", "embedding", pqIdx, model, cents)
    CorpusUpsert.IvfTarget(exIdx, "embedding", cents).append(embs, "vec_id")
    // over-fetch past the pruned-cluster population → the shortlist IS
    // the pruned set → rerank must equal the exact probe bit-for-bit
    val exact = VectorOps.ivfProbeIndex(spark, exIdx, cents, "vec_id", query, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val full = Pq.pqIvfProbe(spark, pqIdx, model, cents, "vec_id", query, 10,
        nProbe = 3, overFetch = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(full === exact)
    // compressed-domain claim: the shortlist stage's parquet scan reads
    // (vec_id, codes) only — dv/nrm stay undecoded
    val sl = Pq.pqIvfShortlist(spark, pqIdx, model, cents, "vec_id", query, 30, 3)
    val read = "ReadSchema: [^\\n]*".r
      .findFirstIn(sl.queryExecution.executedPlan.toString).getOrElse("")
    assert(read.contains("codes"), read)
    assert(!read.contains("dv") && !read.contains("nrm"), read)
  }

  test("IVF-PQ on clustered data: pruned ADC shortlist + rerank recalls the exact top-k at 3x over-fetch") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Double]) =
      base.map(x => x + 0.05 * rnd.nextGaussian())
    val bases = Seq(
      Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0))
    val rows = (0L until 300L).map(i => (i, jitter(bases((i % 3).toInt))))
    val df = rows.toDF("vec_id", "embedding").cache()
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-ivfpq-cl")
      val cents = VectorOps.kmeansCentroids(df, "embedding", 3)
      val model = Pq.pqTrain(df, "embedding", m = 4, codebook = 8)
      Pq.pqIvfWriteIndex(df, "vec_id", "embedding", s"$root/idx", model, cents)
      val query = rows.head._2.toSeq
      val exact = VectorOps.bruteForceTopK(df, "vec_id", "embedding", query, 10)
        .collect().map(_.getLong(0)).toSet
      val got = Pq.pqIvfProbe(spark, s"$root/idx", model, cents, "vec_id",
          query, 10, nProbe = 1, overFetch = 3)
        .collect().map(_.getLong(0)).toSet
      val recall = (exact & got).size.toDouble / exact.size
      assert(recall >= 0.9, s"IVF-PQ recall@10 = $recall")
    } finally df.unpersist()
  }

  test("IVF-PQ append ≡ rebuild: N appends probe identically to a from-scratch build under the frozen model") {
    val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val query = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq-append")
    val (apIdx, rbIdx) = (s"$root/appended", s"$root/rebuilt")
    val cents = VectorOps.kmeansCentroids(embs, "embedding", 8)
    val model = Pq.pqTrain(embs, "embedding", m = 8, codebook = 16)
    Pq.pqIvfWriteIndex(embs, "vec_id", "embedding", rbIdx, model, cents)
    // three appends, first one creating the index
    Seq(
      embs.filter(col("vec_id") % 3 === 0),
      embs.filter(col("vec_id") % 3 === 1),
      embs.filter(col("vec_id") % 3 === 2)
    ).foreach(slice =>
      CorpusUpsert.PqIvfTarget(apIdx, "embedding", model, cents).append(slice,
        "vec_id"))
    // content identity: codes are a pure function of the vector under
    // the frozen model, clusters of the frozen centroids
    def content(p: String) = spark.read.parquet(p)
      .select(col("vec_id"), col("codes"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList, r.getInt(2)))
      .sortBy(_._1).toList
    assert(content(apIdx) === content(rbIdx))
    // probe identity through the full shortlist+rerank pipeline
    def probe(p: String) = Pq.pqIvfProbe(spark, p, model, cents, "vec_id",
        query, 10, nProbe = 3, overFetch = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(probe(apIdx) === probe(rbIdx))

    // compaction folds the 3-append litter to a bounded per-cluster
    // layout with bit-identical content and probe results
    def clusterFiles(p: String): Map[String, Int] = {
      val root = new org.apache.hadoop.fs.Path(p)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
        .map { d =>
          d.getPath.getName -> fs.listStatus(d.getPath).count(s =>
            s.isFile && !s.getPath.getName.startsWith(".") &&
              !s.getPath.getName.startsWith("_"))
        }.toMap
    }
    val slBefore = Pq.pqIvfShortlist(spark, apIdx, model, cents, "vec_id",
      query, 30, 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(clusterFiles(apIdx).values.exists(_ > 1), "no litter to fold")
    val folded = VectorOps.IvfLayout.compact(spark, apIdx, maxFilesPerDir = 1)
    assert(folded.nonEmpty, "compaction found nothing over the bound")
    assert(clusterFiles(apIdx).values.forall(_ === 1),
      s"litter survived: ${clusterFiles(apIdx)}")
    assert(content(apIdx) === content(rbIdx), "compaction changed content")
    assert(probe(apIdx) === probe(rbIdx), "compaction changed probe results")
    assert(Pq.pqIvfShortlist(spark, apIdx, model, cents, "vec_id", query, 30, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList === slBefore,
      "compaction changed the ADC shortlist")
  }

  test("streaming IVF-PQ maintenance: stream-built compressed index ≡ batch build; redelivered batch id is a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val query = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq-stream")
    val (src, idx, ckpt, batchIdx) =
      (s"$root/src", s"$root/idx", s"$root/ckpt", s"$root/batch_idx")
    val cents = VectorOps.kmeansCentroids(embs, "embedding", 8)
    val model = Pq.pqTrain(embs, "embedding", m = 8, codebook = 16)
    embs.select("vec_id", "embedding").repartition(3).write.parquet(src)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = graft.streaming.VectorIndexStream.indexSink(stream, "vec_id",
      CorpusUpsert.PqIvfTarget(idx, "embedding", model, cents))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Pq.pqIvfWriteIndex(embs, "vec_id", "embedding", batchIdx, model, cents)
    def probe(p: String) = Pq.pqIvfProbe(spark, p, model, cents, "vec_id",
        query, 10, nProbe = 3, overFetch = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(probe(idx) === probe(batchIdx))
    assert(spark.read.parquet(idx).count() === embs.count(),
      "every micro-batch row landed exactly once")
    // redelivery of a consumed batch id within the same stream namespace
    val b = embs.filter(col("vec_id") < 30).select("vec_id", "embedding")
    assert(graft.streaming.VectorIndexStream.appendBatch(b, 0L, "vec_id",
      CorpusUpsert.PqIvfTarget(idx, "embedding", model, cents),
      streamId = "manual"))
    val after = spark.read.parquet(idx).count()
    assert(!graft.streaming.VectorIndexStream.appendBatch(b, 0L, "vec_id",
      CorpusUpsert.PqIvfTarget(idx, "embedding", model, cents),
      streamId = "manual"))
    assert(spark.read.parquet(idx).count() === after)

    // maintenance-window compaction of the streamed index: per-batch
    // litter folds, probe results are bit-identical before/after (the
    // manual-append duplicate above included — compaction moves FILES,
    // never rows), and the batch ledger (underscore-hidden) survives
    val probeBefore = probe(idx)
    VectorOps.IvfLayout.compact(spark, idx, maxFilesPerDir = 1)
    val root2 = new org.apache.hadoop.fs.Path(idx)
    val fs = root2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val perCluster = fs.listStatus(root2)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cluster="))
      .map(d => fs.listStatus(d.getPath).count(s =>
        s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_")))
    assert(perCluster.forall(_ === 1), s"stream litter survived: ${perCluster.toList}")
    assert(probe(idx) === probeBefore)
    assert(fs.exists(new org.apache.hadoop.fs.Path(idx, "_graft_batches")),
      "compaction must not disturb the batch ledger")
  }

  test("pqIvfWriteIndex drops uncodable rows: zero-norm vectors never reach the index or shortlist") {
    import spark.implicits._
    // zero-norm row codes to NULL; if it landed in the index its NULL
    // adist would sort NULLS FIRST and poison the shortlist head
    val model = Pq.PqModel(2, 2, Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(1.0, 0.0), Array(0.0, 1.0))))
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq-null")
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0))
    Pq.pqIvfWriteIndex(df, "vec_id", "embedding", s"$root/idx", model, cents)
    val ids = spark.read.parquet(s"$root/idx")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 2L), "uncodable row written to the index")
    val head = Pq.pqIvfShortlist(spark, s"$root/idx", model, cents,
      "vec_id", Seq(1.0, 0.0, 0.0, 1.0), 3, 1).collect()
    assert(head.map(_.getLong(0)).toList === List(1L, 2L))
    assert(head.forall(!_.isNullAt(1)), "NULL adist in the shortlist")
  }

  test("native graft_pq_codes / graft_pq_adc ≡ the HOF reference formulations, bit-identically") {
    val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val model = Pq.pqTrain(embs, "embedding", m = 8, codebook = 16)
    // codes: native (raw vector in) vs HOF (pre-normalized unit vector)
    val native = Pq.pqEncode(embs, "vec_id", "embedding", model)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val hof = embs
      .filter(VectorOps.l2Norm(VectorOps.toDoubleVec(col("embedding"))) > 0)
      .select(col("vec_id"), Pq.unitVec(embs, "embedding").as("uv"))
      .select(col("vec_id"), Pq.codesColComposable(col("uv"), model).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(native === hof)
    assert(native.nonEmpty)
    // adc: same LUT math through both kernels
    val query = embs.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val qn = math.sqrt(query.map(x => x * x).sum)
    val uq = query.map(_ / qn).toArray
    val enc = Pq.pqEncode(embs, "vec_id", "embedding", model)
    val a = Pq.pqTopK(enc, model, "vec_id", query, 500)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    val b = enc.select(col("vec_id"),
        round(Pq.adcColComposable(col("codes"), model, uq), 6).as("adist"))
      .orderBy(col("adist"), col("vec_id")).limit(500)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(a === b)
  }

  test("training is deterministic and shapes are contractual") {
    val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val m1 = Pq.pqTrain(embs, "embedding", m = 8, codebook = 16)
    val m2 = Pq.pqTrain(embs, "embedding", m = 8, codebook = 16)
    assert(m1.m === 8 && m1.subDim === 8)
    assert(m1.cents.map(_.map(_.toSeq).toSeq).toSeq
      === m2.cents.map(_.map(_.toSeq).toSeq).toSeq)
    intercept[IllegalArgumentException] {
      Pq.pqTrain(embs, "embedding", m = 7) // 64 % 7 != 0
    }
  }
  test("pqIvfProbeJoin: batch ≡ the per-query probe loop; native LUT/" +
      "pair kernels ≡ the driver LUT; tombstones excluded") {
    val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-pqjoin")
    val idx = s"$root/idx"
    val cents = VectorOps.kmeansCentroids(embs, "embedding", 8)
    val model = Pq.pqTrain(embs, "embedding", m = 8, codebook = 16)
    Pq.pqIvfWriteIndex(embs, "vec_id", "embedding", idx, model, cents)
    val queries = embs.filter(col("vec_id") % 40 === 0)
    val qids = queries.select("vec_id").collect().map(_.getLong(0)).toSeq
    def byQid(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(t => (t._2, t._3)).toList).toMap
    // batch ≡ per-query loop at a REAL over-fetch (the shortlist stage
    // must agree choice-for-choice, not just the reranked survivors)
    val batch = byQid(Pq.pqIvfProbeJoin(queries, idx, model, cents,
      "vec_id", "embedding", k = 5, nProbe = 3, overFetch = 3))
    assert(batch.keySet === qids.toSet)
    qids.foreach { qid =>
      val qv = embs.filter(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val one = Pq.pqIvfProbe(spark, idx, model, cents, "vec_id", qv, 5,
          nProbe = 3, overFetch = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
      assert(batch(qid) === one, s"qid $qid diverged from pqIvfProbe")
      assert(batch(qid).head._1 === qid) // self at rank 1
    }
    // the per-row LUT kernel is bit-identical to the driver LUT the
    // scalar probe uses (same norm order, same component accumulation)
    import spark.implicits._
    val someQ = embs.filter(col("vec_id") === qids.head)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val kernelLut = embs.filter(col("vec_id") === qids.head)
      .select(graft.functions.GraftFunctions.pqLut(col("embedding"),
        model.cents.flatten.flatten.toArray, model.m, model.subDim))
      .head().getSeq[Double](0)
    val qn = math.sqrt(someQ.map(x => x * x).sum)
    val unit = someQ.map(_ / qn).toArray
    val driverLut = Array.tabulate(model.m * model.cents.head.length) { i =>
      val sub = i / model.cents.head.length
      val c = i % model.cents.head.length
      val slice = unit.slice(sub * model.subDim, (sub + 1) * model.subDim)
      slice.zip(model.cents(sub)(c)).map { case (a, b) =>
        (a - b) * (a - b) }.sum
    }
    assert(kernelLut.toArray.toSeq === driverLut.toSeq)
    // takedown: deleted vectors can still ask, never be found
    VectorOps.IvfLayout.delete(queries.select("vec_id"), "vec_id", idx)
    val after = Pq.pqIvfProbeJoin(queries, idx, model, cents, "vec_id",
        "embedding", k = 5, nProbe = cents.length, overFetch = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(after.nonEmpty)
    assert(after.forall { case (_, n) => !qids.contains(n) })
  }
  test("pqIvfProbeJoin rids mode ≡ a fresh compressed index over the snapshot") {
    val embs = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-pqsnap")
    val off = 1000000L
    val revised = embs.filter(col("vec_id") % 5 === 2)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val big = embs.select("vec_id", "embedding").unionByName(revised)
    val snapCorpus = embs.filter(col("vec_id") % 5 =!= 2)
      .select("vec_id", "embedding").unionByName(revised)
    val cents = VectorOps.kmeansCentroids(big, "embedding", 8)
    val model = Pq.pqTrain(big, "embedding", m = 8, codebook = 16)
    Pq.pqIvfWriteIndex(big, "vec_id", "embedding", s"$root/full", model, cents)
    Pq.pqIvfWriteIndex(snapCorpus, "vec_id", "embedding", s"$root/snap",
      model, cents)
    val queries = embs.filter(col("vec_id") % 40 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val got = rows(Pq.pqIvfProbeJoin(queries, s"$root/full", model, cents,
      "vec_id", "embedding", k = 5, nProbe = cents.length,
      overFetch = 1000, rids = Some(snapCorpus.select("vec_id"))))
    val want = rows(Pq.pqIvfProbeJoin(queries, s"$root/snap", model, cents,
      "vec_id", "embedding", k = 5, nProbe = cents.length,
      overFetch = 1000))
    assert(got === want && got.nonEmpty)
  }
}
