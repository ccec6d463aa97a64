package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RetrievalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("rrfFuse hand fixture: overlap sums, single-list docs contribute one term") {
    import spark.implicits._
    // query 1: list A ranks d10 #1, d20 #2; list B ranks d20 #1, d30 #2
    //   d20 = 1/62 + 1/61 = 0.032522…, d10 = 1/61 = 0.016393…,
    //   d30 = 1/62 = 0.016129…
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L)).toDF("qid", "did", "rank")
    val b = Seq((1L, 20L, 1L), (1L, 30L, 2L)).toDF("qid", "did", "rank")
    val got = Retrieval.rrfFuse(a, b, "qid", "did", "rank", k = 10)
      .orderBy("rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 20L, 0.032522, 1L),
      (1L, 10L, 0.016393, 2L),
      (1L, 30L, 0.016129, 3L)))
  }

  test("rrfFuse ties break by doc id; k truncates the fused list") {
    import spark.implicits._
    // both docs score exactly 1/61 for query 7 → tie → doc id order
    val a = Seq((7L, 5L, 1L)).toDF("qid", "did", "rank")
    val b = Seq((7L, 3L, 1L)).toDF("qid", "did", "rank")
    val fused = Retrieval.rrfFuse(a, b, "qid", "did", "rank", k = 10)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(fused.toSeq === Seq((3L, 1L), (5L, 2L)))
    val trunc = Retrieval.rrfFuse(a, b, "qid", "did", "rank", k = 1).collect()
    assert(trunc.length === 1 && trunc.head.getLong(1) === 3L)
  }

  test("bruteKnnJoin ≡ single-query bruteForceTopK, and self-retrieval is rank 1") {
    val e = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val single = VectorOps.bruteForceTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble).toSeq, 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val batch = VectorOps.bruteKnnJoin(e.filter(col("vec_id") === 0), e,
        "vec_id", "embedding", k = 20)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(batch.toSeq === single.toSeq)
    // every non-degenerate query retrieves itself first at cosine 1.0
    val self = VectorOps.bruteKnnJoin(e.filter(col("vec_id") < 8), e,
        "vec_id", "embedding", k = 3)
      .filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(self.nonEmpty)
    assert(self.forall { case (q, n, c) => q == n && c == 1.0 })
  }

  test("bruteKnnJoin excludeSelf drops the reflexive pair only") {
    val e = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val without = VectorOps.bruteKnnJoin(e.filter(col("vec_id") < 4), e,
      "vec_id", "embedding", k = 5, excludeSelf = true)
    assert(without.filter(col("q_id") === col("n_id")).count() === 0)
    // rank 1 without self = rank 2 with self (ids shift up by one)
    val withSelf = VectorOps.bruteKnnJoin(e.filter(col("vec_id") < 4), e,
        "vec_id", "embedding", k = 5)
      .filter(col("rank") === 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val top = without.filter(col("rank") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(top === withSelf)
  }

  test("index-served hybrid fusion ≡ scan-path fusion at full probe budget") {
    import org.apache.spark.sql.expressions.Window
    val root = java.nio.file.Files.createTempDirectory("graft-hybridx").toString
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
    val e = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val terms = Seq("vector", "join", "scan")
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", s"$root/lex", buckets = 16)
    val cents = VectorOps.ivfWriteIndex(e, "vec_id", "embedding",
      s"$root/ivf", nCentroids = 8)
    val qvec = e.filter(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    def ranked(d: org.apache.spark.sql.DataFrame, score: String, id: String) =
      d.orderBy(col(score).desc, col(id)).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col(score).desc, col(id))).cast("long"))
        .select(lit(1L).as("query_id"), col(id).as("doc_id"), col("rank"))
    def fused(lex: org.apache.spark.sql.DataFrame,
        dense: org.apache.spark.sql.DataFrame) =
      Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rank", k = 10)
        .orderBy("rank")
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    // index-served: postings probe + IVF probe at FULL budget (every
    // cluster probed → the candidate cut vanishes, isolating layout)
    val viaIndex = fused(
      ranked(LexIndex.bm25ProbeIndex(spark, s"$root/lex", "doc_id", terms),
        "bm25", "doc_id"),
      ranked(VectorOps.ivfProbeIndex(spark, s"$root/ivf", cents,
          "vec_id", qvec, k = 10, nProbe = 8),
        "cosine", "vec_id"))
    // scan-served: the same two retrievals straight off the corpus
    val viaScan = fused(
      ranked(TextAnalysis.bm25Scores(docs, "doc_id", "text", terms),
        "bm25", "doc_id"),
      ranked(VectorOps.bruteForceTopK(e, "vec_id", "embedding", qvec, 10),
        "cosine", "vec_id"))
    assert(viaIndex === viaScan)
    assert(viaIndex.nonEmpty)
  }

  test("joint streaming E2E: both indexes stream-maintained together, fused probe ≡ batch-built fusion") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft-hybrid-stream").toString
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
    val e = Tables.load(spark, TestSpark.Sf001, "embeddings")
    val terms = Seq("vector", "join", "scan")
    // batch-built reference pair
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", s"$root/lex_b", buckets = 16)
    val cents = VectorOps.ivfWriteIndex(e, "vec_id", "embedding",
      s"$root/ivf_b", nCentroids = 8)
    // stream-maintained pair: lex fanout fixed over an empty frame,
    // ivf under the SAME frozen centroids; both corpora arrive in
    // 3 micro-batches through their own checkpoints
    LexIndex.bm25WriteIndex(docs.limit(0), "doc_id", "text", s"$root/lex_s",
      buckets = 16)
    docs.select("doc_id", "text").repartition(3).write.parquet(s"$root/dsrc")
    e.select("vec_id", "embedding").repartition(3).write.parquet(s"$root/esrc")
    val dStream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1").parquet(s"$root/dsrc")
    val eStream = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", "1").parquet(s"$root/esrc")
    val q1 = graft.streaming.VectorIndexStream.indexSink(dStream, "doc_id",
      CorpusUpsert.Bm25Target(s"$root/lex_s", "text"))
      .option("checkpointLocation", s"$root/dckpt")
      .trigger(Trigger.AvailableNow()).start()
    val q2 = graft.streaming.VectorIndexStream.indexSink(eStream, "vec_id",
      CorpusUpsert.IvfTarget(s"$root/ivf_s", "embedding", cents))
      .option("checkpointLocation", s"$root/eckpt")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination(); q2.awaitTermination()
    val qvec = e.filter(col("vec_id") === 1).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    def ranked(d: org.apache.spark.sql.DataFrame, score: String, id: String) =
      d.orderBy(col(score).desc, col(id)).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col(score).desc, col(id))).cast("long"))
        .select(lit(1L).as("query_id"), col(id).as("doc_id"), col("rank"))
    def fusedFrom(lexPath: String, ivfPath: String) =
      Retrieval.rrfFuse(
          ranked(LexIndex.bm25ProbeIndex(spark, lexPath, "doc_id", terms),
            "bm25", "doc_id"),
          ranked(VectorOps.ivfProbeIndex(spark, ivfPath, cents,
              "vec_id", qvec, k = 10, nProbe = 8),
            "cosine", "vec_id"),
          "query_id", "doc_id", "rank", k = 10)
        .orderBy("rank")
        .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    val viaStream = fusedFrom(s"$root/lex_s", s"$root/ivf_s")
    val viaBatch = fusedFrom(s"$root/lex_b", s"$root/ivf_b")
    assert(viaStream === viaBatch)
    assert(viaStream.nonEmpty)
  }

  test("rankingMetrics hand fixture: recall/MRR/nDCG by hand, zero-relevant and perfect queries pinned") {
    import spark.implicits._
    val run = Seq(
      (1L, 10L, 1L), (1L, 20L, 2L), // q1: hit rel-2 at rank 1, unjudged at 2
      (2L, 10L, 1L),                // q2: only judged-irrelevant retrieved
      (3L, 5L, 1L), (3L, 6L, 2L))   // q3: the ideal ordering itself
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq(
      (1L, 10L, 2.0), (1L, 30L, 1.0), (1L, 40L, 0.0),
      (2L, 10L, 0.0),
      (3L, 5L, 3.0), (3L, 6L, 1.0))
      .toDF("query_id", "doc_id", "rel")
    val got = Retrieval.rankingMetrics(run, qrels, "query_id", "doc_id",
        "rank", "rel", k = 10)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // q1: DCG = (2²−1)/log2(2) = 3; IDCG = 3 + 1/log2(3) = 3.6309297…
    //     AP = P@1 / min(2, 10) = 1/2
    val ndcg1 = BigDecimal(3.0 / (3.0 + 1.0 / (math.log(3) / math.log(2))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq === Seq(
      (1L, 2L, 0.5, 1.0, 0.5, ndcg1),
      (2L, 0L, 0.0, 0.0, 0.0, 0.0),
      (3L, 2L, 1.0, 1.0, 1.0, 1.0)))
    // a query with judgments but absent from the run still reports
    val got4 = Retrieval.rankingMetrics(
        run.filter($"query_id" === 1L), qrels, "query_id", "doc_id",
        "rank", "rel", k = 10)
      .orderBy("query_id").collect()
    assert(got4.length === 3, "judged queries must appear even with no run rows")
    assert(got4(2).getDouble(2) === 0.0 && got4(2).getDouble(5) === 0.0)
    // AP sees unjudged positions through the rank denominator: push the
    // q1 hit to rank 3 → P@3 = 1/3, AP = (1/3)/2
    val late = Seq((1L, 99L, 1L), (1L, 98L, 2L), (1L, 10L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val ap1 = Retrieval.rankingMetrics(late,
        qrels.filter($"query_id" === 1L), "query_id", "doc_id",
        "rank", "rel", k = 10)
      .head().getDouble(4)
    assert(ap1 === BigDecimal(1.0 / 3 / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("mmrRerank demotes a near-duplicate of the top hit in favor of a diverse doc") {
    import spark.implicits._
    // docs 1 and 2 are identical vectors (near-dups), doc 3 orthogonal.
    // Pure relevance order: 1, 2, 3. MMR at λ = 0.5 must pick 1, then 3
    // (doc 2's max-sim penalty is 1.0 while doc 3's is 0).
    val shortlist = Seq(
      (7L, 1L, 0.99), (7L, 2L, 0.98), (7L, 3L, 0.60))
      .toDF("query_id", "doc_id", "rel")
    val vectors = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Retrieval.mmrRerank(shortlist, vectors,
        "query_id", "doc_id", "rel", "vec_id", "embedding",
        k = 2, lambda = 0.5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq === Seq(1L, 3L), s"expected diverse pick: ${got.toSeq}")
    // hand-checked scores: first pick 0.5·0.99, second 0.5·0.60 − 0.5·0
    assert(got(0)._3 === 0.495 && got(1)._3 === 0.3)
  }

  test("mmrRerank at λ=1 reduces to relevance order; k past the shortlist returns all; vectorless docs drop") {
    import spark.implicits._
    val shortlist = Seq(
      (1L, 10L, 0.5), (1L, 11L, 0.9), (1L, 12L, 0.7), (1L, 13L, 0.8))
      .toDF("query_id", "doc_id", "rel")
    val vectors = Seq(
      (10L, Seq(1.0, 0.0)), (11L, Seq(0.9, 0.1)), (12L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")   // 13 has no vector → dropped
    val got = Retrieval.mmrRerank(shortlist, vectors,
        "query_id", "doc_id", "rel", "vec_id", "embedding",
        k = 10, lambda = 1.0)
      .orderBy("rank").collect().map(r => r.getLong(1))
    assert(got.toSeq === Seq(11L, 12L, 10L))
  }

  test("mmrRerank refuses an uncapped shortlist instead of buffering it") {
    import spark.implicits._
    val shortlist = (1 to 50).map(i => (1L, i.toLong, 1.0 / i))
      .toDF("query_id", "doc_id", "rel")
    val vectors = (1 to 50).map(i => (i.toLong, Seq(1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Retrieval.mmrRerank(shortlist, vectors,
        "query_id", "doc_id", "rel", "vec_id", "embedding",
        k = 5, lambda = 0.5, maxShortlist = 10).collect()
    }
    assert(e.getMessage != null)
  }

  test("hybrid fusion surfaces docs found by only one retriever") {
    import spark.implicits._
    // lexical finds d1 only; dense finds d2 only; both appear fused
    val lex = Seq((1L, 1L, 1L)).toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 2L, 1L)).toDF("query_id", "doc_id", "rank")
    val fused = Retrieval.rrfFuse(lex, dense, "query_id", "doc_id", "rank", k = 10)
    assert(fused.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }
}
