package graft.ops

import graft.{SparkEntry, Tables, TestSpark}
import graft.pipeline.EtlJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Ckpt]]'s ownership rule: every materialization belongs to a scope,
  * a scope frees what its result does not read and hands the rest to
  * the enclosing scope, and an op that returns no relation leaves the
  * session's persisted RDDs exactly as it found them.
  *
  * Suites share one session, so every storage check compares the
  * persisted-RDD set against the set taken just before the call.
  */
class CkptScopeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The persisted RDDs `body` adds that are still there after it. */
  private def retained(body: => Any): Set[Int] = {
    val before = persisted()
    body
    persisted() -- before
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-ckpt-$tag").toString

  private lazy val docs: DataFrame =
    Tables.load(spark, TestSpark.Sf001, "documents")
      .select("doc_id", "text").filter($"doc_id" < 60)

  test("ops that return no relation leave the persisted RDDs as they found them") {
    val Rid = CorpusUpsert.RidCol
    // each row: setup (untracked) returning the tracked op
    def upsertRoot(): (String, Seq[CorpusUpsert.IndexTarget]) = {
      val root = tmp("ups")
      LexIndex.bm25WriteIndex(docs.select($"doc_id".as(Rid), $"text").limit(0),
        Rid, "text", s"$root/bm25", buckets = 8)
      val t = Seq[CorpusUpsert.IndexTarget](CorpusUpsert.Bm25Target(s"$root/bm25", "text"))
      CorpusUpsert.applyBatch(docs, "doc_id", "base", s"$root/ups", t)
      (s"$root/ups", t)
    }
    val rows: Seq[(String, () => () => Any)] = Seq(
      "CorpusUpsert.deleteDocs" -> { () =>
        val (ups, t) = upsertRoot()
        () => CorpusUpsert.deleteDocs(docs.filter($"doc_id" % 7 === 0), "doc_id", ups, t)
      },
      "CorpusUpsert.applyBatch" -> { () =>
        val (ups, t) = upsertRoot()
        val rev = docs.filter($"doc_id" % 3 === 1)
          .select($"doc_id", concat($"text", lit(" rev")).as("text"))
        () => CorpusUpsert.applyBatch(rev, "doc_id", "rev1", ups, t)
      },
      "Bpe.trainMerges" -> { () =>
        val hist = Seq("lower" -> 5L, "lowest" -> 2L, "newer" -> 6L, "wider" -> 3L)
          .toDF("word", "wc")
        () => Bpe.trainMerges(hist, 8, maxBatch = 1)
      },
      "IndexLayout.purge" -> { () =>
        val root = tmp("nd")
        NearDupIndex.neardupWriteIndex(docs, "doc_id", "text", root,
          shingleN = 3, numHashes = 32, bands = 8, nBuckets = 16, nDocBuckets = 8)
        NearDupIndex.Layout.delete(docs.filter($"doc_id" % 5 === 0), "doc_id", root)
        () => NearDupIndex.Layout.purge(spark, root, "doc_id")
      },
      "LexIndex.Layout.purge" -> { () =>
        val root = tmp("bm25")
        LexIndex.bm25WriteIndex(docs, "doc_id", "text", root, buckets = 8)
        LexIndex.Layout.delete(docs.filter($"doc_id" % 5 === 0), "doc_id", root)
        () => LexIndex.Layout.purge(spark, root, "doc_id")
      },
      "EtlJob.run" -> { () =>
        val raw = tmp("raw")
        val day = java.time.LocalDate.of(2024, 1, 7)
        val dir = java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(raw, s"context_date=$day"))
        java.nio.file.Files.writeString(dir.resolve("a.json"), (1 to 3).map { i =>
          s"""{"update_id":$i,"message":{"message_id":$i,"from":{"id":11,""" +
            s""""is_bot":false,"first_name":"Ana"},"chat":{"id":-100,"type":"group"},""" +
            s""""date":${1704628800L + i},"text":"m$i"}}"""
        }.mkString("\n"))
        () => EtlJob.run(spark, raw, tmp("enriched"), day)
      })
    val leaks = rows.flatMap { case (name, setup) =>
      val op = setup()
      val k = retained(op()).size
      if (k > 0) Some(s"$name retained $k") else None
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("connectedComponents holds only its final state once it returns") {
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    var comps: DataFrame = null
    val held = retained {
      comps = GraphOps.connectedComponents(chain, driverThreshold = 0)
    }
    assert(held.size === 1, s"held ${held.size} block sets (want 1: the final labels)")
    assert(comps.select("component").distinct().as[Long].collect().toSeq === Seq(0L))
  }

  test("a scope keeps the checkpoints its result joins and frees the rest") {
    val before = persisted()
    Ckpt.scope {
      var ab, c = Set.empty[Int]
      val joined = Ckpt.scope {
        val a = Ckpt.checkpoint(spark.range(10).toDF("id"))
        val b = Ckpt.checkpoint(spark.range(5).select($"id", ($"id" * 2).as("v")))
        ab = persisted() -- before
        Ckpt.checkpoint(spark.range(3).toDF("id")).count()
        c = persisted() -- before -- ab
        a.join(b, "id")
      }
      assert(ab.size === 2 && c.size === 1)
      assert(persisted() -- before === ab, "A and B kept, C freed")
      assert(joined.agg(sum("v")).head().getLong(0) === 20L)
    }
    assert((persisted() -- before).isEmpty, "the outer scope frees what it was handed")
  }

  test("a checkpoint read only through a subquery is kept") {
    val before = persisted()
    Ckpt.scope {
      var s = Set.empty[Int]
      val r = Ckpt.scope {
        Ckpt.checkpoint(spark.range(3).toDF("k")).createOrReplaceTempView("ckpt_sub")
        s = persisted() -- before
        spark.sql("SELECT id FROM range(10) WHERE id IN (SELECT k FROM ckpt_sub)")
      }
      assert(s.size === 1 && (persisted() -- before) === s)
      assert(r.count() === 3L)
    }
    assert((persisted() -- before).isEmpty)
  }

  test("a throwing body frees everything it registered") {
    val before = persisted()
    intercept[IllegalStateException] {
      Ckpt.scope {
        Ckpt.checkpoint(spark.range(4).toDF("id"))
        Ckpt.cache(spark.range(6).toDF("id")).count()
        assert((persisted() -- before).size === 2)
        throw new IllegalStateException("boom")
      }
    }
    assert((persisted() -- before).isEmpty)
  }

  test("a WorkPool unit materializes into its submitter's scope") {
    val before = persisted()
    Ckpt.scope {
      WorkPool.runAll(Seq(
        () => { Ckpt.checkpoint(spark.range(4).toDF("id")); () },
        () => { Ckpt.checkpoint(spark.range(5).toDF("id")); () }))
      assert((persisted() -- before).size === 2)
    }
    assert((persisted() -- before).isEmpty)
  }

  test("classifierGate's result still runs after its own scope closed") {
    // the round-18 use-after-free: the gate's feats checkpoint backs the
    // returned relation, so closing the gate's scope must not free it
    val corpus = Tables.load(spark, TestSpark.Sf001, "documents")
    val before = persisted()
    val ids = Ckpt.scope {
      val gated = ManifestV2.classifierGate(corpus,
        ManifestV2.gopherSurvivors(corpus), 0.5, gateQuantile = Some(0.3))
      gated.select("doc_id").as[Long].collect().toSeq.sorted
    }
    assert((persisted() -- before).isEmpty)
    // the rows the pre-scope engine returns for this call
    assert((ids.size, ids.sum, ids.map(i => i * i).sum) === ((193, 47568L, 15570592L)))
  }

  test("gated queries free every materialization when their scope closes") {
    val names = Seq(
      "q50_dedup_components", "q151_pagerank", "q187_lpa_communities",
      "q154_bradley_terry", "q120_quality_classifier", "q105_bpe_merges",
      "q162_fuzzy_name_pairs", "q214_manifest_takedown",
      "q133_manifest_v2_full", "q241_dedup_gate", "q230_corpus_upsert",
      "q245_bm25_asof", "q194_bm25_delete", "q219_stream_phash_index")
    val leaks = names.flatMap { n =>
      val k = retained(Ckpt.scope(SparkEntry.queries(n)(spark, TestSpark.Sf001).count())).size
      if (k > 0) Some(s"$n leaked $k") else None
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}
