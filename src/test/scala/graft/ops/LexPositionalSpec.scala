package graft.ops

import graft.{Tables, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Positional postings + phrase/proximity probes over the persisted
  * BM25 index ([[LexIndex]]): hand-computable fixtures pin the exact
  * anchor arithmetic, an independent join-based recompute pins the
  * corpus-scale relation, and the maintenance lifecycle (append,
  * delete, purge) carries position arrays bit-identically.
  */
class LexPositionalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-pos-$tag").toString

  private lazy val fixture: DataFrame = Seq(
    (1L, "a b c a b c a b"),
    (2L, "x a b y"),
    (3L, "a c b"),
    (4L, "b b a"),
    (5L, "q r s")).toDF("doc_id", "text")

  private lazy val fixtureIdx: String = {
    val p = tmp("fix")
    LexIndex.bm25WriteIndex(fixture, "doc_id", "text", p, buckets = 4,
      positional = true)
    p
  }

  private def phrase(path: String, terms: String*): Seq[(Long, Long)] =
    LexIndex.bm25PhraseProbe(spark, path, "doc_id", terms)
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))

  private def prox(path: String, w: Int, terms: String*): Seq[(Long, Long)] =
    LexIndex.bm25ProximityProbe(spark, path, "doc_id", terms, w)
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))

  test("phrase: anchored adjacency counts occurrences exactly") {
    assert(phrase(fixtureIdx, "a", "b") === Seq(1L -> 3L, 2L -> 1L))
    assert(phrase(fixtureIdx, "a", "b", "c") === Seq(1L -> 2L))
    // order matters: "b a" appears only in doc 4 ("b b a"); doc 1's
    // every 'b' is followed by 'c' or end-of-doc
    assert(phrase(fixtureIdx, "b", "a") === Seq(4L -> 1L))
    // both terms present but never adjacent → no row (doc 3 "a c b")
    assert(phrase(fixtureIdx, "c", "a") === Seq(1L -> 2L))
    assert(phrase(fixtureIdx, "x", "c").isEmpty)
  }

  test("proximity: exact minimal window span") {
    assert(prox(fixtureIdx, 3, "a", "b") ===
      Seq(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
    assert(prox(fixtureIdx, 2, "a", "b") ===
      Seq(1L -> 2L, 2L -> 2L, 4L -> 2L))
  }

  // Repeated-term phrases: the anchored verify is multiplicity-safe
  // (array_contains at p+j can never alias two phrase slots), so
  // stop-word-bearing phrases like "a b a" just work.
  private lazy val repFixture: DataFrame = Seq(
    (11L, "a a b a a b a"),
    (12L, "b b a"),
    (13L, "z z z z"),
    (14L, "a b")).toDF("doc_id", "text")

  private lazy val repIdx: String = {
    val p = tmp("rep")
    LexIndex.bm25WriteIndex(repFixture, "doc_id", "text", p, buckets = 4,
      positional = true)
    p
  }

  test("phrase: repeated terms — head, tail, and all-same runs") {
    // adjacent repeat at head: doc 11 'a a ...' anchors at 0 and 3
    assert(phrase(repIdx, "a", "a") === Seq(11L -> 2L))
    assert(phrase(repIdx, "a", "a", "b") === Seq(11L -> 2L))
    // repeat at head of a distinct-tail phrase (doc 12 'b b a')
    assert(phrase(repIdx, "b", "b", "a") === Seq(12L -> 1L))
    // repeat at head AND tail: doc 11 matches at p=1 and p=4
    assert(phrase(repIdx, "a", "b", "a") === Seq(11L -> 2L))
    // all-same-term run: 'z z z z' holds two overlapping 'z z z'
    assert(phrase(repIdx, "z", "z", "z") === Seq(13L -> 2L))
    assert(phrase(repIdx, "z", "z", "z", "z") === Seq(13L -> 1L))
    // repeated term absent at the required multiplicity → no row
    assert(phrase(repIdx, "b", "b", "b").isEmpty)
  }

  test("proximity: multiset multiplicity — k-th occurrence windows") {
    // two a's within 3 tokens: doc 11 trivially (adjacent pair); docs
    // 12/14 hold only ONE 'a', so the k=2 lookup coalesces far
    assert(prox(repIdx, 3, "a", "a") === Seq(11L -> 2L))
    // two a's + one b: tightest window is 'a a b' at 0..2 (span 3)
    assert(prox(repIdx, 4, "a", "a", "b") === Seq(11L -> 3L))
    // two b's + one a: doc 11's b's sit 3 apart ('b a a b' span 4);
    // doc 12 'b b a' is exact at span 3
    assert(prox(repIdx, 4, "b", "b", "a") === Seq(11L -> 4L, 12L -> 3L))
    assert(prox(repIdx, 3, "b", "b", "a") === Seq(12L -> 3L))
    // multiplicity 3: only the z-run has three of one term
    assert(prox(repIdx, 3, "z", "z", "z") === Seq(13L -> 3L))
    assert(prox(repIdx, 4, "a", "a", "a") === Seq(11L -> 4L))
  }

  test("corpus-scale phrase ≡ an independent position-join recompute") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val idx = tmp("corpus")
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idx, buckets = 16,
      positional = true)
    val pos = docs
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "w")))
    def at(t: String, off: Int) = pos.filter($"w" === t)
      .select($"doc_id", ($"p" - off).as("anchor"))
    val want = at("vector", 0).join(at("scan", 1), Seq("doc_id", "anchor"))
      .groupBy("doc_id").agg(count(lit(1)).as("phrase_tf"))
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(phrase(idx, "vector", "scan") === want)
    assert(want.nonEmpty)
    val want3 = at("the", 0).join(at("table", 1), Seq("doc_id", "anchor"))
      .join(at("key", 2), Seq("doc_id", "anchor"))
      .groupBy("doc_id").agg(count(lit(1)).as("phrase_tf"))
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(phrase(idx, "the", "table", "key") === want3)
  }

  test("append ≡ rebuild: positional rows land under the persisted fanout") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val (a, b) = (tmp("appA"), tmp("appB"))
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", a, buckets = 8,
      positional = true)
    LexIndex.bm25WriteIndex(docs.filter($"doc_id" < 250), "doc_id",
      "text", b, buckets = 8, positional = true)
    CorpusUpsert.Bm25Target(b, "text").append(docs.filter($"doc_id" >= 250),
      "doc_id")
    assert(phrase(a, "vector", "scan") === phrase(b, "vector", "scan"))
    val score = (p: String) =>
      LexIndex.bm25ProbeIndex(spark, p, "doc_id", Seq("vector", "scan"))
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(score(a) === score(b))
  }

  test("delete + purge carry positions: probes ≡ rebuild without the ids") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val (a, b) = (tmp("delA"), tmp("delB"))
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", a, buckets = 8,
      positional = true)
    LexIndex.Layout.delete(docs.filter($"doc_id" % 7 === 3), "doc_id", a)
    LexIndex.bm25WriteIndex(docs.filter($"doc_id" % 7 =!= 3), "doc_id",
      "text", b, buckets = 8, positional = true)
    assert(phrase(a, "vector", "scan") === phrase(b, "vector", "scan"))
    LexIndex.Layout.purge(spark, a, "doc_id")
    assert(!Tombstones.exists(spark, a))
    assert(phrase(a, "vector", "scan") === phrase(b, "vector", "scan"))
    assert(prox(a, 5, "vector", "window") === prox(b, 5, "vector", "window"))
    // phrase-ranked scores stay bit-identical through the purge too
    // (df and N/avgdl both tombstone-exact)
    def rank(p: String) =
      LexIndex.bm25PhraseRank(spark, p, "doc_id", Seq("vector", "scan"))
        .orderBy("doc_id").collect().toSeq.map(_.toSeq)
    assert(rank(a) === rank(b))
    assert(rank(a).nonEmpty)
  }

  test("compaction folds positional append litter with bit-identical probes") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val idx = tmp("compact")
    LexIndex.bm25WriteIndex(docs.filter($"doc_id" < 100), "doc_id",
      "text", idx, buckets = 8, positional = true)
    (1 to 4).foreach(i => CorpusUpsert.Bm25Target(idx, "text").append(
      docs.filter($"doc_id" >= i * 100 && $"doc_id" < (i + 1) * 100),
      "doc_id"))
    val beforePhrase = phrase(idx, "vector", "scan")
    val beforeProx = prox(idx, 5, "vector", "window")
    val report = LexIndex.Layout.compact(spark, idx, maxFilesPerDir = 1)
    assert(report.nonEmpty)
    assert(phrase(idx, "vector", "scan") === beforePhrase)
    assert(prox(idx, 5, "vector", "window") === beforeProx)
  }

  test("proximity-rank: Okapi over the inverse-span pseudo-tf, exact") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val idx = tmp("proxrank")
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idx, buckets = 8,
      positional = true)
    val terms = Seq("vector", "window")
    val got = LexIndex.bm25ProximityRank(spark, idx, "doc_id", terms, 5)
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    // independent recompute: spans from the probe, dl/N/avgdl from the
    // raw corpus, the formula in plain Scala doubles
    val spans = LexIndex.bm25ProximityProbe(spark, idx, "doc_id", terms, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val lens = docs
      .select($"doc_id", size(split($"text", " ")).cast("double").as("dl"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val n = lens.size.toDouble
    val avgdl = lens.values.sum / n
    val dfp = spans.size.toDouble
    val want = spans.toSeq.sortBy(_._1).map { case (id, span) =>
      val ptf = terms.size.toDouble / span.toDouble
      val s = math.log((n - dfp + 0.5) / (dfp + 0.5) + 1.0) * ptf * 2.2 /
        (ptf + 1.2 * (1.0 - 0.75 + 0.75 * lens(id) / avgdl))
      // Spark's round() is HALF_UP BigDecimal, not rint's HALF_EVEN
      (id, span,
        BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got === want)
    // tighter span → higher score for equal dl: pin the decay on the
    // hand fixture (doc 1 "a b c a b c a b" span 2 vs doc 3 "a c b"
    // span 3, equal length would be needed — compare via formula
    // monotonicity instead: ptf strictly decreases in span)
    assert((2.0 / 2) > (2.0 / 3))
  }

  test("phrase-join: one-pass batch ≡ per-phrase rank probes, top-k") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val idx = tmp("phjoin")
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idx, buckets = 8,
      positional = true)
    val phrases = Seq(
      (1, Seq("vector", "scan")),
      (2, Seq("a", "a")),
      (3, Seq("the", "table")),
      (4, Seq("spark"))).toDF("qid", "phrase")
    val got = LexIndex.bm25PhraseJoin(phrases, idx, "doc_id", "qid",
        "phrase", k = 5)
      .orderBy("qid", "rank").collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    // multi-term phrases ≡ the single-phrase rank probe, top-5 by
    // (bm25 desc, doc_id)
    for ((qid, phrase) <- Seq(1 -> Seq("vector", "scan"),
        2 -> Seq("a", "a"), 3 -> Seq("the", "table"))) {
      val want = LexIndex.bm25PhraseRank(spark, idx, "doc_id", phrase)
        .orderBy(col("bm25").desc, col("doc_id")).limit(5)
        .collect().toSeq.zipWithIndex
        .map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), r.getDouble(2), (i + 1).toLong) }
      assert(got.filter(_._1 == qid) === want, s"qid $qid")
    }
    // the single-term degenerate scores EXACTLY as the term probe
    // (ptf = tf, df_p = df — the Okapi formulas coincide)
    val wantSingle = LexIndex.bm25ProbeIndex(spark, idx, "doc_id",
        Seq("spark"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(5)
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (4, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
    assert(got.filter(_._1 == 4).map(t => (t._1, t._2, t._4, t._5)) ===
      wantSingle)
    // and phrase_tf for the single term is its raw tf
    assert(got.filter(_._1 == 4).forall(_._3 >= 1))
  }

  test("proximity-join: one-pass batch ≡ per-multiset rank probes, top-k; infeasible rows drop") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val idx = tmp("proxjoin")
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idx, buckets = 8,
      positional = true)
    val qs = Seq(
      (1, Seq("vector", "window")),
      (2, Seq("table", "table", "key")),
      (3, Seq("a", "a", "a", "a", "a", "a", "a"))) // 7 > window: dropped
      .toDF("qid", "terms")
    val got = LexIndex.bm25ProximityJoin(qs, idx, "doc_id", "qid",
        "terms", window = 6, k = 5)
      .orderBy("qid", "rank").collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4)))
    assert(got.nonEmpty)
    assert(!got.exists(_._1 == 3), "infeasible multiset must drop, not score")
    for ((qid, terms) <- Seq(1 -> Seq("vector", "window"),
        2 -> Seq("table", "table", "key"))) {
      val want = LexIndex.bm25ProximityRank(spark, idx, "doc_id", terms, 6)
        .orderBy(col("bm25").desc, col("doc_id")).limit(5)
        .collect().toSeq.zipWithIndex
        .map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), r.getDouble(2), (i + 1).toLong) }
      assert(got.filter(_._1 == qid) === want, s"qid $qid")
    }
  }

  test("phrase-join: tombstoned docs stay excluded") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val idx = tmp("phjoindel")
    LexIndex.bm25WriteIndex(docs, "doc_id", "text", idx, buckets = 8,
      positional = true)
    LexIndex.Layout.delete(docs.filter($"doc_id" % 7 === 3), "doc_id", idx)
    val phrases = Seq((1, Seq("vector", "scan"))).toDF("qid", "phrase")
    val got = LexIndex.bm25PhraseJoin(phrases, idx, "doc_id", "qid",
        "phrase", k = 100)
      .collect().toSeq
    assert(got.nonEmpty)
    assert(got.forall(_.getLong(1) % 7 != 3))
  }

  test("phrase rank and batch phrase join follow every index generation: append, applyBatch, delete, purge, compact ≡ a fresh rebuild") {
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val ph = Seq("vector", "scan")
    val phrases = Seq((1, ph), (2, Seq("the", "table"))).toDF("qid", "phrase")
    def both(p: String, id: String) = (
      LexIndex.bm25PhraseRank(spark, p, id, ph)
        .orderBy(id).collect().toSeq.map(_.toSeq),
      LexIndex.bm25PhraseJoin(phrases, p, id, "qid", "phrase", k = 50)
        .orderBy("qid", "rank").collect().toSeq.map(_.toSeq))
    def rebuilt(corpus: DataFrame, id: String = "doc_id") = {
      val ref = tmp("gen-ref")
      LexIndex.bm25WriteIndex(corpus, id, "text", ref, buckets = 8,
        positional = true)
      both(ref, id)
    }
    val idx = tmp("gen")
    val kept = docs.filter($"doc_id" % 7 =!= 3)
    LexIndex.bm25WriteIndex(docs.filter($"doc_id" < 250), "doc_id", "text",
      idx, buckets = 8, positional = true)
    // each change lands between a probe (the cached generation) and
    // the checked probe
    assert(both(idx, "doc_id") === rebuilt(docs.filter($"doc_id" < 250)))
    CorpusUpsert.Bm25Target(idx, "text").append(docs.filter($"doc_id" >= 250),
      "doc_id")
    val all = rebuilt(docs)
    assert(both(idx, "doc_id") === all)
    LexIndex.Layout.delete(docs.filter($"doc_id" % 7 === 3), "doc_id", idx)
    val afterDelete = rebuilt(kept)
    assert(afterDelete !== all)
    assert(both(idx, "doc_id") === afterDelete)
    LexIndex.Layout.purge(spark, idx, "doc_id", targetBytes = 512)
    assert(both(idx, "doc_id") === afterDelete)
    LexIndex.Layout.compact(spark, idx, maxFilesPerDir = 1)
    assert(both(idx, "doc_id") === afterDelete)

    val rid = CorpusUpsert.RidCol
    val (ups, bm) = (tmp("gen-ups"), tmp("gen-bm25"))
    LexIndex.bm25WriteIndex(docs.select($"doc_id".as(rid), $"text").limit(0),
      rid, "text", bm, buckets = 8, positional = true)
    val targets = Seq(CorpusUpsert.Bm25Target(bm, "text"))
    def asRids(d: DataFrame, rev: Int) =
      d.select(CorpusUpsert.ridExpr($"doc_id", lit(rev)).as(rid), $"text")
    val first = docs.filter($"doc_id" < 300)
    CorpusUpsert.applyBatch(first, "doc_id", "b0", ups, targets)
    assert(both(bm, rid) === rebuilt(asRids(first, 0), rid))
    val revised = first.filter($"doc_id" % 4 === 1)
      .select($"doc_id", concat($"text", lit(" vector scan")).as("text"))
    val fresh = docs.filter($"doc_id" >= 300)
    CorpusUpsert.applyBatch(revised.unionByName(fresh), "doc_id", "b1", ups,
      targets)
    assert(both(bm, rid) === rebuilt(
      asRids(first.filter($"doc_id" % 4 =!= 1).unionByName(fresh), 0)
        .unionByName(asRids(revised, 1)), rid))
  }

  test("refusals: non-positional index, infeasible window") {
    val flat = tmp("flat")
    LexIndex.bm25WriteIndex(fixture, "doc_id", "text", flat, buckets = 4)
    val e1 = intercept[IllegalArgumentException](
      phrase(flat, "a", "b"))
    assert(e1.getMessage.contains("positional"))
    val e2 = intercept[IllegalArgumentException](
      prox(fixtureIdx, 1, "a", "b"))
    assert(e2.getMessage.contains("window"))
    // window must fit the MULTISET, not just the distinct terms
    val e3 = intercept[IllegalArgumentException](
      prox(repIdx, 2, "a", "a", "b"))
    assert(e3.getMessage.contains("window"))
  }
  test("rids (snapshot) mode: probes/ranks ≡ a fresh positional index " +
      "over exactly the snapshot corpus; purged ids refuse") {
    // big index = snapshot docs + extra revision rows under shifted ids
    val docs = Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id", $"text")
    val off = 1000000L
    val revised = docs.filter($"doc_id" % 5 === 2)
      .select(($"doc_id" + off).as("doc_id"),
        concat($"text", lit(" vector scan")).as("text"))
    val fullIdx = tmp("asof-full")
    LexIndex.bm25WriteIndex(docs.unionByName(revised), "doc_id", "text",
      fullIdx, buckets = 16, positional = true)
    val snapIds = docs.filter($"doc_id" % 5 =!= 2).select("doc_id")
      .unionByName(revised.select("doc_id"))
    val snapIdx = tmp("asof-snap")
    LexIndex.bm25WriteIndex(
      docs.filter($"doc_id" % 5 =!= 2).select("doc_id", "text")
        .unionByName(revised),
      "doc_id", "text", snapIdx, buckets = 16, positional = true)
    val ph = Seq("vector", "scan")
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    assert(rows(LexIndex.bm25PhraseProbe(spark, fullIdx, "doc_id", ph,
        rids = Some(snapIds))) ===
      rows(LexIndex.bm25PhraseProbe(spark, snapIdx, "doc_id", ph)))
    assert(rows(LexIndex.bm25PhraseRank(spark, fullIdx, "doc_id", ph,
        rids = Some(snapIds))) ===
      rows(LexIndex.bm25PhraseRank(spark, snapIdx, "doc_id", ph)))
    assert(rows(LexIndex.bm25ProximityProbe(spark, fullIdx, "doc_id",
        Seq("vector", "join"), window = 12, rids = Some(snapIds))) ===
      rows(LexIndex.bm25ProximityProbe(spark, snapIdx, "doc_id",
        Seq("vector", "join"), window = 12)))
    assert(rows(LexIndex.bm25ProximityRank(spark, fullIdx, "doc_id",
        Seq("vector", "join"), window = 12, rids = Some(snapIds))) ===
      rows(LexIndex.bm25ProximityRank(spark, snapIdx, "doc_id",
        Seq("vector", "join"), window = 12)))
    // snapshot mode sees THROUGH tombstones (superseded rows are
    // history): deleting a snapshot doc hides it from the live probe
    // but not from the rids probe
    val victim = LexIndex.bm25PhraseRank(spark, fullIdx, "doc_id", ph,
        rids = Some(snapIds))
      .select("doc_id").head().getLong(0)
    LexIndex.Layout.delete(Seq(victim).toDF("doc_id"), "doc_id", fullIdx)
    assert(!LexIndex.bm25PhraseProbe(spark, fullIdx, "doc_id", ph)
      .collect().map(_.getLong(0)).contains(victim))
    assert(LexIndex.bm25PhraseProbe(spark, fullIdx, "doc_id", ph,
        rids = Some(snapIds))
      .collect().map(_.getLong(0)).contains(victim))
    // an id with no doclen row (purged / never indexed) refuses loudly
    val bad = snapIds.unionByName(Seq(99999999L).toDF("doc_id"))
    val err = intercept[IllegalArgumentException](
      LexIndex.bm25PhraseProbe(spark, fullIdx, "doc_id", ph,
        rids = Some(bad)).collect())
    assert(err.getMessage.contains("purged"))
    // ...and the RANK paths, whose guard rides the snapshot lens/stats
    // plan (round 18 — no eager per-probe collect), refuse at the
    // consuming action even when no match row touches the purged id
    val errRank = intercept[Exception](
      LexIndex.bm25PhraseRank(spark, fullIdx, "doc_id", ph,
        rids = Some(bad)).collect())
    assert(errRank.getMessage.contains("purged"))
    val errProx = intercept[Exception](
      LexIndex.bm25ProximityRank(spark, fullIdx, "doc_id",
        Seq("vector", "join"), window = 12, rids = Some(bad)).collect())
    assert(errProx.getMessage.contains("purged"))
  }
}
