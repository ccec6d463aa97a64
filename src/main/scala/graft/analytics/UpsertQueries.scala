package graft.analytics

import graft.{NamedQuery, Tables}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 family: the coordinated corpus-upsert lifecycle
  * ([[graft.ops.CorpusUpsert]]) and the positional-postings probes
  * ([[graft.ops.LexIndex.bm25PhraseProbe]] /
  * [[graft.ops.LexIndex.bm25ProximityProbe]]).
  *
  * Oracle strategy: the upsert entry probes each index in a regime
  * where the approximate machinery is EXHAUSTIVE (every cluster
  * probed, shortlist ≥ corpus), so the readouts are pure arithmetic
  * over the post-upsert corpus and DuckDB replays them end to end —
  * the q193/q194 lifecycle-oracle pattern. The coordination protocol
  * itself (crash windows, redelivery, rev assignment) is pinned in
  * CorpusUpsertSpec; cluster routing and shortlist recall keep their
  * own suites (SimilaritySpec/PqSpec).
  */
object UpsertQueries {

  /** Frozen routing geometry for q230 — seeded k-means centroids + PQ
    * sub-codebooks are deterministic per corpus dir, so recompute vs
    * reuse is result-identical (the q133GateMemo convention); the
    * upsert LIFECYCLE itself re-runs on every invocation.
    */
  private val q230GeoMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Double]], Pq.PqModel)]()

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Run independent eager blocks (empty-index bootstraps) concurrently
    * — guide §2.6: each is a handful of tiny jobs whose wall is
    * scheduling, so overlapping them costs nothing and the lifecycle
    * queries stop paying them serially. [[graft.ops.WorkPool.runAll]]
    * joins EVERY unit before returning or rethrowing (no unwinding
    * while sibling index writes still run) on a bounded dedicated pool.
    */
  private def concurrently(units: (() => Unit)*): Unit =
    graft.ops.WorkPool.runAll(units)

  /** DuckDB replay of the REAL 9×9 frame-grid gradient signs over a
    * decoded GIF's pixels (q249): `garr` (the 81 box means, 1-based)
    * must be in scope; `j` is the 0-based bit index 0..255. The four
    * families are [[graft.ops.Phash.gridDiff256]]'s verbatim.
    */
  private def gifBit(j: String): String = {
    val base = s"(($j)%64)//8*9 + (($j)%64)%8"
    s"CASE WHEN (CASE WHEN ($j) < 64 THEN garr[$base + 2] - garr[$base + 1] " +
      s"WHEN ($j) < 128 THEN garr[$base + 10] - garr[$base + 1] " +
      s"WHEN ($j) < 192 THEN garr[$base + 11] - garr[$base + 1] " +
      s"ELSE garr[$base + 2] - garr[$base + 10] END) > 0 " +
      "THEN 1 ELSE 0 END"
  }
  private def gifWords: String = (0 until 8).map(k =>
    s"CAST(list_sum(list_transform(range(${32 * k}, ${32 * (k + 1)}), i ->\n" +
      s"          ${gifBit("i")} * (CAST(1 AS BIGINT) << (i - ${32 * k}))))\n" +
      s"          AS BIGINT) w$k").mkString(",\n        ")

  /** DuckDB replay of [[graft.ops.VideoHash.stubFrameDiffScalar]]'s
    * 256 sign bits packed into 8×32-bit words (the q228/q229 macro):
    * `idExpr`/`seed` are SQL expressions, `len` must be in scope.
    */
  private def mediaCell(idExpr: String, j: String, seed: String): String =
    s"(($idExpr*(2*($j)+3)*(($j)+5) + len*(($j)+1)*(($j)+7)" +
      s" + (($seed)+1)*(7*($j)+11)*(($j)+2)) % 1021)"
  private def mediaBit(idExpr: String, seed: String): String = {
    val base = "((i%64)//8)*9 + ((i%64)%8)"
    s"CASE WHEN (CASE WHEN i < 64 THEN ${mediaCell(idExpr, s"$base + 1", seed)} - ${mediaCell(idExpr, base, seed)}" +
      s" WHEN i < 128 THEN ${mediaCell(idExpr, s"$base + 9", seed)} - ${mediaCell(idExpr, base, seed)}" +
      s" WHEN i < 192 THEN ${mediaCell(idExpr, s"$base + 10", seed)} - ${mediaCell(idExpr, base, seed)}" +
      s" ELSE ${mediaCell(idExpr, s"$base + 1", seed)} - ${mediaCell(idExpr, s"$base + 9", seed)} END) > 0 " +
      "THEN 1 ELSE 0 END"
  }
  private def mediaWords(idExpr: String, seed: String): String =
    (0 until 8).map(k =>
      s"CAST(list_sum(list_transform(range(${32 * k}, ${32 * (k + 1)}), i ->\n" +
        s"          ${mediaBit(idExpr, seed)} * (CAST(1 AS BIGINT) << (i - ${32 * k}))))\n" +
        s"          AS BIGINT) w$k").mkString(",\n        ")

  private def clearRoot(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }

  private def stageRoot(tag: String, dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_stage",
      s"${tag}_${Integer.toHexString(dir.hashCode)}")

  val all: Seq[NamedQuery] = Seq(

    // The full coordinated corpus lifecycle over all FOUR persisted
    // index layouts at once: bootstrap empty geometry → base corpus as
    // the first upsert batch → a revision batch (doc%6=2 gets new text
    // + negated embedding; the superseded rid is tombstoned in every
    // index) → a cross-index takedown (doc%10=2's CURRENT revision) →
    // one probe per layout. Exhaustive-probe regime (nProbe = all
    // clusters, PQ shortlist ≥ corpus) makes every readout pure
    // arithmetic over the post-upsert ACTIVE corpus, so the whole
    // thing is END-TO-END ORACLE: DuckDB rebuilds the revised corpus
    // and replays BM25 (q194's formula), exact cosine top-k (q25's),
    // and the sign-bit Hamming pair relation (q193's) against it.
    NamedQuery(
      "q230_corpus_upsert",
      Some("""WITH base AS (
             |  SELECT d.doc_id,
             |    CASE WHEN d.doc_id % 6 = 2 THEN d.text || ' graftrev'
             |         ELSE d.text END AS text,
             |    CASE WHEN d.doc_id % 6 = 2
             |         THEN list_transform(e.embedding, x -> -x)
             |         ELSE e.embedding END AS emb,
             |    CASE WHEN d.doc_id % 6 = 2 THEN 1 ELSE 0 END AS rev
             |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
             |active AS (SELECT * FROM base WHERE doc_id % 10 <> 2),
             |tok AS (SELECT doc_id, rev, string_split(text, ' ') tok FROM active),
             |l AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM tok),
             |st AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl FROM l),
             |ex AS (SELECT doc_id, rev, unnest(tok) w FROM tok),
             |tf AS (SELECT doc_id, rev, w, CAST(count(*) AS DOUBLE) tf FROM ex
             |       WHERE w IN ('vector', 'join', 'scan') GROUP BY doc_id, rev, w),
             |dfq AS (SELECT w, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY w),
             |bm AS (SELECT 'bm25' AS kind, CAST(-1 AS BIGINT) AS qid, tf.doc_id,
             |         CAST(tf.rev AS BIGINT) AS rev,
             |         ROUND(SUM(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
             |           * tf.tf * 2.2
             |           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))), 6) AS score
             |       FROM tf JOIN dfq USING (w) JOIN l USING (doc_id) CROSS JOIN st
             |       GROUP BY tf.doc_id, tf.rev),
             |av AS (SELECT doc_id, rev,
             |         list_transform(emb, x -> CAST(x AS DOUBLE)) v
             |       FROM active),
             |avn AS (SELECT * FROM av WHERE list_dot_product(v, v) > 0),
             |q AS (SELECT list_transform(emb, x -> CAST(x AS DOUBLE)) qv
             |      FROM base WHERE doc_id = 0),
             |co AS (SELECT doc_id, rev,
             |         ROUND(list_dot_product(v, qv)
             |           / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine
             |       FROM avn, q),
             |topk AS (SELECT doc_id, rev, cosine FROM co
             |         ORDER BY cosine DESC, doc_id LIMIT 20),
             |iv AS (SELECT 'ivf' AS kind, CAST(-1 AS BIGINT) AS qid, doc_id,
             |         CAST(rev AS BIGINT) AS rev, cosine AS score FROM topk),
             |pq AS (SELECT 'pq' AS kind, CAST(-1 AS BIGINT) AS qid, doc_id,
             |         CAST(rev AS BIGINT) AS rev, cosine AS score FROM topk),
             |hmraw AS (SELECT q.doc_id AS qid, n.doc_id, n.rev,
             |            CAST(list_sum(list_transform(range(64),
             |              i -> CASE WHEN (q.emb[i+1] > 0) = (n.emb[i+1] > 0)
             |                   THEN 0 ELSE 1 END)) AS BIGINT) AS h
             |          FROM base q, active n),
             |hm AS (SELECT 'ham' AS kind, qid, doc_id, CAST(rev AS BIGINT) AS rev,
             |         CAST(h AS DOUBLE) AS score FROM hmraw WHERE h <= 15)
             |SELECT kind, qid, doc_id, rev, score FROM (
             |  SELECT * FROM bm UNION ALL SELECT * FROM iv
             |  UNION ALL SELECT * FROM pq UNION ALL SELECT * FROM hm)
             |ORDER BY kind, qid, doc_id""".stripMargin),
      (s, dir) => {
        val root = stageRoot("upsert", dir)
        clearRoot(root)
        val rid = CorpusUpsert.RidCol
        val corpus0 = docs(s, dir).select(col("doc_id"), col("text"))
          .join(embs(s, dir).select(col("vec_id").as("doc_id"),
            col("embedding")), Seq("doc_id"))
        val revised = corpus0.filter(col("doc_id") % 6 === 2)
          .select(col("doc_id"),
            concat(col("text"), lit(" graftrev")).as("text"),
            transform(col("embedding"), x => -x).as("embedding"))
        val (cents, model) = q230GeoMemo.computeIfAbsent(dir, _ =>
          (VectorOps.kmeansCentroids(corpus0, "embedding", 16),
            Pq.pqTrain(corpus0, "embedding", m = 8, codebook = 16)))
        val (upsRoot, bm25P, ivfP, pqP, hamP) =
          (s"$root/ups", s"$root/bm25", s"$root/ivf", s"$root/pq",
            s"$root/ham")
        // bootstrap the two meta-carrying layouts empty (the documented
        // stream pattern); the cluster layouts materialize on first
        // publish. The two bootstraps are independent empty writes —
        // run them concurrently.
        concurrently(
          () => LexIndex.bm25WriteIndex(
            corpus0.select(col("doc_id").as(rid), col("text")).limit(0),
            rid, "text", bm25P, buckets = 32),
          () => HammingIndex.hammingWriteIndex(
            corpus0.select(col("doc_id").as(rid), col("embedding"))
              .limit(0),
            rid, "embedding", hamP, nBands = 8, nBuckets = 8, dim = 64))
        val targets = Seq(
          CorpusUpsert.Bm25Target(bm25P, "text"),
          CorpusUpsert.IvfTarget(ivfP, "embedding", cents),
          CorpusUpsert.PqIvfTarget(pqP, "embedding", model, cents),
          CorpusUpsert.HammingTarget(hamP, "embedding"))
        CorpusUpsert.applyBatch(corpus0, "doc_id", "base", upsRoot, targets)
        CorpusUpsert.applyBatch(revised, "doc_id", "rev1", upsRoot, targets)
        CorpusUpsert.deleteDocs(
          corpus0.filter(col("doc_id") % 10 === 2).select("doc_id"),
          "doc_id", upsRoot, targets)
        val query = embs(s, dir).filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).map(_.toDouble)
        def decoded(df: DataFrame, kind: String, qid: org.apache.spark.sql.Column,
            score: org.apache.spark.sql.Column): DataFrame =
          df.select(lit(kind).as("kind"), qid.cast("long").as("qid"),
            CorpusUpsert.docOf(col(rid)).as("doc_id"),
            CorpusUpsert.revOf(col(rid)).as("rev"),
            score.cast("double").as("score"))
        val bm = decoded(LexIndex.bm25ProbeIndex(s, bm25P, rid,
          Seq("vector", "join", "scan")), "bm25", lit(-1L), col("bm25"))
        val iv = decoded(VectorOps.ivfProbeIndex(s, ivfP, cents, rid,
          query, 20, nProbe = cents.length), "ivf", lit(-1L), col("cosine"))
        val pqr = decoded(Pq.pqIvfProbe(s, pqP, model, cents, rid, query,
          20, nProbe = cents.length, overFetch = 200), "pq", lit(-1L),
          col("cosine"))
        val finalQ = corpus0.filter(col("doc_id") % 6 =!= 2)
          .unionByName(revised)
          .select(col("doc_id").as(rid), col("embedding"))
        val hm = CorpusUpsert.withDocRev(
          HammingIndex.hammingProbeIndex(s, finalQ, rid, "embedding",
            hamP, radius = 15, pruneListing = false)
            .withColumnRenamed("n_id", rid), rid)
          .select(lit("ham").as("kind"), col("q_id").cast("long").as("qid"),
            col("doc_id"), col("rev"), col("hamming").cast("double").as("score"))
        bm.unionByName(iv).unionByName(pqr).unionByName(hm)
          .orderBy("kind", "qid", "doc_id")
      }),

    // Exact phrase search over POSITIONAL BM25 postings — the n-gram
    // gap single-term BM25 leaves open. Index carries sorted 0-based
    // position arrays per posting; the probe prunes to the phrase
    // terms' tb= buckets, cuts to docs containing ALL terms in one
    // hash agg, and verifies adjacency with one higher-order
    // expression (anchor positions of the first term, array_contains
    // at p+j for the rest). Tombstoned docs (the delete lifecycle the
    // positions ride through untouched) stay excluded. REPEATED terms
    // are first-class ("table table key" repeats at head, "a a" is an
    // all-same run) — the anchored verify is multiplicity-safe and
    // anchors on every occurrence of the head term. Oracle replays
    // tokenization + anchored adjacency with DuckDB list lambdas.
    NamedQuery(
      "q231_bm25_phrase",
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') tok
             |           FROM documents WHERE doc_id % 7 <> 3),
             |p2 AS (SELECT 'vector scan' AS phrase, doc_id,
             |         len(list_filter(range(len(tok) - 1),
             |           i -> tok[i+1] = 'vector' AND tok[i+2] = 'scan')) AS ptf
             |       FROM t),
             |p3 AS (SELECT 'the table key' AS phrase, doc_id,
             |         len(list_filter(range(len(tok) - 2),
             |           i -> tok[i+1] = 'the' AND tok[i+2] = 'table'
             |                AND tok[i+3] = 'key')) AS ptf
             |       FROM t),
             |p4 AS (SELECT 'table table key' AS phrase, doc_id,
             |         len(list_filter(range(len(tok) - 2),
             |           i -> tok[i+1] = 'table' AND tok[i+2] = 'table'
             |                AND tok[i+3] = 'key')) AS ptf
             |       FROM t),
             |p5 AS (SELECT 'a a' AS phrase, doc_id,
             |         len(list_filter(range(len(tok) - 1),
             |           i -> tok[i+1] = 'a' AND tok[i+2] = 'a')) AS ptf
             |       FROM t)
             |SELECT phrase, doc_id, CAST(ptf AS BIGINT) AS phrase_tf
             |FROM (SELECT * FROM p2 UNION ALL SELECT * FROM p3
             |      UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5)
             |WHERE ptf > 0 ORDER BY phrase, doc_id""".stripMargin),
      (s, dir) => {
        val root = stageRoot("phrase", dir)
        clearRoot(root)
        val d = docs(s, dir)
        LexIndex.bm25WriteIndex(d, "doc_id", "text", root.toString,
          buckets = 32, positional = true)
        LexIndex.Layout.delete(d.filter(col("doc_id") % 7 === 3),
          "doc_id", root.toString)
        def probe(phrase: Seq[String]): DataFrame =
          LexIndex.bm25PhraseProbe(s, root.toString, "doc_id", phrase)
            .select(lit(phrase.mkString(" ")).as("phrase"), col("doc_id"),
              col("phrase_tf"))
        probe(Seq("vector", "scan"))
          .unionByName(probe(Seq("the", "table", "key")))
          .unionByName(probe(Seq("table", "table", "key")))
          .unionByName(probe(Seq("a", "a")))
          .orderBy("phrase", "doc_id")
      }),

    // Proximity search over the same positional layout, with the EXACT
    // minimal span (for each anchor occurrence p, the tightest window
    // starting at p ends at max over terms of first-occurrence >= p;
    // the optimum is attained at the window's leftmost occupant).
    // Two probes: distinct terms within a 5-token window, and a
    // MULTISET probe (two 'table' + one 'key' within 6 tokens) — a
    // term listed k times needs its k-th occurrence >= p, replayed in
    // DuckDB as the k-th element of the filtered position list (the
    // len(pa) >= 2 cut is equivalent to the engine's contains-all cut
    // because a one-occurrence doc's span coalesces past any window).
    NamedQuery(
      "q232_bm25_proximity",
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') tok
             |           FROM documents WHERE doc_id % 7 <> 3),
             |p AS (SELECT doc_id,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'vector') pa,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'window') pb
             |      FROM t),
             |c AS (SELECT doc_id, pa, pb, list_sort(list_concat(pa, pb)) anc
             |      FROM p WHERE len(pa) > 0 AND len(pb) > 0),
             |s AS (SELECT doc_id,
             |        list_min(list_transform(anc, a ->
             |          greatest(
             |            coalesce(list_min(list_filter(pa, q -> q >= a)), 2147483647),
             |            coalesce(list_min(list_filter(pb, q -> q >= a)), 2147483647))
             |          - a)) + 1 AS span
             |      FROM c),
             |p2 AS (SELECT doc_id,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'table') pa,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'key') pb
             |      FROM t),
             |c2 AS (SELECT doc_id, pa, pb, list_sort(list_concat(pa, pb)) anc
             |      FROM p2 WHERE len(pa) >= 2 AND len(pb) >= 1),
             |s2 AS (SELECT doc_id,
             |        list_min(list_transform(anc, a ->
             |          greatest(
             |            coalesce(list_filter(pa, q -> q >= a)[2], 2147483647),
             |            coalesce(list_filter(pb, q -> q >= a)[1], 2147483647))
             |          - a)) + 1 AS span
             |      FROM c2)
             |SELECT probe, doc_id, CAST(span AS BIGINT) AS span FROM (
             |  SELECT 'vector window' AS probe, doc_id, span FROM s
             |  WHERE span <= 5
             |  UNION ALL
             |  SELECT 'table table key' AS probe, doc_id, span FROM s2
             |  WHERE span <= 6)
             |ORDER BY probe, doc_id""".stripMargin),
      (s, dir) => {
        val root = stageRoot("prox", dir)
        clearRoot(root)
        val d = docs(s, dir)
        LexIndex.bm25WriteIndex(d, "doc_id", "text", root.toString,
          buckets = 32, positional = true)
        LexIndex.Layout.delete(d.filter(col("doc_id") % 7 === 3),
          "doc_id", root.toString)
        def probe(terms: Seq[String], w: Int): DataFrame =
          LexIndex.bm25ProximityProbe(s, root.toString, "doc_id", terms, w)
            .select(lit(terms.mkString(" ")).as("probe"), col("doc_id"),
              col("span"))
        probe(Seq("vector", "window"), 5)
          .unionByName(probe(Seq("table", "table", "key"), 6))
          .orderBy("probe", "doc_id")
      }),

    // Phrase-RANKED retrieval: the q231 exact-phrase matches scored
    // with the Okapi formula treating the phrase as one term (tf =
    // occurrence count, df = matching-doc count) over the index's
    // live tombstone-exact N/avgdl — the retrieval composition a
    // phrase search feeds. END-TO-END ORACLE: DuckDB replays
    // tokenisation, anchored adjacency, df/N/avgdl and the score.
    NamedQuery(
      "q234_bm25_phrase_rank",
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') tok
             |           FROM documents WHERE doc_id % 7 <> 3),
             |l AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM t),
             |st AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl FROM l),
             |p AS (SELECT doc_id, CAST(len(list_filter(range(len(tok) - 1),
             |        i -> tok[i+1] = 'vector' AND tok[i+2] = 'scan'))
             |        AS DOUBLE) ptf FROM t),
             |m AS (SELECT * FROM p WHERE ptf > 0),
             |dfp AS (SELECT CAST(count(*) AS DOUBLE) df_p FROM m)
             |SELECT m.doc_id, CAST(m.ptf AS BIGINT) AS phrase_tf,
             |  ROUND(ln((st.n_docs - dfp.df_p + 0.5) / (dfp.df_p + 0.5) + 1.0)
             |    * m.ptf * 2.2
             |    / (m.ptf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl)), 6) AS bm25
             |FROM m JOIN l USING (doc_id) CROSS JOIN st CROSS JOIN dfp
             |ORDER BY bm25 DESC, doc_id""".stripMargin),
      (s, dir) => {
        val root = stageRoot("phrank", dir)
        clearRoot(root)
        val d = docs(s, dir)
        LexIndex.bm25WriteIndex(d, "doc_id", "text", root.toString,
          buckets = 32, positional = true)
        LexIndex.Layout.delete(d.filter(col("doc_id") % 7 === 3),
          "doc_id", root.toString)
        LexIndex.bm25PhraseRank(s, root.toString, "doc_id",
            Seq("vector", "scan"))
          .orderBy(col("bm25").desc, col("doc_id"))
      }),

    // PROXIMITY-RANKED retrieval — the q234 Okapi treatment for
    // proximity matches, completing the positional family: the match
    // set scores as one pseudo-term whose frequency decays with the
    // span (tf = |terms|/span, 1.0 at tightest packing), df = the
    // matching-doc count, over the live tombstone-exact N/avgdl.
    // END-TO-END ORACLE: DuckDB replays the exact anchor scan, then
    // the identical score arithmetic.
    NamedQuery(
      "q235_bm25_prox_rank",
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') tok
             |           FROM documents WHERE doc_id % 7 <> 3),
             |l AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM t),
             |st AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl FROM l),
             |p AS (SELECT doc_id,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'vector') pa,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'window') pb
             |      FROM t),
             |c AS (SELECT doc_id, pa, pb, list_sort(list_concat(pa, pb)) anc
             |      FROM p WHERE len(pa) > 0 AND len(pb) > 0),
             |s AS (SELECT doc_id,
             |        list_min(list_transform(anc, a ->
             |          greatest(
             |            coalesce(list_min(list_filter(pa, q -> q >= a)), 2147483647),
             |            coalesce(list_min(list_filter(pb, q -> q >= a)), 2147483647))
             |          - a)) + 1 AS span
             |      FROM c),
             |m AS (SELECT doc_id, span FROM s WHERE span <= 5),
             |dfp AS (SELECT CAST(count(*) AS DOUBLE) df_p FROM m)
             |SELECT m.doc_id, CAST(m.span AS BIGINT) AS span,
             |  ROUND(ln((st.n_docs - dfp.df_p + 0.5) / (dfp.df_p + 0.5) + 1.0)
             |    * (2.0 / m.span) * 2.2
             |    / ((2.0 / m.span) + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl)), 6) AS bm25
             |FROM m JOIN l USING (doc_id) CROSS JOIN st CROSS JOIN dfp
             |ORDER BY bm25 DESC, doc_id""".stripMargin),
      (s, dir) => {
        val root = stageRoot("proxrank", dir)
        clearRoot(root)
        val d = docs(s, dir)
        LexIndex.bm25WriteIndex(d, "doc_id", "text", root.toString,
          buckets = 32, positional = true)
        LexIndex.Layout.delete(d.filter(col("doc_id") % 7 === 3),
          "doc_id", root.toString)
        LexIndex.bm25ProximityRank(s, root.toString, "doc_id",
            Seq("vector", "window"), window = 5)
          .orderBy(col("bm25").desc, col("doc_id"))
      }),

    // BATCH phrase retrieval: top-10 docs for EVERY phrase in a query
    // relation in ONE postings pass — the q111 treatment for phrases
    // (q231 is the single-phrase probe). Postings prune to the union
    // of all phrases' terms' buckets at file listing, meet the
    // exploded (qid, term) relation keyed by term (inverted-index
    // cost), and the per-(qid, doc) candidate map feeds the same
    // anchored verify, now generic over the phrase array column.
    // Repeated-term phrases and a single-term degenerate ride along.
    // Oracle replays per-phrase adjacency, df/N/avgdl, the Okapi
    // score, and the rank tie order.
    NamedQuery(
      "q236_bm25_phrase_join",
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') tok
             |           FROM documents WHERE doc_id % 7 <> 3),
             |l AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM t),
             |st AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl FROM l),
             |am AS (
             |  SELECT 1 AS qid, doc_id, CAST(len(list_filter(range(len(tok) - 1),
             |    i -> tok[i+1] = 'vector' AND tok[i+2] = 'scan')) AS DOUBLE) ptf FROM t
             |  UNION ALL
             |  SELECT 2, doc_id, CAST(len(list_filter(range(len(tok) - 2),
             |    i -> tok[i+1] = 'table' AND tok[i+2] = 'table'
             |         AND tok[i+3] = 'key')) AS DOUBLE) FROM t
             |  UNION ALL
             |  SELECT 3, doc_id, CAST(len(list_filter(range(len(tok) - 1),
             |    i -> tok[i+1] = 'a' AND tok[i+2] = 'a')) AS DOUBLE) FROM t
             |  UNION ALL
             |  SELECT 4, doc_id, CAST(len(list_filter(range(len(tok) - 2),
             |    i -> tok[i+1] = 'the' AND tok[i+2] = 'table'
             |         AND tok[i+3] = 'key')) AS DOUBLE) FROM t
             |  UNION ALL
             |  SELECT 5, doc_id, CAST(len(list_filter(range(len(tok)),
             |    i -> tok[i+1] = 'spark')) AS DOUBLE) FROM t),
             |m AS (SELECT * FROM am WHERE ptf > 0),
             |dfp AS (SELECT qid, CAST(count(*) AS DOUBLE) df_p FROM m GROUP BY qid),
             |sc AS (SELECT m.qid, m.doc_id, CAST(m.ptf AS BIGINT) phrase_tf,
             |  ROUND(ln((st.n_docs - dfp.df_p + 0.5) / (dfp.df_p + 0.5) + 1.0)
             |    * m.ptf * 2.2
             |    / (m.ptf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl)), 6) bm25
             |  FROM m JOIN l USING (doc_id) JOIN dfp USING (qid) CROSS JOIN st),
             |r AS (SELECT qid, doc_id, phrase_tf, bm25,
             |        row_number() OVER (PARTITION BY qid
             |          ORDER BY bm25 DESC, doc_id) AS "rank"
             |      FROM sc)
             |SELECT qid, doc_id, phrase_tf, bm25, CAST("rank" AS BIGINT) AS "rank"
             |FROM r WHERE "rank" <= 10 ORDER BY qid, "rank"""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val root = stageRoot("phjoin", dir)
        clearRoot(root)
        val d = docs(s, dir)
        LexIndex.bm25WriteIndex(d, "doc_id", "text", root.toString,
          buckets = 32, positional = true)
        LexIndex.Layout.delete(d.filter(col("doc_id") % 7 === 3),
          "doc_id", root.toString)
        val qs = Seq(
          (1, Seq("vector", "scan")),
          (2, Seq("table", "table", "key")),
          (3, Seq("a", "a")),
          (4, Seq("the", "table", "key")),
          (5, Seq("spark")))
          .toDF("qid", "phrase")
        LexIndex.bm25PhraseJoin(qs, root.toString, "doc_id", "qid",
            "phrase", k = 10)
          .orderBy("qid", "rank")
      }),

    // BATCH proximity retrieval — q236's one-pass shape for proximity
    // multisets (q232 is the single probe, q235 the single-probe
    // ranker): four term multisets (one with a repeated term) scored
    // within a shared 6-token window in one pruned postings pass, the
    // span expression generic over the per-row terms array (per-term
    // multiplicity from size(filter(terms, = t)), k-th occurrence via
    // null-safe get), per-qid top-10 via WindowGroupLimit. Oracle
    // replays spans, df/N/avgdl, the inverse-span Okapi score, and the
    // rank tie order per qid.
    NamedQuery(
      "q238_bm25_prox_join",
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') tok
             |           FROM documents WHERE doc_id % 7 <> 3),
             |l AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM t),
             |st AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl FROM l),
             |p1 AS (SELECT doc_id,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'vector') pa,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'window') pb
             |      FROM t),
             |s1 AS (SELECT 1 AS qid, 2 AS n_terms, doc_id,
             |        list_min(list_transform(list_sort(list_concat(pa, pb)), a ->
             |          greatest(
             |            coalesce(list_filter(pa, q -> q >= a)[1], 2147483647),
             |            coalesce(list_filter(pb, q -> q >= a)[1], 2147483647))
             |          - a)) + 1 AS span
             |      FROM p1 WHERE len(pa) >= 1 AND len(pb) >= 1),
             |p2 AS (SELECT doc_id,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'table') pa,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'key') pb
             |      FROM t),
             |s2 AS (SELECT 2 AS qid, 3 AS n_terms, doc_id,
             |        list_min(list_transform(list_sort(list_concat(pa, pb)), a ->
             |          greatest(
             |            coalesce(list_filter(pa, q -> q >= a)[2], 2147483647),
             |            coalesce(list_filter(pb, q -> q >= a)[1], 2147483647))
             |          - a)) + 1 AS span
             |      FROM p2 WHERE len(pa) >= 2 AND len(pb) >= 1),
             |p3 AS (SELECT doc_id,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'scan') pa,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'filter') pb
             |      FROM t),
             |s3 AS (SELECT 3 AS qid, 2 AS n_terms, doc_id,
             |        list_min(list_transform(list_sort(list_concat(pa, pb)), a ->
             |          greatest(
             |            coalesce(list_filter(pa, q -> q >= a)[1], 2147483647),
             |            coalesce(list_filter(pb, q -> q >= a)[1], 2147483647))
             |          - a)) + 1 AS span
             |      FROM p3 WHERE len(pa) >= 1 AND len(pb) >= 1),
             |p4 AS (SELECT doc_id,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'the') pa,
             |        list_filter(range(len(tok)), i -> tok[i+1] = 'a') pb
             |      FROM t),
             |s4 AS (SELECT 4 AS qid, 2 AS n_terms, doc_id,
             |        list_min(list_transform(list_sort(list_concat(pa, pb)), a ->
             |          greatest(
             |            coalesce(list_filter(pa, q -> q >= a)[1], 2147483647),
             |            coalesce(list_filter(pb, q -> q >= a)[1], 2147483647))
             |          - a)) + 1 AS span
             |      FROM p4 WHERE len(pa) >= 1 AND len(pb) >= 1),
             |m AS (SELECT * FROM (
             |        SELECT * FROM s1 UNION ALL SELECT * FROM s2
             |        UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
             |      WHERE span <= 6),
             |dfp AS (SELECT qid, CAST(count(*) AS DOUBLE) df_p FROM m GROUP BY qid),
             |sc AS (SELECT m.qid, m.doc_id, CAST(m.span AS BIGINT) span,
             |  ROUND(ln((st.n_docs - dfp.df_p + 0.5) / (dfp.df_p + 0.5) + 1.0)
             |    * (CAST(m.n_terms AS DOUBLE) / CAST(m.span AS DOUBLE)) * 2.2
             |    / ((CAST(m.n_terms AS DOUBLE) / CAST(m.span AS DOUBLE))
             |       + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl)), 6) bm25
             |  FROM m JOIN l USING (doc_id) JOIN dfp USING (qid) CROSS JOIN st),
             |r AS (SELECT qid, doc_id, span, bm25,
             |        row_number() OVER (PARTITION BY qid
             |          ORDER BY bm25 DESC, doc_id) AS "rank"
             |      FROM sc)
             |SELECT qid, doc_id, span, bm25, CAST("rank" AS BIGINT) AS "rank"
             |FROM r WHERE "rank" <= 10 ORDER BY qid, "rank"""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val root = stageRoot("proxjoin", dir)
        clearRoot(root)
        val d = docs(s, dir)
        LexIndex.bm25WriteIndex(d, "doc_id", "text", root.toString,
          buckets = 32, positional = true)
        LexIndex.Layout.delete(d.filter(col("doc_id") % 7 === 3),
          "doc_id", root.toString)
        val qs = Seq(
          (1, Seq("vector", "window")),
          (2, Seq("table", "table", "key")),
          (3, Seq("scan", "filter")),
          (4, Seq("the", "a")))
          .toDF("qid", "terms")
        LexIndex.bm25ProximityJoin(qs, root.toString, "doc_id", "qid",
            "terms", window = 6, k = 10)
          .orderBy("qid", "rank")
      }),

    // MEDIA in the coordinated upsert: a media-bearing document
    // revision propagates through text + vector + MEDIA indexes in ONE
    // batch — the third target is a HammingIndex over the 256-bit stub
    // frame fingerprint (q228's deterministic codes; the media column
    // is just another vector column to the coordination protocol).
    // Lifecycle: base batch (fingerprint seed 2) → revision batch
    // (doc%6=2: new text, negated embedding, RE-FINGERPRINTED media,
    // seed 3) → cross-index takedown (doc%10=2) → one probe per
    // layout. END-TO-END ORACLE (the q230 regime): DuckDB rebuilds the
    // revised corpus, replays BM25, the sign-bit embedding pairs, and
    // the packed-word media pair relation (probe subset doc%50=0,
    // radius 6 — matchers at hamming 0 are the docs whose fingerprint
    // seed survived their own revision class).
    {
      val mw = mediaWords("doc_id", "sd")
      NamedQuery(
        "q237_media_upsert",
        Some(s"""WITH base AS (
               |  SELECT d.doc_id,
               |    CASE WHEN d.doc_id % 6 = 2 THEN d.text || ' r1m'
               |         ELSE d.text END AS text,
               |    CASE WHEN d.doc_id % 6 = 2
               |         THEN list_transform(e.embedding, x -> -x)
               |         ELSE e.embedding END AS emb,
               |    CASE WHEN d.doc_id % 6 = 2 THEN 1 ELSE 0 END AS rev,
               |    CASE WHEN d.doc_id % 6 = 2 THEN 3 ELSE 2 END AS sd
               |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
               |act AS (SELECT *, CAST(length(text) AS BIGINT) len FROM base
               |        WHERE doc_id % 10 <> 2),
               |tok AS (SELECT doc_id, rev, string_split(text, ' ') tok FROM act),
               |l AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM tok),
               |st AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl FROM l),
               |ex AS (SELECT doc_id, rev, unnest(tok) w FROM tok),
               |tf AS (SELECT doc_id, rev, w, CAST(count(*) AS DOUBLE) tf FROM ex
               |       WHERE w IN ('vector', 'join', 'scan') GROUP BY doc_id, rev, w),
               |dfq AS (SELECT w, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY w),
               |bm AS (SELECT 'bm25' AS kind, CAST(-1 AS BIGINT) AS qid, tf.doc_id,
               |         CAST(tf.rev AS BIGINT) AS rev,
               |         ROUND(SUM(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
               |           * tf.tf * 2.2
               |           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))), 6) AS score
               |       FROM tf JOIN dfq USING (w) JOIN l USING (doc_id) CROSS JOIN st
               |       GROUP BY tf.doc_id, tf.rev),
               |hmraw AS (SELECT q.doc_id AS qid, n.doc_id, n.rev,
               |            CAST(list_sum(list_transform(range(64),
               |              i -> CASE WHEN (q.emb[i+1] > 0) = (n.emb[i+1] > 0)
               |                   THEN 0 ELSE 1 END)) AS BIGINT) AS h
               |          FROM act q, act n),
               |hm AS (SELECT 'ham' AS kind, qid, doc_id, CAST(rev AS BIGINT) AS rev,
               |         CAST(h AS DOUBLE) AS score FROM hmraw WHERE h <= 15),
               |mwords AS (SELECT doc_id, rev,
               |        $mw
               |      FROM act),
               |mprobe AS (SELECT * FROM mwords WHERE doc_id % 50 = 0),
               |mpairs AS (SELECT p.doc_id AS qid, c.doc_id, c.rev,
               |             CAST(bit_count(xor(p.w0, c.w0)) AS BIGINT)
               |             + bit_count(xor(p.w1, c.w1)) + bit_count(xor(p.w2, c.w2))
               |             + bit_count(xor(p.w3, c.w3)) + bit_count(xor(p.w4, c.w4))
               |             + bit_count(xor(p.w5, c.w5)) + bit_count(xor(p.w6, c.w6))
               |             + bit_count(xor(p.w7, c.w7)) AS h
               |           FROM mprobe p, mwords c),
               |mm AS (SELECT 'media' AS kind, qid, doc_id, CAST(rev AS BIGINT) AS rev,
               |         CAST(h AS DOUBLE) AS score FROM mpairs WHERE h <= 6)
               |SELECT kind, qid, doc_id, rev, score FROM (
               |  SELECT * FROM bm UNION ALL SELECT * FROM hm
               |  UNION ALL SELECT * FROM mm)
               |ORDER BY kind, qid, doc_id""".stripMargin),
        (s, dir) => {
          import s.implicits._
          val root = stageRoot("mediaups", dir)
          clearRoot(root)
          val rid = CorpusUpsert.RidCol
          val base = docs(s, dir).select(col("doc_id"), col("text"))
            .join(embs(s, dir).select(col("vec_id").as("doc_id"),
              col("embedding")), Seq("doc_id"))
          // the scalar kernel as a UDF COLUMN, not a typed map joined
          // back: the former self-join shuffled the corpus a second
          // time just to attach a value derivable per row (round-17
          // opt; same values, VideoHashSpec pins scalar ≡ Column)
          def withMedia(df: DataFrame, slot: Long): DataFrame = {
            val grid = udf((id: Long, len: Long) =>
              VideoHash.stubFrameDiffScalar(id, len, slot))
            // a null text would silently null the primitive-input UDF
            // (and flow a null row into the media index) — refuse loudly
            // instead; the fixture contract is non-null text
            df.withColumn("media",
              grid(col("doc_id"), coalesce(
                length(col("text")).cast("long"),
                raise_error(concat(lit("withMedia: null text for doc "),
                  col("doc_id").cast("string"))).cast("long"))))
          }
          val corpus0 = withMedia(base, 2L)
          val revised = withMedia(
            base.filter(col("doc_id") % 6 === 2)
              .select(col("doc_id"),
                concat(col("text"), lit(" r1m")).as("text"),
                transform(col("embedding"), x => -x).as("embedding")),
            3L)
          val (upsRoot, bm25P, hamP, medP) =
            (s"$root/ups", s"$root/bm25", s"$root/ham", s"$root/med")
          concurrently( // three independent empty bootstraps
            () => LexIndex.bm25WriteIndex(
              corpus0.select(col("doc_id").as(rid), col("text")).limit(0),
              rid, "text", bm25P, buckets = 32),
            () => HammingIndex.hammingWriteIndex(
              corpus0.select(col("doc_id").as(rid), col("embedding"))
                .limit(0),
              rid, "embedding", hamP, nBands = 8, nBuckets = 8, dim = 64),
            () => HammingIndex.hammingWriteIndex(
              corpus0.select(col("doc_id").as(rid), col("media")).limit(0),
              rid, "media", medP, nBands = 8, nBuckets = 8, dim = 256))
          val targets = Seq(
            CorpusUpsert.Bm25Target(bm25P, "text"),
            CorpusUpsert.HammingTarget(hamP, "embedding"),
            CorpusUpsert.HammingTarget(medP, "media", name = "media"))
          CorpusUpsert.applyBatch(corpus0, "doc_id", "base", upsRoot,
            targets)
          CorpusUpsert.applyBatch(revised, "doc_id", "rev1", upsRoot,
            targets)
          CorpusUpsert.deleteDocs(
            base.filter(col("doc_id") % 10 === 2).select("doc_id"),
            "doc_id", upsRoot, targets)
          val active = corpus0.filter(col("doc_id") % 6 =!= 2)
            .unionByName(revised)
            .filter(col("doc_id") % 10 =!= 2)
          val bm = CorpusUpsert.withDocRev(
            LexIndex.bm25ProbeIndex(s, bm25P, rid,
              Seq("vector", "join", "scan")), rid)
            .select(lit("bm25").as("kind"), lit(-1L).as("qid"),
              col("doc_id"), col("rev"),
              col("bm25").cast("double").as("score"))
          val hm = CorpusUpsert.withDocRev(
            HammingIndex.hammingProbeIndex(s,
              active.select(col("doc_id").as(rid), col("embedding")),
              rid, "embedding", hamP, radius = 15, pruneListing = false)
              .withColumnRenamed("n_id", rid), rid)
            .select(lit("ham").as("kind"),
              col("q_id").cast("long").as("qid"),
              col("doc_id"), col("rev"),
              col("hamming").cast("double").as("score"))
          val mm = CorpusUpsert.withDocRev(
            HammingIndex.hammingProbeIndex(s,
              active.filter(col("doc_id") % 50 === 0)
                .select(col("doc_id").as(rid), col("media")),
              rid, "media", medP, radius = 6)
              .withColumnRenamed("n_id", rid), rid)
            .select(lit("media").as("kind"),
              col("q_id").cast("long").as("qid"),
              col("doc_id"), col("rev"),
              col("hamming").cast("double").as("score"))
          bm.unionByName(hm).unionByName(mm)
            .orderBy("kind", "qid", "doc_id")
        })
    },

    // Container-METADATA catalog over opaque media payloads — the
    // triage stage before any decode: REAL MP4 box walking, MP3
    // frame-header walking, and WAV fmt/data parsing (MediaMeta),
    // over payloads the builder synthesizes as genuine container
    // bytes (not stubs) deterministically from doc_id. Corrupt
    // payloads (truncated mp4 box / mp3 frame) and garbage become
    // typed rejects with the container still identified. HASH-GATED:
    // every extracted field is arithmetic over doc_id, so DuckDB
    // replays the whole catalog — durations via the same integer
    // floor divisions the parsers use.
    NamedQuery(
      "q239_media_meta",
      Some("""WITH d AS (SELECT doc_id AS id FROM documents),
             |m AS (
             |  SELECT id,
             |    CAST(132 + 8 * (1 + id % 3) AS BIGINT) n_bytes,
             |    'mp4' container,
             |    CAST(1000 + (id * 37) % 60000 AS BIGINT) duration_ms,
             |    CAST(NULL AS INT) sample_rate, CAST(NULL AS INT) channels,
             |    CAST(1 + id % 3 AS INT) tracks, CAST(NULL AS INT) width,
             |    CAST(NULL AS INT) height, CAST(NULL AS INT) frames,
             |    CAST(NULL AS VARCHAR) reason
             |  FROM d WHERE id % 6 = 0 AND (id // 6) % 2 = 0
             |  UNION ALL
             |  SELECT id, CAST(232 AS BIGINT), 'mp4',
             |    CAST(1000 + (id * 37) % 60000 AS BIGINT),
             |    NULL, NULL, CAST(1 AS INT),
             |    CAST(320 + 16 * (id % 8) AS INT),
             |    CAST(240 + 16 * (id % 5) AS INT), NULL, NULL
             |  FROM d WHERE id % 6 = 0 AND (id // 6) % 2 = 1
             |  UNION ALL
             |  SELECT id, CAST((1 + id % 40) * 417 AS BIGINT), 'mp3',
             |    CAST(((1 + id % 40) * 1152 * 1000) // 44100 AS BIGINT),
             |    44100, CAST(CASE WHEN (id // 6) % 2 = 0 THEN 1 ELSE 2 END AS INT),
             |    NULL, NULL, NULL, CAST(1 + id % 40 AS INT), NULL
             |  FROM d WHERE id % 6 = 1
             |  UNION ALL
             |  SELECT id, CAST((1 + id % 25) * 208 AS BIGINT), 'mp3',
             |    CAST(((1 + id % 25) * 576 * 1000) // 22050 AS BIGINT),
             |    22050, 2, NULL, NULL, NULL, CAST(1 + id % 25 AS INT), NULL
             |  FROM d WHERE id % 6 = 2
             |  UNION ALL
             |  SELECT id,
             |    CAST(44 + (800 + id % 1600) * (1 + id % 2) * 2 AS BIGINT),
             |    'wav', CAST(((800 + id % 1600) * 1000) // 8000 AS BIGINT),
             |    8000, CAST(1 + id % 2 AS INT), NULL, NULL, NULL, NULL, NULL
             |  FROM d WHERE id % 6 = 3 AND (id // 6) % 2 = 0
             |  UNION ALL
             |  SELECT id, CAST(76 AS BIGINT), 'ogg',
             |    CAST(((4800 + (id * 29) % 96000) * 1000) // 48000 AS BIGINT),
             |    48000, CAST(2 AS INT), NULL, NULL, NULL, NULL, NULL
             |  FROM d WHERE id % 6 = 3 AND (id // 6) % 2 = 1
             |  UNION ALL
             |  SELECT id, CAST(136 AS BIGINT), 'mp4', NULL, NULL, NULL,
             |    NULL, NULL, NULL, NULL, 'truncated_box'
             |  FROM d WHERE id % 6 = 4 AND (id // 6) % 2 = 0
             |  UNION ALL
             |  SELECT id, CAST(1661 AS BIGINT), 'mp3', NULL, NULL, NULL,
             |    NULL, NULL, NULL, NULL, 'truncated_frame'
             |  FROM d WHERE id % 6 = 4 AND (id // 6) % 2 = 1
             |  UNION ALL
             |  SELECT id, CAST(42 AS BIGINT), 'flac',
             |    CAST(((44100 + (id * 13) % 441000) * 1000) // 44100 AS BIGINT),
             |    44100, CAST(1 + (id // 6) % 2 AS INT), NULL, NULL, NULL,
             |    NULL, NULL
             |  FROM d WHERE id % 6 = 5 AND (id // 6) % 2 = 0
             |  UNION ALL
             |  SELECT id,
             |    CAST(length('GARBLE-' || CAST(id AS VARCHAR)) AS BIGINT),
             |    'unknown', NULL, NULL, NULL, NULL, NULL, NULL, NULL,
             |    'unsupported_format'
             |  FROM d WHERE id % 6 = 5 AND (id // 6) % 2 = 1)
             |SELECT id, n_bytes, container, duration_ms, sample_rate,
             |  channels, tracks, width, height, frames, reason
             |FROM m ORDER BY id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val payloads = docs(s, dir).select(col("doc_id")).as[Long]
          .map { id =>
            val p: Array[Byte] = (id % 6) match {
              case 0 =>
                if ((id / 6) % 2 == 0)
                  MediaMeta.encodeMp4(1000 + (id * 37) % 60000, 1000,
                    (1 + id % 3).toInt)
                else MediaMeta.encodeMp4Video(1000 + (id * 37) % 60000,
                  1000, w = (320 + 16 * (id % 8)).toInt,
                  h = (240 + 16 * (id % 5)).toInt)
              case 1 => MediaMeta.encodeMp3((1 + id % 40).toInt, v1 = true,
                bitrateKbps = 128, sampleRate = 44100,
                mono = (id / 6) % 2 == 0)
              case 2 => MediaMeta.encodeMp3((1 + id % 25).toInt, v1 = false,
                bitrateKbps = 64, sampleRate = 22050, mono = false)
              case 3 =>
                if ((id / 6) % 2 == 0)
                  MediaMeta.encodeWav((800 + id % 1600).toInt,
                    sampleRate = 8000, channels = (1 + id % 2).toInt)
                else MediaMeta.encodeOggOpus(4800 + (id * 29) % 96000,
                  inputRate = 48000, channels = 2)
              case 4 =>
                // id % 6 == 4 forces id even, id % 6 == 5 forces odd —
                // sub-splits must key on id / 6, not id % 2
                if ((id / 6) % 2 == 0)
                  MediaMeta.encodeMp4(5000, 1000, 2).dropRight(12)
                else MediaMeta.encodeMp3(4, v1 = true, bitrateKbps = 128,
                  sampleRate = 44100, mono = true).dropRight(7)
              case _ =>
                if ((id / 6) % 2 == 0)
                  MediaMeta.encodeFlac(44100 + (id * 13) % 441000,
                    sampleRate = 44100, channels = (1 + (id / 6) % 2).toInt)
                else s"GARBLE-$id".getBytes("UTF-8")
            }
            (id, p)
          }.toDF("doc_id", "payload")
        MediaMeta.probe(payloads, "doc_id", "payload")
          .toDF().orderBy("id")
      }),

    // The 15th REAL stream: the daily-refresh loop as a stream. The
    // base corpus lands as a batch apply; three DISJOINT revision
    // classes (doc%6=2 / doc%9=4 / doc%9=7 — provably non-overlapping
    // residues, so micro-batch arrival order cannot change the final
    // state) then stream through CorpusUpsertStream, each micro-batch
    // one coordinated applyBatch across the BM25 + Hamming targets
    // (the two bootstrap-able layouts — no trained geometry, so the
    // stream entry prices the streaming wrapper, not k-means). No
    // _graft_batches ledger: applyBatch's own markers absorb
    // redelivery. HASH-GATED end to end: the final corpus is
    // deterministic, so DuckDB replays BM25 scores and the sign-bit
    // Hamming pair relation over it (the q219/q229 convention).
    NamedQuery(
      "q233_stream_upsert",
      Some("""WITH base AS (
             |  SELECT d.doc_id,
             |    CASE WHEN d.doc_id % 6 = 2 THEN d.text || ' r1x'
             |         WHEN d.doc_id % 9 = 4 THEN d.text || ' r2x'
             |         WHEN d.doc_id % 9 = 7 THEN d.text || ' r3x'
             |         ELSE d.text END AS text,
             |    CASE WHEN d.doc_id % 6 = 2 OR d.doc_id % 9 = 4
             |           OR d.doc_id % 9 = 7
             |         THEN list_transform(e.embedding, x -> -x)
             |         ELSE e.embedding END AS emb,
             |    CASE WHEN d.doc_id % 6 = 2 OR d.doc_id % 9 = 4
             |           OR d.doc_id % 9 = 7 THEN 1 ELSE 0 END AS rev
             |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
             |tok AS (SELECT doc_id, rev, string_split(text, ' ') tok FROM base),
             |l AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM tok),
             |st AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl FROM l),
             |ex AS (SELECT doc_id, rev, unnest(tok) w FROM tok),
             |tf AS (SELECT doc_id, rev, w, CAST(count(*) AS DOUBLE) tf FROM ex
             |       WHERE w IN ('vector', 'join', 'scan') GROUP BY doc_id, rev, w),
             |dfq AS (SELECT w, CAST(count(*) AS DOUBLE) df FROM tf GROUP BY w),
             |bm AS (SELECT 'bm25' AS kind, CAST(-1 AS BIGINT) AS qid, tf.doc_id,
             |         CAST(tf.rev AS BIGINT) AS rev,
             |         ROUND(SUM(ln((st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
             |           * tf.tf * 2.2
             |           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / st.avgdl))), 6) AS score
             |       FROM tf JOIN dfq USING (w) JOIN l USING (doc_id) CROSS JOIN st
             |       GROUP BY tf.doc_id, tf.rev),
             |hmraw AS (SELECT q.doc_id AS qid, n.doc_id, n.rev,
             |            CAST(list_sum(list_transform(range(64),
             |              i -> CASE WHEN (q.emb[i+1] > 0) = (n.emb[i+1] > 0)
             |                   THEN 0 ELSE 1 END)) AS BIGINT) AS h
             |          FROM base q, base n),
             |hm AS (SELECT 'ham' AS kind, qid, doc_id, CAST(rev AS BIGINT) AS rev,
             |         CAST(h AS DOUBLE) AS score FROM hmraw WHERE h <= 15)
             |SELECT kind, qid, doc_id, rev, score FROM (
             |  SELECT * FROM bm UNION ALL SELECT * FROM hm)
             |ORDER BY kind, qid, doc_id""".stripMargin),
      (s, dir) => {
        import org.apache.spark.sql.streaming.Trigger
        import org.apache.spark.sql.types._
        val root = stageRoot("upstream", dir)
        clearRoot(root)
        val rid = CorpusUpsert.RidCol
        val corpus0 = docs(s, dir).select(col("doc_id"), col("text"))
          .join(embs(s, dir).select(col("vec_id").as("doc_id"),
            col("embedding")), Seq("doc_id"))
        def revClass(pred: org.apache.spark.sql.Column, marker: String) =
          corpus0.filter(pred)
            .select(col("doc_id"),
              concat(col("text"), lit(marker)).as("text"),
              transform(col("embedding"), x => -x).as("embedding"))
        val r1 = revClass(col("doc_id") % 6 === 2, " r1x")
        val r2 = revClass(col("doc_id") % 9 === 4, " r2x")
        val r3 = revClass(col("doc_id") % 9 === 7, " r3x")
        val (upsRoot, bm25P, hamP, src, ckpt) =
          (s"$root/ups", s"$root/bm25", s"$root/ham", s"$root/src",
            s"$root/ckpt")
        concurrently( // independent empty bootstraps (the q237 pattern)
          () => LexIndex.bm25WriteIndex(
            corpus0.select(col("doc_id").as(rid), col("text")).limit(0),
            rid, "text", bm25P, buckets = 32),
          () => HammingIndex.hammingWriteIndex(
            corpus0.select(col("doc_id").as(rid), col("embedding")).limit(0),
            rid, "embedding", hamP, nBands = 8, nBuckets = 8, dim = 64))
        val targets = Seq(
          CorpusUpsert.Bm25Target(bm25P, "text"),
          CorpusUpsert.HammingTarget(hamP, "embedding"))
        CorpusUpsert.applyBatch(corpus0, "doc_id", "base", upsRoot,
          targets)
        Seq(r1, r2, r3).foreach(
          _.coalesce(1).write.mode("append").parquet(src))
        val stream = s.readStream
          .schema(StructType(Seq(
            StructField("doc_id", LongType),
            StructField("text", StringType),
            StructField("embedding", ArrayType(FloatType)))))
          .option("maxFilesPerTrigger", "1")
          .parquet(src)
        val q = graft.streaming.CorpusUpsertStream
          .upsertSink(stream, "doc_id", upsRoot, targets)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val bm = CorpusUpsert.withDocRev(
          LexIndex.bm25ProbeIndex(s, bm25P, rid,
            Seq("vector", "join", "scan")), rid)
          .select(lit("bm25").as("kind"), lit(-1L).as("qid"),
            col("doc_id"), col("rev"),
            col("bm25").cast("double").as("score"))
        val finalQ = corpus0
          .filter(col("doc_id") % 6 =!= 2 && col("doc_id") % 9 =!= 4 &&
            col("doc_id") % 9 =!= 7)
          .unionByName(r1).unionByName(r2).unionByName(r3)
          .select(col("doc_id").as(rid), col("embedding"))
        val hm = CorpusUpsert.withDocRev(
          HammingIndex.hammingProbeIndex(s, finalQ, rid, "embedding",
            hamP, radius = 15, pruneListing = false)
            .withColumnRenamed("n_id", rid), rid)
          .select(lit("ham").as("kind"), col("q_id").cast("long").as("qid"),
            col("doc_id"), col("rev"),
            col("hamming").cast("double").as("score"))
        bm.unionByName(hm).orderBy("kind", "qid", "doc_id")
      }),

    // Near-dup pairs SERVED FROM THE PERSISTED MinHash-LSH INDEX —
    // q21's XXH64-replay oracle verbatim through the build → append →
    // probe path (the q117/q146 treatment): build the (band,
    // bucket)-partitioned index on half the corpus, append the other
    // half, probe it with the corpus, keep q < n. The probe reads only
    // the probe band values' partition directories and applies the
    // scan path's maxBucket skew guard on the index side; the oracle
    // stays the complete MinHash dataflow the index must reproduce
    // exactly.
    NamedQuery(
      "q240_neardup_index",
      Some(XxhSql.q21Oracle(shingleN = 3, numHashes = 32, bands = 8,
        threshold = 0.5, maxBucket = 1000)),
      (s, dir) => {
        val root = stageRoot("ndidx", dir)
        clearRoot(root)
        val d = docs(s, dir).select("doc_id", "text")
        NearDupIndex.neardupWriteIndex(d.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", root.toString, shingleN = 3, numHashes = 32,
          bands = 8, nBuckets = 32, nDocBuckets = 16)
        CorpusUpsert.NearDupTarget(root.toString, "text")
          .append(d.filter(col("doc_id") % 2 === 1), "doc_id")
        NearDupIndex.neardupProbeIndex(s, d, "doc_id", "text",
            root.toString, threshold = 0.5, maxBucket = 1000,
            pruneDocLookup = false, pruneListing = false)
          .filter(col("q_id") < col("n_id"))
          .select(col("q_id").as("id_a"), col("n_id").as("id_b"),
            col("jaccard"))
          .orderBy("id_a", "id_b")
      }),

    // The ingest dedup gate: a NEW batch judged against the indexed
    // corpus WITHOUT rescanning it ([[NearDupIndex.dedupGate]]) — the
    // incremental-dedup loop that replaces re-mining pairs over
    // corpus+batch from scratch. The batch is derived from the corpus
    // identically in both engines (near-copies, exact copies,
    // within-batch twins, novel docs); the oracle replays the FULL
    // decision: probe candidates under the corpus-side skew guard,
    // within-batch pairs under the batch-side guard, exact-Jaccard
    // verifies, and the (jaccard DESC, dup_of ASC) election.
    NamedQuery(
      "q241_dedup_gate",
      Some(XxhSql.q241Oracle(shingleN = 3, numHashes = 32, bands = 8,
        threshold = 0.5, maxBucket = 1000, off = 10000000L)),
      (s, dir) => {
        val root = stageRoot("ndgate", dir)
        clearRoot(root)
        val c = docs(s, dir).select("doc_id", "text")
        NearDupIndex.neardupWriteIndex(c, "doc_id", "text", root.toString,
          shingleN = 3, numHashes = 32, bands = 8, nBuckets = 32,
          nDocBuckets = 16)
        val off = 10000000L
        val id = col("doc_id").cast("string")
        val nbText = concat(lit("nb"), id, lit(" x"), id, lit("a x"), id,
          lit("b x"), id, lit("c x"), id, lit("d"))
        val batch = c.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + off).as("doc_id"),
            concat(col("text"), lit(" zz"),
              (col("doc_id") % 3).cast("string")).as("text"))
          .unionByName(c.filter(col("doc_id") % 10 === 1)
            .select((col("doc_id") + off).as("doc_id"), col("text")))
          .unionByName(c.filter(col("doc_id") % 10 === 1)
            .select((col("doc_id") + 2 * off).as("doc_id"), col("text")))
          .unionByName(c.filter(col("doc_id") % 10 === 2)
            .select((col("doc_id") + off).as("doc_id"), nbText.as("text")))
          .unionByName(c.filter(col("doc_id") % 10 === 2)
            .select((col("doc_id") + 2 * off).as("doc_id"),
              nbText.as("text")))
          .unionByName(c.filter(col("doc_id") % 10 === 3)
            .select((col("doc_id") + off).as("doc_id"),
              concat(lit("solo"), id, lit(" s"), id, lit("a s"), id,
                lit("b s"), id, lit("c s"), id, lit("d")).as("text")))
        NearDupIndex.dedupGate(batch, "doc_id", "text", root.toString,
            threshold = 0.5, maxBucket = 1000)
          .orderBy("doc_id")
      }),

    // Native GIF decode, END-TO-END ORACLE — the first real compressed
    // media format whose ENTROPY CODING the gate replays: per-doc
    // animated GIFs (palette, dims, frame count, delays all closed-form
    // in doc_id; odd ids interlaced — decode-invariant, so the same
    // oracle covers both row orders) are LZW-encoded by [[Gif]]'s
    // writer, decoded back through the [[VideoHash.decodeVideo]] seam,
    // and reduced to exact integer BT.601 frame luminance sums, which
    // DuckDB recomputes pixel-by-pixel from the closed forms. A wrong
    // bit anywhere in the LZW table arithmetic, the interlace pass
    // order, or the palette lookup shifts some frame's sum. The
    // catalog columns ride along from [[MediaMeta.parse]] (the
    // structure-only walk), so both GIF paths are gated at once.
    // (GifSpec additionally pins the coder against the JDK's
    // independent ImageIO GIF implementation, sub-rect/transparency/
    // disposal composition, and decoder totality under fuzz.)
    NamedQuery(
      "q242_gif_decode",
      Some("""WITH d AS (SELECT doc_id AS id FROM documents),
             |g AS (SELECT id, CAST(6 + id % 5 AS INT) w,
             |        CAST(5 + id % 4 AS INT) h,
             |        CAST(1 + id % 3 AS INT) n_frames,
             |        CAST((1 + id % 3) * (4 + id % 6) * 10 AS BIGINT)
             |          duration_ms
             |      FROM d),
             |px AS (
             |  SELECT g.id, f.f, g.w, g.h, g.n_frames, g.duration_ms,
             |    ((x.x + 7 * y.y + 11 * f.f + g.id) % 64) AS idx
             |  FROM g
             |  CROSS JOIN range(0, 3) f(f)
             |  CROSS JOIN range(0, 8) y(y)
             |  CROSS JOIN range(0, 10) x(x)
             |  WHERE f.f < g.n_frames AND y.y < g.h AND x.x < g.w)
             |SELECT id, CAST(f AS INT) frame,
             |  CAST(SUM(299 * ((idx * 37 + 11) % 256)
             |         + 587 * ((idx * 59 + 3) % 256)
             |         + 114 * ((idx * 83 + 7) % 256)) AS BIGINT) lum_sum,
             |  w, h, n_frames, duration_ms
             |FROM px
             |GROUP BY id, f, w, h, n_frames, duration_ms
             |ORDER BY id, frame""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(col("doc_id")).as[Long]
          .flatMap { id =>
            val w = (6 + id % 5).toInt
            val h = (5 + id % 4).toInt
            val n = (1 + id % 3).toInt
            val delay = (4 + id % 6).toInt
            val pal = Array.tabulate(64)(i =>
              (((i * 37 + 11) % 256) << 16) |
                (((i * 59 + 3) % 256) << 8) | ((i * 83 + 7) % 256))
            val frames = (0 until n).map { f =>
              Gif.Frame(0, 0, w, h,
                Array.tabulate(w * h)(i =>
                  (((i % w) + 7L * (i / w) + 11L * f + id) % 64).toByte),
                delayCs = delay, interlaced = id % 2 == 1)
            }
            val p = Gif.encodeGif(w, h, pal, bg = 0, frames)
            val mi = MediaMeta.parse(id, p)
            val v = VideoHash.decodeVideo(p) match {
              case Right(ok) => ok
              case Left(why) => throw new IllegalStateException(
                s"q242: fixture gif for doc $id rejected: $why")
            }
            val sums = VideoHash.frameLumSums(v)
            sums.indices.map(f => (id, f, sums(f), mi.width.get,
              mi.height.get, mi.frames.get, mi.duration_ms.get))
          }
          .toDF("id", "frame", "lum_sum", "w", "h", "n_frames",
            "duration_ms")
          .orderBy("id", "frame")
      }),

    // SNAPSHOT (as-of) reads over the upsert corpus, END-TO-END ORACLE:
    // three batches build a revision chain (b0 = base, b1 revises
    // doc%6=2 with negated embeddings, b2 revises doc%12=2 back to the
    // original signs), then a takedown deletes doc%10=8. The probe
    // scans WITH tombstoned rows ([[HammingIndex.hammingProbeIndex]]
    // includeTombstoned — superseded revisions are history, not
    // garbage) and [[CorpusUpsert.snapshotFilter]] post-filters to the
    // as-of (b0, b1) rid set: Hamming distance is per-pair arithmetic,
    // so the snapshot rows are EXACT historical results — DuckDB
    // replays them from the closed-form state-1 corpus. The same
    // output also carries the LIVE pair relation (current state) and
    // the as-of rev ledger, and the takedown is visible in the gate:
    // doc%10=8 appears in the ledger rows (revs persist) but in
    // NEITHER pair relation (snapshot reads never resurrect deleted
    // content — the permanence contract, here replayed by the oracle).
    NamedQuery(
      "q243_corpus_snapshot",
      Some("""WITH base AS (
             |  SELECT d.doc_id, e.embedding AS emb
             |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
             |s1 AS (SELECT doc_id,
             |         CASE WHEN doc_id % 6 = 2
             |              THEN list_transform(emb, x -> -x)
             |              ELSE emb END AS emb,
             |         CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END AS rev
             |       FROM base),
             |cur AS (SELECT doc_id,
             |         CASE WHEN doc_id % 12 = 2 THEN emb
             |              WHEN doc_id % 6 = 2
             |              THEN list_transform(emb, x -> -x)
             |              ELSE emb END AS emb,
             |         CASE WHEN doc_id % 12 = 2 THEN 2
             |              WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END AS rev
             |       FROM base),
             |act1 AS (SELECT * FROM s1 WHERE doc_id % 10 <> 8),
             |act2 AS (SELECT * FROM cur WHERE doc_id % 10 <> 8),
             |q1 AS (SELECT * FROM s1 WHERE doc_id % 50 = 0),
             |q2 AS (SELECT * FROM cur WHERE doc_id % 50 = 0),
             |h1r AS (SELECT q.doc_id AS qid, n.doc_id, n.rev,
             |          CAST(list_sum(list_transform(range(64), i ->
             |            CASE WHEN (q.emb[i+1] > 0) = (n.emb[i+1] > 0)
             |                 THEN 0 ELSE 1 END)) AS BIGINT) AS h
             |        FROM q1 q, act1 n),
             |h2r AS (SELECT q.doc_id AS qid, n.doc_id, n.rev,
             |          CAST(list_sum(list_transform(range(64), i ->
             |            CASE WHEN (q.emb[i+1] > 0) = (n.emb[i+1] > 0)
             |                 THEN 0 ELSE 1 END)) AS BIGINT) AS h
             |        FROM q2 q, act2 n),
             |h1 AS (SELECT 'ham1' AS kind, qid, doc_id,
             |         CAST(rev AS BIGINT) AS rev, CAST(h AS DOUBLE) AS score
             |       FROM h1r WHERE h <= 15),
             |h2 AS (SELECT 'ham2' AS kind, qid, doc_id,
             |         CAST(rev AS BIGINT) AS rev, CAST(h AS DOUBLE) AS score
             |       FROM h2r WHERE h <= 15),
             |rv AS (SELECT 'rev' AS kind, CAST(-1 AS BIGINT) AS qid,
             |         doc_id,
             |         CAST(CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END
             |              AS BIGINT) AS rev,
             |         CAST(NULL AS DOUBLE) AS score
             |       FROM base),
             |ch AS (SELECT 'chg' AS kind, CAST(-1 AS BIGINT) AS qid,
             |         doc_id,
             |         CAST(CASE WHEN doc_id % 12 = 2 THEN 2 ELSE 1 END
             |              AS BIGINT) AS rev,
             |         CAST(0 AS DOUBLE) AS score
             |       FROM base WHERE doc_id % 6 = 2)
             |SELECT kind, qid, doc_id, rev, score FROM (
             |  SELECT * FROM h1 UNION ALL SELECT * FROM h2
             |  UNION ALL SELECT * FROM rv UNION ALL SELECT * FROM ch)
             |ORDER BY kind, qid, doc_id, rev""".stripMargin),
      (s, dir) => {
        val root = stageRoot("snapq", dir)
        clearRoot(root)
        val rid = CorpusUpsert.RidCol
        val base = docs(s, dir).select(col("doc_id"), col("text"))
          .join(embs(s, dir).select(col("vec_id").as("doc_id"),
            col("embedding")), Seq("doc_id"))
        val b1 = base.filter(col("doc_id") % 6 === 2)
          .select(col("doc_id"), concat(col("text"), lit(" s1")).as("text"),
            transform(col("embedding"), x => -x).as("embedding"))
        val b2 = base.filter(col("doc_id") % 12 === 2)
          .select(col("doc_id"), concat(col("text"), lit(" s2")).as("text"),
            col("embedding"))
        val (upsRoot, bm25P, hamP) = (s"$root/ups", s"$root/bm25",
          s"$root/ham")
        concurrently( // independent empty bootstraps (the q237 pattern)
          () => LexIndex.bm25WriteIndex(
            base.select(col("doc_id").as(rid), col("text")).limit(0),
            rid, "text", bm25P, buckets = 32),
          () => HammingIndex.hammingWriteIndex(
            base.select(col("doc_id").as(rid), col("embedding")).limit(0),
            rid, "embedding", hamP, nBands = 8, nBuckets = 8, dim = 64))
        val targets = Seq(
          CorpusUpsert.Bm25Target(bm25P, "text"),
          CorpusUpsert.HammingTarget(hamP, "embedding"))
        CorpusUpsert.applyBatch(base, "doc_id", "b0", upsRoot, targets)
        CorpusUpsert.applyBatch(b1, "doc_id", "b1", upsRoot, targets)
        CorpusUpsert.applyBatch(b2, "doc_id", "b2", upsRoot, targets)
        CorpusUpsert.deleteDocs(
          base.filter(col("doc_id") % 10 === 8).select("doc_id"),
          "doc_id", upsRoot, targets)
        val state1Emb = when(col("doc_id") % 6 === 2,
          transform(col("embedding"), x => -x)).otherwise(col("embedding"))
        val curEmb = when(col("doc_id") % 12 === 2, col("embedding"))
          .otherwise(state1Emb)
        val queries1 = base.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as(rid), state1Emb.as("embedding"))
        val queries2 = base.filter(col("doc_id") % 50 === 0)
          .select(col("doc_id").as(rid), curEmb.as("embedding"))
        val ham1 = CorpusUpsert.withDocRev(
          CorpusUpsert.snapshotFilter(
            HammingIndex.hammingProbeIndex(s, queries1, rid,
                "embedding", hamP, radius = 15, includeTombstoned = true)
              .withColumnRenamed("n_id", rid),
            rid, upsRoot, Seq("b0", "b1"), indexPath = hamP),
          rid)
          .select(lit("ham1").as("kind"), col("q_id").as("qid"),
            col("doc_id"), col("rev").cast("long").as("rev"),
            col("hamming").cast("double").as("score"))
        val ham2 = CorpusUpsert.withDocRev(
          HammingIndex.hammingProbeIndex(s, queries2, rid,
              "embedding", hamP, radius = 15)
            .withColumnRenamed("n_id", rid),
          rid)
          .select(lit("ham2").as("kind"), col("q_id").as("qid"),
            col("doc_id"), col("rev").cast("long").as("rev"),
            col("hamming").cast("double").as("score"))
        val rv = CorpusUpsert.revsAsOf(s, upsRoot, Seq("b0", "b1"))
          .select(lit("rev").as("kind"), lit(-1L).as("qid"),
            col("doc").as("doc_id"), col("rev").cast("long").as("rev"),
            lit(null).cast("double").as("score"))
        // the CDC feed between the two gated snapshots — every change
        // here is an update from rev 0 (the revision chain revises
        // existing docs; inserts are pinned in CorpusUpsertSpec)
        val chg = CorpusUpsert.changesBetween(s, upsRoot,
            Seq("b0"), Seq("b0", "b1", "b2"))
          .select(lit("chg").as("kind"), lit(-1L).as("qid"),
            col("doc").as("doc_id"), col("to_rev").cast("long").as("rev"),
            col("from_rev").cast("double").as("score"))
        ham1.unionByName(ham2).unionByName(rv).unionByName(chg)
          .orderBy("kind", "qid", "doc_id", "rev")
      }),

    // BATCH retrieval from the PERSISTED IVF index
    // ([[graft.ops.VectorOps.ivfProbeJoin]]) — the q111/q236 treatment
    // for vectors: a query RELATION routes itself to its probe
    // clusters in one map-only pass, the scan prunes to the union of
    // probed clusters at file listing, and per-query top-k is one
    // WindowGroupLimit. Run in the EXHAUSTIVE regime (nProbe = every
    // cluster) the readout is the exact per-query cosine top-k over
    // the active (non-tombstoned) corpus — pure arithmetic DuckDB
    // replays end to end (q25's list_dot_product parity), including a
    // takedown's exclusion: deleted vectors can still ASK (they are
    // queries) but can never be FOUND.
    NamedQuery(
      "q244_ivf_probe_join",
      Some("""WITH e AS (SELECT vec_id,
             |            list_transform(embedding, x -> CAST(x AS DOUBLE)) v
             |          FROM embeddings),
             |c AS (SELECT vec_id, v FROM e
             |      WHERE list_dot_product(v, v) > 0 AND vec_id % 9 <> 4),
             |q AS (SELECT vec_id AS qid, v AS qv FROM e
             |      WHERE vec_id % 25 = 0 AND list_dot_product(v, v) > 0),
             |s AS (SELECT q.qid, c.vec_id AS n_id,
             |        ROUND(list_dot_product(q.qv, c.v)
             |          / (sqrt(list_dot_product(q.qv, q.qv))
             |             * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
             |      FROM q, c),
             |r AS (SELECT qid AS q_id, n_id, cosine,
             |        CAST(row_number() OVER (PARTITION BY qid
             |          ORDER BY cosine DESC, n_id) AS INT) AS rank
             |      FROM s)
             |SELECT q_id, n_id, cosine, rank FROM r
             |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
      (s, dir) => {
        val root = stageRoot("ivfjoin", dir)
        clearRoot(root)
        val e = embs(s, dir)
        val idxP = s"$root/ivf"
        val cents = VectorOps.ivfWriteIndex(e, "vec_id", "embedding",
          idxP, nCentroids = 16)
        VectorOps.IvfLayout.delete(
          e.filter(col("vec_id") % 9 === 4).select("vec_id"),
          "vec_id", idxP)
        VectorOps.ivfProbeJoin(
          e.filter(col("vec_id") % 25 === 0), idxP, cents,
          "vec_id", "embedding", k = 10, nProbe = cents.length)
          .orderBy("q_id", "rank")
      }),

    // HISTORICAL BM25 over a snapshot ([[graft.ops.LexIndex
    // .bm25ProbeRids]]) — closing the one caveat q243 documents:
    // post-filtering a live probe gives historical MEMBERSHIP with
    // live scores, but a corpus-statistic score needs its statistics
    // recomputed over the snapshot. bm25ProbeRids restricts the
    // postings slice to the as-of rid set (scanned WITH tombstoned
    // rows — superseded revisions are history), recomputes df from
    // that slice and N/avgdl from the rid-filtered doclen, so the
    // scores are bit-identical to probing an index that only ever
    // held the snapshot corpus. Same revision chain + takedown as
    // q243; DuckDB rebuilds BOTH corpora (as-of and current) and
    // replays the full Okapi arithmetic over each — takedown docs
    // absent from both relations at every revision.
    NamedQuery(
      "q245_bm25_asof",
      Some("""WITH d AS (SELECT doc_id, text FROM documents),
             |s1 AS (SELECT doc_id,
             |         CASE WHEN doc_id % 6 = 2 THEN text || ' s1'
             |              ELSE text END AS text,
             |         CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END AS rev
             |       FROM d WHERE doc_id % 10 <> 8),
             |cur AS (SELECT doc_id,
             |         CASE WHEN doc_id % 12 = 2 THEN text || ' s2'
             |              WHEN doc_id % 6 = 2 THEN text || ' s1'
             |              ELSE text END AS text,
             |         CASE WHEN doc_id % 12 = 2 THEN 2
             |              WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END AS rev
             |       FROM d WHERE doc_id % 10 <> 8),
             |tok1 AS (SELECT doc_id, rev, string_split(text, ' ') tok FROM s1),
             |l1 AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM tok1),
             |st1 AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl
             |        FROM l1),
             |ex1 AS (SELECT doc_id, rev, unnest(tok) w FROM tok1),
             |tf1 AS (SELECT doc_id, rev, w, CAST(count(*) AS DOUBLE) tf
             |        FROM ex1 WHERE w IN ('vector', 'join', 'scan')
             |        GROUP BY doc_id, rev, w),
             |df1 AS (SELECT w, CAST(count(*) AS DOUBLE) df FROM tf1 GROUP BY w),
             |bm1 AS (SELECT 'asof' AS kind, tf1.doc_id,
             |          CAST(tf1.rev AS BIGINT) AS rev,
             |          ROUND(SUM(ln((st1.n_docs - df1.df + 0.5)
             |              / (df1.df + 0.5) + 1.0) * tf1.tf * 2.2
             |            / (tf1.tf + 1.2 * (1.0 - 0.75
             |               + 0.75 * l1.dl / st1.avgdl))), 6) AS score
             |        FROM tf1 JOIN df1 USING (w) JOIN l1 USING (doc_id)
             |        CROSS JOIN st1
             |        GROUP BY tf1.doc_id, tf1.rev),
             |tok2 AS (SELECT doc_id, rev, string_split(text, ' ') tok FROM cur),
             |l2 AS (SELECT doc_id, CAST(len(tok) AS DOUBLE) dl FROM tok2),
             |st2 AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl
             |        FROM l2),
             |ex2 AS (SELECT doc_id, rev, unnest(tok) w FROM tok2),
             |tf2 AS (SELECT doc_id, rev, w, CAST(count(*) AS DOUBLE) tf
             |        FROM ex2 WHERE w IN ('vector', 'join', 'scan')
             |        GROUP BY doc_id, rev, w),
             |df2 AS (SELECT w, CAST(count(*) AS DOUBLE) df FROM tf2 GROUP BY w),
             |bm2 AS (SELECT 'live' AS kind, tf2.doc_id,
             |          CAST(tf2.rev AS BIGINT) AS rev,
             |          ROUND(SUM(ln((st2.n_docs - df2.df + 0.5)
             |              / (df2.df + 0.5) + 1.0) * tf2.tf * 2.2
             |            / (tf2.tf + 1.2 * (1.0 - 0.75
             |               + 0.75 * l2.dl / st2.avgdl))), 6) AS score
             |        FROM tf2 JOIN df2 USING (w) JOIN l2 USING (doc_id)
             |        CROSS JOIN st2
             |        GROUP BY tf2.doc_id, tf2.rev)
             |SELECT kind, doc_id, rev, score FROM (
             |  SELECT * FROM bm1 UNION ALL SELECT * FROM bm2)
             |ORDER BY kind, doc_id""".stripMargin),
      (s, dir) => {
        val root = stageRoot("bmasof", dir)
        clearRoot(root)
        val rid = CorpusUpsert.RidCol
        val base = docs(s, dir).select(col("doc_id"), col("text"))
        val b1 = base.filter(col("doc_id") % 6 === 2)
          .select(col("doc_id"), concat(col("text"), lit(" s1")).as("text"))
        val b2 = base.filter(col("doc_id") % 12 === 2)
          .select(col("doc_id"), concat(col("text"), lit(" s2")).as("text"))
        val (upsRoot, bm25P) = (s"$root/ups", s"$root/bm25")
        LexIndex.bm25WriteIndex(
          base.select(col("doc_id").as(rid), col("text")).limit(0),
          rid, "text", bm25P, buckets = 32)
        val targets = Seq(CorpusUpsert.Bm25Target(bm25P, "text"))
        CorpusUpsert.applyBatch(base, "doc_id", "b0", upsRoot, targets)
        CorpusUpsert.applyBatch(b1, "doc_id", "b1", upsRoot, targets)
        CorpusUpsert.applyBatch(b2, "doc_id", "b2", upsRoot, targets)
        CorpusUpsert.deleteDocs(
          base.filter(col("doc_id") % 10 === 8).select("doc_id"),
          "doc_id", upsRoot, targets)
        val terms = Seq("vector", "join", "scan")
        val asof = CorpusUpsert.withDocRev(
          LexIndex.bm25ProbeRids(s, bm25P, rid, terms,
            CorpusUpsert.asOfRids(s, upsRoot, Seq("b0", "b1"), bm25P)),
          rid)
          .select(lit("asof").as("kind"), col("doc_id"),
            col("rev").cast("long").as("rev"),
            col("bm25").cast("double").as("score"))
        val live = CorpusUpsert.withDocRev(
          LexIndex.bm25ProbeIndex(s, bm25P, rid, terms), rid)
          .select(lit("live").as("kind"), col("doc_id"),
            col("rev").cast("long").as("rev"),
            col("bm25").cast("double").as("score"))
        asof.unionByName(live).orderBy("kind", "doc_id")
      }),

    // BATCH retrieval from the COMPRESSED (IVF-PQ) index
    // ([[graft.ops.Pq.pqIvfProbeJoin]]) — q244's query-relation shape
    // through the two-stage ADC-shortlist → exact-rerank plan, with
    // the per-query ADC LUT built by the native PqLut kernel and
    // scored by PqAdcPair (LUT as a COLUMN — one LUT per query row,
    // never per corpus row). In the exhaustive regime (every cluster
    // probed, shortlist ≥ corpus) the rerank output is the exact
    // per-query cosine top-k over the active corpus — the trained
    // codebook only selects the shortlist, so DuckDB replays the
    // result without modeling PQ at all (q244's oracle ground); real
    // shortlisting keeps its recall suite in PqSpec.
    NamedQuery(
      "q246_pqivf_probe_join",
      Some("""WITH e AS (SELECT vec_id,
             |            list_transform(embedding, x -> CAST(x AS DOUBLE)) v
             |          FROM embeddings),
             |c AS (SELECT vec_id, v FROM e
             |      WHERE list_dot_product(v, v) > 0 AND vec_id % 7 <> 3),
             |q AS (SELECT vec_id AS qid, v AS qv FROM e
             |      WHERE vec_id % 30 = 0 AND list_dot_product(v, v) > 0),
             |s AS (SELECT q.qid, c.vec_id AS n_id,
             |        ROUND(list_dot_product(q.qv, c.v)
             |          / (sqrt(list_dot_product(q.qv, q.qv))
             |             * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
             |      FROM q, c),
             |r AS (SELECT qid AS q_id, n_id, cosine,
             |        CAST(row_number() OVER (PARTITION BY qid
             |          ORDER BY cosine DESC, n_id) AS INT) AS rank
             |      FROM s)
             |SELECT q_id, n_id, cosine, rank FROM r
             |WHERE rank <= 8 ORDER BY q_id, rank""".stripMargin),
      (s, dir) => {
        val root = stageRoot("pqjoin", dir)
        clearRoot(root)
        val e = embs(s, dir)
        val idxP = s"$root/pqivf"
        val (cents, model) = q230GeoMemo.computeIfAbsent(s"$dir/q246",
          _ => (VectorOps.kmeansCentroids(e, "embedding", 16),
            Pq.pqTrain(e, "embedding", m = 8, codebook = 16)))
        Pq.pqIvfWriteIndex(e, "vec_id", "embedding", idxP, model, cents)
        VectorOps.IvfLayout.delete(
          e.filter(col("vec_id") % 7 === 3).select("vec_id"),
          "vec_id", idxP)
        Pq.pqIvfProbeJoin(
          e.filter(col("vec_id") % 30 === 0), idxP, model, cents,
          "vec_id", "embedding", k = 8, nProbe = cents.length,
          overFetch = 1000000)
          .orderBy("q_id", "rank")
      }),

    // SNAPSHOT phrase retrieval — the positional family's as-of mode
    // (`rids` on [[graft.ops.LexIndex.bm25PhraseRank]]): revisions ADD
    // phrase occurrences, so the same probe answers differently at
    // each point in history — phrase_tf, df_p and N/avgdl are all
    // computed over the snapshot (q245's historical-statistics
    // treatment, for phrases). DuckDB rebuilds both corpora and
    // replays tokenization + anchored adjacency + the Okapi score
    // with each corpus's own statistics; the takedown (doc%10=4) is
    // absent from both relations at every revision.
    NamedQuery(
      "q247_phrase_asof",
      Some("""WITH d AS (SELECT doc_id, text FROM documents),
             |s1 AS (SELECT doc_id,
             |         CASE WHEN doc_id % 6 = 2 THEN text || ' vector scan'
             |              ELSE text END AS text,
             |         CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END AS rev
             |       FROM d WHERE doc_id % 10 <> 4),
             |cur AS (SELECT doc_id,
             |         CASE WHEN doc_id % 12 = 2
             |              THEN text || ' vector scan vector scan'
             |              WHEN doc_id % 6 = 2 THEN text || ' vector scan'
             |              ELSE text END AS text,
             |         CASE WHEN doc_id % 12 = 2 THEN 2
             |              WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END AS rev
             |       FROM d WHERE doc_id % 10 <> 4),
             |m1 AS (SELECT doc_id, rev,
             |         CAST(len(tok) AS DOUBLE) dl,
             |         len(list_filter(range(len(tok) - 1),
             |           i -> tok[i+1] = 'vector' AND tok[i+2] = 'scan')) ptf
             |       FROM (SELECT doc_id, rev, string_split(text, ' ') tok
             |             FROM s1)),
             |st1 AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl
             |        FROM m1),
             |dfp1 AS (SELECT CAST(count(*) AS DOUBLE) df_p FROM m1
             |         WHERE ptf > 0),
             |bm1 AS (SELECT 'asof' AS kind, doc_id,
             |          CAST(rev AS BIGINT) AS rev,
             |          CAST(ptf AS BIGINT) AS phrase_tf,
             |          ROUND(ln((st1.n_docs - dfp1.df_p + 0.5)
             |              / (dfp1.df_p + 0.5) + 1.0)
             |            * CAST(ptf AS DOUBLE) * 2.2
             |            / (CAST(ptf AS DOUBLE) + 1.2 * (1.0 - 0.75
             |               + 0.75 * dl / st1.avgdl)), 6) AS score
             |        FROM m1 CROSS JOIN st1 CROSS JOIN dfp1 WHERE ptf > 0),
             |m2 AS (SELECT doc_id, rev,
             |         CAST(len(tok) AS DOUBLE) dl,
             |         len(list_filter(range(len(tok) - 1),
             |           i -> tok[i+1] = 'vector' AND tok[i+2] = 'scan')) ptf
             |       FROM (SELECT doc_id, rev, string_split(text, ' ') tok
             |             FROM cur)),
             |st2 AS (SELECT CAST(count(*) AS DOUBLE) n_docs, AVG(dl) avgdl
             |        FROM m2),
             |dfp2 AS (SELECT CAST(count(*) AS DOUBLE) df_p FROM m2
             |         WHERE ptf > 0),
             |bm2 AS (SELECT 'live' AS kind, doc_id,
             |          CAST(rev AS BIGINT) AS rev,
             |          CAST(ptf AS BIGINT) AS phrase_tf,
             |          ROUND(ln((st2.n_docs - dfp2.df_p + 0.5)
             |              / (dfp2.df_p + 0.5) + 1.0)
             |            * CAST(ptf AS DOUBLE) * 2.2
             |            / (CAST(ptf AS DOUBLE) + 1.2 * (1.0 - 0.75
             |               + 0.75 * dl / st2.avgdl)), 6) AS score
             |        FROM m2 CROSS JOIN st2 CROSS JOIN dfp2 WHERE ptf > 0)
             |SELECT kind, doc_id, rev, phrase_tf, score FROM (
             |  SELECT * FROM bm1 UNION ALL SELECT * FROM bm2)
             |ORDER BY kind, doc_id""".stripMargin),
      (s, dir) => {
        val root = stageRoot("phasof", dir)
        clearRoot(root)
        val rid = CorpusUpsert.RidCol
        val base = docs(s, dir).select(col("doc_id"), col("text"))
        val b1 = base.filter(col("doc_id") % 6 === 2)
          .select(col("doc_id"),
            concat(col("text"), lit(" vector scan")).as("text"))
        val b2 = base.filter(col("doc_id") % 12 === 2)
          .select(col("doc_id"),
            concat(col("text"), lit(" vector scan vector scan")).as("text"))
        val (upsRoot, bmP) = (s"$root/ups", s"$root/bm25")
        LexIndex.bm25WriteIndex(
          base.select(col("doc_id").as(rid), col("text")).limit(0),
          rid, "text", bmP, buckets = 32, positional = true)
        val targets = Seq(CorpusUpsert.Bm25Target(bmP, "text"))
        CorpusUpsert.applyBatch(base, "doc_id", "b0", upsRoot, targets)
        CorpusUpsert.applyBatch(b1, "doc_id", "b1", upsRoot, targets)
        CorpusUpsert.applyBatch(b2, "doc_id", "b2", upsRoot, targets)
        CorpusUpsert.deleteDocs(
          base.filter(col("doc_id") % 10 === 4).select("doc_id"),
          "doc_id", upsRoot, targets)
        val phrase = Seq("vector", "scan")
        val asofRids = CorpusUpsert.asOfRids(s, upsRoot, Seq("b0", "b1"),
          bmP)
        val asof = CorpusUpsert.withDocRev(
          LexIndex.bm25PhraseRank(s, bmP, rid, phrase,
            rids = Some(asofRids)), rid)
          .select(lit("asof").as("kind"), col("doc_id"),
            col("rev").cast("long").as("rev"), col("phrase_tf"),
            col("bm25").cast("double").as("score"))
        val live = CorpusUpsert.withDocRev(
          LexIndex.bm25PhraseRank(s, bmP, rid, phrase), rid)
          .select(lit("live").as("kind"), col("doc_id"),
            col("rev").cast("long").as("rev"), col("phrase_tf"),
            col("bm25").cast("double").as("score"))
        asof.unionByName(live).orderBy("kind", "doc_id")
      }),

    // SNAPSHOT ANN through the batch join ([[graft.ops.VectorOps
    // .ivfProbeJoin]] rids mode) — q244's exhaustive-regime oracle
    // with a snapshot cut: the rid set (even ids) restricts the
    // candidate space BEFORE the rank window, so per-query top-k is
    // the exact top-k OVER THE SNAPSHOT — which a post-filter of the
    // live join could not produce (it would drop below-k survivors).
    // DuckDB replays the snapshot corpus directly.
    NamedQuery(
      "q248_ivf_asof_join",
      Some("""WITH e AS (SELECT vec_id,
             |            list_transform(embedding, x -> CAST(x AS DOUBLE)) v
             |          FROM embeddings),
             |c AS (SELECT vec_id, v FROM e
             |      WHERE list_dot_product(v, v) > 0 AND vec_id % 2 = 0),
             |q AS (SELECT vec_id AS qid, v AS qv FROM e
             |      WHERE vec_id % 35 = 0 AND list_dot_product(v, v) > 0),
             |s AS (SELECT q.qid, c.vec_id AS n_id,
             |        ROUND(list_dot_product(q.qv, c.v)
             |          / (sqrt(list_dot_product(q.qv, q.qv))
             |             * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
             |      FROM q, c),
             |r AS (SELECT qid AS q_id, n_id, cosine,
             |        CAST(row_number() OVER (PARTITION BY qid
             |          ORDER BY cosine DESC, n_id) AS INT) AS rank
             |      FROM s)
             |SELECT q_id, n_id, cosine, rank FROM r
             |WHERE rank <= 7 ORDER BY q_id, rank""".stripMargin),
      (s, dir) => {
        val root = stageRoot("ivfasof", dir)
        clearRoot(root)
        val e = embs(s, dir)
        val idxP = s"$root/ivf"
        val cents = VectorOps.ivfWriteIndex(e, "vec_id", "embedding",
          idxP, nCentroids = 16)
        val snapIds = e.filter(col("vec_id") % 2 === 0).select("vec_id")
        VectorOps.ivfProbeJoin(
          e.filter(col("vec_id") % 35 === 0), idxP, cents,
          "vec_id", "embedding", k = 7, nProbe = cents.length,
          rids = Some(snapIds))
          .orderBy("q_id", "rank")
      }),

    // REAL perceptual video fingerprints, END-TO-END ORACLE — the
    // first media fingerprint gate that does NOT ride a stub twin:
    // the cross-modal gates replay integer stand-in formulas because
    // real decoders weren't cross-engine replayable, but GIF fixtures
    // are closed-form in doc_id AND losslessly decoded (q242), so the
    // ENTIRE real chain — LZW decode → exact-integer BT.601 9×9 box
    // sums ([[graft.ops.VideoHash.frameGrid]], floor-partition boxes
    // at w,h ≥ 9) → box means (exact-rational doubles: integer sums
    // ÷ integer areas, correctly rounded identically in both
    // engines) → [[graft.ops.Phash.gridDiff256]]'s four gradient
    // families → 256 sign bits packed into 8×32-bit words — is
    // replayed by DuckDB pixel-for-pixel, bit-for-bit, including the
    // [[graft.ops.VideoHash.sampleIndex]] frame-slot clamp for clips
    // shorter than 5 frames.
    NamedQuery(
      "q249_gif_fingerprint",
      Some(s"""WITH d AS (SELECT doc_id AS id FROM documents),
             |g0 AS (SELECT id, CAST(9 + id % 4 AS INT) w,
             |         CAST(9 + id % 3 AS INT) h,
             |         CAST(1 + id % 3 AS INT) n FROM d),
             |px AS (
             |  SELECT g0.id, g0.w, g0.h, f.f, y.y, x.x,
             |    ((x.x + 7 * y.y + 11 * f.f + g0.id) % 64) AS idx
             |  FROM g0
             |  CROSS JOIN range(0, 3) f(f)
             |  CROSS JOIN range(0, 11) y(y)
             |  CROSS JOIN range(0, 12) x(x)
             |  WHERE f.f < g0.n AND y.y < g0.h AND x.x < g0.w),
             |cells AS (
             |  SELECT p.id, p.f, ky.k AS ky, kx.k AS kx,
             |    SUM(299 * ((idx * 37 + 11) % 256)
             |      + 587 * ((idx * 59 + 3) % 256)
             |      + 114 * ((idx * 83 + 7) % 256)) AS lum,
             |    ((ky.k + 1) * p.h // 9 - ky.k * p.h // 9)
             |      * ((kx.k + 1) * p.w // 9 - kx.k * p.w // 9) AS np
             |  FROM px p
             |  CROSS JOIN range(0, 9) ky(k)
             |  CROSS JOIN range(0, 9) kx(k)
             |  WHERE p.y >= ky.k * p.h // 9 AND p.y < (ky.k + 1) * p.h // 9
             |    AND p.x >= kx.k * p.w // 9 AND p.x < (kx.k + 1) * p.w // 9
             |  GROUP BY p.id, p.f, ky.k, kx.k, p.h, p.w),
             |grids AS (
             |  SELECT id, f,
             |    list(CAST(lum AS DOUBLE) / (np * 1000.0)
             |      ORDER BY ky * 9 + kx) AS garr
             |  FROM cells GROUP BY id, f),
             |slots AS (SELECT g0.id, s.s AS slot,
             |    LEAST(((2 * s.s + 1) * g0.n) // 10, g0.n - 1) AS f
             |  FROM g0 CROSS JOIN range(0, 5) s(s)),
             |fp AS (SELECT sl.id, sl.slot, gr.garr
             |       FROM slots sl JOIN grids gr
             |       ON sl.id = gr.id AND sl.f = gr.f)
             |SELECT id, CAST(slot AS INT) AS slot,
             |        $gifWords
             |FROM fp ORDER BY id, slot""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(col("doc_id")).as[Long]
          .flatMap { id =>
            val w = (9 + id % 4).toInt
            val h = (9 + id % 3).toInt
            val n = (1 + id % 3).toInt
            val pal = Array.tabulate(64)(i =>
              (((i * 37 + 11) % 256) << 16) |
                (((i * 59 + 3) % 256) << 8) | ((i * 83 + 7) % 256))
            val frames = (0 until n).map { f =>
              Gif.Frame(0, 0, w, h,
                Array.tabulate(w * h)(i =>
                  (((i % w) + 7L * (i / w) + 11L * f + id) % 64).toByte),
                interlaced = id % 2 == 1)
            }
            val p = Gif.encodeGif(w, h, pal, bg = 0, frames)
            val v = VideoHash.decodeVideo(p) match {
              case Right(ok) => ok
              case Left(why) => throw new IllegalStateException(
                s"q249: fixture gif for doc $id rejected: $why")
            }
            VideoHash.frameDiffs(v).zipWithIndex.map { case (diff, slot) =>
              val words = Array.tabulate(8) { k =>
                var word = 0L
                var b = 0
                while (b < 32) {
                  if (diff(32 * k + b) > 0) word |= 1L << b
                  b += 1
                }
                word
              }
              (id, slot, words(0), words(1), words(2), words(3),
                words(4), words(5), words(6), words(7))
            }
          }
          .toDF("id", "slot", "w0", "w1", "w2", "w3", "w4", "w5", "w6",
            "w7")
          .orderBy("id", "slot")
      })
  )
}
