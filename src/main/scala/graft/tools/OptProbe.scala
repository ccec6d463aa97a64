package graft.tools
import graft._
import graft.ops._
import org.apache.spark.sql.functions._

/** Round-17 optimization decomposition probe: per-phase wall times for
  * the heavy lifecycle operators (BM25/Hamming/NearDup index
  * build→delete→purge→probe, the coordinated upsert apply), so each
  * optimization's before/after attributes to the exact phase it
  * touches (guide §1: measure first, isolate the computation).
  */
object OptProbe {
  private def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[opt] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  /** Per-job wall decomposition: runs `f` under a listener that logs
    * each Spark job's duration and call site, so a multi-job operator
    * attributes its wall to exact code lines.
    */
  private def jobs[A](spark: org.apache.spark.sql.SparkSession,
      label: String)(f: => A): A = {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // the last stage's name carries the action's call site (e.g.
        // "parquet at CorpusUpsert.scala:379") — much better attribution
        // than callSite.short, which pool-thread jobs leave unset
        val site = j.stageInfos.lastOption.map(_.name).getOrElse(
          Option(j.properties.getProperty("callSite.short")).getOrElse("?"))
        starts.put(j.jobId, (System.nanoTime(),
          s"${j.stageInfos.size}st $site"))
      }
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(starts.get(j.jobId)).foreach { case (t0, cs) =>
          println(f"[job] $label%-12s #${j.jobId}%-4d ${(System.nanoTime() - t0) / 1e9}%7.3f s  $cs")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try t(label)(f)
    finally {
      Thread.sleep(500)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def clearRoot(root: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }

  private def tmp(tag: String): String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_optprobe", tag)
    clearRoot(p)
    p.toString
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which =
      if (args.length > 1) args(1).split(",").toSet else Set("all")
    def on(k: String) = which("all") || which(k)
    val spark = Sessions.local("optprobe", Sessions.cpusFromEnv(32))
    val d = Tables.load(spark, dir, "documents")
    val e = Tables.load(spark, dir, "embeddings")
    t("warmup docs+embs count") { d.count(); e.count() }

    // `q:<name>` entries: run the declared query end-to-end (count
    // sink, the Bench action) under the per-job listener — run twice,
    // the second run isolates steady-state from first-run codegen
    which.filter(_.startsWith("q:")).map(_.stripPrefix("q:")).foreach { qn =>
      val fn = SparkEntry.queries(qn)
      t(s"$qn run1") { fn(spark, dir).count() }
      jobs(spark, qn.take(12)) { fn(spark, dir).count() }
    }

    if (on("bm25")) {
      val root = tmp("bm25")
      t("bm25 build (plain)") {
        LexIndex.bm25WriteIndex(d, "doc_id", "text", root, buckets = 32)
      }
      t("bm25 delete 1/5") {
        LexIndex.Layout.delete(d.filter(col("doc_id") % 5 === 1),
          "doc_id", root)
      }
      jobs(spark, "bm25Purge") {
        LexIndex.Layout.purge(spark, root, "doc_id")
      }
      t("bm25 probe 3 terms") {
        LexIndex.bm25ProbeIndex(spark, root, "doc_id",
          Seq("vector", "join", "scan")).count()
      }
      t("bm25 probe again") {
        LexIndex.bm25ProbeIndex(spark, root, "doc_id",
          Seq("vector", "join", "scan")).count()
      }
      val rootP = tmp("bm25pos")
      t("bm25 build positional") {
        LexIndex.bm25WriteIndex(d, "doc_id", "text", rootP, buckets = 32,
          positional = true)
      }
      t("bm25 delete 1/7 (pos)") {
        LexIndex.Layout.delete(d.filter(col("doc_id") % 7 === 3),
          "doc_id", rootP)
      }
      t("phrase probe") {
        LexIndex.bm25PhraseProbe(spark, rootP, "doc_id",
          Seq("vector", "scan")).count()
      }
      t("proximity probe") {
        LexIndex.bm25ProximityProbe(spark, rootP, "doc_id",
          Seq("vector", "window"), 5).count()
      }
      // file-count audit of the built layout
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def nFiles(p: String): Int = {
        val path = new org.apache.hadoop.fs.Path(p)
        if (!fs.exists(path)) -1
        else {
          val it = fs.listFiles(path, true)
          var n = 0
          while (it.hasNext) { val f = it.next(); if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) n += 1 }
          n
        }
      }
      println(s"[opt] bm25 postings files after purge: ${nFiles(s"$root/postings")}")
      println(s"[opt] bm25pos postings files (fresh build): ${nFiles(s"$rootP/postings")}")
    }

    if (on("decomp")) {
      // compute-vs-write split of the map-only builds (noop sink per
      // guide §1.4 so the sink cost is excluded)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val dd = d.select("doc_id", "text")
      val sh = dd.select(col("doc_id"),
        TextFunctions.shingleSet(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      t("nd shingleSet compute (noop)") { noop(sh) }
      val bands = sh.select(col("doc_id"),
        explode(Dedup.lshBands(Dedup.minhashSignature(col("sh"), 32), 8, 4))
          .as("x"))
      t("nd shingle+minhash+bands (noop)") { noop(bands) }
      val spread = dd.repartition(col("doc_id"))
      val shS = spread.select(col("doc_id"),
        TextFunctions.shingleSet(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      val bandsS = shS.select(col("doc_id"),
        explode(Dedup.lshBands(Dedup.minhashSignature(col("sh"), 32), 8, 4))
          .as("x"))
      t("nd spread+minhash+bands (noop)") { noop(bandsS) }
      val q = VectorOps.binaryQuantize(e, "vec_id", "embedding")
        .select(col("vec_id"), col("code"),
          explode(sequence(lit(0), lit(7))).as("band"))
      t("ham quantize+explode (noop)") { noop(q) }
      val root = tmp("hamspread")
      t("ham build spread") {
        HammingIndex.hammingWriteIndex(e.repartition(col("vec_id")),
          "vec_id", "embedding", root, nBands = 8, nBuckets = 32)
      }
    }

    if (on("ham")) {
      val root = tmp("ham")
      jobs(spark, "hamBuild") {
        HammingIndex.hammingWriteIndex(e, "vec_id", "embedding", root,
          nBands = 8, nBuckets = 32)
      }
      println(s"[opt] ham bands files: ${
        {val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
           spark.sparkContext.hadoopConfiguration)
         val it = fs.listFiles(new org.apache.hadoop.fs.Path(root + "/bands"), true)
         var n = 0
         while (it.hasNext) { val f = it.next(); if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) n += 1 }
         n}}")
      t("ham delete 1/7") {
        HammingIndex.Layout.delete(
          e.filter(col("vec_id") % 7 === 3), "vec_id", root)
      }
      t("ham purge") {
        HammingIndex.Layout.purge(spark, root, "vec_id")
      }
      t("ham probe corpus r=15") {
        HammingIndex.hammingProbeIndex(spark, e, "vec_id", "embedding",
          root, radius = 15, pruneListing = false).count()
      }
    }

    if (on("nd")) {
      val root = tmp("nd")
      val dd = d.select("doc_id", "text")
      t("nd build half") {
        NearDupIndex.neardupWriteIndex(dd.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", root, shingleN = 3, numHashes = 32,
          bands = 8, nBuckets = 32, nDocBuckets = 16)
      }
      t("nd append half") {
        CorpusUpsert.NearDupTarget(root, "text")
          .append(dd.filter(col("doc_id") % 2 === 1), "doc_id")
      }
      t("nd probe corpus") {
        NearDupIndex.neardupProbeIndex(spark, dd, "doc_id", "text", root,
          threshold = 0.5, maxBucket = 1000, pruneDocLookup = false,
          pruneListing = false)
          .filter(col("q_id") < col("n_id")).count()
      }
    }

    if (on("knn")) {
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val base = VectorOps.kmeansCentroidsRefined(e, "embedding", 16, 4,
        42L, 4096, 0, 4096, 8)
      t("knn centroids (driver)") { base.length }
      val c = e.withColumn("dv", col("embedding"))
        .withColumn("nrm", VectorOps.l2Norm(col("dv")))
        .filter(col("nrm") > 0)
        .withColumn("cluster",
          graft.functions.GraftFunctions.nearestCentroid(
            col("dv"), col("nrm"), base))
      t("knn corpus assign (noop)") { noop(c) }
      t("knn corpus assign again") { noop(c) }
      val q = e.select(col("vec_id").as("q_id"),
          col("embedding").as("qv"))
        .withColumn("qn", VectorOps.l2Norm(col("qv")))
        .filter(col("qn") > 0)
        .select(col("q_id"), col("qv"), col("qn"),
          explode(graft.functions.GraftFunctions.nearestCentroids(
            col("qv"), col("qn"), base, 4)).as("cluster"))
      t("knn query probes (noop)") { noop(q) }
      val scored = q.join(
        c.select(col("cluster"), col("vec_id").as("n_id"),
          col("dv").as("nv"), col("nrm").as("nn")), Seq("cluster"))
        .filter(col("q_id") =!= col("n_id"))
        .select(col("q_id"), col("n_id"),
          round(VectorOps.dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
            .as("cosine"))
      t("knn join+cosine (noop)") { noop(scored) }
      val byScore = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("cosine").desc, col("n_id"))
      t("knn full with window (noop)") {
        noop(scored.withColumn("rank", row_number().over(byScore))
          .filter(col("rank") <= 5))
      }
    }

    if (on("clf")) Ckpt.scope {
      val labels = d.select(col("doc_id"),
        when(TextAnalysis.qualityScoreCol(col("text")) >= 0.65, 1.0)
          .otherwise(0.0).as("y"))
      val feats = Ckpt.cache(Classifier.hashedFeatures(d, "doc_id", "text",
        dim = 1 << 15))
      val isTrain = col("doc_id") % 5 =!= 0
      t("clf features cache") { feats.count() }
      val w = jobs(spark, "clfTrain16") {
        Classifier.trainLogReg(feats.filter(isTrain),
          labels.filter(isTrain), "doc_id", iters = 16, lr = 2.0)
      }
      t("clf score+buckets") {
        Classifier.scoreLogReg(feats.filter(!isTrain), w, "doc_id")
          .join(labels, Seq("doc_id"))
          .select(least(floor(col("p") * 10), lit(9L)).cast("long")
            .as("bucket"), col("y"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"))
          .count()
      }
    }

    if (on("pr")) {
      val o = Tables.load(spark, dir, "orders")
      val l = Tables.load(spark, dir, "lineitem")
      val edges = o.join(l, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
      jobs(spark, "pagerank5") {
        GraphOps.pageRank(edges, "src", "dst", iterations = 5).count()
      }
    }

    if (on("gate")) {
      val root = tmp("gate")
      val c = d.select("doc_id", "text")
      t("gate build corpus") {
        NearDupIndex.neardupWriteIndex(c, "doc_id", "text", root,
          shingleN = 3, numHashes = 32, bands = 8, nBuckets = 32,
          nDocBuckets = 16)
      }
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
        .unionByName(c.filter(col("doc_id") % 10 === 2)
          .select((col("doc_id") + off).as("doc_id"), nbText.as("text")))
      jobs(spark, "dedupGate") {
        NearDupIndex.dedupGate(batch, "doc_id", "text", root,
          threshold = 0.5, maxBucket = 1000).count()
      }
    }

    if (on("upsert")) {
      val root = tmp("ups")
      val rid = CorpusUpsert.RidCol
      val corpus0 = d.select(col("doc_id"), col("text"))
        .join(e.select(col("vec_id").as("doc_id"), col("embedding")),
          Seq("doc_id"))
      val revised = corpus0.filter(col("doc_id") % 6 === 2)
        .select(col("doc_id"),
          concat(col("text"), lit(" graftrev")).as("text"),
          transform(col("embedding"), x => -x).as("embedding"))
      val (upsRoot, bm25P, hamP) = (s"$root/ups", s"$root/bm25", s"$root/ham")
      t("upsert bootstrap (2 empty writes)") {
        LexIndex.bm25WriteIndex(
          corpus0.select(col("doc_id").as(rid), col("text")).limit(0),
          rid, "text", bm25P, buckets = 32)
        HammingIndex.hammingWriteIndex(
          corpus0.select(col("doc_id").as(rid), col("embedding")).limit(0),
          rid, "embedding", hamP, nBands = 8, nBuckets = 8, dim = 64)
      }
      val targets = Seq(
        CorpusUpsert.Bm25Target(bm25P, "text"),
        CorpusUpsert.HammingTarget(hamP, "embedding"))
      t("applyBatch base") {
        CorpusUpsert.applyBatch(corpus0, "doc_id", "base", upsRoot, targets)
      }
      jobs(spark, "applyRev1") {
        CorpusUpsert.applyBatch(revised, "doc_id", "rev1", upsRoot, targets)
      }
      t("deleteDocs 1/10") {
        CorpusUpsert.deleteDocs(
          corpus0.filter(col("doc_id") % 10 === 2).select("doc_id"),
          "doc_id", upsRoot, targets)
      }
      t("bm25 probe post-upsert") {
        LexIndex.bm25ProbeIndex(spark, bm25P, rid,
          Seq("vector", "join", "scan")).count()
      }
      val finalQ = corpus0.filter(col("doc_id") % 6 =!= 2)
        .unionByName(revised)
        .select(col("doc_id").as(rid), col("embedding"))
      t("ham probe post-upsert") {
        HammingIndex.hammingProbeIndex(spark, finalQ, rid, "embedding",
          hamP, radius = 15, pruneListing = false).count()
      }
    }

    // q245's body with per-phase walls: 3-batch BM25 upsert chain +
    // takedown + as-of/live probes — the round-18 lifecycle target.
    if (on("asof")) {
      val root = tmp("asof")
      val rid = CorpusUpsert.RidCol
      val base = d.select(col("doc_id"), col("text"))
      val b1 = base.filter(col("doc_id") % 6 === 2)
        .select(col("doc_id"), concat(col("text"), lit(" s1")).as("text"))
      val b2 = base.filter(col("doc_id") % 12 === 2)
        .select(col("doc_id"), concat(col("text"), lit(" s2")).as("text"))
      val (upsRoot, bm25P) = (s"$root/ups", s"$root/bm25")
      t("asof bootstrap") {
        LexIndex.bm25WriteIndex(
          base.select(col("doc_id").as(rid), col("text")).limit(0),
          rid, "text", bm25P, buckets = 32)
      }
      val targets = Seq(CorpusUpsert.Bm25Target(bm25P, "text"))
      jobs(spark, "applyB0") {
        CorpusUpsert.applyBatch(base, "doc_id", "b0", upsRoot, targets)
      }
      jobs(spark, "applyB1") {
        CorpusUpsert.applyBatch(b1, "doc_id", "b1", upsRoot, targets)
      }
      t("asof applyBatch b2") {
        CorpusUpsert.applyBatch(b2, "doc_id", "b2", upsRoot, targets)
      }
      jobs(spark, "deleteDocs") {
        CorpusUpsert.deleteDocs(
          base.filter(col("doc_id") % 10 === 8).select("doc_id"),
          "doc_id", upsRoot, targets)
      }
      val terms = Seq("vector", "join", "scan")
      jobs(spark, "asofProbe") {
        LexIndex.bm25ProbeRids(spark, bm25P, rid, terms,
          CorpusUpsert.asOfRids(spark, upsRoot, Seq("b0", "b1"), bm25P))
          .count()
      }
      jobs(spark, "liveProbe") {
        LexIndex.bm25ProbeIndex(spark, bm25P, rid, terms).count()
      }
      jobs(spark, "revsAsOf") {
        CorpusUpsert.revsAsOf(spark, upsRoot, Seq("b0", "b1")).count()
      }
      jobs(spark, "changes") {
        CorpusUpsert.changesBetween(spark, upsRoot,
          Seq("b0"), Seq("b0", "b1", "b2")).count()
      }
    }

    spark.stop()
  }
}
