package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for compressed-domain similarity search —
  * the memory side of the vector-store story the IVF family
  * (ivfTopK/ivfWriteIndex/ivfKnnJoin) leaves open. Vectors are unit-
  * normalized (cosine rank ≡ L2 rank on the sphere, the engine's
  * similarity contract), split into `m` subspaces, and each subspace
  * slice is replaced by the index of its nearest sub-centroid: a
  * dim-float vector becomes `m` small codes (dim=64 floats = 256 B →
  * 8 codes ≈ 8 B at m=8, a 32× scan/memory compression). Queries score
  * candidates with asymmetric distance computation (ADC): one tiny
  * per-query lookup table of (subspace × centroid) partial distances,
  * then each candidate costs `m` table lookups — no float vector is
  * ever touched at scan time.
  *
  * 100 TB shape: training is the same bounded driver pattern as
  * [[VectorOps.kmeansCentroids]] (a 4096-row seeded hash-ordered
  * sample is the ONLY collect; sub-codebooks are m·k·subDim doubles —
  * literals in every later plan). Encoding is map-only. The ADC scan
  * reads the codes column only (column pruning does the rest) and the
  * LUT rides the plan as a literal — the compressed corpus is what
  * shuffles, spills, and caches. Composition with the IVF cut
  * (encode per cluster partition, probe nProbe partitions in
  * compressed domain — classic IVF-PQ) follows from the existing
  * pieces; the approximation is recall-gated in PqSpec exactly like
  * SRP and IVF.
  */
object Pq {

  /** `cents(i)(j)` = centroid j of subspace i (length `subDim`). */
  case class PqModel(m: Int, subDim: Int, cents: Array[Array[Array[Double]]])

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Deterministic driver Lloyd over a (hash-ordered) sample: seeds are
    * the first k sample points, empty clusters keep their previous
    * centroid. Pure sequential double math on deterministically ordered
    * input — bit-identical on any machine.
    */
  private def localKmeans(
      points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    require(points.length >= k,
      s"PQ training sample (${points.length}) smaller than codebook ($k)")
    val d = points.head.length
    var cents = points.take(k).map(_.clone)
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val cnt = new Array[Long](k)
      for (p <- points) {
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          val dist = sqDist(p, cents(c))
          if (dist < bd) { bd = dist; best = c }
          c += 1
        }
        cnt(best) += 1
        var i = 0
        while (i < d) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(k) { c =>
        if (cnt(c) == 0) cents(c)
        else Array.tabulate(d)(i => sums(c)(i) / cnt(c))
      }
    }
    cents
  }

  /** Unit-normalized double vector, zero-norm rows excluded upstream —
    * used by the HOF parity reference ([[codesColComposable]] takes the
    * already-normalized vector; the native kernel normalizes inside).
    */
  private[ops] def unitVec(df: DataFrame, vecCol: String): Column = {
    val dv = VectorOps.toDoubleVec(col(vecCol))
    transform(dv, x => x / VectorOps.l2Norm(dv))
  }

  /** Train `m` sub-codebooks of `codebook` centroids each over a seeded
    * sample. Requires the dimension to split evenly into `m` subspaces.
    */
  def pqTrain(
      df: DataFrame,
      vecCol: String,
      m: Int = 8,
      codebook: Int = 16,
      iters: Int = 8,
      seed: Long = 42L,
      sampleRows: Int = 4096): PqModel = {
    val dv = VectorOps.toDoubleVec(col(vecCol))
    val sample = df
      .select(dv.as("v"))
      .filter(size(col("v")) > 0 && VectorOps.l2Norm(col("v")) > 0)
      .select(transform(col("v"), x => x / VectorOps.l2Norm(col("v"))).as("v"))
      .orderBy(xxhash64(col("v"), lit(seed)))
      .limit(sampleRows)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "pqTrain: empty corpus (or all zero-norm vectors)")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTrain: dim $dim does not split into $m subspaces")
    val subDim = dim / m
    val cents = Array.tabulate(m) { i =>
      localKmeans(sample.map(_.slice(i * subDim, (i + 1) * subDim)), codebook, iters)
    }
    PqModel(m, subDim, cents)
  }

  private def flatCodebook(model: PqModel): Array[Double] =
    model.cents.flatten.flatten

  private def flatLut(model: PqModel, unitQuery: Array[Double]): Array[Double] =
    Array.tabulate(model.m * model.cents.head.length) { idx =>
      val i = idx / model.cents.head.length
      val c = idx % model.cents.head.length
      sqDist(unitQuery.slice(i * model.subDim, (i + 1) * model.subDim),
        model.cents(i)(c))
    }

  /** The m per-subspace argmin codes of the RAW vector column (unit
    * normalization happens inside): the native codegen'd
    * `graft_pq_codes` kernel — codebook rides as one flat double[]
    * reference. NULL for malformed/zero-norm vectors.
    */
  private def codesCol(vec: Column, model: PqModel): Column =
    graft.functions.GraftFunctions.pqCodes(
      vec, flatCodebook(model), model.m, model.subDim)

  /** ADC distance of a codes column against a per-query LUT — the
    * native `graft_pq_adc` kernel.
    */
  private def adcCol(codes: Column, model: PqModel, unitQuery: Array[Double]): Column =
    graft.functions.GraftFunctions.pqAdc(
      codes, flatLut(model, unitQuery), model.m)

  /** Reference HOF formulations — the semantics `graft_pq_codes` /
    * `graft_pq_adc` are pinned bit-identical against (PqSpec parity
    * case); never on a production path: the interpreted lambdas + per
    * row array churn measured 1.6 ms/row at (m=8, k=16, dim=64), 69 of
    * the 64×-probe's 80 s.
    */
  private[ops] def codesColComposable(unit: Column, model: PqModel): Column = {
    val codeCols = (0 until model.m).map { i =>
      val sl = slice(unit, i * model.subDim + 1, model.subDim)
      val centsLit = typedLit(model.cents(i).map(_.toSeq).toSeq)
      val ds = transform(centsLit, c =>
        aggregate(zip_with(sl, c, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
      (array_position(ds, array_min(ds)) - 1).cast("int")
    }
    array(codeCols: _*)
  }

  private[ops] def adcColComposable(
      codes: Column, model: PqModel, unitQuery: Array[Double]): Column = {
    val lut: Seq[Seq[Double]] = (0 until model.m).map { i =>
      val sl = unitQuery.slice(i * model.subDim, (i + 1) * model.subDim)
      model.cents(i).map(c => sqDist(sl, c)).toSeq
    }
    val lutLit = typedLit(lut)
    aggregate(
      sequence(lit(0), lit(model.m - 1)),
      lit(0.0),
      (acc, i) => acc +
        element_at(element_at(lutLit, (i + 1).cast("int")),
          element_at(codes, (i + 1).cast("int")) + 1))
  }

  private def unitQueryArr(query: Seq[Double], model: PqModel): Array[Double] = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    require(qn > 0, "PQ query vector has zero norm")
    require(query.length == model.m * model.subDim,
      s"PQ query dim ${query.length} != ${model.m * model.subDim}")
    query.map(_ / qn).toArray
  }

  /** Map-only encoding: (id, codes array<int>); malformed and zero-norm
    * rows drop out (the kernel nulls them — no direction → no code).
    */
  def pqEncode(
      df: DataFrame, idCol: String, vecCol: String, model: PqModel): DataFrame =
    df.select(col(idCol), codesCol(col(vecCol), model).as("codes"))
      .filter(col("codes").isNotNull)

  /** ADC top-k over an encoded corpus: the per-query LUT is driver math
    * over the tiny model, rides the plan as a literal, and each row
    * costs `m` lookups over its codes — ascending approximate squared
    * L2 on the unit sphere ≡ descending approximate cosine.
    */
  def pqTopK(
      encoded: DataFrame,
      model: PqModel,
      idCol: String,
      query: Seq[Double],
      k: Int): DataFrame = {
    val q = unitQueryArr(query, model)
    encoded
      .select(col(idCol), round(adcCol(col("codes"), model, q), 6).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------ IVF-PQ

  /** Persist an IVF-PQ index: the [[VectorOps.ivfWriteIndex]] layout
    * (id, dv, nrm) partitioned by the frozen-centroid cluster, PLUS the
    * codes column — so a probe prunes to nProbe `cluster=` directories,
    * ADC-shortlists reading ONLY (id, codes) (parquet column pruning:
    * the float vectors in the same files are never decoded), and
    * reranks just the shortlist against the exact vectors. The classic
    * IVF-PQ composition, from the existing pieces: routing and layout
    * are [[VectorOps]]'s, compression is [[Pq]]'s.
    */
  def pqIvfWriteIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      model: PqModel,
      centroids: Array[Array[Double]]): Unit = {
    require(centroids.nonEmpty, "pqIvfWriteIndex: empty centroid table")
    VectorOps.Clusters.write(codedRows(df, idCol, vecCol, model, centroids),
      path)
  }

  /** The compressed family's delta writer, behind
    * [[CorpusUpsert.PqIvfTarget]] (every append door):
    * [[VectorOps.ivfWriteDelta]] plus the frozen-model PQ codes (same
    * null-codes drop contract as every PQ write).
    */
  private[ops] def pqIvfWriteDelta(
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      stagePath: String,
      model: PqModel,
      centroids: Array[Array[Double]]): Unit = {
    require(centroids.nonEmpty, "PqIvfTarget: empty centroid table")
    VectorOps.writeClusterRows(
      codedRows(delta, idCol, vecCol, model, centroids),
      indexPath, stagePath, centroids.length)
  }

  /** (id, codes, dv, nrm, cluster) under the frozen centroids and model,
    * with pqEncode's drop contract: a row the kernel can't code (model
    * dim ≠ corpus dim, zero norm) must not reach the index — a NULL
    * adist would sort NULLS FIRST ahead of every real candidate in the
    * shortlist.
    */
  private def codedRows(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      model: PqModel,
      centroids: Array[Array[Double]]): DataFrame =
    VectorOps.assignClusters(df, vecCol, VectorOps.indexedCents(centroids))
      .select(col(idCol), codesCol(col("dv"), model).as("codes"),
        col("dv"), col("nrm"), col("cluster"))
      .filter(col("codes").isNotNull)

  /** Stage 1 of the probe, exposed for plan inspection: the pruned ADC
    * scan — (id, adist) over the query's nProbe clusters, reading only
    * the codes column of the index files.
    */
  def pqIvfShortlist(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      model: PqModel,
      centroids: Array[Array[Double]],
      idCol: String,
      query: Seq[Double],
      rows: Int,
      nProbe: Int): DataFrame =
    pqIvfShortlistFrom(VectorOps.ivfOpenIndex(spark, path, idCol), model,
      centroids, idCol, query, rows, nProbe)

  /** [[pqIvfShortlist]] over an ALREADY-OPENED index relation: a query
    * workload opens [[VectorOps.ivfOpenIndex]] once and probes it many
    * times, paying the partition-directory listing once instead of per
    * probe. At nClusters ~ N the listing is O(nClusters) driver work —
    * ScaleProbe `ivfpq_probe` measures cold (path API) 1603 ms vs warm
    * (opened handle) 178 ms at 1024 clusters/64× corpus, against
    * 182/117 ms at 1×: the pruned compressed scan is near-FLAT, the
    * listing is the whole cold gap.
    */
  def pqIvfShortlistFrom(
      index: DataFrame,
      model: PqModel,
      centroids: Array[Array[Double]],
      idCol: String,
      query: Seq[Double],
      rows: Int,
      nProbe: Int): DataFrame =
    shortlistOverProbes(index, model, idCol, query,
      routeProbes(centroids, query, nProbe), rows)

  /** The query's nProbe cluster ids — routed ONCE per probe and shared
    * by the shortlist and rerank stages, so the two pruned scans cannot
    * drift apart.
    */
  private def routeProbes(
      centroids: Array[Array[Double]], query: Seq[Double], nProbe: Int): Seq[Int] = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    VectorOps.probeClusters(
      VectorOps.indexedCents(centroids), query, qNorm, nProbe)
  }

  private def shortlistOverProbes(
      index: DataFrame,
      model: PqModel,
      idCol: String,
      query: Seq[Double],
      probes: Seq[Int],
      rows: Int): DataFrame = {
    val q = unitQueryArr(query, model)
    index
      .filter(col("cluster").isin(probes: _*))
      // belt for indexes written before pqIvfWriteIndex dropped
      // uncodable rows (NULL adist would rank NULLS FIRST)
      .filter(col("codes").isNotNull)
      .select(col(idCol), round(adcCol(col("codes"), model, q), 6).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(rows)
  }

  /** IVF-PQ probe: partition-pruned ADC shortlist (`overFetch`·k rows,
    * compressed domain) + exact cosine rerank of just the shortlist
    * (the second, equally pruned read decodes dv/nrm only for the
    * broadcast-joined shortlist ids). Same result as the exact
    * [[VectorOps.ivfProbeIndex]] whenever the shortlist covers the true
    * top-k — PqSpec pins that identity at full over-fetch and the
    * recall contract at 3×.
    */
  def pqIvfProbe(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      model: PqModel,
      centroids: Array[Array[Double]],
      idCol: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 3): DataFrame =
    pqIvfProbeFrom(VectorOps.ivfOpenIndex(spark, path, idCol), model,
      centroids, idCol, query, k, nProbe, overFetch)

  /** [[pqIvfProbe]] over an already-opened index relation (one
    * partition listing amortized over the workload — see
    * [[pqIvfShortlistFrom]]); both probe stages reuse the same handle.
    * Open it through [[VectorOps.ivfOpenIndex]] (not a raw parquet
    * read) so tombstoned deletes stay excluded on the warm path.
    */
  def pqIvfProbeFrom(
      index: DataFrame,
      model: PqModel,
      centroids: Array[Array[Double]],
      idCol: String,
      query: Seq[Double],
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 3): DataFrame = {
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val probes = routeProbes(centroids, query, nProbe)
    val shortlist = shortlistOverProbes(
      index, model, idCol, query, probes, overFetch * k)
    index
      .filter(col("cluster").isin(probes: _*))
      .join(broadcast(shortlist.select(col(idCol))), Seq(idCol))
      .select(col(idCol),
        round(VectorOps.dot(col("dv"), lit(query.toArray)) /
          (col("nrm") * lit(qNorm)), 6).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** BATCH IVF-PQ retrieval — [[VectorOps.ivfProbeJoin]]'s
    * query-RELATION shape for the COMPRESSED index: top-`k` exact
    * cosine for every query in one pass through the two-stage
    * shortlist-then-rerank plan [[pqIvfProbe]] runs per query.
    *
    *   1. each query builds its own ADC LUT in one map-only pass (the
    *      native [[graft.functions.PqLut]] kernel — m·k doubles per
    *      QUERY row, never touched per corpus row) and routes to its
    *      `nProbe` clusters (native top-n centroids; hier routing past
    *      `hierThreshold`);
    *   2. ONE pruned scan of the union of probed clusters (file-listing
    *      prune, tombstones excluded on the slice);
    *   3. compressed-domain shortlist: the cluster-keyed join scores
    *      `codes` against the query's LUT column via the native
    *      [[graft.functions.PqAdcPair]] kernel — same rounding and
    *      (adist, id) tie order as the per-query probe — keeping
    *      `overFetch·k` per query via WindowGroupLimit;
    *   4. exact rerank: the shortlist joins back to the SAME pruned
    *      slice for dv/nrm, per-query top-k by (cosine desc, id).
    *
    * Exact whenever the shortlist covers the true top-k (identical to
    * [[pqIvfProbe]] per query — PqSpec pins the batch ≡ per-query
    * identity and the full-over-fetch exactness); scored work per
    * query is nProbe × expected-cluster-size ADC lookups (compressed
    * domain) plus overFetch·k exact dots.
    */
  /** `rids = Some(idSet)` runs the retrieval over a SNAPSHOT — the
    * [[VectorOps.ivfProbeJoin]] rids contract verbatim (cut BEFORE the
    * shortlist window AND the rerank, tombstoned rows kept as history,
    * the same no-side-ledger purge caveat).
    */
  def pqIvfProbeJoin(
      queries: DataFrame,
      path: String,
      model: PqModel,
      centroids: Array[Array[Double]],
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 3,
      hierThreshold: Int = 4096,
      coarseProbes: Int = 8,
      rids: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    require(k >= 1, s"pqIvfProbeJoin: k=$k must be >= 1")
    require(nProbe >= 1, s"pqIvfProbeJoin: nProbe=$nProbe must be >= 1")
    require(overFetch >= 1, s"pqIvfProbeJoin: overFetch=$overFetch must be >= 1")
    require(centroids.nonEmpty, "pqIvfProbeJoin: empty centroid table")
    import org.apache.spark.sql.expressions.Window
    val kCents = model.cents.head.length
    val qBase = queries
      .select(col(idCol).as("q_id"), VectorOps.rawVec(queries, vecCol).as("qv"))
      .withColumn("qn", VectorOps.l2Norm(col("qv")))
      .filter(col("qn") > 0)
      .withColumn("lut", graft.functions.GraftFunctions.pqLut(
        col("qv"), flatCodebook(model), model.m, model.subDim))
      .filter(col("lut").isNotNull) // uncodable queries drop, like zero-norm
    // routing + pruned slice shared with the exact join — one
    // definition, the two paths can never diverge
    val q = VectorOps.routeProbeExplode(qBase, centroids, nProbe,
      hierThreshold, coarseProbes)
      .select(col("q_id"), col("lut"), col("cluster"))
    val slice = VectorOps.probedSlice(spark, path, idCol, q, rids)
    val byAdist = Window.partitionBy("q_id")
      .orderBy(col("adist"), col(idCol))
    val shortlist = slice
      .filter(col("codes").isNotNull) // pre-drop-contract indexes
      .join(q, Seq("cluster"))
      .select(col("q_id"), col(idCol),
        round(graft.functions.GraftFunctions.pqAdcPair(
          col("codes"), col("lut"), model.m, kCents), 6).as("adist"))
      .withColumn("srank", row_number().over(byAdist))
      .filter(col("srank") <= overFetch * k)
      .select("q_id", idCol)
    val byScore = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("n_id"))
    slice
      .join(shortlist, Seq(idCol))
      .join(qBase.select("q_id", "qv", "qn"), Seq("q_id")) // query-scale
      .select(col("q_id"), col(idCol).as("n_id"),
        round(VectorOps.dot(col("qv"), col("dv")) /
          (col("qn") * col("nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= k)
  }
}
