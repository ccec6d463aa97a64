package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distribution-drift monitoring between two corpus snapshots — the
  * release-over-release health check that catches a filter change or
  * upstream shift moving the data before it moves the model.
  */
object Drift {

  /** Population Stability Index report over a numeric column, bucketed
    * at fixed width: one row per bucket present in EITHER snapshot with
    * both counts, both shares, and the bucket's PSI contribution
    * `(p − q)·ln(p/q)` (shares floored at `eps` so one-sided buckets
    * contribute a large-but-finite term — the standard smoothing; PSI
    * itself is Σ contrib, derivable from the relation). Fixed-width
    * `floor(value/binWidth)` buckets rather than quantile edges keep
    * the report deterministic and engine-replayable — drift of the
    * EDGES is exactly what quantile binning would hide.
    *
    * Folk thresholds (credit-scoring lineage): < 0.1 stable, 0.1–0.25
    * watch, > 0.25 shifted.
    *
    * Scale shape: one map-side-combined bucket count per snapshot
    * (bucket cardinality = value range / binWidth, vocabulary-bound),
    * a bucket-keyed full-outer join of the two tiny histograms, then
    * map-only share/contrib arithmetic — corpus rows are touched
    * exactly once per side.
    */
  def psiReport(
      old: DataFrame,
      neu: DataFrame,
      valueCol: String,
      binWidth: Double,
      eps: Double = 1e-6): DataFrame = {
    require(binWidth > 0, s"binWidth=$binWidth must be > 0")
    require(eps > 0 && eps < 1, s"eps=$eps must be in (0, 1)")
    psiRelation(hist(old, valueCol, binWidth, "n_old"),
      hist(neu, valueCol, binWidth, "n_new"), eps)
  }

  private def hist(df: DataFrame, valueCol: String, binWidth: Double,
      cnt: String): DataFrame = df
    .select(floor(col(valueCol).cast("double") / lit(binWidth))
      .cast("long").as("bucket"))
    .groupBy("bucket").agg(count(lit(1)).as(cnt))

  /** The shared arithmetic stage over two (bucket, count) histograms —
    * [[psiReport]]'s back half, also fed from the persisted layout by
    * [[psiFromStats]] so the batch and monitored paths can never
    * diverge.
    */
  private def psiRelation(o: DataFrame, n: DataFrame, eps: Double): DataFrame = {
    val totO = o.agg(sum("n_old").as("t_old"))
    val totN = n.agg(sum("n_new").as("t_new"))
    def share(c: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column) =
      greatest(c.cast("double") / t.cast("double"), lit(eps))
    o.join(n, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_old", "n_new"))
      .crossJoin(broadcast(totO)).crossJoin(broadcast(totN))
      .select(col("bucket"),
        col("n_old").cast("long").as("n_old"),
        col("n_new").cast("long").as("n_new"),
        round(share(col("n_old"), col("t_old")), 6).as("p_old"),
        round(share(col("n_new"), col("t_new")), 6).as("p_new"),
        round((share(col("n_old"), col("t_old")) - share(col("n_new"), col("t_new")))
            * log(share(col("n_old"), col("t_old")) / share(col("n_new"), col("t_new"))),
          6).as("psi_contrib"))
  }

  /** Freeze the REFERENCE side of a monitored PSI under `path`:
    * `ref/` holds the reference histogram, `meta/` the bucket geometry
    * (binWidth, eps), `obs/` starts empty and accumulates ADDITIVE
    * (bucket, n) rows ([[psiObserved]]), one published batch at a
    * time ([[graft.streaming.DriftStream]]).
    */
  def psiWriteRef(
      ref: DataFrame,
      valueCol: String,
      binWidth: Double,
      path: String,
      eps: Double = 1e-6): Unit = {
    require(binWidth > 0, s"binWidth=$binWidth must be > 0")
    require(eps > 0 && eps < 1, s"eps=$eps must be in (0, 1)")
    import ref.sparkSession.implicits._
    Seq((binWidth, eps)).toDF("binWidth", "eps")
      .write.mode("overwrite").parquet(s"$path/meta")
    hist(ref, valueCol, binWidth, "n").write.mode("overwrite")
      .parquet(s"$path/ref")
    hist(ref.limit(0), valueCol, binWidth, "n").write.mode("overwrite")
      .parquet(s"$path/obs")
  }

  /** One observed batch's `obs/` rows: its bucket counts under the
    * geometry persisted at `path` (additive rows — never
    * read-modify-write).
    */
  private[graft] def psiObserved(
      batch: DataFrame, valueCol: String, path: String): DataFrame = {
    val binWidth = IndexLayout.readDir(batch.sparkSession, s"$path/meta")
      .select("binWidth").head().getDouble(0)
    hist(batch, valueCol, binWidth, "n")
  }

  /** The monitored PSI report: reference histogram vs everything the
    * observation side has accumulated — identical arithmetic (and
    * identical output relation) to running [[psiReport]] over the raw
    * snapshots, which DriftSpec pins stream-vs-batch.
    */
  def psiFromStats(spark: SparkSession, path: String): DataFrame = {
    val eps = IndexLayout.readDir(spark, s"$path/meta")
      .select("eps").head().getDouble(0)
    val o = IndexLayout.readDir(spark, s"$path/ref")
      .groupBy("bucket").agg(sum("n").as("n_old"))
    val n = IndexLayout.readDir(spark, s"$path/obs")
      .groupBy("bucket").agg(sum("n").as("n_new"))
    psiRelation(o, n, eps)
  }

  /** Embedding-space drift between two release slices: per group, the
    * cosine between the slices' mean vectors (plus both sample sizes)
    * — the semantic companion to [[psiReport]]'s scalar-distribution
    * view: an embedding model swap, a scraper language shift, or a
    * contaminated slice moves a group's centroid long before scalar
    * stats notice. Cosine near 1 = stable; the monitored threshold is
    * the caller's policy. Groups missing from either side drop (no
    * drift is measurable one-sided); zero-norm centroids yield NULL
    * rather than a division blow-up.
    *
    * Scale shape: each side is one [[VectorOps.meanPool]] hash agg
    * (native `graft_vec_sum` partials — the exchange carries
    * group-count × dim doubles, never vectors-per-row) plus a count
    * agg the same exchange serves; the final joins and the cosine are
    * group-cardinality-scale.
    */
  def embeddingDrift(
      base: DataFrame,
      current: DataFrame,
      groupCol: String,
      vecCol: String): DataFrame = {
    val ca = VectorOps.meanPool(base, groupCol, vecCol)
      .withColumnRenamed("centroid", "_ca")
    val cb = VectorOps.meanPool(current, groupCol, vecCol)
      .withColumnRenamed("centroid", "_cb")
    def counts(df: DataFrame, as: String) = df
      .filter(col(vecCol).isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).as(as))
    val la = VectorOps.l2Norm(col("_ca"))
    val lb = VectorOps.l2Norm(col("_cb"))
    ca.join(cb, Seq(groupCol))
      .join(counts(base, "n_base"), Seq(groupCol))
      .join(counts(current, "n_current"), Seq(groupCol))
      .select(col(groupCol), col("n_base"), col("n_current"),
        round(when(la > 0 && lb > 0,
          VectorOps.dot(col("_ca"), col("_cb")) / (la * lb)), 6)
          .as("centroid_cos"))
  }
}
