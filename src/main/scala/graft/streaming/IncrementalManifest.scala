package graft.streaming

import graft.ops.{Contamination, Dedup, IndexLayout, Sampling}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Incremental (streaming) variant of the q95 training-data manifest:
  * documents arrive as a stream, each micro-batch runs the same
  * composition the batch manifest pins — length-window quality filter →
  * exact dedup against everything already admitted
  * ([[Dedup.bloomDeltaDedup]], so the accumulated corpus participates
  * only as a 16-byte hash index) → decontaminate against the static
  * benchmark slice → flag bench members out of the training set — and
  * appends its admissions to a state directory. [[manifest]] then
  * assigns the deterministic (shard, pos) training order over the
  * admitted union with [[Sampling.seededShuffle]].
  *
  * Semantics vs the batch manifest (q95): dedup is FIRST-SEEN-WINS
  * across micro-batches (within a batch it is min-id, same as batch).
  * When batches arrive in id order — the spec's split, and the normal
  * "ids grow with time" production layout — first-seen coincides with
  * global min-id and the incremental manifest over the union is
  * row-identical to the batch one (pinned in PipelineEndToEndSpec).
  * When ids arrive OUT of order, a later batch's smaller-id duplicate
  * is rejected against the prior index and first-seen diverges from the
  * batch manifest's min-id winner — which is why every batch also
  * writes an observation sidecar (per content hash, the minimum id seen
  * among quality-passing rows, admitted or rejected) and
  * [[repairedState]] re-elects min-id winners over the accumulated
  * observations. The repair never recomputes a verdict: `in_train` is
  * content-determined (same hash ⇒ same text ⇒ same quality,
  * decontamination, and bench-membership verdicts), so the hash's one
  * winner row carries the verdict for whichever id wins re-election.
  * Decontamination commutes with batching because containment is
  * row-local: a doc's verdict depends only on its own shingles and the
  * static bench, never on other corpus docs.
  *
  * Replay safety: each batch writes to `batch=<id>` with overwrite, and
  * the prior-index read EXCLUDES partitions >= the current batch id —
  * a failure-replayed batch therefore deduplicates against exactly the
  * state it saw the first time (its own half-written output can never
  * mask its input as "already seen") and overwrites its own partition
  * idempotently.
  *
  * 100 TB shape: per micro-batch work is O(|delta| + |index|) — the
  * bloom prefilter keeps the anti-join probe side to true duplicates
  * plus an fpp fraction, the admitted corpus never re-shuffles, and the
  * final (shard, pos) pass is the two-phase range-partition shape
  * ([[Sampling.seededShuffle]]), not a per-shard window funnel.
  */
object IncrementalManifest {

  private def stateSchema(idCol: String): StructType = StructType(Seq(
    StructField(idCol, LongType),
    StructField("content_hash", StructType(Seq(
      StructField("h1", LongType), StructField("h2", LongType)))),
    StructField("in_train", BooleanType),
    StructField("batch", LongType)))

  /** Admitted state so far: one row per dedup winner, `in_train` marking
    * manifest membership. Empty-safe (schema-stable before any batch).
    */
  def readState(spark: SparkSession, stateDir: String, idCol: String = "doc_id"): DataFrame =
    readOrEmpty(spark, stateDir, stateSchema(idCol))(df =>
      // partition-discovered `batch` arrives typed by inference; pin it
      df.select(col(idCol), col("content_hash"), col("in_train"),
        col("batch").cast("long").as("batch")))

  /** `dir` opened with the schema of its first data file's footer
    * ([[IndexLayout.dataSchema]], no Spark job) and projected by
    * `select`, or an empty frame of `empty` when it holds no data file
    * yet — told apart on the driver, so a first batch runs no failed
    * analysis. Only [[admitAndWrite]] writes these dirs, never a
    * streaming file sink.
    */
  private def readOrEmpty(spark: SparkSession, dir: String, empty: StructType)(
      select: DataFrame => DataFrame): DataFrame =
    IndexLayout.dataSchema(spark, dir) match {
      case Some(s) => select(spark.read.schema(s).parquet(dir))
      case None =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), empty)
    }

  /** One micro-batch's admissions: the batch-manifest composition over
    * `delta` with the accumulated `priorIndex` standing in for the
    * already-admitted corpus. Returns (idCol, content_hash, in_train).
    */
  def admitBatch(
      delta: DataFrame,
      bench: DataFrame,
      priorIndex: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minChars: Int = 150,
      maxChars: Int = 1500,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val filtered = delta.filter(col("n_chars").between(minChars, maxChars))
    val winners = Dedup.bloomDeltaDedup(filtered, priorIndex, idCol, Seq(textCol))
    val clean = Contamination.decontaminate(
      winners, bench, idCol, textCol, shingleN, threshold)
    winners
      .join(clean.select(col(idCol), lit(true).as("_graft_clean")), Seq(idCol), "left")
      .join(bench.select(col(idCol), lit(true).as("_graft_bench")), Seq(idCol), "left")
      .select(col(idCol),
        Dedup.contentHash128(Seq(col(textCol))).as("content_hash"),
        (coalesce(col("_graft_clean"), lit(false)) &&
          !coalesce(col("_graft_bench"), lit(false))).as("in_train"))
  }

  /** The observation sidecar lives next to the state dir, partitioned
    * identically so a replayed batch overwrites its own partition.
    */
  def obsDir(stateDir: String): String = stateDir + "_obs"

  /** Per-batch observations: for EVERY quality-passing row of the delta
    * — about to be admitted or rejected as a duplicate — the minimum id
    * seen per content hash. This is what [[repairedState]] elects over;
    * without it a smaller id arriving after its content was admitted is
    * simply gone. One row per distinct content per batch (O(|delta|)),
    * 17 bytes of payload each.
    */
  def observations(
      delta: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      minChars: Int = 150,
      maxChars: Int = 1500): DataFrame =
    delta.filter(col("n_chars").between(minChars, maxChars))
      .select(col(idCol), Dedup.contentHash128(Seq(col(textCol))).as("content_hash"))
      .groupBy("content_hash").agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("content_hash"))

  /** Accumulated observation sidecar (empty-safe, like [[readState]]). */
  def readObservations(
      spark: SparkSession, stateDir: String, idCol: String = "doc_id"): DataFrame =
    readOrEmpty(spark, obsDir(stateDir),
      StructType(stateSchema(idCol).fields.take(2)))(
      _.select(col(idCol), col("content_hash")))

  /** One batch's full state transition — the `foreachBatch` body of
    * [[start]], exposed so tests (and a non-streaming driver) run the
    * identical protocol: read prior index excluding partitions >= this
    * batch id, admit, then overwrite this batch's state AND observation
    * partitions. Both writes are idempotent under replay.
    */
  def admitAndWrite(
      delta: DataFrame,
      bench: DataFrame,
      stateDir: String,
      batchId: Long,
      idCol: String = "doc_id",
      textCol: String = "text",
      minChars: Int = 150,
      maxChars: Int = 1500,
      shingleN: Int = 3,
      threshold: Double = 0.5): Unit = {
    val spark = delta.sparkSession
    val prior = readState(spark, stateDir, idCol)
      .filter(col("batch") < lit(batchId))
      .select(col("content_hash"))
    // The SAME quality bounds feed admission and the sidecar: an
    // observation row exists iff the row could have been admitted, so
    // repair's electorate is defined by the admission predicate. A
    // driver passing custom bounds to admitBatch but defaults to
    // observations would get a sidecar that diverges from admission —
    // repair then silently mis-elects; threading them here makes that
    // mistake inexpressible through the public entry points.
    admitBatch(delta, bench, prior, idCol, textCol,
        minChars, maxChars, shingleN, threshold)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    observations(delta, idCol, textCol, minChars, maxChars)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"${obsDir(stateDir)}/batch=$batchId")
  }

  /** Start the incremental admission stream: every micro-batch of
    * `docs` is admitted against the state accumulated in `stateDir`.
    * `bench` must be a STATIC relation (the benchmark slice).
    */
  def start(
      docs: DataFrame,
      bench: DataFrame,
      stateDir: String,
      checkpointDir: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      trigger: Trigger = Trigger.AvailableNow(),
      minChars: Int = 150,
      maxChars: Int = 1500,
      shingleN: Int = 3,
      threshold: Double = 0.5): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        admitAndWrite(batch, bench, stateDir, batchId, idCol, textCol,
          minChars, maxChars, shingleN, threshold)
      }
      .start()

  /** Min-id re-election over the accumulated state + observations: the
    * compaction that repairs out-of-order arrival. Winner rows double as
    * observations, so a state dir written before the sidecar existed
    * (or with a lost sidecar partition) degrades to the first-seen
    * election instead of an empty result. One hash aggregation plus one
    * hash join on 16-byte keys — the same election shape as
    * [[Dedup.exact]], O(|state| + |observations|).
    */
  def repairedState(
      spark: SparkSession, stateDir: String, idCol: String = "doc_id"): DataFrame = {
    val winners = readState(spark, stateDir, idCol)
    // one winner row per hash ever admitted (prior-index exclusion), so
    // this join keys uniquely
    val verdicts = winners.select(col("content_hash"), col("in_train"))
    val seen = readObservations(spark, stateDir, idCol)
      .unionByName(winners.select(col(idCol), col("content_hash")))
    seen.groupBy("content_hash").agg(min(col(idCol)).as(idCol))
      .join(verdicts, Seq("content_hash"))
      .select(col(idCol), col("content_hash"), col("in_train"))
  }

  /** The training manifest over everything admitted so far — identical
    * schema and (shard, pos) assignment to the batch manifest (q95).
    * By DEFAULT the manifest is built over [[repairedState]] (min-id
    * re-election), which reproduces the batch manifest even when ids
    * arrived out of order — the production norm, and the sidecar it
    * needs is always maintained. `repair = false` keeps the raw
    * first-seen-wins election (cheaper by one 16-byte-key aggregation
    * + join; identical when arrival was id-ordered). Measured repair
    * overhead at sf0.1 (5,000 docs over 4 batches, ScaleProbe
    * `manifest_repair`): manifest build 0.27 s raw vs 0.49 s repaired —
    * the election rides on |state|+|obs| rows of 17-byte payload, not
    * on document text, and admission cost is unchanged.
    */
  def manifest(
      spark: SparkSession,
      stateDir: String,
      idCol: String = "doc_id",
      nShards: Int = 8,
      repair: Boolean = true): DataFrame = {
    val state =
      if (repair) repairedState(spark, stateDir, idCol)
      else readState(spark, stateDir, idCol)
    Sampling.seededShuffle(
        state.filter(col("in_train")).select(col(idCol)), idCol, nShards)
      .select(col(idCol), col("shard"), col("pos"))
  }
}
