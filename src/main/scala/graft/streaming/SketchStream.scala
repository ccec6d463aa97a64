package graft.streaming

import graft.ops.Sketches
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of a persisted HLL sketch table
  * ([[graft.ops.Sketches]]): each micro-batch appends its own
  * per-group partial-sketch ROWS (additive rows — never
  * read-modify-write) through the shared keyed publish
  * ([[VectorIndexStream.publishBatch]]), so a batch lands exactly
  * once across redelivery and crash retries.
  * Readers roll the partials up with `hll_union_agg`
  * ([[Sketches.readSketchTable]]); union is lossless at equal lgK, so
  * a stream-built table answers every rollup identically to a batch
  * build over the same rows — SketchesSpec pins stream ≡ batch and
  * redelivery idempotence. Rows per group grow by one per batch;
  * [[graft.ops.Compaction.compactDirs]] folds file litter without
  * touching row semantics.
  */
object SketchStream {

  /** Publish one micro-batch's partial sketches unless its
    * (streamId, batchId) already landed.
    */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      groupCols: Seq[String],
      valueCol: String,
      path: String,
      lgK: Int = 12,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      Sketches.hllAgg(batch, groupCols, valueCol, lgK)
        .write.mode("overwrite").parquet(_))

  /** The stream writer: attach a checkpoint + trigger and `.start()`. */
  def sketchSink(
      stream: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      path: String,
      lgK: Int = 12): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(
      appendBatch(_, _, groupCols, valueCol, path, lgK, _))

  /** CountMin twin: append one micro-batch's partial cell counts
    * ([[Sketches.cmAgg]] rows are additive — readers re-sum via
    * [[Sketches.cmMerge]], so stream-built ≡ batch-built EXACTLY,
    * cell for cell, not just within sketch error).
    */
  def cmAppendBatch(
      batch: DataFrame,
      batchId: Long,
      groupCols: Seq[String],
      valueCol: String,
      path: String,
      depth: Int = 4,
      width: Int = 2048,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      Sketches.cmAgg(batch, groupCols, valueCol, depth, width)
        .write.mode("overwrite").parquet(_))

  def cmSink(
      stream: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      path: String,
      depth: Int = 4,
      width: Int = 2048): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(
      cmAppendBatch(_, _, groupCols, valueCol, path, depth, width, _))

  /** KLL quantile twin: append one micro-batch's per-group partial
    * sketches ([[Sketches.kllAgg]] rows — readers merge via
    * [[Sketches.readKllTable]]; the merged sketch honors the same
    * rank-error bound as a batch build, the KLL merge rule).
    */
  def kllAppendBatch(
      batch: DataFrame,
      batchId: Long,
      groupCols: Seq[String],
      valueCol: String,
      path: String,
      k: Int = 200,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      Sketches.kllAgg(batch, groupCols, valueCol, k)
        .write.mode("overwrite").parquet(_))

  def kllSink(
      stream: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      path: String,
      k: Int = 200): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(
      kllAppendBatch(_, _, groupCols, valueCol, path, k, _))

  /** Theta set-algebra twin: append one micro-batch's per-group partial
    * sketches ([[Sketches.thetaAgg]] rows — readers union via
    * [[Sketches.readThetaTable]]; union at equal lgK is merge-order-
    * insensitive, so stream-built ≡ batch-built in every readout).
    */
  def thetaAppendBatch(
      batch: DataFrame,
      batchId: Long,
      groupCols: Seq[String],
      valueCol: String,
      path: String,
      lgK: Int = 12,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      Sketches.thetaAgg(batch, groupCols, valueCol, lgK)
        .write.mode("overwrite").parquet(_))

  def thetaSink(
      stream: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      path: String,
      lgK: Int = 12): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(
      thetaAppendBatch(_, _, groupCols, valueCol, path, lgK, _))
}
