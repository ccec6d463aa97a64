package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of an SCD Type-2 change LOG: each micro-batch
  * appends its raw change rows (append-only additive rows — the
  * SketchStream/LexIndex contract, never read-modify-write) through
  * the shared keyed publish ([[VectorIndexStream.publishBatch]]), so a
  * batch lands exactly once, and readers FOLD the accumulated log
  * into the versioned dimension with [[graft.ops.Scd2.fromChanges]].
  * Fold-on-read makes stream-built ≡ batch-built exact by construction
  * (same rows, same fold), and gives the dimension time travel for
  * free: fold any prefix of the log to get the dimension as-of then.
  * Redelivered batches are ledger no-ops; even a ledger-bypassing
  * duplicate row is SEMANTICALLY harmless, because an exact duplicate
  * change is a consecutive-equal-value echo the fold collapses.
  */
object Scd2Stream {

  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      path: String,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      batch.write.mode("overwrite").parquet(_))

  /** The stream writer: attach a checkpoint + trigger and `.start()`. */
  def changeSink(stream: DataFrame, path: String): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(appendBatch(_, _, path, _))

  /** Fold the accumulated change log into the current dimension. */
  def readDimension(
      spark: SparkSession,
      path: String,
      keyCols: Seq[String],
      valueCol: String,
      tsCol: String,
      seqCol: String): DataFrame =
    graft.ops.Scd2.fromChanges(
      spark.read.parquet(path), keyCols, valueCol, tsCol, seqCol)
}
