package graft.streaming

import graft.ops.Pii
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming PII-incidence monitor ([[graft.ops.Pii]]): each
  * micro-batch of newly-ingested documents appends its own per-group
  * incidence ROWS ([[Pii.report]] — every column an additive count)
  * as one staged file through the index sinks' exactly-once publish
  * ([[VectorIndexStream.publishBatch]]), so neither at-least-once
  * redelivery nor a crash between write and marker can double-count. Readers re-sum via
  * [[Pii.readReport]]; stream-built ≡ batch-built count for count
  * (PiiSpec pins it). The compliance dashboard's live feed — how much
  * PII is arriving per source, without rescanning the corpus.
  */
object PiiStream {

  /** Append one micro-batch's incidence rows if its (streamId,
    * batchId) has no ledger marker yet. Returns true when appended.
    */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      groupCol: String,
      textCol: String,
      path: String,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      Pii.report(batch, groupCol, textCol).coalesce(1)
        .write.mode("overwrite").parquet(_))

  /** The stream writer: attach a checkpoint + trigger and `.start()`. */
  def monitorSink(
      stream: DataFrame,
      groupCol: String,
      textCol: String,
      path: String): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(
      appendBatch(_, _, groupCol, textCol, path, _))
}
