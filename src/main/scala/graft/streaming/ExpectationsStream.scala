package graft.streaming

import graft.ops.Expectations
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming expectations monitor ([[graft.ops.Expectations]]): each
  * micro-batch of newly-ingested rows appends its own row-local
  * violation counts (`(check, n_rows, n_violations)` — every column
  * additive) as one staged file through the index sinks' exactly-once
  * publish ([[VectorIndexStream.publishBatch]]), so neither
  * at-least-once redelivery nor a crash between the parquet write and
  * the ledger marker can double-count. Readers re-sum via
  * [[graft.ops.Expectations.readReport]], which judges pass/fail over
  * the TOTALS — stream-built ≡ batch-built `validate` row for row by
  * construction (ExpectationsSpec pins it). The publish gate's live
  * twin: is the arriving data drifting out of contract, without
  * rescanning the corpus.
  *
  * `Unique`/`ForeignKey` are refused by the row-local compiler and
  * stay batch-only (documented honest exclusions — a duplicate can
  * pair ACROSS micro-batches, and a key missing at ingest time may
  * legitimately arrive later).
  */
object ExpectationsStream {

  /** Append one micro-batch's violation counts if its (streamId,
    * batchId) has no ledger marker yet. Returns true when appended.
    */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      checks: Seq[Expectations.Check],
      path: String,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      Expectations.rowLocalReport(batch, checks).coalesce(1)
        .write.mode("overwrite").parquet(_))

  /** The stream writer: attach a checkpoint + trigger and `.start()`. */
  def monitorSink(
      stream: DataFrame,
      checks: Seq[Expectations.Check],
      path: String): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(appendBatch(_, _, checks, path, _))

  /** Totals + pass/fail over everything appended so far — delegates to
    * [[graft.ops.Expectations.readReport]].
    */
  def readReport(
      spark: SparkSession,
      path: String,
      checks: Seq[Expectations.Check]): DataFrame =
    Expectations.readReport(spark, path, checks)
}
