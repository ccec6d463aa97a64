package graft.streaming

import graft.ops.HammingIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the persisted multi-index Hamming index
  * ([[graft.ops.HammingIndex]]) — the binary member of the streaming
  * index family ([[VectorIndexStream]] IVF/IVF-PQ, [[LexIndexStream]]
  * BM25): each micro-batch of new vectors appends its band rows under
  * the index's persisted geometry through the SAME staged publish
  * and per-stream batch ledger (`_graft_batches/<streamId>/<id>`,
  * [[VectorIndexStream.publishBatch]]), so foreachBatch's
  * at-least-once redelivery is a no-op instead of duplicate band
  * rows. The layout is append-pure (band rows are new-id appends), so
  * a stream-built index is row-identical to a batch build over the
  * same vectors — HammingSpec pins stream ≡ batch probes and
  * redelivery idempotence.
  */
object HammingIndexStream {

  /** Append one micro-batch if its (streamId, batchId) has no ledger
    * marker yet. Returns true when the batch was appended.
    */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      path: String,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      HammingIndex.writeDelta(batch, idCol, vecCol, path, _))

  /** The stream writer: attach a checkpoint + trigger and `.start()`.
    * The index root must already exist ([[HammingIndex
    * .hammingWriteIndex]] with an explicit `dim`, possibly over an
    * empty frame) so the band geometry is fixed for the stream's life.
    */
  def indexSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      path: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      appendBatch(batch, batchId, idCol, vecCol, path,
        VectorIndexStream.runningQueryId(batch))
      ()
    }
}
