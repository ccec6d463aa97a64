package graft.streaming

import graft.ops.LexIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the persisted BM25 lexical index
  * ([[graft.ops.LexIndex]]) — the lexical twin of
  * [[VectorIndexStream]]: each micro-batch of new documents appends
  * its postings/doclen under the index's persisted bucket fanout
  * through the SAME staged publish, with the per-stream batch ledger
  * (`_graft_batches/<streamId>/<id>`) as its done marker
  * ([[VectorIndexStream.publishBatch]]), so neither foreachBatch's
  * at-least-once redelivery nor a crash before the ledger entry lands
  * can count a batch's documents twice.
  * The index stays append-pure: postings and doclen are new-id
  * appends (the ivfAppendIndex contract), so a stream-built index is
  * row-identical to a batch build over the same documents —
  * LexIndexSpec pins stream ≡ batch probe scores and redelivery
  * idempotence. Takedown streams use the layout-blind
  * [[VectorIndexStream.deleteSink]].
  */
object LexIndexStream {

  /** Append one micro-batch if its (streamId, batchId) has no ledger
    * marker yet. Returns true when the batch was appended.
    */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      path: String,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(
      LexIndex.writeDelta(batch, idCol, textCol, path, _))

  /** The stream writer: attach a checkpoint + trigger and `.start()`.
    * The index root must already exist (bm25WriteIndex, possibly over
    * an empty frame) so the bucket fanout is fixed for the stream's
    * life.
    */
  def indexSink(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      path: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      appendBatch(batch, batchId, idCol, textCol, path,
        VectorIndexStream.runningQueryId(batch))
      ()
    }
}
