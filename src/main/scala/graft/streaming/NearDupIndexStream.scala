package graft.streaming

import graft.ops.NearDupIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of the persisted MinHash-LSH near-dup index
  * ([[graft.ops.NearDupIndex]]) — the lexical near-dup member of the
  * streaming index family ([[VectorIndexStream]] IVF/IVF-PQ,
  * [[LexIndexStream]] BM25, [[HammingIndexStream]] MIH): each
  * micro-batch of new documents appends its bucket+shingle rows under
  * the index's persisted geometry through the SAME staged publish
  * and per-stream batch ledger (`_graft_batches/<streamId>/<id>`,
  * [[VectorIndexStream.publishBatch]]), so foreachBatch's
  * at-least-once redelivery is a no-op instead of duplicate rows. The
  * layout is append-pure (bucket and docs rows are new-id appends), so
  * a stream-built index is row-identical to a batch build over the
  * same documents — NearDupIndexSpec pins stream ≡ batch probes and
  * redelivery idempotence.
  *
  * This is the arrival half of the incremental-dedup loop: a gate job
  * probes each incoming batch with [[NearDupIndex.dedupGate]] and
  * routes only the KEPT docs into this sink, so the corpus never
  * admits a near-duplicate and the index only ever grows by novel
  * content.
  */
object NearDupIndexStream {

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
      NearDupIndex.writeDelta(batch, idCol, textCol, path, _))

  /** The stream writer: attach a checkpoint + trigger and `.start()`.
    * The index root must already exist ([[NearDupIndex
    * .neardupWriteIndex]], possibly over an empty frame — geometry is
    * explicit) so the banding is fixed for the stream's life.
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

  // Streaming DELETES need no layout-specific sink: a near-dup-index
  // delete is layout-blind (a tombstone append under the root), so
  // [[VectorIndexStream.deleteBatch]]/[[VectorIndexStream.deleteSink]]
  // serve this layout directly — the same sharing as IVF/IVF-PQ/Hamming.
}
