package graft.streaming

import graft.ops.{CorpusUpsert, VideoHash}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming video ingestion into the persisted perceptual-hash index
  * — the live half of the video near-dup stack, mirroring
  * [[PhashStream]] (images) and [[AudioHashStream]] (audio): each
  * micro-batch of `(id, payload)` rows is decoded to temporal dHash
  * difference vectors ([[graft.ops.VideoHash.videoFingerprint]] — a
  * partition-batched map, one pass over payload bytes per clip) and
  * appended to the MIH Hamming index under its persisted band
  * geometry, behind the shared per-stream batch ledger, so
  * at-least-once redelivery never duplicates band rows. Because the
  * layout is append-pure, a stream-built index probes identically to a
  * batch build over the same decodable clips (VideoHashSpec pins it);
  * undecodable payloads are DROPPED here — route them to a quarantine
  * sink from the typed reject relation upstream if they must be
  * accounted.
  *
  * Init the root once with `HammingIndex.hammingWriteIndex(empty, …,
  * dim = 64)` so the geometry is fixed for the stream's life; takedown
  * rides the existing layout-blind
  * [[VectorIndexStream.deleteBatch]]/`deleteSink`.
  */
object VideoHashStream {

  /** Decode + append one micro-batch if its (streamId, batchId) has no
    * ledger marker yet. Returns true when the batch was appended.
    */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      payloadCol: String,
      path: String,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId) { stage =>
      val (codes, _, _) = VideoHash.videoFingerprint(batch, idCol, payloadCol)
      CorpusUpsert.HammingTarget(path, "video_diff")
        .stage(codes.toDF(), "id", stage)
    }

  /** The stream writer: attach a checkpoint + trigger and `.start()`. */
  def indexSink(
      stream: DataFrame,
      idCol: String,
      payloadCol: String,
      path: String): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(
      appendBatch(_, _, idCol, payloadCol, path, _))
}
