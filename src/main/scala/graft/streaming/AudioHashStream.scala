package graft.streaming

import graft.ops.{AudioHash, CorpusUpsert}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming audio ingestion into the persisted perceptual-fingerprint
  * index — the audio twin of [[PhashStream]]: each micro-batch of
  * `(id, payload)` WAV rows is decoded to Haitsma–Kalker difference
  * vectors ([[graft.ops.AudioHash.audioFingerprint]] — a
  * partition-batched map, one decode per payload) and appended to the
  * MIH Hamming index under its persisted band geometry, behind the
  * shared per-stream batch ledger, so at-least-once redelivery never
  * duplicates band rows. Because the layout is append-pure, a
  * stream-built index probes identically to a batch build over the
  * same decodable clips (AudioHashSpec pins it); undecodable payloads
  * are DROPPED here — route them to a quarantine sink from
  * [[graft.ops.AudioHash.audioFingerprint]]'s typed reject relation
  * upstream if they must be accounted.
  *
  * Init the root once with `HammingIndex.hammingWriteIndex(empty, …,
  * dim = 64)` so the geometry is fixed for the stream's life; takedown
  * rides the existing layout-blind
  * [[VectorIndexStream.deleteBatch]]/`deleteSink`.
  */
object AudioHashStream {

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
      val (codes, _) = AudioHash.audioFingerprint(batch, idCol, payloadCol)
      CorpusUpsert.HammingTarget(path, "fp_diff")
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
