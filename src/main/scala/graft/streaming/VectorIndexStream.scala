package graft.streaming

import graft.ops.{Ckpt, IndexLayout, Pq, VectorOps}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of a persisted IVF ANN index
  * ([[VectorOps.ivfWriteIndex]] layout): each micro-batch of new
  * vectors is assigned to its nearest FROZEN centroid and published
  * into the matching `cluster=` partitions. This closes the
  * vector-store ingestion loop — embeddings arrive as a stream, the
  * index stays continuously probeable, and probe results are identical
  * to an index batch-built from the same rows under the same centroids
  * (frozen-centroid equivalence, pinned in SimilaritySpec).
  *
  * 100 TB shape: per micro-batch work is one map-only centroid
  * assignment plus a partitioned stage write and one rename per staged
  * file — the existing index is never read. Centroids ride the plan as
  * literals; there is no driver state beyond them. Compaction cadence
  * (the probe-vs-litter knee, SCALE.md `ivf_litter`) is the only
  * maintenance concern: its publish protocol wants quiesced probes, so
  * a steady-state deployment calls `IvfLayout.compact` in its
  * maintenance window, not mid-stream.
  *
  * Exactly-once: foreachBatch is at-least-once (a batch id can be
  * redelivered after a restart), so every index sink publishes through
  * [[publishBatch]] — [[graft.ops.IndexLayout.publish]] keyed
  * `<streamId>-<batchId>`, staged under the index's underscore-hidden
  * `_graft_stage/`, with the batch ledger entry
  * (`_graft_batches/<streamId>/<id>`, underscore-hidden from every
  * parquet listing) as its done marker. A redelivered id is skipped
  * whole, and a crash anywhere inside a batch converges on retry
  * without duplicating a row. Batch ids are scoped to a checkpoint
  * lineage, so the ledger is namespaced by the streaming query id
  * (persisted in the checkpoint's metadata file — stable across
  * restarts of the SAME checkpoint, fresh for a NEW one): pointing a
  * new stream at an existing index restarts batch ids at 0, and
  * without the namespace those ids would collide with the old ledger
  * and be silently dropped. [[indexSink]] reads the id off the
  * stream-execution thread's `sql.streaming.queryId` local property.
  */
object VectorIndexStream {

  /** Idempotent per-batch append — the foreachBatch body, exposed so
    * the redelivery contract is directly testable. Returns true when
    * the batch was appended, false when the ledger says it already was.
    * `streamId` namespaces the ledger per checkpoint lineage; an empty
    * id uses the flat legacy layout (single-stream indexes only).
    */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      path: String,
      centroids: Array[Array[Double]],
      streamId: String = ""): Boolean =
    publishBatch(batch, batchId, path, streamId)(
      VectorOps.ivfWriteDelta(batch, idCol, vecCol, path, _, centroids))

  /** [[appendBatch]] for a persisted IVF-PQ index
    * ([[graft.ops.Pq.pqIvfWriteIndex]] layout): same ledger, same
    * redelivery contract — codes are computed under the FROZEN model,
    * so the streamed index stays bit-identical in content to a batch
    * build over the same rows.
    */
  def pqAppendBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      path: String,
      model: Pq.PqModel,
      centroids: Array[Array[Double]],
      streamId: String = ""): Boolean =
    publishBatch(batch, batchId, path, streamId)(
      Pq.pqIvfWriteDelta(batch, idCol, vecCol, path, _, model, centroids))

  /** The ledger marker of `streamId`/`batchId` under `path`. */
  private def ledgerMarker(path: String, streamId: String, batchId: Long)
      : Path =
    new Path(path,
      if (streamId.isEmpty) s"_graft_batches/$batchId"
      else s"_graft_batches/$streamId/$batchId")

  /** The exactly-once publish every streaming sink shares:
    * [[graft.ops.IndexLayout.publish]] of what `write` stages (given
    * the stage dir, mirroring the data under `into`, which defaults to
    * `path`), keyed `<streamId>-<batchId>`, with the batch's ledger
    * entry under `path` as the done marker. Returns false when the
    * ledger says the batch already landed. One
    * [[graft.ops.Ckpt.scope]] per batch: `foreachBatch` runs on the
    * stream's own thread, outside any caller's scope, so the batch
    * frees what it materialized here.
    */
  private[streaming] def publishBatch(
      batch: DataFrame, batchId: Long, path: String, streamId: String,
      into: String = "")(write: String => Unit): Boolean = Ckpt.scope {
    val key = if (streamId.isEmpty) s"$batchId" else s"$streamId-$batchId"
    val root = if (into.isEmpty) path else into
    IndexLayout.publish(batch.sparkSession, root,
      new Path(root, s"_graft_stage/$key"), key,
      ledgerMarker(path, streamId, batchId))(write)
  }

  /** The stream writer: attach a checkpoint + trigger and `.start()`.
    * Centroids are frozen for the life of the sink (the IVF maintenance
    * contract); re-fit and rebuild offline when recall decays.
    */
  def indexSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      centroids: Array[Array[Double]]): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      appendBatch(batch, batchId, idCol, vecCol, path, centroids,
        runningQueryId(batch))
      ()
    }

  /** The IVF-PQ sink — [[indexSink]] with the compressed layout.
    * Model + centroids are frozen for the life of the sink.
    */
  def pqIndexSink(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      model: Pq.PqModel,
      centroids: Array[Array[Double]]): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      pqAppendBatch(batch, batchId, idCol, vecCol, path, model, centroids,
        runningQueryId(batch))
      ()
    }

  /** Set by StreamExecution on the micro-batch thread; stable for a
    * checkpoint lineage. Null only outside a real stream (tests calling
    * the body directly), where the flat ledger layout is fine.
    */
  private[streaming] def runningQueryId(batch: DataFrame): String =
    Option(batch.sparkSession.sparkContext
      .getLocalProperty("sql.streaming.queryId")).getOrElse("")

  /** Delete streams ledger under `deletes-<streamId>` so a delete
    * stream and an append stream over the SAME index never collide on
    * a batch id (manual callers with no query id collide with each
    * other only if they reuse batch ids across roles — don't).
    */
  private[streaming] def deleteLedgerId(streamId: String): String =
    s"deletes-$streamId"

  /** Publish one micro-batch of takedown ids into the tombstone set —
    * the streaming half of the [[graft.ops.Tombstones]] delete
    * lifecycle, shared by every index family (a delete is
    * layout-blind: it only adds ids under the root). The rows publish
    * into [[graft.ops.Tombstones.dir]] itself (the publish walk skips
    * `_` names, so a root-level stage could not carry them), and the
    * ledger stays under the root: a purge's clear deletes the
    * tombstone dir.
    */
  def deleteBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      path: String,
      streamId: String = ""): Boolean =
    publishBatch(batch, batchId, path, deleteLedgerId(streamId),
      into = graft.ops.Tombstones.dir(path))(
      batch.select(idCol).distinct().write.mode("overwrite").parquet(_))

  /** The delete-stream writer: micro-batches of (idCol) takedown
    * requests against any persisted index root; attach a checkpoint +
    * trigger and `.start()`.
    */
  def deleteSink(
      stream: DataFrame,
      idCol: String,
      path: String): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      deleteBatch(batch, batchId, idCol, path, runningQueryId(batch))
      ()
    }
}
