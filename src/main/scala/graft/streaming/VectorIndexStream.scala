package graft.streaming

import graft.ops.{Ckpt, CorpusUpsert, IndexLayout, Tombstones}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming maintenance of every persisted index family: each
  * micro-batch of new rows is staged by the index's one write handle
  * ([[graft.ops.CorpusUpsert.IndexTarget]] — exact IVF and IVF-PQ
  * under frozen centroids and model, BM25 under its bucket fanout,
  * Hamming under its band geometry, near-dup under its banding) and
  * published into the live index. This closes the ingestion loop —
  * rows arrive as a stream, the index stays continuously probeable,
  * and, because every layout is append-pure under its frozen
  * geometry, a stream-built index probes identically to one
  * batch-built from the same rows (pinned per family in
  * SimilaritySpec, PqSpec, LexIndexSpec, HammingSpec and
  * NearDupIndexSpec, and for all five at once in IndexLayoutSpec).
  *
  * 100 TB shape: per micro-batch work is the target's map-only stage
  * write plus one rename per staged file — the existing index is never
  * read. Compaction cadence (the probe-vs-litter knee, SCALE.md
  * `ivf_litter`) is the only maintenance concern: its publish protocol
  * wants quiesced probes, so a steady-state deployment calls the
  * layout's `compact` in its maintenance window, not mid-stream.
  *
  * Exactly-once: foreachBatch is at-least-once (a batch id can be
  * redelivered after a restart), so every sink publishes through
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
  * and be silently dropped. [[sink]] reads the id off the
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
      target: CorpusUpsert.IndexTarget,
      streamId: String = ""): Boolean =
    publishBatch(batch, batchId, target.path, streamId)(
      target.stage(batch, idCol, _))

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
    * The target's geometry (centroids, PQ model, the root's `meta/`) is
    * frozen for the life of the sink; re-fit and rebuild offline when
    * recall decays.
    */
  def indexSink(
      stream: DataFrame,
      idCol: String,
      target: CorpusUpsert.IndexTarget): DataStreamWriter[Row] =
    sink(stream)(appendBatch(_, _, idCol, target, _))

  /** The one `foreachBatch` writer every sink is: `body` gets each
    * micro-batch, its id and the running query's id — set by
    * StreamExecution on the micro-batch thread, stable for a checkpoint
    * lineage, and empty only outside a real stream (a body called
    * directly), where the flat ledger layout is fine.
    */
  private[streaming] def sink(stream: DataFrame)(
      body: (DataFrame, Long, String) => Any): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      body(batch, batchId, Option(batch.sparkSession.sparkContext
        .getLocalProperty("sql.streaming.queryId")).getOrElse(""))
      ()
    }

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
    * into [[Tombstones.dir]] itself (the publish walk skips
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
      into = Tombstones.dir(path))(Tombstones.write(batch, idCol, _))

  /** The delete-stream writer: micro-batches of (idCol) takedown
    * requests against any persisted index root; attach a checkpoint +
    * trigger and `.start()`.
    */
  def deleteSink(
      stream: DataFrame,
      idCol: String,
      path: String): DataStreamWriter[Row] =
    sink(stream)(deleteBatch(_, _, idCol, path, _))
}
