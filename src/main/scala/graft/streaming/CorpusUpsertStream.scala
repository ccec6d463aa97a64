package graft.streaming

import graft.ops.CorpusUpsert
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming corpus refresh — the D-1 daily-refresh loop as a stream:
  * each micro-batch of document revisions is applied as ONE
  * coordinated upsert batch across every target index
  * ([[graft.ops.CorpusUpsert.applyBatch]]).
  *
  * Idempotence needs NO extra `_graft_batches` ledger: the batch key
  * is `s<queryId>-<batchId>` and applyBatch's OWN marker protocol
  * makes foreachBatch's at-least-once redelivery a no-op, and even a
  * crash INSIDE an apply resumes exactly-once — per index it is the
  * same [[graft.ops.IndexLayout.publish]] the index sinks run with
  * their ledger entry as the done marker.
  *
  * Contracts: one upsert stream per coordination root (micro-batch
  * applies are serialized by the engine); at most one revision per
  * doc per micro-batch (applyBatch refuses more — aggregate upstream
  * if the source can emit several); and batches whose revisions
  * OVERLAP doc sets must arrive in intended order (the rev chain is
  * assigned at apply time) — disjoint revision sets compose in any
  * order.
  */
object CorpusUpsertStream {

  /** Apply one micro-batch; returns the report (alreadyApplied = true
    * on a redelivered batch).
    */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      docCol: String,
      root: String,
      targets: Seq[CorpusUpsert.IndexTarget],
      streamId: String = ""): CorpusUpsert.UpsertReport =
    CorpusUpsert.applyBatch(batch, docCol, s"s$streamId-$batchId", root,
      targets)

  /** The stream writer: attach a checkpoint + trigger and `.start()`.
    * Target geometry (bm25/hamming meta, IVF centroids, PQ model) must
    * exist before the stream starts — the empty-bootstrap pattern
    * every index stream uses.
    */
  def upsertSink(
      stream: DataFrame,
      docCol: String,
      root: String,
      targets: Seq[CorpusUpsert.IndexTarget]): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(applyBatch(_, _, docCol, root, targets, _))
}
