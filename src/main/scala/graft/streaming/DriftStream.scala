package graft.streaming

import graft.ops.Drift
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming PSI drift monitor ([[graft.ops.Drift]]): the reference
  * histogram is frozen once ([[Drift.psiWriteRef]]); each micro-batch
  * of newly-ingested rows publishes its bucket counts into `obs/`
  * through the SAME keyed publish the index sinks use
  * ([[VectorIndexStream.publishBatch]], the stage mirroring `obs/`),
  * so neither redelivery nor a retry after a crash double-counts a
  * batch. The live report ([[Drift.psiFromStats]]) is identical to
  * running the batch [[Drift.psiReport]] over the raw snapshots —
  * DriftSpec pins it.
  */
object DriftStream {

  /** Publish one micro-batch's bucket counts unless its
    * (streamId, batchId) already landed. Returns true when published.
    */
  def appendBatch(
      batch: DataFrame,
      batchId: Long,
      valueCol: String,
      path: String,
      streamId: String = ""): Boolean =
    VectorIndexStream.publishBatch(batch, batchId, path, streamId)(stage =>
      Drift.psiObserved(batch, valueCol, path)
        .write.mode("overwrite").parquet(s"$stage/obs"))

  /** The stream writer: attach a checkpoint + trigger and `.start()`.
    * The monitor root must already exist ([[Drift.psiWriteRef]]) so
    * the bucket geometry is fixed for the stream's life.
    */
  def monitorSink(
      stream: DataFrame,
      valueCol: String,
      path: String): DataStreamWriter[Row] =
    VectorIndexStream.sink(stream)(appendBatch(_, _, valueCol, path, _))
}
