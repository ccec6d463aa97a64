package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => CDataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Package-internal helper for [[graft.ops.Ckpt.cut]]'s per-iteration
  * stats reset (see that scaladoc for WHY stats must reset: inherited
  * `originStats` compound multiplicatively across iterations and hit a
  * BigInteger planning cliff).
  *
  * The previous reset — `createDataFrame(ck.rdd, ck.schema)` — paid
  * two hidden costs every iteration: an InternalRow→Row→InternalRow
  * conversion of the whole state table on every downstream read, and
  * the LOSS of the checkpoint's output partitioning, which re-inserted
  * an exchange into every iteration's state join. This helper re-leafs
  * the checkpointed plan as a fresh [[LogicalRDD]] with `originStats`
  * dropped (the reset) but the materialized InternalRow RDD,
  * partitioning, and ordering all KEPT — zero conversion, no lost
  * exchange. Lives under `org.apache.spark.sql` because
  * `Dataset.ofRows` is `private[sql]`; everything touched is public
  * Spark source.
  */
object GraftIterate {

  def resetStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[CDataset[Row]]
    val session = ds.sparkSession
    ds.queryExecution.analyzed match {
      case l: LogicalRDD =>
        CDataset.ofRows(session,
          LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(session, None, None))
      case _ =>
        // non-checkpointed input (not the Ckpt.cut path): fall back
        // to a fresh internal-row leaf — still conversion-free
        session.internalCreateDataFrame(ds.queryExecution.toRdd, df.schema)
    }
  }
}
