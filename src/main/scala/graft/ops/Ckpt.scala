package graft.ops

import org.apache.spark.sql.DataFrame

/** Release a materialized intermediate's storage — the call every
  * "unpersist the previous state" site in the engine needs instead of
  * `Dataset.unpersist()`: measured on Spark 4.1,
  * `unpersist()` on a LOCALCHECKPOINTED frame is a silent no-op — it
  * goes through the CacheManager, which only tracks `persist()`/
  * `cache()` entries, while a checkpoint's blocks are an RDD-level
  * persist reachable only through the plan's `LogicalRDD` leaf. Until
  * round 18 every checkpoint "release" in the engine (iteration
  * states, tombstone sets, upsert ledgers) therefore leaked its blocks
  * to the ContextCleaner's GC-driven reclamation instead of freeing
  * them deterministically.
  */
private[graft] object Ckpt {

  /** Free `df`'s storage whether it is a localCheckpoint (unpersist
    * the LogicalRDD leaf's RDD) or a CacheManager entry (delegate).
    * Non-blocking, matching `unpersist()`'s default.
    */
  def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => df.unpersist()
    }
    ()
  }
}
