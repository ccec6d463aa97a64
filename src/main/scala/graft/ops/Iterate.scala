package graft.ops

import org.apache.spark.sql.DataFrame

/** Shared per-iteration materialization for the engine's iterative
  * loops (Bradley–Terry, PageRank, logreg training, label
  * propagation).
  *
  * `localCheckpoint(eager = true)` cuts RDD lineage but — measured on
  * Spark 4.1 — PRESERVES the child plan's logical statistics on the
  * resulting `LogicalRDD` (`originStats`). In a loop whose step plan
  * references the previous checkpoint k ≥ 2 times under joins, the
  * inherited `sizeInBytes` therefore compounds as size_{i+1} ≈
  * size_i^k: the BigInt's BIT COUNT grows k× per iteration, and from
  * roughly iteration 20 the size-only stats visitor spends minutes
  * multiplying million-bit integers during planning (observed: a
  * 3-item Bradley–Terry fit at 24 iterations planning for 325 s,
  * burning CPU in `BigInteger.multiplyToomCook3` — while 18
  * iterations planned in milliseconds).
  *
  * The fix: after checkpointing, re-leaf the checkpointed plan
  * ([[org.apache.spark.sql.GraftIterate.resetStats]]) — a new
  * `LogicalRDD` over the SAME materialized RDD, its output partitioning
  * and ordering, built WITHOUT the inherited `originStats`, so the leaf
  * carries the default size estimate instead of the compounded
  * product. Stats reset to a constant each iteration, so planning cost
  * stays flat at any iteration count, and the state table keeps its
  * InternalRow blocks: no Row conversion and no extra pass per
  * downstream read.
  */
object Iterate {

  /** A materialized iteration state: `df` is the stats-reset view to
    * build the next step's plan on; `release()` drops the checkpoint
    * blocks once the NEXT state is materialized (the standard
    * unpersist-previous discipline).
    */
  final class Cut private[Iterate] (val df: DataFrame, inner: DataFrame) {
    def release(): Unit = Ckpt.release(inner)
  }

  /** Eagerly materializes `df` (localCheckpoint) and returns a wrapper
    * whose logical stats are reset to the default leaf estimate.
    * The reset goes through [[org.apache.spark.sql.GraftIterate]],
    * which re-leafs the checkpointed plan instead of round-tripping it
    * through Row objects — the state table keeps its InternalRow
    * blocks and its recorded output partitioning, dropping the
    * per-iteration InternalRow↔Row conversion pass (measured round 17:
    * the 16-step logreg fit 8.7 s → 6.8 s at sf0.1, identical
    * results; PageRank within noise — its per-iteration wall is job
    * scheduling, not the state-table reads).
    */
  def cut(df: DataFrame): Cut = {
    val ck = df.localCheckpoint(true)
    new Cut(org.apache.spark.sql.GraftIterate.resetStats(ck), ck)
  }
}
