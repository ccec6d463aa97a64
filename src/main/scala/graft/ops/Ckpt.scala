package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** The one owner of every materialized intermediate in the engine:
  * [[checkpoint]], [[cache]] and [[cut]] are the only ways code
  * outside this file materializes a relation, and a [[scope]] frees
  * them.
  *
  * The scope rule: `Ckpt.scope { body }` runs `body`, then frees every
  * materialization registered inside it (on this thread, or on a
  * [[WorkPool]] unit submitted from it) that the returned value does
  * NOT read. The returned value may be a Dataset or any tuple, case
  * class or collection of Datasets; what it reads is found by walking
  * each Dataset's analyzed plan, subqueries included, for `LogicalRDD`
  * leaves (a checkpoint, with the RDD lineage under them) and cached
  * relations. Whatever it reads is handed to the enclosing scope, so a
  * returned relation can never lose its blocks — the use-after-free a
  * hand-placed free allows is impossible by construction. With no
  * enclosing scope a kept checkpoint is left to the ContextCleaner
  * (freed once the relation is garbage); a kept cache is freed at once,
  * because the CacheManager pins it forever and its readers recompute
  * it from lineage.
  *
  * Free, measured on Spark 4.1: `Dataset.unpersist()` on a
  * LOCALCHECKPOINTED frame is a silent no-op — it goes through the
  * CacheManager, which only tracks `persist()`/`cache()` entries, while
  * a checkpoint's blocks are an RDD-level persist reachable only
  * through the plan's `LogicalRDD` leaf. A checkpoint is therefore
  * freed by unpersisting that leaf's RDD.
  */
private[graft] object Ckpt {

  /** One registered materialization: a checkpoint's blocks (`rdd`) or a
    * CacheManager entry (`builder`, its `InMemoryRelation.cacheBuilder`,
    * compared by reference).
    */
  private final class Held(df: DataFrame, val rdd: Option[RDD[_]],
      val builder: Option[AnyRef]) {
    def free(): Unit =
      if (rdd.isDefined) rdd.get.unpersist(false) else df.unpersist(false)
  }

  private final class Scope {
    private val held = scala.collection.mutable.ArrayBuffer.empty[Held]
    def add(h: Held): Unit = synchronized { held += h }
    def drop(id: Int): Unit = synchronized { held.filterInPlace(!_.rdd.exists(_.id == id)) }
    def all: Seq[Held] = synchronized { held.toSeq }
  }

  private val current = new ThreadLocal[Scope]

  /** Eager localCheckpoint of `df`, registered with the innermost scope. */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    register(new Held(ck, leafRdd(ck), None))
    ck
  }

  /** `persist(MEMORY_AND_DISK)` (what `Dataset.cache()` does), registered
    * with the innermost scope. Lazy, like `persist`: the first action
    * over it fills it. Outside any scope it is the caller's to free.
    */
  def cache(df: DataFrame): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    val builder = c.sparkSession.sharedState.cacheManager
      .lookupCachedData(c.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(d => d.cachedRepresentation.cacheBuilder: AnyRef)
    register(new Held(c, None, builder))
    c
  }

  /** A loop-state materialization: [[checkpoint]], then
    * [[org.apache.spark.sql.GraftIterate.resetStats]].
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
    * The fix: after checkpointing, re-leaf the checkpointed plan — a new
    * `LogicalRDD` over the SAME materialized RDD, its output
    * partitioning and ordering, built WITHOUT the inherited
    * `originStats`, so the leaf carries the default size estimate
    * instead of the compounded product. Stats reset to a constant each
    * iteration, so planning cost stays flat at any iteration count, and
    * the state table keeps its InternalRow blocks: no Row conversion
    * and no extra pass per downstream read (measured round 17: the
    * 16-step logreg fit 8.7 s → 6.8 s at sf0.1, identical results;
    * PageRank within noise — its per-iteration wall is job scheduling,
    * not the state-table reads). The view shares the checkpoint's RDD,
    * so [[release]] on it frees the checkpoint.
    */
  def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftIterate.resetStats(checkpoint(df))

  /** Free a SUPERSEDED loop state now, instead of at its scope's close:
    * the checkpoint behind `df`'s `LogicalRDD` leaf (a no-op for any
    * other plan). Non-blocking, matching `unpersist()`'s default.
    */
  def release(df: DataFrame): Unit = leafRdd(df).foreach { r =>
    r.unpersist(false)
    Option(current.get).foreach(_.drop(r.id))
  }

  /** Run `body` in a new scope; see the object doc for what it frees. */
  def scope[A](body: => A): A = {
    val outer = current.get
    val s = new Scope
    current.set(s)
    val out =
      try body
      catch { case t: Throwable => s.all.foreach(_.free()); throw t }
      finally current.set(outer)
    // with no enclosing scope every cache is freed, read or not
    val (held, caches) =
      if (outer != null) (s.all, Nil) else s.all.partition(_.builder.isEmpty)
    caches.foreach(_.free())
    if (held.nonEmpty) {
      val (kept, unread) = held.partition(
        reads(relations(out), held.exists(_.builder.isDefined)))
      unread.foreach(_.free())
      if (outer != null) kept.foreach(outer.add)
    }
    out
  }

  /** `body` as a thunk that runs in the CALLER's current scope on
    * whatever thread invokes it — how a [[WorkPool]] unit registers
    * with its submitter's scope.
    */
  private[ops] def inCurrentScope[A](body: => A): () => A = {
    val s = current.get
    () => {
      val prev = current.get
      current.set(s)
      try body finally current.set(prev)
    }
  }

  private def register(h: Held): Unit =
    Option(current.get).foreach(_.add(h))

  private def leafRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Every Dataset inside a returned value. */
  private def relations(out: Any): Seq[Dataset[_]] = out match {
    case d: Dataset[_] => Seq(d)
    case i: Iterable[_] => i.iterator.flatMap(relations).toSeq
    case p: Product => p.productIterator.flatMap(relations).toSeq
    case _ => Nil
  }

  /** Whether a registration is read by any of `dfs`: a checkpoint when
    * its RDD is in the lineage of a plan leaf, a cache when the plan
    * (after cache substitution) scans it.
    */
  private def reads(dfs: Seq[Dataset[_]], withCaches: Boolean): Held => Boolean = {
    val rdds = scala.collection.mutable.Set.empty[Int]
    val builders = scala.collection.mutable.Set.empty[AnyRef]
    dfs.foreach { d =>
      val plan = d.queryExecution.analyzed
      val todo = scala.collection.mutable.Stack[RDD[_]](plan.collectWithSubqueries {
        case l: LogicalRDD => l.rdd
        case e: ExternalRDD[_] => e.rdd
      }: _*)
      while (todo.nonEmpty) {
        val r = todo.pop()
        if (rdds.add(r.id)) r.dependencies.foreach(dep => todo.push(dep.rdd))
      }
      if (withCaches && !plan.isStreaming)
        builders ++= d.queryExecution.withCachedData.collectWithSubqueries {
          case m: InMemoryRelation => m.cacheBuilder: AnyRef
        }
    }
    h => h.rdd.exists(r => rdds(r.id)) || h.builder.exists(builders)
  }
}
