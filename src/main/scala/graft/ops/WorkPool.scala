package graft.ops

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** A bounded daemon pool for overlapping INDEPENDENT Spark actions from
  * the driver (guide §2.6), instead of `ExecutionContext.global`, whose
  * work-stealing pool interleaves blocking Spark awaits unpredictably
  * under load. Spark actions (and cached, thread-safe FileSystem
  * calls) are safe to launch from multiple driver threads against one
  * session; 8 in-flight units is plenty to fill a scheduler tail
  * without starving it. Daemon threads, so a driver shutdown never
  * hangs on one.
  */
private[graft] final class WorkPool(threadName: String) {

  private lazy val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        (r: Runnable) => {
          val t = new Thread(r, threadName)
          t.setDaemon(true)
          t
        }))

  /** Runs `body` in the submitter's [[Ckpt.scope]], so what it
    * materializes is freed with the submitter's scope.
    */
  def submit[A](body: => A): Future[A] = {
    val unit = Ckpt.inCurrentScope(body)
    Future(unit())(ec)
  }

  /** `f` over every element concurrently, joined ([[WorkPool.joinAll]]). */
  def mapAll[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    WorkPool.joinAll(xs.map(x => submit(f(x))))
}

/** The shared pool (query-glue bootstraps, concurrent index writes)
  * and the join every pool goes through. [[CorpusUpsert]]'s per-index
  * pool and [[Compaction]]'s per-directory pool stay separate from it
  * and from each other: their submissions nest (maintain → purge →
  * rewriteDirs, applyBatch → BM25 stage → [[runAll]]), and one bounded
  * pool could starve itself.
  */
private[graft] object WorkPool {

  private val shared = new WorkPool("graft-work-pool")

  private[graft] def submit[A](body: => A): Future[A] = shared.submit(body)

  private[graft] def await[A](f: Future[A]): A =
    Await.result(f, Duration.Inf)

  /** Join EVERY future, then return their results in order — or
    * rethrow the first failure (in submission order) only after all of
    * them finished, never unwinding while sibling Spark jobs or file
    * renames still run (the half-awaited-futures hazard).
    */
  private[graft] def joinAll[A](fs: Seq[Future[A]]): Seq[A] =
    fs.map(f => scala.util.Try(await(f))).map(_.get)

  /** Run every unit to completion, concurrently. */
  private[graft] def runAll(units: Seq[() => Unit]): Unit =
    shared.mapAll(units)(_())
}
