package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Engine work attributed to one span. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, spill, bytesRead = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite; spill += o.spill
    bytesRead += o.bytesRead
  }
}

final class Span(val id: Long, val name: String, val parent: Long,
    val startNs: Long, val startMs: Long, val measured: Boolean) {
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  val work = new Work
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program's layers, plus a
  * `SparkListener` that charges every job, stage and task to the span
  * that submitted it. Attribution rides the `graftbench.span` local
  * property, which Spark copies onto each job at submission — listener
  * delivery is asynchronous, so diffing counters around a call would
  * charge late events to the wrong call. Threads that a layer pooled
  * before the span opened carry a stale copy of the property; a job
  * whose named span had already ended when the job started is charged
  * to the innermost span open at its submission instead, and counted in
  * `reattributed`.
  *
  * Off (`on = false`), `span` only runs its body: no listener, no
  * property, no allocation.
  */
final class Tracer(val on: Boolean, val runId: String) {
  val Prop = "graftbench.span"
  private val ids = new AtomicLong
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val current = new ThreadLocal[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  val reattributed = new AtomicLong
  @volatile private var sc: SparkContext = _

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val parent = current.get
      val s = new Span(ids.incrementAndGet(), name,
        if (parent == null) 0L else parent.id, System.nanoTime(),
        System.currentTimeMillis(), name == "run" || (parent != null && parent.measured))
      spans.put(s.id, s)
      current.set(s)
      if (sc != null) sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        s.endNs = System.nanoTime()
        current.set(parent)
        if (sc != null) sc.setLocalProperty(Prop,
          if (parent == null) null else parent.id.toString)
      }
    }

  private def openAt(t: Long): Option[Span] =
    spans.values.asScala.filter(s => s.startMs <= t && t <= s.endMs)
      .maxByOption(s => (s.startNs, s.id))

  private def spanOf(e: SparkListenerJobStart): Option[Span] = {
    val named = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      .flatMap(_.toLongOption).flatMap(id => Option(spans.get(id)))
    named match {
      case Some(s) if s.startMs <= e.time && e.time <= s.endMs => Some(s)
      case _ =>
        val s = openAt(e.time)
        if (s.isDefined) reattributed.incrementAndGet()
        s
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e).foreach { s =>
        s.work.synchronized {
          s.work.jobs += 1
          s.work.stages += e.stageInfos.size
        }
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.work.synchronized {
          s.work.tasks += 1
          if (m != null) {
            s.work.runMs += m.executorRunTime
            s.work.cpuNs += m.executorCpuTime
            s.work.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.work.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            s.work.bytesRead += m.inputMetrics.bytesRead
          }
        }
      }
  }

  def install(spark: SparkSession): Unit =
    if (on) {
      sc = spark.sparkContext
      sc.addSparkListener(listener)
    }

  /** Wait for the listener to see every event posted so far. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.ListenerDrain(spark.sparkContext)

  def spanCount: Int = spans.size

  private def all: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  private def children: Map[Long, Seq[Span]] = all.groupBy(_.parent)

  /** Work of a span and everything under it. */
  def subtree(s: Span): Work = {
    val w = new Work
    val kids = children
    def go(x: Span): Unit = { w.add(x.work); kids.getOrElse(x.id, Nil).foreach(go) }
    go(s)
    w
  }

  /** Spans with this name inside a `run` span (the timed phase). */
  def named(name: String): Seq[Span] = all.filter(s => s.measured && s.name == name)

  /** Summed subtree work of every span with this name. */
  def work(name: String): Work = {
    val w = new Work
    named(name).foreach(s => w.add(subtree(s)))
    w
  }

  /** Summed duration of every span with this name, in ms. */
  def ms(name: String): Double = named(name).map(_.ms).sum

  /** Self time: a span's duration minus the union of its children's. */
  def selfMs(s: Span, kids: Seq[Span]): Double = {
    val iv = kids.map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var (a, b) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (x, y) =>
      if (x > b) { if (b > a) covered += b - a; a = x; b = y }
      else b = math.max(b, y)
    }
    if (b > a) covered += b - a
    (s.endNs - s.startNs - covered) / 1e6
  }

  /** Every span as one JSON document, with self time. */
  def json: String = {
    val kids = children
    all.map { s =>
      val w = s.work
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":"$runId",""" +
        f""""start_ms":${s.startMs},"dur_ms":${s.ms}%.3f,""" +
        f""""self_ms":${selfMs(s, kids.getOrElse(s.id, Nil))}%.3f,""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        s""""executor_run_ms":${w.runMs},"executor_cpu_ms":${w.cpuNs / 1000000},""" +
        s""""shuffle_write_bytes":${w.shuffleWrite},"spill_bytes":${w.spill},""" +
        s""""bytes_read":${w.bytesRead}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Sample statistics. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def q(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
}

/** Counters read from the plan the engine actually ran. */
object Plans {
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Files the executed plan's scans read. */
  def filesRead(df: org.apache.spark.sql.DataFrame): Long =
    nodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  /** Catalyst phase times of an executed query, in ms. */
  def phases(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
}
