package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession

object Ctx {
  /** Ticks per second of /proc's CPU times (USER_HZ, 100 on Linux). */
  val ClockTicks = 100
}

/** Per-run state shared by the workloads. */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val seconds: Int,
    val tracer: Tracer,
    val work: Path,
    val jvmStartMs: Long) {
  /** Wall clock at the first timed operation; set by [[setupDone]]. */
  var setupS: Double = Double.NaN
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()
  /** Per-layer values the workload measured; the rest report 0. */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** The workload's own end-to-end metrics, named as in the README. */
  val named = mutable.ArrayBuffer[(String, Double, String)]()

  def dir(name: String): String = work.resolve(name).toString

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time every thread of this JVM has used so far, in ms. */
  def cpuMs(): Double = os.getProcessCpuTime / 1e6

  /** The JVM's live threads whose name contains `part`. */
  def threadsNamed(part: String): Seq[Path] =
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten
      .map(_.toPath).filter(d => Try(Files.readString(d.resolve("comm"))).toOption
        .exists(_.contains(part)))

  /** CPU time the given threads have used so far, in ms (0 once gone). */
  def threadCpuMs(threads: Seq[Path]): Double = threads.flatMap { d =>
    Try {
      val st = Files.readString(d.resolve("stat"))
      val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
      (f(11).toLong + f(12).toLong) * 1000.0 / Ctx.ClockTicks
    }.toOption
  }.sum

  /** The JIT compiler's threads. run.py starts the JVM with
    * -XX:-UseDynamicNumberOfCompilerThreads, so they all live from
    * start-up to exit and their CPU time can be read at any moment.
    */
  private lazy val jitThreads = threadsNamed("CompilerThre")

  /** CPU time the JIT compiler has used so far, in ms. */
  def jitCpuMs(): Double = threadCpuMs(jitThreads)

  /** CPU time every thread but the JIT compiler's has used so far, in
    * ms: the work the program does, without the compiler catching up on
    * code that a 30-second run has only just made hot.
    */
  def workCpuMs(): Double = cpuMs() - jitCpuMs()

  /** JIT compiler CPU at [[setupDone]], in ms. */
  var jitAtSetupMs: Double = Double.NaN

  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    jitAtSetupMs = jitCpuMs()
  }

  def check(ok: Boolean, what: => String): Unit = if (!ok) errors += what

  def checkAll(diffs: Seq[String]): Unit = errors ++= diffs

  /** Run one counted operation; an exception is a failed operation. */
  def op[A](body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      failed += 1
      errors += s"operation failed: $e"
      None
    }
  }
}

/** The bounded end-to-end figures every workload reports (see README):
  * the CPU time, over every thread of the JVM, that its write path
  * spends per message and that its read side spends per read.
  */
final case class Headline(writeCpuMs: Double, readCpuMs: Double)

trait Workload {
  def name: String
  def run(c: Ctx): Headline
}

object Main {
  val Workloads: Seq[Workload] = Seq(Live, Corpus)

  val Cpus = 4

  /** Every per-layer metric a traced run reports, with its unit. A layer
    * the workload bypasses reports 0.
    */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "webhook.sent" -> "count", "webhook.ok" -> "count",
    "webhook.non200" -> "count", "webhook.conn_errors" -> "count",
    "webhook.service_p50_ms" -> "ms", "webhook.handler_cpu_ms" -> "ms", "webhook.send_lag_p95_ms" -> "ms",
    "webhook.inbox_files" -> "count", "webhook.max_rate" -> "1/s",
    "webhook.calib_lag_p95_ms" -> "ms", "webhook.keepalive_closed_p50_ms" -> "ms",
    "ingest.wall_s" -> "s", "ingest.batches" -> "count",
    "ingest.input_rows" -> "count", "ingest.routed_rows" -> "count",
    "ingest.raw_files_out" -> "count",
    "ingest.addBatch_ms" -> "ms", "ingest.getBatch_ms" -> "ms",
    "ingest.latestOffset_ms" -> "ms", "ingest.queryPlanning_ms" -> "ms",
    "ingest.walCommit_ms" -> "ms", "ingest.commitOffsets_ms" -> "ms",
    "etl.wall_s" -> "s", "etl.raw_files_in" -> "count",
    "etl.raw_bytes_in" -> "bytes", "etl.rows_out" -> "count",
    "etl.rejects" -> "count", "etl.dups_dropped" -> "count",
    "etl.parquet_files_out" -> "count", "etl.parquet_bytes_out" -> "bytes",
    "etl.jobs" -> "count", "etl.tasks" -> "count",
    "etl.executor_run_ms" -> "ms", "etl.shuffle_write_bytes" -> "bytes",
    "query.q1_ms" -> "ms", "query.q2_ms" -> "ms", "query.q3_ms" -> "ms",
    "query.q4_ms" -> "ms", "query.q5_ms" -> "ms",
    "query.analysis_ms" -> "ms", "query.optimization_ms" -> "ms",
    "query.planning_ms" -> "ms", "query.jobs" -> "count",
    "query.tasks" -> "count", "query.bytes_read" -> "bytes",
    "query.files_read" -> "count", "query.shuffle_bytes" -> "bytes",
    "gate.ms" -> "ms", "gate.jobs" -> "count", "gate.rejected" -> "count",
    "upsert.ms" -> "ms", "upsert.jobs" -> "count", "upsert.stages" -> "count",
    "upsert.tasks" -> "count", "upsert.shuffle_bytes" -> "bytes",
    "upsert.inserts" -> "count", "upsert.updates" -> "count",
    "delete.ms" -> "ms", "delete.jobs" -> "count",
    "probe.ms" -> "ms", "probe.jobs" -> "count", "probe.files_read" -> "count",
    "session.start_s" -> "s", "spark.executor_cpu_ms" -> "ms",
    "spark.spill_bytes" -> "bytes", "jvm.gc_ms" -> "ms", "jvm.jit_cpu_ms" -> "ms", "jvm.rss_peak_mb" -> "MB",
    "spark.persisted_rdds_end" -> "count", "spark.storage_mem_end_mb" -> "MB",
    "trace.write_cpu_ms" -> "ms", "trace.read_cpu_ms" -> "ms", "trace.spans" -> "count",
    "trace.jobs_reattributed" -> "count")

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl = arg(args, "--workload").getOrElse(Workloads.head.name)
    val workload = Workloads.find(_.name == wl)
      .getOrElse(sys.error(s"unknown workload $wl; one of ${Workloads.map(_.name).mkString(", ")}"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work required")))
      .toAbsolutePath
    Files.createDirectories(work)
    System.setProperty("spark.local.dir", work.resolve("spark-local").toString)
    System.setProperty("spark.sql.warehouse.dir", work.resolve("warehouse").toString)

    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("perfbench", Cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(trace, s"$wl-$seed")
    tracer.install(spark)
    val c = new Ctx(spark, seed, seconds, tracer, work, jvmStartMs)
    val h = try workload.run(c) catch {
      case e: Exception =>
        e.printStackTrace()
        c.errors += s"workload aborted: $e"
        Headline(Double.NaN, Double.NaN)
    }
    val jitMs = c.jitCpuMs() - c.jitAtSetupMs
    tracer.drain(spark)
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.size
    val storageMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum.toDouble
    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)

    val out = System.out
    out.println(s"perfbench workload=$wl seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"local[$Cpus] nproc=${Runtime.getRuntime.availableProcessors} " +
      s"SPARK_GRAFT_CPUS=${sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset")}")
    c.named += (("rss_peak_mb", rssMb, "MB"))
    c.named.foreach { case (n, v, u) => out.println(f"  $n%-22s $v%14.4f $u") }
    c.errors.take(20).foreach(e => out.println(s"  MISMATCH $e"))

    val correct = c.errors.isEmpty && c.failed == 0
    val metrics: Seq[(String, Double, String)] =
      if (!correct) Nil
      else if (!trace) Seq(
        ("setup_s", c.setupS, "s"),
        ("write_cpu_ms", h.writeCpuMs, "ms"),
        ("read_cpu_ms", h.readCpuMs, "ms"))
      else {
        val all = tracer.named("run").map(tracer.subtree)
        val w = new Work
        all.foreach(w.add)
        c.layer ++= Seq(
          "session.start_s" -> sessionS,
          "jvm.rss_peak_mb" -> rssMb,
          "spark.executor_cpu_ms" -> w.cpuNs / 1e6,
          "spark.spill_bytes" -> w.spill.toDouble,
          "jvm.gc_ms" -> gcMs,
          "jvm.jit_cpu_ms" -> jitMs,
          "spark.persisted_rdds_end" -> persisted.toDouble,
          "spark.storage_mem_end_mb" -> storageMb,
          "trace.write_cpu_ms" -> h.writeCpuMs,
          "trace.read_cpu_ms" -> h.readCpuMs,
          "trace.spans" -> tracer.spanCount.toDouble,
          "trace.jobs_reattributed" -> tracer.reattributed.get.toDouble)
        val traceDir = work.getParent.resolve("traces")
        Files.createDirectories(traceDir)
        Files.writeString(traceDir.resolve(s"$wl-$seed.json"), tracer.json)
        LayerMetrics.map { case (n, u) => (n, c.layer.getOrElse(n, 0.0), u) }
      }
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    out.println(s"""{"correct": $correct, "attempted": ${c.attempted.max(1)}, """ +
      s""""failed": ${c.failed}, "metrics": {${body.mkString(", ")}}}""")
    out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
