package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, ZoneId}

import graft.pipeline.{EtlJob, IngestJob, TelegramQueries}

/** `telegram-live`: the paper's live path. An open-loop generator POSTs
  * Telegram updates to `IngestJob.webhookEndpoint` over four persistent
  * connections, stepping through a fixed ladder of offered rates with the
  * same message count on each rung; one `IngestJob.start` (AvailableNow)
  * then drains the inbox into the raw zone, `EtlJob.run` processes every
  * `context_date=` partition ingest produced, and Q2 runs. Then an
  * analyst's closed loop runs Q1–Q5 round-robin over the zone. It is the
  * only workload that exercises the HTTP endpoint, the small-file
  * streaming ingest, ETL and the queries.
  */
object Live extends Workload {
  val name = "telegram-live"

  val Connections = 4
  /** Offered rates (messages/s over all connections). The lowest sits far
    * below the endpoint's keep-alive capacity, the top far above it.
    */
  val Rates: Seq[Double] = Seq(40.0, 80.0, 320.0)
  val PerRung = 200
  val LimitMs = 250.0
  /** The name `IngestJob.webhookEndpoint` gives its handler threads. */
  val HandlerThread = "graft-webhook"
  val Tz: ZoneId = ZoneId.of(IngestJob.PipelineTz)


  val WarmPosts = 60

  /** POST every body through `conns` connections, each sending its share
    * back to back; returns each request's latency in ms.
    */
  private def closedLoop(c: Ctx, server: com.sun.net.httpserver.HttpServer,
      bodies: Seq[Array[Byte]], conns: Int): Seq[Double] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val threads = bodies.grouped((bodies.size + conns - 1) / conns).toSeq.map { share =>
      val th = new Thread(() => {
        val conn = new Conn(server.getAddress.getPort, "/webhook")
        try share.foreach { b =>
          val t0 = System.nanoTime()
          if (conn.post(b) != 200) c.errors.synchronized { c.errors += "warm-up POST refused" }
          out.add((System.nanoTime() - t0) / 1e6)
        } finally conn.close()
      })
      th.start()
      th
    }
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq
  }

  /** The drain after the ladder: ingest, ETL of every day it wrote, Q2. */
  private final case class Drain(
      query: Option[org.apache.spark.sql.streaming.StreamingQuery],
      ingestS: Double,
      from: LocalDate,
      until: LocalDate,
      etl: Seq[(LocalDate, Option[(Long, Long)], Double)],
      q2: Option[(org.apache.spark.sql.DataFrame, Array[org.apache.spark.sql.Row])],
      shown: Long,
      handlerCpuMs: Double,
      writeCpuMs: Double,
      readCpuMs: Double,
      queries: Seq[(Int, org.apache.spark.sql.DataFrame, Array[org.apache.spark.sql.Row], Double)])

  /** One pass of the whole path on its own directories. */
  private final case class Pass(root: String) {
    val inbox = s"$root/inbox"
    val raw = s"$root/raw"
    val ckpt = s"$root/ckpt"
    val enriched = s"$root/enriched"
  }

  def run(c: Ctx): Headline = {
    val t = c.tracer
    val bodies = new Gen(c.seed).bodies(Rates.size * PerRung, 1718000000L, 3600)
    val payload = bodies.map(_.json.getBytes(UTF_8))

    // Setup: prove the generator keeps the top rung's schedule against a
    // responder that costs nothing, then warm the whole path once.
    val calib = {
      val r = new TrivialResponder
      try {
        val conns = Seq.fill(Connections)(new Conn(r.port, "/webhook"))
        try OpenLoop.rung(conns, payload.take(PerRung), Rates.max)
        finally conns.foreach(_.close())
      } finally r.close()
    }
    val warm = Pass(c.dir("warm"))
    val warmBodies = new Gen(c.seed ^ 0x5eedL).bodies(WarmPosts, 1718000000L, 3600)
      .map(_.json.getBytes(UTF_8))
    // The keep-alive probe (back to back on one connection: the closed
    // loop that shows the stall), then a pass over every connection that
    // leaves files for the ingest warm-up.
    val ws = IngestJob.webhookEndpoint(warm.inbox, handlerThreads = Connections)
    val keepAlive = try {
      val k = closedLoop(c, ws, warmBodies.take(20), 1)
      closedLoop(c, ws, warmBodies.drop(20), Connections)
      k
    } finally ws.stop(0)
    IngestJob.start(c.spark, warm.inbox, warm.raw, warm.ckpt, Gen.ChatId).awaitTermination()
    Io.partitions(warm.raw).foreach(d => EtlJob.run(c.spark, warm.raw, warm.enriched, d))
    EtlJob.registerTable(c.spark, warm.enriched)
    (1 to 5).foreach(k => TelegramQueries.sql(c.spark, k).collect())

    val p = Pass(c.dir("live"))
    val server = IngestJob.webhookEndpoint(p.inbox, handlerThreads = Connections)
    c.setupDone()

    val (rungs, drain) = try t.span("run") {
      val cpu0 = c.workCpuMs()
      // the endpoint's handler threads (named by IngestJob) start on
      // its first request; those of the warm-up server sit idle
      val handlerCpu0 = c.threadCpuMs(c.threadsNamed(HandlerThread))
      val conns = Seq.fill(Connections)(new Conn(server.getAddress.getPort, "/webhook"))
      val rungs = try Rates.zipWithIndex.map { case (rate, i) =>
        t.span("webhook.rung") {
          OpenLoop.rung(conns, payload.slice(i * PerRung, (i + 1) * PerRung), rate)
        }
      } finally conns.foreach(_.close())
      val handlerCpuMs = c.threadCpuMs(c.threadsNamed(HandlerThread)) - handlerCpu0
      val from = LocalDate.now(Tz)
      val t0 = System.nanoTime()
      val q = t.span("ingest.start") {
        c.op { val q = IngestJob.start(c.spark, p.inbox, p.raw, p.ckpt, Gen.ChatId)
          q.awaitTermination(); q }
      }
      val ingestS = (System.nanoTime() - t0) / 1e9
      val until = LocalDate.now(Tz)
      // every day the drain wrote (a drain across midnight in the
      // pipeline zone writes two)
      val etl = Io.partitions(p.raw).map { d =>
        val e0 = System.nanoTime()
        val r = t.span("etl.run") { c.op(EtlJob.run(c.spark, p.raw, p.enriched, d)) }
        (d, r, (System.nanoTime() - e0) / 1e9)
      }
      val writeCpuMs = c.workCpuMs() - cpu0
      val q2 = t.span("query.q2") {
        c.op {
          EtlJob.registerTable(c.spark, p.enriched)
          val df = TelegramQueries.sql(c.spark, 2)
          (df, df.collect())
        }
      }
      val shown = System.nanoTime()
      // an analyst's closed loop over the zone the drain wrote: Q1-Q5
      // round-robin, each query issued when the previous one returned,
      // one query per second of --seconds
      val cpu1 = c.workCpuMs()
      val queries = (0 until c.seconds).flatMap { i =>
        val k = i % 5 + 1
        t.span(s"query.q$k") {
          val q0 = System.nanoTime()
          c.op {
            val df = TelegramQueries.sql(c.spark, k)
            (k, df, df.collect(), (System.nanoTime() - q0) / 1e6)
          }
        }
      }
      val readCpuMs = c.workCpuMs() - cpu1
      (rungs, Drain(q, ingestS, from, until, etl, q2, shown, handlerCpuMs, writeCpuMs, readCpuMs, queries))
    } finally server.stop(0)

    // The oracle: the raw zone must hold exactly the routed bodies that
    // were accepted, in partitions dated while the drain ran
    // (context_date is ingestion wall-clock in the pipeline zone); ETL
    // and Q2 must agree with it.
    val all = rungs.flatten
    val expectRouted = bodies.zip(all).filter { case (b, s) => s.ok && b.routed }.map(_._1.msg)
    val rawByDay = Io.partitions(p.raw).map { d =>
      d -> Io.dataFiles(s"${p.raw}/context_date=$d").flatMap(Io.rawRows).map(Io.msgOf)
    }.toMap
    val zone: Oracle.Zone = rawByDay.map { case (d, ms) => d -> ms.toSet }
    c.check(rawByDay.keys.forall(d => !d.isBefore(drain.from) && !d.isAfter(drain.until)),
      s"raw partitions ${rawByDay.keys.toSeq.sorted} outside ingest dates ${drain.from}..${drain.until}")
    c.check(rawByDay.values.flatten.toSeq.sortBy(_.messageId) == expectRouted.sortBy(_.messageId),
      s"raw zone holds ${rawByDay.values.map(_.size).sum} rows, expected ${expectRouted.size} routed")
    drain.etl.foreach { case (d, r, _) =>
      r.foreach { case (rows, rejects) =>
        c.check(rows == zone(d).size && rejects == 0,
          s"EtlJob.run($d) returned ($rows, $rejects), expected (${zone(d).size}, 0)")
      }
    }
    c.checkAll(Oracle.zoneDiff(zone, Io.readZone(c.spark, p.enriched)))
    drain.q2.foreach { case (_, rows) =>
      val got = rows.map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toSeq
      c.check(got == Oracle.q2(zone).toSeq.sortBy(_._1).reverse,
        s"Q2 ${got.mkString(",")} != expected ${Oracle.q2(zone)}")
    }
    val answers = new Queries.Expected(zone)
    drain.queries.foreach { case (k, _, rows, _) => c.checkAll(answers.check(k, rows)) }

    c.attempted += all.size
    c.failed += all.count(!_.ok)
    val low = rungs.head
    val maxRate = Rates.zip(rungs).filter { case (_, s) => OpenLoop.sustained(s, LimitMs) }
      .map(_._1).maxOption.getOrElse(0.0)
    val routed = expectRouted.size.toDouble
    val ingestS = drain.ingestS
    val accepted = all.filter(_.ok)
    val freshS = if (accepted.isEmpty) Double.NaN else (drain.shown - accepted.map(_.done).max) / 1e9
    c.named ++= Seq(
      ("webhook_p50_ms", Stats.median(low.map(_.latencyMs)), "ms"),
      ("webhook_p95_ms", Stats.q(low.map(_.latencyMs), 0.95), "ms"),
      ("webhook_max_rate", maxRate, "1/s"),
      ("webhook_burst_p50_ms", Stats.median(rungs.last.map(_.latencyMs)), "ms"),
      ("ingest_msgs_per_s", routed / ingestS, "1/s"),
      ("freshness_s", freshS, "s"),
      ("query_p50_ms", Stats.median(drain.queries.map(_._4)), "ms"),
      ("query_p90_ms", Stats.q(drain.queries.map(_._4), 0.9), "ms"),
      ("queries", drain.queries.size.toDouble, "count"))
    c.named ++= Rates.zip(rungs).map { case (r, s) =>
      (f"rung_${r.toInt}%d_p95_ms", Stats.q(s.map(_.latencyMs), 0.95), "ms") }
    c.named += (("calib_send_lag_p95_ms", Stats.q(calib.map(_.lagMs), 0.95), "ms"))
    c.named += (("keepalive_closed_p50_ms", Stats.median(keepAlive), "ms"))

    if (t.on) {
      t.drain(c.spark)
      val progress = drain.query.toSeq.flatMap(_.recentProgress.toSeq)
      def dur(k: String): Double =
        progress.map(pr => Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      val etl = t.work("etl.run")
      val days = drain.etl
      val rawFiles = Io.dataFiles(p.raw)
      val enrichedFiles = Io.dataFiles(p.enriched)
      val rowsOut = days.flatMap(_._2).map(_._1).sum
      c.layer ++= Seq(
        "webhook.sent" -> all.size.toDouble,
        "webhook.ok" -> all.count(_.ok).toDouble,
        "webhook.non200" -> all.count(s => s.status > 0 && s.status != 200).toDouble,
        "webhook.conn_errors" -> all.count(_.status < 0).toDouble,
        "webhook.service_p50_ms" -> Stats.median(low.map(_.serviceMs)),
        "webhook.handler_cpu_ms" -> drain.handlerCpuMs / all.size,
        "webhook.send_lag_p95_ms" -> Stats.q(low.map(_.lagMs), 0.95),
        "webhook.inbox_files" -> Io.dataFiles(p.inbox).size.toDouble,
        "webhook.max_rate" -> maxRate,
        "webhook.calib_lag_p95_ms" -> Stats.q(calib.map(_.lagMs), 0.95),
        "webhook.keepalive_closed_p50_ms" -> Stats.median(keepAlive),
        "ingest.wall_s" -> ingestS,
        "ingest.batches" -> progress.count(_.numInputRows > 0).toDouble,
        "ingest.input_rows" -> progress.map(_.numInputRows).sum.toDouble,
        "ingest.routed_rows" -> rawByDay.values.map(_.size).sum.toDouble,
        "ingest.raw_files_out" -> rawFiles.size.toDouble,
        "ingest.addBatch_ms" -> dur("addBatch"), "ingest.getBatch_ms" -> dur("getBatch"),
        "ingest.latestOffset_ms" -> dur("latestOffset"),
        "ingest.queryPlanning_ms" -> dur("queryPlanning"),
        "ingest.walCommit_ms" -> dur("walCommit"), "ingest.commitOffsets_ms" -> dur("commitOffsets"),
        "etl.wall_s" -> days.map(_._3).sum,
        "etl.raw_files_in" -> rawFiles.size.toDouble,
        "etl.raw_bytes_in" -> Io.bytes(rawFiles).toDouble,
        "etl.rows_out" -> rowsOut.toDouble,
        "etl.rejects" -> days.flatMap(_._2).map(_._2).sum.toDouble,
        "etl.dups_dropped" -> (rawByDay.values.map(_.size).sum - rawByDay.values.map(_.toSet.size).sum).toDouble,
        "etl.parquet_files_out" -> enrichedFiles.size.toDouble,
        "etl.parquet_bytes_out" -> Io.bytes(enrichedFiles).toDouble,
        "etl.jobs" -> etl.jobs.toDouble, "etl.tasks" -> etl.tasks.toDouble,
        "etl.executor_run_ms" -> etl.runMs.toDouble,
        "etl.shuffle_write_bytes" -> etl.shuffleWrite.toDouble)
      Queries.record(c, drain.q2.map { case (df, _) => (2, df, t.ms("query.q2")) }.toSeq ++
        drain.queries.map { case (k, df, _, ms) => (k, df, ms) })
    }
    Headline(drain.writeCpuMs / all.size, drain.readCpuMs / drain.queries.size)
  }
}
