package graft.pipeline

import org.apache.spark.sql.{DataFrame, GraftSession, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion (reference entry point 1, SURVEY §3.1): webhook
  * bodies land as JSON files in an inbox directory; the job filters on
  * the routing chat id and appends them to the raw zone partitioned by
  * ingestion date.
  *
  * Spark mapping of the reference hot path (ipynb:295–337):
  *   - API GW → Lambda-per-event  ⇒ file-arrival micro-batches (at
  *     cluster scale: a Kafka source — same code, different `format`)
  *   - `chat_id == TELEGRAM_CHAT_ID` guard (ipynb:323)  ⇒ an early
  *     `filter` that Catalyst pushes into the scan
  *   - per-message S3 PUT with `context_date=` key (ipynb:330)  ⇒
  *     `partitionBy("context_date")` JSON sink
  *   - webhook retries / duplicate delivery (SURVEY §3.4)  ⇒ exactly-
  *     once sink bookkeeping via the checkpoint; ETL-side dedup by
  *     (chat_id, message_id) closes the remaining gap
  *
  * `context_date` is **ingestion wall-clock** in the pipeline timezone
  * (UTC-3 in the reference, ipynb:310) — event time is deliberately not
  * consulted (SURVEY §2.8).
  */
object IngestJob {

  val PipelineTz = "America/Sao_Paulo" // reference's UTC-3 (ipynb:310)

  /** The ingestion transform, shared by streaming and batch backfill:
    * routing filter + ingestion-date stamp.
    */
  def route(updates: DataFrame, chatId: Long): DataFrame =
    updates
      .filter(col("message.chat.id") === lit(chatId))
      // session-tz-proof pipeline-tz date: normalize the instant out of
      // the session zone before shifting into the pipeline zone, so the
      // to_date rendering (session tz) cancels — a bare
      // from_utc_timestamp is only right when the session runs UTC,
      // and IngestJob is a public entry point for any session.
      .withColumn("context_date",
        to_date(from_utc_timestamp(
          to_utc_timestamp(current_timestamp(), current_timezone()), PipelineTz)))

  /** Spark's cap on the tasks of a file-listing job (default 10000). */
  private val ListingParallelism = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

  /** File-inbox source — the gate-scale stand-in for the webhook: one
    * JSON body per file under `inboxDir`.
    *
    * The reader lives in a clone of `spark` whose file listing runs one
    * task per core. Every micro-batch re-resolves its files as root
    * paths (`FileStreamSource.getBatch`), and Spark lists more than
    * `parallelPartitionDiscovery.threshold` (32) root paths with a job
    * of `min(paths, parallelism)` tasks: at the default cap of 10000 and
    * one body per file, one task per file, each a single
    * `getFileStatus`. The clone keeps the caller's runtime conf
    * (`maxPartitionBytes` decides how many raw files a batch writes)
    * and leaves the caller's own conf untouched, so its other queries
    * list as before.
    */
  def fileSource(spark: SparkSession, inboxDir: String): DataFrame = {
    val drain = GraftSession.cloned(spark)
    drain.conf.set(ListingParallelism, spark.sparkContext.defaultParallelism.toLong)
    drain.readStream
      .schema(TelegramSchema.updateSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", TelegramSchema.CorruptCol)
      .json(inboxDir)
  }

  /** A real HTTP webhook ENDPOINT in front of the file inbox — the
    * localhost analog of the reference's full ingress chain (ipynb:420
    * `setWebhook` → API Gateway URL; ipynb:295–337 Lambda writes each
    * update's JSON body to the raw zone): each `POST /webhook` body is
    * persisted as ONE file in `inboxDir`, which [[fileSource]]'s
    * streaming reader consumes. JDK `com.sun.net.httpserver` — no
    * dependencies, and the handler is transport-only (no parsing, no
    * routing): malformed bodies flow through to the PERMISSIVE reader's
    * corrupt-record column exactly like every other transport, so the
    * pipeline's error semantics stay in one place.
    *
    * Durability contract: the body is written to a dot-prefixed temp
    * file and ATOMIC_MOVE'd into place, so the streaming reader can
    * never observe a partial body; 200 is sent only after the move, so
    * a sender that retries on non-200 (Telegram's webhook contract)
    * re-delivers anything lost mid-write — duplicate delivery is
    * already the pipeline's problem and is closed ETL-side by the
    * (chat_id, message_id) dedup (SURVEY §3.4).
    *
    * Returns the started server; callers stop it with `.stop(0)`, which
    * also shuts down its `handlerThreads` pool. Port
    * 0 binds an ephemeral port — read it back from
    * `getAddress.getPort` (PipelineEndToEndSpec drives real HTTP POSTs
    * through it end-to-end into the raw zone).
    */
  def webhookEndpoint(
      inboxDir: String,
      port: Int = 0,
      path: String = "/webhook",
      maxBodyBytes: Int = 1 << 20,
      handlerThreads: Int = 4): com.sun.net.httpserver.HttpServer = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inboxDir))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, port), 0)
    // A bounded pool instead of the default single-thread dispatcher:
    // one slow sender stalls only its own worker, not the endpoint.
    // `HttpServer.stop` leaves the executor running, so the returned
    // server shuts the pool down on stop; daemon threads so an endpoint
    // that is never stopped does not pin the JVM open.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      handlerThreads,
      (r: Runnable) => {
        val t = new Thread(r, "graft-webhook-handler")
        t.setDaemon(true)
        t
      })
    server.setExecutor(pool)
    val seq = new java.util.concurrent.atomic.AtomicLong()
    server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) =>
      try {
        if (ex.getRequestMethod == "POST") {
          // readNBytes caps the accepted body — an oversized POST is cut
          // off at the limit and rejected with 413 instead of buffering
          // an attacker-chosen byte count into the heap (loopback-only
          // binding narrows exposure; the cap removes it).
          val body = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
          if (body.length > maxBodyBytes) {
            ex.sendResponseHeaders(413, -1)
          } else {
            val name = f"update_${seq.incrementAndGet()}%012d_${System.nanoTime()}%d.json"
            val dir = java.nio.file.Paths.get(inboxDir)
            val tmp = dir.resolve("." + name)
            java.nio.file.Files.write(tmp, body)
            java.nio.file.Files.move(tmp, dir.resolve(name),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            val ok = "ok".getBytes(java.nio.charset.StandardCharsets.UTF_8)
            ex.sendResponseHeaders(200, ok.length)
            ex.getResponseBody.write(ok)
          }
        } else ex.sendResponseHeaders(405, -1)
      } finally ex.close())
    server.start()
    new PooledServer(server, pool)
  }

  /** `server`, except that `stop` also shuts down its handler pool. */
  private final class PooledServer(
      server: com.sun.net.httpserver.HttpServer,
      pool: java.util.concurrent.ExecutorService)
      extends com.sun.net.httpserver.HttpServer {
    import com.sun.net.httpserver.{HttpContext, HttpHandler}
    def stop(delay: Int): Unit = try server.stop(delay) finally pool.shutdown()
    def bind(addr: java.net.InetSocketAddress, backlog: Int): Unit = server.bind(addr, backlog)
    def start(): Unit = server.start()
    def setExecutor(e: java.util.concurrent.Executor): Unit = server.setExecutor(e)
    def getExecutor: java.util.concurrent.Executor = server.getExecutor
    def createContext(path: String, h: HttpHandler): HttpContext = server.createContext(path, h)
    def createContext(path: String): HttpContext = server.createContext(path)
    def removeContext(path: String): Unit = server.removeContext(path)
    def removeContext(c: HttpContext): Unit = server.removeContext(c)
    def getAddress: java.net.InetSocketAddress = server.getAddress
  }

  /** Kafka-wire-shaped source adapter: any stream carrying raw webhook
    * bodies in a `value` column (binary or string — the shape
    * `spark.readStream.format("kafka").load()` emits) parses into the
    * update schema under the same PERMISSIVE + corrupt-record contract
    * as the file inbox. This is the 100 TB seam (SURVEY §2.1):
    * {{{
    * startFrom(fromMessageStream(
    *   spark.readStream.format("kafka")
    *     .option("kafka.bootstrap.servers", servers)
    *     .option("subscribe", topic).load()),
    *   rawDir, checkpointDir, chatId)
    * }}}
    * `route`/flatten/sink never see the transport, so swapping it
    * changes no pipeline semantics (pinned by the MemoryStream variant
    * in PipelineEndToEndSpec).
    */
  def fromMessageStream(messages: DataFrame): DataFrame =
    messages.select(
      from_json(col("value").cast("string"), TelegramSchema.updateSchema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> TelegramSchema.CorruptCol)).as("u"))
      .select(col("u.*"))

  /** Start the streaming job from the file inbox: inbox JSON → raw zone
    * JSON, daily partitions. The query runs in [[fileSource]]'s clone of
    * `spark` (so it lists each batch with one task per core), which
    * means `q.sparkSession` is the clone and the query is registered
    * with the clone's `streams`, not the caller's.
    */
  def start(
      spark: SparkSession,
      inboxDir: String,
      rawDir: String,
      checkpointDir: String,
      chatId: Long,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startFrom(fileSource(spark, inboxDir), rawDir, checkpointDir, chatId, trigger)

  /** Start the streaming job from ANY update-shaped source ([[fileSource]],
    * [[fromMessageStream]] over Kafka/MemoryStream, …). One output file
    * per micro-batch per partition — the raw zone stays append-only and
    * replayable, as verbatim JSON (SURVEY §2.2).
    */
  def startFrom(
      updates: DataFrame,
      rawDir: String,
      checkpointDir: String,
      chatId: Long,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    route(updates, chatId).writeStream
      .format("json")
      .option("path", rawDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("context_date")
      .trigger(trigger)
      .start()
}
