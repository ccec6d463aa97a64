package graft.pipeline

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

/** End-to-end smoke of the reference pipeline (SURVEY §5.2): fixture
  * webhook JSONs → (ingest) raw zone → ETL → enriched parquet →
  * `telegram` table → golden outputs for Q1–Q5.
  *
  * Fixture design (FIXTURES.md A2): 2 days × 3 users; a NULL-text row
  * Q4 must skip; dates pinned on a Sunday→Monday ISO-week boundary so
  * Q5's Presto dow (Mon=1…Sun=7) and ISO week are observable.
  */
class PipelineEndToEndSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def msg(updateId: Long, msgId: Long, userId: Long, name: String,
      isBot: Boolean, date: Long, text: Option[String]): String = {
    val textPart = text.map(t => s""","text":"$t"""").getOrElse("")
    s"""{"update_id":$updateId,"message":{"message_id":$msgId,"from":{"id":$userId,"is_bot":$isBot,"first_name":"$name"},"chat":{"id":-100,"type":"group"},"date":$date$textPart}}"""
  }

  // 2024-01-07 = Sunday (isodow 7, ISO week 1); 2024-01-08 = Monday (1, week 2)
  val day1 = java.time.LocalDate.of(2024, 1, 7)
  val day2 = java.time.LocalDate.of(2024, 1, 8)
  val t1 = 1704628800L // 2024-01-07 12:00:00 UTC
  val t2 = 1704720600L // 2024-01-08 13:30:00 UTC

  def writeRawZone(): Path = {
    val raw = Files.createTempDirectory("raw_zone")
    val d1 = Files.createDirectories(raw.resolve(s"context_date=$day1"))
    val d2 = Files.createDirectories(raw.resolve(s"context_date=$day2"))
    Files.write(d1.resolve("a.json"), Seq(
      msg(1, 101, 11, "Ana", false, t1, Some("hello")),
      msg(2, 102, 11, "Ana", false, t1 + 60, Some("hi")),
      msg(3, 103, 12, "Bob", false, t1 + 120, None), // NULL text
      // webhook redelivery: same (chat_id, message_id) again
      msg(4, 102, 11, "Ana", false, t1 + 60, Some("hi")),
      // non-message update — must reject-route, not abort the day
      """{"update_id":5,"edited_message":{"message_id":101,"chat":{"id":-100,"type":"group"},"date":1704628801}}"""
    ).mkString("\n").getBytes("UTF-8"))
    Files.write(d2.resolve("b.json"), Seq(
      msg(6, 201, 11, "Ana", false, t2, Some("abcdef")),
      msg(7, 202, 12, "Bob", false, t2 + 60, Some("abcd")),
      msg(8, 203, 12, "Bob", false, t2 + 120, None),
      msg(9, 204, 13, "Cat", true, t2 + 180, Some("meow"))
    ).mkString("\n").getBytes("UTF-8"))
    raw
  }

  lazy val enrichedDir: String = {
    val raw = writeRawZone()
    val enriched = Files.createTempDirectory("enriched_zone").toString
    val (n1, rej1) = EtlJob.run(spark, raw.toString, enriched, day1)
    val (n2, rej2) = EtlJob.run(spark, raw.toString, enriched, day2)
    assert(n1 === 3) // 4 messages minus 1 redelivery dup
    assert(rej1 === 1) // the edited_message
    assert(n2 === 4 && rej2 === 0)
    EtlJob.registerTable(spark, enriched)
    enriched
  }

  test("ETL re-run is idempotent: retrying a day replaces, never duplicates") {
    enrichedDir // force the initial two runs
    val before = spark.table("telegram").count()
    // second run of day1 over the same raw zone (retry/backfill scenario)
    val raw2 = writeRawZone()
    val (n, _) = EtlJob.run(spark, raw2.toString, enrichedDir, day1)
    EtlJob.registerTable(spark, enrichedDir)
    assert(n === 3)
    assert(spark.table("telegram").count() === before)
  }

  test("ETL counts rejects on the write: corrupt line + edited_message") {
    val raw = Files.createTempDirectory("raw_rejects")
    val day = java.time.LocalDate.of(2024, 1, 9)
    val d = Files.createDirectories(raw.resolve(s"context_date=$day"))
    Files.write(d.resolve("c.json"), Seq(
      msg(21, 301, 11, "Ana", false, t2 + 86400, Some("one")),
      """{"update_id":22,"message":{"message_id":302,""",
      msg(23, 303, 12, "Bob", false, t2 + 86460, Some("three")),
      """{"update_id":24,"edited_message":{"message_id":301,"chat":{"id":-100,"type":"group"},"date":1704893000}}"""
    ).mkString("\n").getBytes("UTF-8"))
    val enriched = Files.createTempDirectory("enriched_rejects").toString
    assert(EtlJob.run(spark, raw.toString, enriched, day) === ((2L, 2L)))
    assert(spark.read.parquet(enriched).count() === 2L)
  }

  test("U2 compaction: one parquet file per day partition") {
    val d = new java.io.File(s"$enrichedDir/context_date=$day1")
    assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1)
  }

  test("Q1: scan + limit") {
    assert(TelegramQueries.sql(spark, 1).count() === 7)
  }

  test("Q2: daily counts, newest first (golden)") {
    val rows = TelegramQueries.sql(spark, 2).collect()
      .map(r => (r.get(0).toString, r.getLong(1)))
    assert(rows.toSeq === Seq(("2024-01-08", 4L), ("2024-01-07", 3L)))
  }

  test("Q3: per-user daily counts (golden)") {
    val rows = TelegramQueries.sql(spark, 3).collect()
      .map(r => (r.getLong(0), r.get(2).toString, r.getLong(3))).toSet
    assert(rows === Set(
      (11L, "2024-01-08", 1L), (12L, "2024-01-08", 2L), (13L, "2024-01-08", 1L),
      (11L, "2024-01-07", 2L), (12L, "2024-01-07", 1L)))
  }

  test("Q4: avg(length(text)) rounded to nearest (Presto cast), NULLs skipped (golden)") {
    val rows = TelegramQueries.sql(spark, 4).collect()
      .map(r => ((r.getLong(0), r.get(2).toString), Option(r.get(3)))).toMap
    // Ana day1: lengths (5, 2) → avg 3.5 → Presto CAST rounds to 4
    // (FLOOR would give 3 — this case pins rounding, not truncation)
    assert(rows((11L, "2024-01-07")) === Some(4))
    // Bob day1: only a NULL text → AVG over empty → NULL
    assert(rows((12L, "2024-01-07")) === None)
    // Bob day2: one NULL skipped, one len-4 → 4
    assert(rows((12L, "2024-01-08")) === Some(4))
  }

  test("Q5: Presto dow (Mon=1..Sun=7) + ISO week on the boundary (golden)") {
    val rows = TelegramQueries.sql(spark, 5).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // Sunday 12:xx UTC events → (hour 12, dow 7, week 1), 3 messages
    // Monday 13:xx UTC events → (hour 13, dow 1, week 2), 4 messages
    assert(rows.toSeq === Seq((12, 7, 1, 3L), (13, 1, 2, 4L)))
  }

  test("Q2-Q5 DataFrame builders match the SQL front end") {
    val telegram = spark.table("telegram")
    for ((df, n) <- Seq(
        TelegramQueries.q2(telegram) -> 2, TelegramQueries.q3(telegram) -> 3,
        TelegramQueries.q4(telegram) -> 4, TelegramQueries.q5(telegram) -> 5)) {
      val a = df.collect().map(_.toSeq.map(v => Option(v).map(_.toString))).toSet
      val b = TelegramQueries.sql(spark, n).collect()
        .map(_.toSeq.map(v => Option(v).map(_.toString))).toSet
      assert(a === b, s"Q$n DataFrame vs SQL mismatch")
    }
  }

  test("IngestJob: routing filter + corrupt handling + date stamping (S1/S2/P1)") {
    val inbox = Files.createTempDirectory("inbox")
    Files.write(inbox.resolve("m1.json"),
      msg(1, 900, 11, "Ana", false, t1, Some("keep me")).getBytes("UTF-8"))
    Files.write(inbox.resolve("m2.json"), // wrong chat → dropped (ipynb:323-325)
      msg(2, 901, 11, "Ana", false, t1, Some("wrong chat"))
        .replace("\"id\":-100", "\"id\":-200").getBytes("UTF-8"))
    Files.write(inbox.resolve("m3.json"), "not json at all".getBytes("UTF-8"))
    val rawOut = Files.createTempDirectory("raw_out").toString
    val ckpt = Files.createTempDirectory("ckpt").toString
    val q = IngestJob.start(spark, inbox.toString, rawOut, ckpt, chatId = -100L)
    q.awaitTermination()
    val written = spark.read.schema(TelegramSchema.updateSchema).json(rawOut)
    assert(written.count() === 1)
    assert(written.select("message.message_id").head().getLong(0) === 900L)
    // partition dir carries today's ingestion date in the pipeline tz
    val today = java.time.LocalDate.now(java.time.ZoneId.of(IngestJob.PipelineTz))
    assert(new java.io.File(s"$rawOut/context_date=$today").exists())
  }

  test("IngestJob source seam: BINARY value column (Kafka's actual wire type) parses identically") {
    import spark.implicits._
    // format("kafka") emits value: binary, not string — the seam must
    // accept both; fromMessageStream's cast covers it.
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Array[Byte]](spark)
    mem.addData(msg(1, 902, 11, "Ana", false, t1, Some("binary wire")).getBytes("UTF-8"))
    val rawOut = Files.createTempDirectory("raw_out_bin").toString
    val ckpt = Files.createTempDirectory("ckpt_bin").toString
    val q = IngestJob.startFrom(
      IngestJob.fromMessageStream(mem.toDF()), rawOut, ckpt, chatId = -100L)
    q.awaitTermination()
    val written = spark.read.schema(TelegramSchema.updateSchema).json(rawOut)
    assert(written.count() === 1)
    assert(written.select("message.message_id").head().getLong(0) === 902L)
  }

  test("Kafka-frame ingest END-TO-END: binary frames -> raw zone -> ETL row-identical to the file-inbox run") {
    import spark.implicits._
    // The full fixture set (both days' messages, the redelivery dup and
    // the edited_message reject included) driven through BOTH transports
    // and the ETL: the enriched relations must match row-for-row,
    // because route/flatten/dedup never see the transport.
    val messages = Seq(
      msg(1, 101, 11, "Ana", false, t1, Some("hello")),
      msg(2, 102, 11, "Ana", false, t1 + 60, Some("hi")),
      msg(3, 103, 12, "Bob", false, t1 + 120, None),
      msg(4, 102, 11, "Ana", false, t1 + 60, Some("hi")), // redelivery
      """{"update_id":5,"edited_message":{"message_id":101,"chat":{"id":-100,"type":"group"},"date":1704628801}}""",
      msg(6, 201, 11, "Ana", false, t2, Some("abcdef")),
      msg(7, 202, 12, "Bob", false, t2 + 60, Some("abcd")),
      msg(8, 203, 12, "Bob", false, t2 + 120, None),
      msg(9, 204, 13, "Cat", true, t2 + 180, Some("meow")))
    // Path A: file inbox (one JSON body per file, the webhook stand-in)
    val inbox = Files.createTempDirectory("e2e_inbox")
    messages.zipWithIndex.foreach { case (m, i) =>
      Files.write(inbox.resolve(f"m$i%02d.json"), m.getBytes("UTF-8"))
    }
    val rawA = Files.createTempDirectory("e2e_raw_a").toString
    IngestJob.start(spark, inbox.toString, rawA,
      Files.createTempDirectory("e2e_ckpt_a").toString, chatId = -100L)
      .awaitTermination()
    // Path B: the same bodies as BINARY Kafka-wire frames
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Array[Byte]](spark)
    mem.addData(messages.map(_.getBytes("UTF-8")))
    val rawB = Files.createTempDirectory("e2e_raw_b").toString
    IngestJob.startFrom(
      IngestJob.fromMessageStream(mem.toDF()), rawB,
      Files.createTempDirectory("e2e_ckpt_b").toString, chatId = -100L)
      .awaitTermination()
    // Both paths stamped today's ingestion date; ETL that partition
    val today = java.time.LocalDate.now(java.time.ZoneId.of(IngestJob.PipelineTz))
    val enrA = Files.createTempDirectory("e2e_enr_a").toString
    val enrB = Files.createTempDirectory("e2e_enr_b").toString
    val (na, ra) = EtlJob.run(spark, rawA, enrA, today)
    val (nb, rb) = EtlJob.run(spark, rawB, enrB, today)
    // 9 bodies: the edited_message never routes (no message.chat.id),
    // the redelivery collapses in the ETL dedup -> 7 enriched rows
    assert(na === 7 && nb === 7)
    assert(ra === rb)
    def rows(dir: String) = spark.read
      .schema(TelegramSchema.enrichedSchema).parquet(dir)
      .collect().map(_.toSeq.map(v => Option(v).map(_.toString))).toSet
    assert(rows(enrA) === rows(enrB))
  }

  test("incremental manifest: two micro-batches reproduce the batch manifest on the union (q95 twin)") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, dir, "documents")
    // id-ordered halves: first-seen-wins across batches then coincides
    // with the batch manifest's global min-id dedup winner
    val mid = docs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0).toLong
    val stage = Files.createTempDirectory("inc_manifest_src")
    val srcDir = stage.resolve("src")
    Files.createDirectories(srcDir)
    Seq(docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid))
      .zipWithIndex.foreach { case (half, i) =>
        val part = stage.resolve(s"half$i")
        half.coalesce(1).write.mode("overwrite").parquet(part.toString)
        val f = part.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
        val dst = srcDir.resolve(f"part$i%02d.parquet")
        Files.move(f.toPath, dst)
        dst.toFile.setLastModified(1700000000000L + i * 60000L) // arrival order
      }
    val src = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val stateDir = Files.createTempDirectory("inc_manifest_state").toString
    val q = graft.streaming.IncrementalManifest.start(
      src, bench, stateDir,
      Files.createTempDirectory("inc_manifest_ckpt").toString)
    q.awaitTermination()
    // genuinely incremental: one state partition per micro-batch
    assert(new java.io.File(stateDir).listFiles
      .count(f => f.isDirectory && f.getName.startsWith("batch=")) === 2)
    def manifestRows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val incremental = manifestRows(
      graft.streaming.IncrementalManifest.manifest(spark, stateDir))
    val batch = manifestRows(
      graft.SparkEntry.queries("q95_training_manifest")(spark, dir))
    assert(incremental === batch)
  }

  test("LIVE push ingress: webhook bodies over a real TCP socket land in the raw zone") {
    // The closest a no-egress sandbox gets to the reference's live
    // webhook: this test IS the push endpoint's peer — it serves the
    // bodies over a localhost TCP socket, Spark's socket source
    // receives them as a `value`-column stream, and the SAME
    // fromMessageStream/route/sink path used for Kafka frames writes
    // the raw zone. Ingress is genuinely push (bytes arrive over a
    // socket while the query runs), unlike the file-inbox stand-in.
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getLoopbackAddress)
    val port = server.getLocalPort
    val bodies = Seq(
      msg(1, 950, 11, "Ana", false, t1, Some("over tcp")),
      msg(2, 951, 11, "Ana", false, t1, Some("wrong chat"))
        .replace("\"id\":-100", "\"id\":-200"),
      "not json at all")
    val feeder = new Thread(() => {
      val sock = server.accept()
      val out = new java.io.PrintWriter(sock.getOutputStream, true)
      bodies.foreach(out.println)
      out.flush()
      // keep the connection open while the stream drains; the test
      // closes the server socket in the finally
      Thread.sleep(60000)
    })
    feeder.setDaemon(true)
    feeder.start()
    val rawOut = Files.createTempDirectory("raw_out_sock").toString
    val ckpt = Files.createTempDirectory("ckpt_sock").toString
    val src = spark.readStream.format("socket")
      .option("host", "localhost").option("port", port).load()
    val q = IngestJob.startFrom(
      IngestJob.fromMessageStream(src), rawOut, ckpt, chatId = -100L,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(200))
    try {
      def routed() = spark.read
        .schema(TelegramSchema.updateSchema).json(rawOut)
        .filter(col("message.message_id") === 950L).count()
      val deadline = System.currentTimeMillis() + 60000
      while (routed() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      assert(routed() === 1, "routed message never reached the raw zone over TCP")
      // the wrong-chat and corrupt bodies must NOT have landed
      val all = spark.read.schema(TelegramSchema.updateSchema).json(rawOut)
      assert(all.count() === 1)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("LIVE HTTP webhook: real POSTs through webhookEndpoint land in the raw zone") {
    // The reference's full ingress chain (setWebhook → API Gateway →
    // Lambda writes the body to the raw zone) on localhost: a REAL
    // HTTP server receives REAL POSTs over the wire, persists each
    // body atomically into the inbox, and the standard streaming
    // ingest consumes it. The endpoint is transport-only, so the
    // wrong-chat and corrupt bodies must be rejected by the SAME
    // route/PERMISSIVE semantics as every other transport.
    val inbox = Files.createTempDirectory("webhook_inbox").toString
    val server = IngestJob.webhookEndpoint(inbox)
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def post(body: String): Int = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/webhook"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(post(msg(1, 970, 11, "Ana", false, t1, Some("over http"))) === 200)
      assert(post(msg(2, 971, 11, "Ana", false, t1, Some("wrong chat"))
        .replace("\"id\":-100", "\"id\":-200")) === 200)
      assert(post("not json at all") === 200)
      // an oversized body is refused at the transport (413) and leaves
      // no inbox file — the memory cap, not the parser, rejects it
      assert(post("x" * ((1 << 20) + 1)) === 413)
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(inbox))
        .filter(p => !p.getFileName.toString.startsWith("."))
        .count() === 3)
      // non-POST is refused at the transport
      val get = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/webhook")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      assert(get === 405)
      val rawOut = Files.createTempDirectory("raw_out_http").toString
      val q = IngestJob.start(spark, inbox, rawOut,
        Files.createTempDirectory("ckpt_http").toString, chatId = -100L)
      q.awaitTermination()
      val landed = spark.read.schema(TelegramSchema.updateSchema).json(rawOut)
      assert(landed.count() === 1)
      assert(landed.select("message.message_id").head().getLong(0) === 970L)
    } finally server.stop(0)
  }

  test("webhook concurrency: parallel posters + at-least-once redelivery -> exactly-once enriched rows") {
    // Telegram's webhook contract is at-least-once with concurrent
    // senders: retries re-POST the same update, and nothing serializes
    // deliveries. The endpoint must persist every concurrent POST
    // losslessly (unique names, atomic moves), and the pipeline's
    // existing (chat_id, message_id) dedup (EtlJob.transform, SURVEY
    // §3.4) — not the transport — is what closes redelivery to
    // exactly-once content in the enriched zone.
    val inbox = Files.createTempDirectory("webhook_conc_inbox").toString
    val server = IngestJob.webhookEndpoint(inbox)
    try {
      val port = server.getAddress.getPort
      val client = java.net.http.HttpClient.newHttpClient()
      def post(body: String): Int = client.send(
        java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/webhook"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      val nPosters = 8
      val perPoster = 25
      val distinctMsgs = nPosters * perPoster
      val bodies = for {
        p <- 0 until nPosters
        i <- 0 until perPoster
        mid = 1000 + p * perPoster + i
      } yield msg(mid, mid, 11 + (p % 3), "Ana", false, t1 + mid, Some(s"m$mid"))
      // every update delivered TWICE, the copies interleaved across the
      // pool so redeliveries race their originals on different workers
      val deliveries = scala.util.Random.shuffle(bodies ++ bodies)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nPosters)
      val statuses =
        try deliveries.map { b =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = post(b)
          })
        }.map(_.get())
        finally pool.shutdown()
      assert(statuses.forall(_ == 200), s"non-200 among ${statuses.distinct}")
      // no delivery lost by the concurrent transport
      assert(java.nio.file.Files.list(java.nio.file.Paths.get(inbox))
        .filter(p => !p.getFileName.toString.startsWith("."))
        .count() === 2L * distinctMsgs)
      val rawOut = Files.createTempDirectory("raw_out_conc").toString
      IngestJob.start(spark, inbox, rawOut,
        Files.createTempDirectory("ckpt_conc").toString, chatId = -100L)
        .awaitTermination()
      val enriched = Files.createTempDirectory("enriched_conc").toString
      // context_date is INGESTION wall-clock (IngestJob.route), not the
      // event date — process whatever day the raw zone actually landed on
      val ingestDay = java.nio.file.Files.list(java.nio.file.Paths.get(rawOut))
        .filter(p => p.getFileName.toString.startsWith("context_date="))
        .findFirst().orElseThrow()
        .getFileName.toString.stripPrefix("context_date=")
      val (n, rej) = EtlJob.run(spark, rawOut, enriched,
        java.time.LocalDate.parse(ingestDay))
      assert(n === distinctMsgs, s"enriched $n rows, expected $distinctMsgs")
      assert(rej === 0)
      val rows = spark.read.schema(TelegramSchema.enrichedSchema).parquet(enriched)
      assert(rows.groupBy("message_id").count().filter(col("count") > 1).count() === 0)
      assert(rows.select("message_id").distinct().count() === distinctMsgs.toLong)
    } finally server.stop(0)
  }

  test("file-inbox drain: no job wider than the cores, in a clone that keeps the caller's conf") {
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val listing = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
    val maxBytes = "spark.sql.files.maxPartitionBytes"
    // more files than Spark lists serially (32) and more than twice the
    // cores: at Spark's default listing cap, the batch's listing job
    // runs one task per file
    val n = 33 + 2 * cores
    val bodies = (0 until n).map { i =>
      val b = msg(3000 + i, 3000 + i, 11, "Ana", false, t1 + i, Some(s"d$i"))
      if (i % 3 == 2) b.replace("\"id\":-100", "\"id\":-200") else b // wrong chat
    }
    val inbox = Files.createTempDirectory("drain_inbox")
    bodies.zipWithIndex.foreach { case (b, i) =>
      Files.write(inbox.resolve(f"m$i%03d.json"), b.getBytes("UTF-8"))
    }
    val rawOut = Files.createTempDirectory("drain_raw").toString
    val listingBefore = spark.conf.getOption(listing)
    val maxBytesBefore = spark.conf.getOption(maxBytes)
    // a caller conf the clone must keep; at or above the default, so the
    // batch's write still packs into at most one task per core
    val callerMaxBytes = (256L << 20).toString
    spark.conf.set(maxBytes, callerMaxBytes)
    try {
      val (q, jobs) = org.apache.spark.JobCounter(sc) {
        val q = IngestJob.start(spark, inbox.toString, rawOut,
          Files.createTempDirectory("drain_ckpt").toString, chatId = -100L)
        q.awaitTermination()
        q
      }
      val widest = jobs.map(j => (j.jobId, j.stageInfos.map(_.numTasks).max)).maxBy(_._2)
      assert(widest._2 <= cores, s"drain job ${widest._1} ran ${widest._2} tasks on $cores cores")
      assert(q.sparkSession ne spark)
      assert(q.sparkSession.conf.get(maxBytes) === callerMaxBytes)
      assert(q.sparkSession.conf.get(listing) === cores.toString)
      assert(spark.conf.getOption(listing) === listingBefore)
      val landed = spark.read.schema(TelegramSchema.updateSchema).json(rawOut)
        .select("message.message_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(landed === (0 until n).filter(_ % 3 != 2).map(3000L + _))
    } finally maxBytesBefore.fold(spark.conf.unset(maxBytes))(spark.conf.set(maxBytes, _))
  }

  test("webhookEndpoint: stop(0) also ends the endpoint's handler threads") {
    import scala.jdk.CollectionConverters._
    def handlers(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName == "graft-webhook-handler").toSet
    val before = handlers()
    val server = IngestJob.webhookEndpoint(
      Files.createTempDirectory("webhook_stop_inbox").toString, handlerThreads = 2)
    val mine =
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        (1 to 4).foreach { i =>
          val status = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(
                s"http://127.0.0.1:${server.getAddress.getPort}/webhook"))
              .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
                msg(i, 4000 + i, 11, "Ana", false, t1, Some("stop"))))
              .build(),
            java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
          assert(status === 200)
        }
        handlers() -- before
      } finally server.stop(0)
    assert(mine.nonEmpty, "the endpoint never started a handler thread")
    mine.foreach(_.join(10000))
    assert(mine.filter(_.isAlive).isEmpty, s"${mine.count(_.isAlive)} handler threads outlived stop(0)")
  }

  test("incremental manifest replay: re-admitting a batch is idempotent (failure recovery)") {
    import graft.streaming.IncrementalManifest
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, dir, "documents")
    val mid = docs.stat.approxQuantile("doc_id", Array(0.5), 0.0)(0).toLong
    val bench = docs.filter(col("doc_id") % 20 === 0)
    val stateDir = Files.createTempDirectory("inc_replay_state").toString
    def admit(batchId: Long, delta: org.apache.spark.sql.DataFrame): Unit = {
      // same read-prior/overwrite protocol as IncrementalManifest.start
      val prior = IncrementalManifest.readState(spark, stateDir)
        .filter(col("batch") < lit(batchId)).select("content_hash")
      IncrementalManifest.admitBatch(delta, bench, prior)
        .coalesce(1).write.mode("overwrite").parquet(s"$stateDir/batch=$batchId")
    }
    admit(0, docs.filter(col("doc_id") <= mid))
    admit(1, docs.filter(col("doc_id") > mid))
    val first = IncrementalManifest.manifest(spark, stateDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // failure scenario: batch 1 wrote its output but the checkpoint
    // never committed — the engine replays it. The prior-index read
    // excludes batch >= 1, so the replay sees exactly the state the
    // first attempt saw and overwrites its partition with the same rows.
    admit(1, docs.filter(col("doc_id") > mid))
    val second = IncrementalManifest.manifest(spark, stateDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(second === first, "replayed batch changed the manifest")
  }

  test("incremental manifest out-of-order repair: min-id re-election reproduces the batch manifest") {
    import graft.streaming.IncrementalManifest
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.load(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % 20 === 0)
    // The corpus has no exact-duplicate texts (checked), so plant them:
    // three manifest-admitted docs (quality-passing, clean, non-bench —
    // read off the plain-corpus manifest itself) get copies with SMALLER
    // (negative) ids that arrive in the LATER batch — the adversarial
    // order for first-seen-wins.
    val probeState = Files.createTempDirectory("inc_ooo_probe").toString
    IncrementalManifest.admitAndWrite(docs, bench, probeState, 0)
    val plantIds = IncrementalManifest.manifest(spark, probeState)
      .select("doc_id").orderBy("doc_id").limit(3)
      .collect().map(_.getLong(0)).toSeq
    assert(plantIds.size === 3)
    val originals = docs.filter(col("doc_id").isin(plantIds: _*))
    val planted = originals.withColumn("doc_id", -col("doc_id"))
    val union = docs.unionByName(planted)
    // Batch-manifest expectation: the whole union admitted as ONE batch
    // (within-batch dedup is min-id — exactly q95's election).
    val batchState = Files.createTempDirectory("inc_ooo_batch").toString
    IncrementalManifest.admitAndWrite(union, bench, batchState, 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "shard", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = rows(IncrementalManifest.manifest(spark, batchState))
    assert(expected.exists(_._1 < 0), "planted min-ids must win the batch election")
    // Out-of-order incremental: originals first, smaller-id copies after.
    val stateDir = Files.createTempDirectory("inc_ooo_state").toString
    IncrementalManifest.admitAndWrite(docs, bench, stateDir, 0)
    IncrementalManifest.admitAndWrite(planted, bench, stateDir, 1)
    // Unrepaired (opt-out), first-seen-wins keeps the larger original
    // ids: the divergence the repair exists for (proof this isn't
    // vacuous).
    val firstSeen = rows(IncrementalManifest.manifest(spark, stateDir, repair = false))
    assert(firstSeen !== expected, "fixture failed to force a divergence")
    // The DEFAULT path is min-id re-election over the observation
    // sidecar — a naive caller gets the batch-equivalent manifest.
    val repaired = rows(IncrementalManifest.manifest(spark, stateDir))
    assert(repaired === expected)
  }

  test("IngestJob source seam: Kafka-wire MemoryStream routes identically to the file inbox") {
    import spark.implicits._
    // Same three deliveries as the file-inbox test, but arriving as a
    // `value`-column stream (the Kafka wire shape) instead of files:
    // route/sink behavior must be identical because they never see the
    // transport.
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String](spark)
    mem.addData(
      msg(1, 900, 11, "Ana", false, t1, Some("keep me")),
      msg(2, 901, 11, "Ana", false, t1, Some("wrong chat"))
        .replace("\"id\":-100", "\"id\":-200"),
      "not json at all")
    val rawOut = Files.createTempDirectory("raw_out_mem").toString
    val ckpt = Files.createTempDirectory("ckpt_mem").toString
    val q = IngestJob.startFrom(
      IngestJob.fromMessageStream(mem.toDF()), rawOut, ckpt, chatId = -100L)
    q.awaitTermination()
    val written = spark.read.schema(TelegramSchema.updateSchema).json(rawOut)
    assert(written.count() === 1)
    assert(written.select("message.message_id").head().getLong(0) === 900L)
    val today = java.time.LocalDate.now(java.time.ZoneId.of(IngestJob.PipelineTz))
    assert(new java.io.File(s"$rawOut/context_date=$today").exists())
  }
}
