package graftbench

import scala.collection.mutable

import graft.ops.{CorpusUpsert, LexIndex, NearDupIndex}
import org.apache.spark.sql.DataFrame

/** `message-corpus`: daily batches of enriched messages feed the
  * training-data corpus. Each day `NearDupIndex.dedupGate` judges the
  * batch against the corpus (planted exact copies must be rejected),
  * `CorpusUpsert.applyBatch` writes the kept messages into a BM25 and a
  * near-dup index (an edited message becomes a revision of its doc),
  * every other day a `deleteDocs` takedown runs, and a fixed set of
  * `LexIndex.bm25ProbeIndex` reads follows every batch. This is the
  * `ops` layer: its time goes to scheduling jobs, and it writes and
  * reads the same persisted indexes.
  */
object Corpus extends Workload {
  val name = "message-corpus"

  val BaseDocs = 200
  val PerDay = 100
  val Days = 2
  val DeleteEvery = 2
  val Takedowns = 3
  val Probes = 3
  val GateBase: Long = 1L << 50
  val OtherChatBase: Long = 1L << 40

  private final case class Doc(doc: Long, text: String)

  /** One day's gate input and what the gate must decide for each row. */
  private final case class Batch(
      rows: Seq[(Long, Doc)],            // gate id -> document
      dupOf: Map[Long, Long])            // gate id -> expected dup_of

  def rid(doc: Long, rev: Int): Long = (doc << CorpusUpsert.RevBits) + rev

  def run(c: Ctx): Headline = {
    import c.spark.implicits._
    val t = c.tracer
    val gen = new Gen(c.seed)
    val rnd = gen.rnd
    val root = c.dir("corpus")
    val (ups, bm25, nd) = (s"$root/ups", s"$root/bm25", s"$root/nd")
    val targets = Seq(CorpusUpsert.Bm25Target(bm25, "text"), CorpusUpsert.NearDupTarget(nd, "text"))
    val empty = Seq.empty[(Long, String)].toDF(CorpusUpsert.RidCol, "text")
    NearDupIndex.neardupWriteIndex(empty, CorpusUpsert.RidCol, "text", nd, nBuckets = 4, nDocBuckets = 4)
    LexIndex.bm25WriteIndex(empty, CorpusUpsert.RidCol, "text", bm25, buckets = 4)

    // oracle state: current (rev, text) of every live doc, and every
    // doc's highest revision ever recorded (takedowns keep the ledger)
    val live = mutable.LinkedHashMap[Long, (Int, String)]()
    val maxRev = mutable.Map[Long, Int]()
    val probes = Seq.fill(Probes)(Seq(gen.words(1), gen.words(1)))
    def tokens(s: String): Set[String] = s.split(" ").toSet
    def matches(text: String): Boolean = probes.exists(_.exists(tokens(text)))
    var nextGate = GateBase

    def batch(n: Int): Batch = {
      val bodies = gen.bodies(n, 1718000000L, 86400)
      val fresh = bodies.filter(_.kind == Kind.Normal).flatMap(b => b.msg.text.map(Doc(b.msg.messageId, _)))
      val other = bodies.filter(_.kind == Kind.OtherChat).map(b => Doc(OtherChatBase + b.msg.messageId, b.msg.text.get))
      // malformed bodies carry no usable text: too short to shingle
      val short = bodies.filter(_.kind == Kind.Malformed).map(b => Doc(b.msg.messageId, gen.words(1 + rnd.nextInt(2))))
      val edited = rnd.shuffle(live.keys.toSeq).take(math.max(1, n / 200))
        .map(d => Doc(d, gen.text()))
      val editedIds = edited.map(_.doc).toSet
      val nCopies = if (live.isEmpty) 0 else math.max(2, n / 50)
      val corpusSrc = rnd.shuffle(live.keys.filterNot(editedIds).toSeq)
        .filter(d => tokens(live(d)._2).size >= 3).take(nCopies / 2)
      var nextCopy = bodies.map(_.msg.messageId).max + 1
      def copyId(): Long = { nextCopy += 1; nextCopy }
      val corpusCopies = corpusSrc.map(d => (Doc(copyId(), live(d)._2), rid(d, live(d)._1)))
      val firsts = (fresh ++ other ++ short ++ edited).map { d => nextGate += 1; (nextGate, d) }
      val batchSrc = rnd.shuffle(firsts.filter { case (_, d) =>
        !editedIds(d.doc) && tokens(d.text).size >= 3 }).take(nCopies - corpusCopies.size)
      val batchCopies = batchSrc.map { case (g, d) => (Doc(copyId(), d.text), g) }
      val copies = (corpusCopies ++ batchCopies).map { case (d, src) => nextGate += 1; (nextGate, d, src) }
      Batch(firsts ++ copies.map { case (g, d, _) => (g, d) },
        copies.map { case (g, _, src) => g -> src }.toMap)
    }

    final case class Day(gateMs: Double, applyMs: Double, msgs: Int, cpuMs: Double)
    val probeMs = mutable.ArrayBuffer[Double]()
    var probeCpuMs = 0.0
    val probeDfs = mutable.ArrayBuffer[DataFrame]()
    var rejected, inserts, updates = 0L

    def gate(rows: Seq[(Long, Doc)]): Map[Long, Option[Long]] =
      t.span("gate") {
        c.op(NearDupIndex.dedupGate(rows.map { case (g, d) => (g, d.text) }
          .toDF(CorpusUpsert.RidCol, "text"), CorpusUpsert.RidCol, "text", nd).collect())
      }.getOrElse(Array.empty)
        .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap

    /** One daily batch; the base load (an empty corpus) skips the gate. */
    def day(i: Int, n: Int): Day = {
      val b = batch(n)
      val want = b.rows.map { case (g, _) => g -> b.dupOf.get(g) }.toMap
      val cpu0 = c.workCpuMs()
      val t0 = System.nanoTime()
      val got = if (live.isEmpty) want else gate(b.rows)
      val t1 = System.nanoTime()
      c.checkAll(Oracle.diff(s"dedupGate day $i", want, got))
      rejected += got.count(_._2.isDefined)
      val kept = b.rows.filter { case (g, _) => got.get(g).exists(_.isEmpty) }.map(_._2)
      val delta = kept.map(d => (d.doc, d.text)).toDF("doc_id", "text")
      val t2 = System.nanoTime()
      val rep = t.span("upsert") {
        c.op(CorpusUpsert.applyBatch(delta, "doc_id", s"day-$i", ups, targets))
      }
      val t3 = System.nanoTime()
      val cpu1 = c.workCpuMs()
      val nUpd = kept.count(d => maxRev.contains(d.doc)).toLong
      rep.foreach { r =>
        val w = (false, kept.size.toLong, nUpd, kept.size - nUpd)
        c.check((r.alreadyApplied, r.nDocs, r.nUpdates, r.nInserts) == w,
          s"applyBatch day $i reported $r, expected $w")
        inserts += r.nInserts
        updates += r.nUpdates
      }
      kept.foreach { d =>
        val rev = maxRev.get(d.doc).fold(0)(_ + 1)
        maxRev(d.doc) = rev
        live(d.doc) = (rev, d.text)
      }
      if (i % DeleteEvery == 0) {
        // prefer docs a probe would return, so the exclusion is tested
        val (hit, miss) = rnd.shuffle(live.keys.toSeq).partition(d => matches(live(d)._2))
        val gone = (hit.take(2) ++ miss).take(Takedowns)
        t.span("delete") {
          c.op(CorpusUpsert.deleteDocs(gone.toDF("doc_id"), "doc_id", ups, targets))
        }
        live --= gone
      }
      probes.take(if (i == 0) 1 else Probes).foreach { terms =>
        val p0 = System.nanoTime()
        val pcpu0 = c.workCpuMs()
        t.span("probe") {
          c.op {
            val df = LexIndex.bm25ProbeIndex(c.spark, bm25, CorpusUpsert.RidCol, terms)
            (df, df.collect())
          }
        }.foreach { case (df, rows) =>
          probeMs += (System.nanoTime() - p0) / 1e6
          probeCpuMs += c.workCpuMs() - pcpu0
          probeDfs += df
          val wantRids = live.collect { case (d, (rev, text)) if terms.exists(tokens(text)) => rid(d, rev) }.toSet
          val gotRids = rows.map(_.getLong(0)).toSeq
          c.check(gotRids.size == wantRids.size && gotRids.toSet == wantRids,
            s"bm25 probe $terms after day $i: ${gotRids.size} rids, expected ${wantRids.size}" +
              s" (${(gotRids.toSet -- wantRids).size} stale or deleted)")
        }
      }
      Day((t1 - t0) / 1e6, (t3 - t2) / 1e6, b.rows.size, cpu1 - cpu0)
    }

    // day 0 loads the base corpus and warms every operation (with one
    // probe) but the gate, which a batch of fresh messages then warms
    day(0, BaseDocs)
    val fresh = gen.bodies(40, 1718000000L, 86400).filter(_.kind == Kind.Normal).flatMap(_.msg.text)
      .map { text => nextGate += 1; (nextGate, Doc(0L, text)) }
    c.check(gate(fresh).values.forall(_.isEmpty), "dedupGate rejected a fresh message")
    probeMs.clear(); probeDfs.clear(); probeCpuMs = 0; rejected = 0; inserts = 0; updates = 0
    c.setupDone()

    val days = t.span("run") { (1 to Days).map(i => day(i, PerDay)) }
    val batchMs = days.map(d => d.gateMs + d.applyMs)
    val msgs = days.map(_.msgs).sum.toDouble
    c.named ++= Seq(
      ("upsert_batch_p50_s", Stats.median(batchMs) / 1000, "s"),
      ("corpus_msgs_per_s", msgs / (batchMs.sum / 1000), "1/s"),
      ("probe_p50_ms", Stats.median(probeMs.toSeq), "ms"),
      ("batches", days.size.toDouble, "count"))
    if (t.on) {
      t.drain(c.spark)
      val (g, u, d, p) = (t.work("gate"), t.work("upsert"), t.work("delete"), t.work("probe"))
      c.layer ++= Seq(
        "gate.ms" -> t.ms("gate"), "gate.jobs" -> g.jobs.toDouble,
        "gate.rejected" -> rejected.toDouble,
        "upsert.ms" -> t.ms("upsert"), "upsert.jobs" -> u.jobs.toDouble,
        "upsert.stages" -> u.stages.toDouble, "upsert.tasks" -> u.tasks.toDouble,
        "upsert.shuffle_bytes" -> u.shuffleWrite.toDouble,
        "upsert.inserts" -> inserts.toDouble, "upsert.updates" -> updates.toDouble,
        "delete.ms" -> t.ms("delete"), "delete.jobs" -> d.jobs.toDouble,
        "probe.ms" -> Stats.median(probeMs.toSeq), "probe.jobs" -> p.jobs.toDouble,
        "probe.files_read" -> probeDfs.map(Plans.filesRead).sum.toDouble)
    }
    Headline(days.map(_.cpuMs).sum / msgs, probeCpuMs / probeMs.size)
  }
}
