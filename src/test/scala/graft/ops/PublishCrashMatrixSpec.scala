package graft.ops

import java.nio.file.{Files, Path => JPath}

import graft.{FaultyFs, Tables, TestSpark}
import graft.streaming._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The crash matrix of every write into live data. A cell is one call
  * on one fixture: a crash-free run on a fresh copy of the fixture
  * counts the call's filesystem mutations (the `faulty://` scheme,
  * [[FaultyFs]]) and gives the expected readout; then, for every crash
  * point k, a fresh copy runs the call with its k-th mutation failed,
  * the SAME call re-runs to completion, and the readout must equal the
  * crash-free one, with no `.old` file and no marked stage
  * (`_graft_staged`) left anywhere under the copy.
  *
  * Every mutation outside a Spark write's `_temporary/` commit tree is
  * a crash point; each commit tree is ONE crash point (its first
  * mutation), because every mutation in it lands inside a stage the
  * publish has not marked yet, so they all recover the same way.
  *
  * Cells: a stream-sink append, a purge and a compaction for each of
  * the five index layouts; a coordinated `applyBatch` (BM25 +
  * near-dup); `compactRevs`; the delete, drift and SCD2 sinks and the
  * four sketch sinks. [[RewriteCrashSpec]] pins three of these windows
  * by name.
  */
class PublishCrashMatrixSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val work: JPath = {
    FaultyFs.install(spark)
    Files.createTempDirectory("graft-matrix")
  }

  private def fresh(tag: String): JPath = Files.createTempDirectory(work, tag)

  private def uri(dir: JPath): String = s"faulty://$dir"

  /** A fresh `faulty://` copy of the local fixture tree `src`. */
  private def copyOf(src: JPath): JPath = {
    val dst = fresh("k")
    val walk = Files.walk(src)
    try walk.forEach(p =>
      if (p != src) Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
    dst
  }

  /** A fixture: a fresh local dir `build` fills through `faulty://`. */
  private def fixture(tag: String)(build: String => Unit): JPath = {
    val dir = fresh(tag)
    build(uri(dir))
    dir
  }

  /** Every row of `df`, as sorted JSON. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))
      .as[String].collect().sorted.toSeq

  private def tombstoneRows(root: String): Seq[String] =
    Tombstones.rows(spark, root).map(rows).getOrElse(Nil)

  /** Every sub-directory's rows and the tombstone rows of an index,
    * duplicates included: every keyed publish lands its tombstones once.
    */
  private def indexReadout(layout: IndexLayout, root: String): Seq[String] =
    layout.subDirs.flatMap(s =>
      rows(s.read(spark, root)).map(r => s"${s.name}: $r")) ++
      tombstoneRows(root).map(r => s"tombstone: $r")

  /** Names of leftover litter: `.old` files and marked stages. */
  private def litter(dir: JPath): Seq[String] = {
    val walk = Files.walk(dir)
    try walk.toArray.toSeq.map(_.asInstanceOf[JPath])
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".old") || n == "_graft_staged"
      }.map(dir.relativize(_).toString)
    finally walk.close()
  }

  /** The crash points of a crash-free run's mutation log (1-based). */
  private def crashPoints(log: Vector[FaultyFs.Mutation]): Seq[Int] =
    log.indices.filter(i =>
      !log(i).inCommitTree || i == 0 || !log(i - 1).inCommitTree)
      .map(_ + 1)

  /** Run one cell: `call` on copies of `fix` (given the copy's root
    * `faulty://` URI), every crash point, compared by `readout`.
    */
  private def cell(name: String, fix: => JPath)(call: String => Any)(
      readout: String => Seq[String]): Unit =
    test(s"crash matrix: $name") {
      val src = fix
      val t0 = System.nanoTime()
      val clean = copyOf(src)
      FaultyFs.failNth(0)
      call(uri(clean))
      val log = FaultyFs.mutations()
      val want = readout(uri(clean))
      assert(litter(clean).isEmpty)
      val ks = crashPoints(log)
      var crashed = 0
      for (k <- ks) {
        val dir = copyOf(src)
        FaultyFs.failNth(k)
        val failed = scala.util.Try(call(uri(dir))).isFailure
        FaultyFs.mutations()
        if (failed) crashed += 1
        call(uri(dir))
        val got = readout(uri(dir))
        assert(got === want,
          s"crash at mutation $k of ${log.size} (${log(k - 1)}): " +
            s"missing ${want.diff(got).take(3)}, extra ${got.diff(want).take(3)}")
        assert(litter(dir).isEmpty, s"crash at mutation $k (${log(k - 1)})")
      }
      assert(crashed > 0)
      println(f"[matrix] $name: ${log.size} mutations " +
        f"(${log.count(_.inCommitTree)} in commit trees), ${ks.size} crash " +
        f"points, $crashed crashed, ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

  // ---- data: a few dozen docs and vectors ----

  private lazy val docs: DataFrame =
    Tables.load(spark, TestSpark.Sf001, "documents")
      .select($"doc_id".as("id"), $"text")
      .filter($"id" < 40).localCheckpoint(true)
  private lazy val vecs: DataFrame =
    Tables.load(spark, TestSpark.Sf001, "embeddings")
      .select($"vec_id".as("id"), $"embedding")
      .filter($"id" < 40).localCheckpoint(true)
  private def base(df: DataFrame) = df.filter($"id" < 16)
  private def d1(df: DataFrame) = df.filter($"id" >= 16 && $"id" < 24)
  private def d2(df: DataFrame) = df.filter($"id" >= 24 && $"id" < 32)
  private def d3(df: DataFrame) = df.filter($"id" >= 32)
  private lazy val victims = Seq(2L, 7L, 17L, 27L).toDF("id")
  private lazy val cents = VectorOps.kmeansCentroids(vecs, "embedding", 2)
  private lazy val model = Pq.pqTrain(vecs, "embedding", m = 4, codebook = 4)

  /** One index family: its write handle over a root, a build of the
    * base rows into a root, and the rows it indexes. The fixture is the
    * build plus two one-off appends; the stream cell appends a third
    * delta through the generic stream door.
    */
  private case class Family(
      name: String,
      target: String => CorpusUpsert.IndexTarget,
      build: String => Unit,
      rows: () => DataFrame) {
    def layout: IndexLayout = target("").layout
  }

  private val families = Seq(
    Family("ivf", CorpusUpsert.IvfTarget(_, "embedding", cents),
      root => CorpusUpsert.IvfTarget(root, "embedding", cents)
        .append(base(vecs), "id"), () => vecs),
    Family("ivf-pq", CorpusUpsert.PqIvfTarget(_, "embedding", model, cents),
      Pq.pqIvfWriteIndex(base(vecs), "id", "embedding", _, model, cents),
      () => vecs),
    Family("hamming", CorpusUpsert.HammingTarget(_, "embedding"),
      HammingIndex.hammingWriteIndex(base(vecs), "id", "embedding", _,
        nBands = 2, nBuckets = 2), () => vecs),
    Family("neardup", CorpusUpsert.NearDupTarget(_, "text"),
      NearDupIndex.neardupWriteIndex(base(docs), "id", "text", _,
        bands = 2, nBuckets = 2, nDocBuckets = 2), () => docs),
    Family("bm25", CorpusUpsert.Bm25Target(_, "text"),
      LexIndex.bm25WriteIndex(base(docs), "id", "text", _, buckets = 2),
      () => docs))

  families.foreach { f =>
    // built, two appends of litter, and tombstones
    lazy val fix = fixture(f.name) { root =>
      f.build(root)
      Seq(d1 _, d2 _).foreach(d => f.target(root).append(d(f.rows()), "id"))
      f.layout.delete(victims, "id", root)
    }
    def readout(root: String) = indexReadout(f.layout, root)
    cell(s"${f.name} stream append", fix)(root =>
      VectorIndexStream.appendBatch(d3(f.rows()), 0L, "id", f.target(root),
        streamId = "m"))(readout)
    cell(s"${f.name} purge", fix)(f.layout.purge(spark, _, "id"))(readout)
    cell(s"${f.name} compact", fix)(
      f.layout.compact(spark, _, maxFilesPerDir = 1))(readout)
  }

  // ---- the coordinated upsert and its rev ledger ----

  private val Rid = CorpusUpsert.RidCol

  private def upsertTargets(root: String): Seq[CorpusUpsert.IndexTarget] =
    Seq(CorpusUpsert.Bm25Target(s"$root/bm25", "text"),
      CorpusUpsert.NearDupTarget(s"$root/nd", "text"))

  private def upsertFixture(tag: String, keys: Seq[String]): JPath =
    fixture(tag) { root =>
      val empty = docs.select($"id".as(Rid), $"text").limit(0)
      LexIndex.bm25WriteIndex(empty, Rid, "text", s"$root/bm25", buckets = 2)
      NearDupIndex.neardupWriteIndex(empty, Rid, "text", s"$root/nd",
        bands = 2, nBuckets = 2, nDocBuckets = 2)
      keys.zipWithIndex.foreach { case (k, i) =>
        CorpusUpsert.applyBatch(docs.filter($"id" < 24 - 8 * i)
            .select($"id".as("doc_id"), concat($"text", lit(s" r$i")).as("text")),
          "doc_id", k, s"$root/ups", upsertTargets(root))
      }
    }

  private def upsertReadout(root: String): Seq[String] =
    rows(CorpusUpsert.currentRevs(spark, s"$root/ups")) ++
      indexReadout(LexIndex.Layout, s"$root/bm25") ++
      indexReadout(NearDupIndex.Layout, s"$root/nd")

  cell("applyBatch (BM25 + near-dup)", upsertFixture("upsert", Seq("g0")))(
    root => CorpusUpsert.applyBatch(
      docs.filter($"id" >= 8).select($"id".as("doc_id"),
        concat($"text", lit(" rev")).as("text")),
      "doc_id", "g1", s"$root/ups", upsertTargets(root)))(upsertReadout)

  cell("compactRevs", upsertFixture("revs", Seq("g0", "g1", "g2")))(
    root => CorpusUpsert.compactRevs(spark, s"$root/ups")) { root =>
    val revs = new Path(s"$root/ups/revs")
    val fs = revs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rows(CorpusUpsert.currentRevs(spark, s"$root/ups")) ++
      fs.listStatus(revs).map(_.getPath.getName)
        .filter(_.startsWith("batch=")).sorted
  }

  // ---- the report and delete sinks ----

  cell("delete sink", fixture("delete") { root =>
    LexIndex.bm25WriteIndex(base(docs), "id", "text", root, buckets = 2)
    LexIndex.Layout.delete(victims, "id", root)
  })(root => VectorIndexStream.deleteBatch(
    Seq(3L, 7L, 11L).toDF("id"), 0L, "id", root, streamId = "d"))(
    tombstoneRows)

  private lazy val observed =
    (1 to 40).map(i => (i * 13 % 700).toDouble).toDF("v")

  cell("drift sink", fixture("drift") { root =>
    Drift.psiWriteRef((1 to 30).map(i => (i * 7 % 500).toDouble).toDF("v"),
      "v", binWidth = 100.0, root)
    DriftStream.appendBatch(observed.limit(20), 0L, "v", root, streamId = "s")
  })(root => DriftStream.appendBatch(observed, 1L, "v", root,
    streamId = "s"))(root => rows(Drift.psiFromStats(spark, root)))

  private lazy val changes =
    Tables.load(spark, TestSpark.Sf001, "orders")
      .select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
      .filter($"o_orderkey" < 200).localCheckpoint(true)

  cell("scd2 sink", fixture("scd2") { root =>
    Scd2Stream.appendBatch(changes.filter($"o_orderkey" < 100), 0L, root,
      streamId = "s")
  })(root => Scd2Stream.appendBatch(changes.filter($"o_orderkey" >= 100),
    1L, root, streamId = "s"))(root => rows(spark.read.parquet(root)))

  private lazy val events = (1 to 40)
    .map(i => (s"g${i % 3}", (i % 17).toLong, (i % 11).toDouble))
    .toDF("g", "u", "x")
  private def first(df: DataFrame) = df.filter($"x" < 5.0)
  private def rest(df: DataFrame) = df.filter($"x" >= 5.0)

  /** One sketch sink: its append and its table's readout. */
  private def sketchCell(
      name: String, append: (DataFrame, Long, String) => Boolean)(
      read: String => DataFrame): Unit =
    cell(s"$name sketch sink", fixture(name)(append(first(events), 0L, _)))(
      append(rest(events), 1L, _))(root =>
      s"rows: ${spark.read.parquet(root).count()}" +: rows(read(root)))

  sketchCell("hll", SketchStream.appendBatch(_, _, Seq("g"), "u", _,
    streamId = "s"))(root => Sketches.readSketchTable(spark, root, Seq("g"))
    .select($"g", Sketches.hllEstimate($"sketch").as("e")))
  sketchCell("cm", SketchStream.cmAppendBatch(_, _, Seq("g"), "u", _,
    streamId = "s"))(root =>
    Sketches.cmMerge(spark.read.parquet(root), Seq("g")))
  sketchCell("kll", SketchStream.kllAppendBatch(_, _, Seq("g"), "x", _,
    streamId = "s"))(root => Sketches.kllGroupQuantiles(
    Sketches.readKllTable(spark, root, Seq("g")), Seq(0.25, 0.5, 0.9)))
  sketchCell("theta", SketchStream.thetaAppendBatch(_, _, Seq("g"), "u", _,
    streamId = "s"))(root => Sketches.readThetaTable(spark, root, Seq("g"))
    .select($"g", Sketches.thetaEstimate($"sketch").as("e")))
}
