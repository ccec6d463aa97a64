package graft.streaming

import graft.TestSpark
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The state and observation reads of [[IncrementalManifest]] decide on
  * the driver whether their directory holds data: a missing one reads
  * as the empty typed frame and a written one opens without Spark's
  * schema-inference job.
  */
class IncrementalManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a missing state dir reads empty with no job; a written one opens with no job and the same rows") {
    val stateDir = java.nio.file.Files.createTempDirectory("graft-incr")
      .toString + "/state"
    val sc = spark.sparkContext
    val ((state, obs), jobs) = JobCounter(sc) {
      val s = IncrementalManifest.readState(spark, stateDir)
      val o = IncrementalManifest.readObservations(spark, stateDir)
      (s.collect(), o.collect())
    }
    assert(jobs.isEmpty, jobs.map(_.jobId).mkString(", "))
    assert(state.isEmpty && obs.isEmpty)
    assert(IncrementalManifest.readState(spark, stateDir).columns.toSeq ===
      Seq("doc_id", "content_hash", "in_train", "batch"))
    assert(IncrementalManifest.readObservations(spark, stateDir).columns.toSeq ===
      Seq("doc_id", "content_hash"))

    val rows = Seq((1L, 10L, 11L, true), (2L, 20L, 21L, false))
      .toDF("doc_id", "h1", "h2", "in_train")
      .select($"doc_id", struct($"h1", $"h2").as("content_hash"), $"in_train")
    rows.write.parquet(s"$stateDir/batch=0")
    rows.select("doc_id", "content_hash")
      .write.parquet(s"${IncrementalManifest.obsDir(stateDir)}/batch=0")
    val ((s1, o1), openJobs) = JobCounter(sc)((
      IncrementalManifest.readState(spark, stateDir),
      IncrementalManifest.readObservations(spark, stateDir)))
    assert(openJobs.isEmpty, openJobs.map(_.jobId).mkString(", "))
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    assert(sorted(s1) === sorted(spark.read.parquet(stateDir)
      .select($"doc_id", $"content_hash", $"in_train",
        $"batch".cast("long").as("batch"))))
    assert(sorted(o1) === sorted(rows.select("doc_id", "content_hash")))
    assert(s1.schema("batch").dataType === org.apache.spark.sql.types.LongType)
  }
}
