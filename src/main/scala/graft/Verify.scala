package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args match {
      case Array(a, b) => (a, b)
      case _ => sys.error(s"usage: graft.Verify <sfDir> <outDir> (got ${args.length} args)")
    }
    val spark = Sessions.local("graft-verify", Sessions.cpusFromEnv())
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (comma-separated name prefixes); the driver
    // sets nothing and gets the full dump.
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    // One Ckpt scope per query around build + write; whatever is still
    // persisted after it closes leaked, and fails the query.
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet
    var run, failed, leaked = 0
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only.forall(_.exists(name.startsWith))) {
        run += 1
        val before = persisted()
        val out = s"$outDir/$name"
        try {
          ops.Ckpt.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out))
          val k = (persisted() -- before).size
          if (k > 0) {
            System.err.println(s"[verify] $name leaked $k persisted RDDs")
            failed += 1; leaked += 1
            org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
          }
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failed += 1
        }
      }
    }
    println(s"verify: $run run, $failed failed, $leaked leaked")
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.exists(k.startsWith)) }
      .map { case (k, v) => s"${JsonStr(k)}: ${JsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
