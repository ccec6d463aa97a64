package graft.pipeline

import graft.ops.Ckpt
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Daily D-1 batch ETL (reference entry point 2, SURVEY §3.2): read one
  * raw-zone partition, flatten, dedup, compact to columnar, append to
  * the enriched zone.
  *
  * The reference does this in one Lambda (cell 38): list objects →
  * per-file json.load → parse_data → arrow concat → one parquet upload.
  * Here the same dataflow is a declarative plan: the partition-pruned
  * JSON scan is the listing, the flatten is a projection, the union is
  * implicit in the scan, and compaction is a write-side file-count
  * choice.
  *
  * Scale notes: each day compacts to ONE file (`coalesce(1)`), the
  * reference's one-file-per-day contract (ipynb:475). A 100 TB day
  * would need a fan-out (SURVEY §7.4 item 3); no caller needs one
  * today. Dedup on (chat_id, message_id) always runs: it collapses
  * webhook redelivery (at-least-once → exactly-once content,
  * SURVEY §3.4).
  */
object EtlJob {

  /** Pure transform: raw updates for one day → enriched rows. */
  def transform(raw: DataFrame, day: java.time.LocalDate): DataFrame =
    Flatten(raw, day).dropDuplicates("chat_id", "message_id")

  /** Run the ETL for one ingestion date. Returns (rows written, rejects). */
  def run(
      spark: SparkSession,
      rawDir: String,
      enrichedDir: String,
      day: java.time.LocalDate): (Long, Long) = Ckpt.scope {
    // Partition-pruned read: only this day's directory is listed/scanned,
    // the Spark analog of the reference's S3 Prefix= (ipynb:572).
    val dayDir = s"$rawDir/context_date=$day"
    // cached: the rejects count and the enriched write otherwise each
    // pay a full scan + JSON parse of the day
    val raw = Ckpt.cache(spark.read
      .schema(TelegramSchema.updateSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", TelegramSchema.CorruptCol)
      .json(dayDir))
    val enriched = transform(raw, day)
    val nRejects = Flatten.rejects(raw).count()
    val out = enriched.coalesce(1)
    // Row count rides the write itself as an observed metric — at scale
    // a re-read of the partition just to count what was written is a
    // second full scan of the day.
    val obs = org.apache.spark.sql.Observation(s"etl_$day")
    // Idempotent per-day write: dynamic partition overwrite replaces ONLY
    // this day's partition, so a retried/backfilled run never duplicates
    // rows (plain Append would double the day on every re-run).
    out.observe(obs, count(lit(1)).as("n_rows")).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("context_date")
      .parquet(enrichedDir)
    val n = obs.get("n_rows").asInstanceOf[Long]
    (n, nRejects)
  }

  /** Register the enriched zone as the `telegram` table (the Athena
    * external-table analog, ipynb:732–750): partition discovery gives
    * the `context_date` partition column, the vectorized parquet reader
    * gives the scans.
    */
  def registerTable(spark: SparkSession, enrichedDir: String, name: String = "telegram"): Unit =
    spark.read.schema(TelegramSchema.enrichedSchema).parquet(enrichedDir)
      .createOrReplaceTempView(name)
}
