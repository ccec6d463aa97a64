package graft.pipeline

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
      day: java.time.LocalDate): (Long, Long) = {
    // Partition-pruned read: only this day's directory is listed/scanned,
    // the Spark analog of the reference's S3 Prefix= (ipynb:572).
    val dayDir = s"$rawDir/context_date=$day"
    val raw = spark.read
      .schema(TelegramSchema.updateSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", TelegramSchema.CorruptCol)
      .json(dayDir)
    // Both counts ride the one write as observed metrics, so the day is
    // scanned and parsed once: rejects are counted on the raw scan,
    // below Flatten's filter; rows on what is written. A re-read of
    // the partition (or a separate rejects job) is a second full scan
    // of the day at scale.
    val rejectsObs = org.apache.spark.sql.Observation(s"etl_rejects_$day")
    val scanned = raw.observe(rejectsObs,
      count_if(!Flatten.isFlattenable(raw)).as("n_rejects"))
    val out = transform(scanned, day).coalesce(1)
    val rowsObs = org.apache.spark.sql.Observation(s"etl_$day")
    // Idempotent per-day write: dynamic partition overwrite replaces ONLY
    // this day's partition, so a retried/backfilled run never duplicates
    // rows (plain Append would double the day on every re-run).
    out.observe(rowsObs, count(lit(1)).as("n_rows")).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("context_date")
      .parquet(enrichedDir)
    (rowsObs.get("n_rows").asInstanceOf[Long],
      rejectsObs.get("n_rejects").asInstanceOf[Long])
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
