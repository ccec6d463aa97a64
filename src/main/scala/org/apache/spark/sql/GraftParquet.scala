package org.apache.spark.sql

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.classic.{SparkSession => CSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Package-internal helper for [[graft.ops.IndexLayout]]'s job-free
  * index reads: the Spark schema of ONE parquet data file, read on the
  * driver through the same footer read and the same
  * `ParquetToSparkSchemaConverter` settings that
  * `ParquetFileFormat.mergeSchemasInParallel` uses inside the one-task
  * schema-inference job `spark.read.parquet(dir)` schedules. Lives
  * under `org.apache.spark.sql` for the session's `SQLConf` and Hadoop
  * conf (the [[GraftIterate]] precedent); everything touched is public
  * Spark source.
  */
object GraftParquet {

  /** The schema `spark.read.parquet` infers when `file` is the file its
    * inference touches (the data schema only — partition columns come
    * from directory names, never from files).
    */
  def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val state = spark.asInstanceOf[CSession].sessionState
    val conf = state.conf
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, state.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = conf.isParquetBinaryAsString,
        assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
        inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
        nanosAsLong = conf.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          conf.parquetReaderRespectUnknownTypeAnnotation))
  }

  /** Spark's own file-listing filter: names a data listing skips. */
  def hiddenName(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
