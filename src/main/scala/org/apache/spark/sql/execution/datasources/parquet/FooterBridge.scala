package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark's `private[parquet]` footer-to-schema path so
  * `graft.ParquetSchema` can learn a file's schema on the driver: the same
  * footer read, converter settings and row-metadata precedence that
  * `ParquetFileFormat.mergeSchemasInParallel` runs inside the one-task
  * inference job `spark.read.parquet` starts. Same shim pattern as the
  * `org.apache.spark.sql.graftbridge` objects; it lives in the parquet
  * package because that is the visibility of the code it calls. */
object FooterBridge {
  /** The Spark schema of one parquet file, converted with the session's
    * parquet settings (binary-as-string, int96-as-timestamp, NTZ
    * inference, `nanosAsLong`); Spark's own row-metadata schema, when the
    * footer carries one, takes precedence. Every field is nullable, as a
    * file source reads it. */
  def schema(spark: SparkSession, file: FileStatus): StructType = {
    val conf = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, SessionStateHelper.getHadoopConf(spark)),
      SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
      .asNullable
  }

  /** The file index's hidden-name rule: `_`/`.` names are skipped, except
    * the parquet summary files and `k=v` directories. */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
