package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The three Spark internals `graft.util.Parquet` needs to find, on the
  * driver, the schema Spark's parquet inference job would find:
  * the session's Hadoop conf, the listing's hidden-name rule
  * (`private[spark]`) and the footer-to-schema conversion
  * `ParquetFileFormat.readSchema` (`private[parquet]`). Like
  * `org.apache.spark.sql.graftbridge.ColumnBridge`, it lives inside the
  * Spark namespace only to re-export them.
  */
object SchemaBridge {

  /** The Hadoop conf a read of this session sees. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Names the file listing skips (`_SUCCESS`, `.crc`, staging files). */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The schema of one file's footer, converted under the session's
    * parquet conf exactly as the inference job converts it.
    */
  def readSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus): Option[StructType] = {
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchema(Seq(footer), spark)
  }
}
