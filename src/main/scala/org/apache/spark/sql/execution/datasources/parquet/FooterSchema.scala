package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's own parquet schema reading, reachable from outside its package:
  * the schema of one data file's footer, converted under the session's
  * confs (binary-as-string, INT96, TIMESTAMP_NTZ inference, nanos-as-long)
  * exactly as non-merging schema inference converts it — on the driver,
  * without the one-task job inference runs to read that same footer.
  */
object FooterSchema {
  def of(spark: SparkSession, file: FileStatus): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS
    )
    ParquetFileFormat
      .readSchema(Seq(new Footer(file.getPath, meta)), spark)
      .getOrElse(throw new IllegalStateException(s"no schema in the footer of ${file.getPath}"))
  }
}
