/*
 * Lives in Spark's parquet package ON PURPOSE: `ParquetFileFormat.readSchema`
 * (the footer → Spark schema conversion schema inference itself uses)
 * is `private[parquet]`. Same shim rationale as `GraftColumns`.
 */
package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{GraftColumns, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's parquet schema conversion. Keep it minimal. */
object GraftParquet {

  /** The schema `spark.read.parquet(file)` infers for one parquet file,
    * converted from its footer on the driver — where inference would run
    * a Spark job to read that same footer. */
  def fileSchema(spark: SparkSession, file: String): Option[StructType] = {
    val path = new Path(file)
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(path, GraftColumns.hadoopConf(spark)))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchema(Seq(new Footer(path, footer)), spark)
  }
}
