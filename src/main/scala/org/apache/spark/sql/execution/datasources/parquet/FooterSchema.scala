package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's `private[parquet]` footer-schema conversion (same
  * in-package access pattern as [[org.apache.spark.sql.graft.Bridge]]).
  * `spark.read.parquet` infers a schema by reading footers inside a
  * Spark job (`ParquetFileFormat.mergeSchemasInParallel`), even for one
  * file; this reads the one footer on the driver and converts it with
  * the same `readSchema`, so session confs such as
  * `spark.sql.legacy.parquet.nanosAsLong` resolve exactly as there. */
object FooterSchema {

  /** The Spark schema of `path`: a parquet file, or a directory whose
    * first data part file (by name; `_`/`.`-prefixed names are not
    * data, as in Spark's file index) stands for all of them — what
    * inference with `mergeSchema=false` assumes too. */
  def of(spark: SparkSession, path: String): StructType = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    val file =
      if (!root.isDirectory) root
      else fs.listStatus(p).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.minByOption(_.getPath.getName).getOrElse(throw new IllegalArgumentException(
        s"no parquet data file directly under $path to read a schema from"))
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    ParquetFileFormat.readSchema(Seq(footer), spark).get
  }
}
