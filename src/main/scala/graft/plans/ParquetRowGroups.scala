package graft.plans

import scala.util.Try

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader

/** How many row groups a parquet file holds, from its footer, read on
  * the driver with Spark's own footer reader: no job and no broadcast.
  * A footer is read at most once per session for each version of a
  * file, (path, length, modification time), the scope
  * `graft.queries.Tables` pins schemas in: a rewritten file is read
  * again. None for a file whose footer cannot be read (truncated, not
  * parquet, gone); that answer is kept for the version too.
  */
private[plans] object ParquetRowGroups {
  private type Version = (String, Long, Long)

  private val counts = new graft.PerSession[Version, Option[Int]]

  def apply(spark: SparkSession, file: FileStatus, options: Map[String, String]): Option[Int] =
    counts(spark).computeIfAbsent(
      (file.getPath.toString, file.getLen, file.getModificationTime),
      _ => Try {
        val conf = spark.sessionState.newHadoopConfWithOptions(options)
        ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
          ParquetMetadataConverter.NO_FILTER).getBlocks.size
      }.toOption)
}
