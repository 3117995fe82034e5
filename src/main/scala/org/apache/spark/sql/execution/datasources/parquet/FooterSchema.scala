package org.apache.spark.sql.execution.datasources.parquet

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** The data schema Spark's own parquet inference returns for a path,
  * read on the driver from one footer instead of in a one-task job.
  *
  * Lives in Spark's parquet package because the conversion Spark's
  * inference applies to a footer, `ParquetFileFormat.readSchemaFromFooter`,
  * is package-private; reusing it (with a `ParquetToSparkSchemaConverter`
  * built from the session conf) keeps every type mapping, the stored Spark
  * schema and the nanos/NTZ/INT96 confs exactly Spark's.
  */
object FooterSchema {

  /** `None` when Spark's job does real work or must speak for itself:
    * schema merging is on, or no footer could be read (no data file, an
    * unreadable file). The caller then falls back to a plain
    * `spark.read.parquet`, which keeps Spark's merged schema and its error
    * messages.
    */
  def apply(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.sessionState
    if (state.conf.isParquetSchemaMergingEnabled) None
    else try {
      val hconf = state.newHadoopConf()
      // the index Spark's DataSource would build: a streaming sink's
      // output is read through its commit log, anything else is listed
      val index =
        if (FileStreamSink.hasMetadata(Seq(path), hconf, state.conf))
          new MetadataLogFileIndex(spark, new Path(path), Map.empty, None)
        else new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      pick(index.allFiles()).map { f =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hconf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(state.conf))
      }
    } catch { case NonFatal(_) => None }
  }

  /** The footer non-merging inference reads (`ParquetUtils.inferSchema`):
    * over the sorted leaves, `_common_metadata`, else `_metadata`, else
    * the first data file.
    */
  private def pick(leaves: Seq[FileStatus]): Option[FileStatus] = {
    import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE => Common, PARQUET_METADATA_FILE => Meta}
    val sorted = leaves.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    named(Common).orElse(named(Meta))
      .orElse(sorted.find(f => !Set(Common, Meta)(f.getPath.getName)))
  }
}
