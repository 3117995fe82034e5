package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.operators.TrafficTransform
import graft.sources.Tables

/** The reference ETL pipeline as an INCREMENTAL stream: CSV exports
  * landing in a raw directory are parsed with the same day-first
  * contract (T2), enriched with the run timestamp (T4), projected (T8),
  * and appended to the parquet warehouse — each file exactly once,
  * tracked by the checkpoint, no reprocessing on restart.
  *
  * This is the scale-out of the reference's one-file-per-run loop
  * (__main__.py:25-74): instead of a cron invoking the batch pipeline
  * per export, the stream absorbs whatever landed since the last run
  * (`Trigger.AvailableNow` = incremental batch) or runs continuously
  * with a processing-time trigger. State is only file-listing metadata —
  * no aggregation state to size.
  */
object TrafficStream {

  /** Raw CSV contract of the reference's processed artifact: a header
    * with time/traffic, day-first time strings.
    */
  val RawSchema: StructType = StructType(Seq(
    StructField("time", StringType, nullable = true),
    StructField("traffic", DoubleType, nullable = true)))

  def start(spark: SparkSession, rawDir: String, warehouseDir: String,
            checkpointDir: String, runTs: Timestamp): StreamingQuery = {
    val raw = spark.readStream
      .schema(RawSchema)
      .option("header", "true")
      .csv(rawDir)
    val transformed = TrafficTransform.finish(TrafficTransform.prepare(raw, runTs))
      // batch strictness (TrafficTransform.census) is an action, so streaming
      // validation is a filter: malformed rows are dropped, not fatal —
      // count them via the query's numOutputRows metric if auditing
      .filter(org.apache.spark.sql.functions.col("time").isNotNull &&
        org.apache.spark.sql.functions.col("traffic").isNotNull)
    transformed.writeStream
      .format("parquet")
      .option("path", warehouseDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Streaming MERGE: each micro-batch upserts into the parquet warehouse
    * keyed on `keyCols` via foreachBatch + Sinks.upsert — the standard
    * CDC-apply pattern when the sink has no native MERGE. Within a batch,
    * `versionCols` picks the winner among same-key updates; across
    * batches, later batches overwrite earlier ones. The rewrite is
    * read-modify-overwrite of the table (partition-scoped under a `dt=`
    * layout at scale); exactly-once comes from the checkpoint plus the
    * batch write being the last step of each foreachBatch invocation.
    */
  def startUpsert(spark: SparkSession, source: org.apache.spark.sql.DataFrame,
                  tableDir: String, checkpointDir: String,
                  keyCols: Seq[String], versionCols: Seq[String]): StreamingQuery = {
    source.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        // ONLY a genuinely absent/empty table reads as empty — any other
        // read failure (transient FS error, corrupt footer, interrupted
        // overwrite) must abort the batch, or mode("overwrite") below
        // would replace the whole table with just this batch's rows
        val fs = new Path(tableDir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val tablePath = new Path(tableDir)
        val hasData = fs.exists(tablePath) &&
          fs.listStatus(tablePath).exists(f =>
            f.getPath.getName.endsWith(".parquet") || f.isDirectory)
        val existing =
          if (hasData) Tables.parquet(spark, tableDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        val merged = graft.sinks.Sinks
          .upsert(existing, batch.toDF(), keyCols, versionCols)
          .localCheckpoint(true) // materialize BEFORE overwriting the input dir
        merged.write.mode("overwrite").parquet(tableDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
