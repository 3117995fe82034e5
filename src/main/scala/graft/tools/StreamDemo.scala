package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Tables
import graft.streaming.EventsStream

/** Runnable readStream -> transform -> writeStream demo over a file
  * source: copies the events fixture into a watched directory in two
  * batches, runs the watermarked hourly aggregation as a real streaming
  * query (parquet file source, availableNow trigger), and prints the
  * committed results. Shows the same EventsStream transforms used by the
  * MemoryStream specs running against the file-based source a production
  * deployment would use.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder("stream-demo", "local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val inDir = java.nio.file.Files.createTempDirectory("stream_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("stream_out").toString
    val ckDir = java.nio.file.Files.createTempDirectory("stream_ck").toString

    // stage half the events, run one availableNow pass, stage the rest, rerun:
    // the checkpoint proves incremental processing across restarts
    val all = graft.sources.Tables.events(spark, sf).cache()
    def stage(cond: String): Unit =
      all.filter(cond).write.mode("append").parquet(inDir)

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(all.schema).parquet(inDir)
      val agg = EventsStream.hourlyCounts(stream)
      val q = agg.writeStream
        .format("parquet").option("path", outDir)
        .option("checkpointLocation", ckDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    stage("event_id % 2 = 0")
    runOnce()
    val afterFirst = Tables.parquet(spark, outDir).count()
    stage("event_id % 2 = 1")
    runOnce()
    val out = Tables.parquet(spark, outDir)
    println(s"[stream] windows after first batch: $afterFirst, " +
      s"after second: ${out.count()}")
    out.orderBy("bucket_start", "event_type").show(6, truncate = false)
    spark.stop()
  }
}
