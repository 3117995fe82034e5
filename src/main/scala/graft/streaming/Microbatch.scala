package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Tables

/** The microbatch index discipline every `foreachBatch` stream here
  * shares, and the one place that knows its `dir/batch=<id>` layout.
  *
  * A stream keeps its state as one directory per microbatch under an
  * index dir. Each batch reads what EARLIER batches left ([[prior]]),
  * then overwrites its own `batch=<id>` ([[write]]). The checkpoint
  * keeps batch ids stable, so a batch replayed after a failure rewrites
  * its own output instead of duplicating it. Two guarantees follow:
  *   - a replayed batch screens only earlier batches, never the rows its
  *     own failed attempt left behind (both orientations of every pair
  *     would come back otherwise);
  *   - a batch directory that a crash left holding only an uncommitted
  *     `_temporary` attempt reads as empty, so a restart does not die
  *     inferring a schema from no files.
  */
private[streaming] object Microbatch {

  /** Run `body` on every microbatch of `input`, checkpointed in
    * `checkpointDir`.
    */
  def start(input: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(body)
      .start()

  /** Rows that batches before `batchId` wrote under `dir`, in `like`'s
    * columns; `like` with no rows when none did. A batch counts once its
    * directory holds an entry the parquet reader lists (a data file or a
    * partition directory); names starting with `_` or `.` are skipped, as
    * the reader skips them.
    */
  def prior(dir: String, batchId: Long, like: DataFrame): DataFrame = {
    val s = like.sparkSession
    val root = new Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def visible(p: Path) = !p.getName.startsWith("_") && !p.getName.startsWith(".")
    val written = Option(fs.globStatus(new Path(root, "batch=*"))).toSeq.flatten
      .filter(_.getPath.getName.stripPrefix("batch=").toLongOption.exists(_ < batchId))
      .exists(d => fs.listStatus(d.getPath).exists(f => visible(f.getPath)))
    if (written)
      Tables.parquet(s, dir).filter(col("batch") < batchId)
        .select(like.columns.toSeq.map(col): _*)
    else like.limit(0)
  }

  /** The staged artifact `dir/artifact`, opened; fails with `missing`
    * when it was never staged.
    */
  def staged(s: SparkSession, dir: String, artifact: String,
             missing: => String): DataFrame = {
    val path = new Path(dir, artifact)
    require(path.getFileSystem(s.sparkContext.hadoopConfiguration).exists(path),
      missing)
    Tables.parquet(s, path.toString)
  }

  /** Overwrite `dir/batch=<batchId>` with `df`. */
  def write(df: DataFrame, dir: String, batchId: Long,
            partitionBy: String*): Unit =
    df.write.mode("overwrite").partitionBy(partitionBy: _*)
      .parquet(s"$dir/batch=$batchId")
}
