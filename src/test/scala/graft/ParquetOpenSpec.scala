package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.WriteDisposition
import graft.sinks.Sinks
import graft.sources.Tables

/** `Tables.parquet` opens a table from one footer read on the driver. It
  * must give what `spark.read.parquet` gives — the same schema (partition
  * columns included) and the same rows — for every table shape graft
  * writes or reads, launch no Spark job, and leave schema merging and
  * Spark's errors to Spark.
  */
class ParquetOpenSpec extends SparkTestBase {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: Array[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  /** `body`'s value and the Spark jobs started while it ran (the bus
    * drained on both ends).
    */
  private def withJobs[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val out = try { val a = body; ListenerBusDrain(spark.sparkContext); a }
      finally spark.sparkContext.removeSparkListener(listener)
    (out, jobs.get)
  }

  private def jobsDuring(body: => Any): Int = withJobs(body)._2

  /** Same schema and rows as Spark, read from a footer (no job). */
  private def assertSameAsSpark(path: String): Unit = {
    val (ours, jobs) = withJobs(Tables.parquet(spark, path))
    assert(jobs === 0, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema === theirs.schema, path)
    assert(rows(ours) === rows(theirs), path)
  }

  test("every fixture table opens with Spark's schema and rows") {
    Tables.All.foreach(t => assertSameAsSpark(s"$Sf/$t.parquet"))
  }

  test("opening a table launches no Spark job") {
    for (t <- Tables.All)
      assert(jobsDuring(Tables.load(spark, Sf, t)) === 0, t)
    assert(jobsDuring(Tables.events(spark, Sf)) === 0)
    // what the footer read saves: Spark's own inference runs a job
    assert(jobsDuring(spark.read.parquet(s"$Sf/orders.parquet")) === 1)
  }

  test("a Spark-written directory with _SUCCESS") {
    val dir = tmpDir("open-success") + "/t"
    spark.range(50).select(col("id"), (col("id") * 2).as("v"))
      .repartition(3).write.parquet(dir)
    assert(new java.io.File(dir, "_SUCCESS").exists)
    assertSameAsSpark(dir)
  }

  test("a dt-partitioned warehouse written by Sinks.loadWarehouse") {
    val dir = tmpDir("open-dt") + "/warehouse"
    val df = spark.range(40).select(col("id"), (col("id") % 7).cast("double").as("traffic"),
      concat(lit("2024-01-0"), (col("id") % 3 + 1).cast("string")).as("dt"))
    Sinks.loadWarehouse(spark, df, dir, WriteDisposition.Append, Seq("dt"))
    val ours = Tables.parquet(spark, dir)
    assert(ours.columns.last === "dt")
    assertSameAsSpark(dir)
  }

  test("a centroid_id-partitioned index") {
    val dir = tmpDir("open-index") + "/index"
    spark.range(60).select(col("id").as("vec_id"), (col("id") % 5).cast("int").as("centroid_id"),
        array(col("id").cast("float"), lit(1.0f)).as("embedding"))
      .write.partitionBy("centroid_id").parquet(dir)
    assert(Tables.parquet(spark, dir).schema("centroid_id").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assertSameAsSpark(dir)
  }

  test("a directory holding _common_metadata reads that footer first") {
    // the summary comes from a wider table, so reading the data file's
    // footer instead would drop `extra`
    val wide = tmpDir("open-wide") + "/t"
    spark.range(5).select(col("id"), col("id").cast("string").as("s"), lit(1.5).as("extra"))
      .coalesce(1).write.option("parquet.summary.metadata.level", "COMMON_ONLY").parquet(wide)
    val dir = tmpDir("open-common") + "/t"
    spark.range(5).select(col("id"), col("id").cast("string").as("s"))
      .coalesce(1).write.parquet(dir)
    java.nio.file.Files.copy(java.nio.file.Paths.get(wide, "_common_metadata"),
      java.nio.file.Paths.get(dir, "_common_metadata"))
    assert(Tables.parquet(spark, dir).columns.contains("extra"))
    assertSameAsSpark(dir)
  }

  test("a streaming sink's output reads the files its commit log names") {
    val base = tmpDir("open-stream")
    spark.range(10).select(col("id"), (col("id") % 3).as("k")).write.parquet(s"$base/src")
    val out = s"$base/out"
    spark.readStream.schema("id BIGINT, k BIGINT").parquet(s"$base/src")
      .writeStream.format("parquet").option("checkpointLocation", s"$base/ck")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start(out)
      .awaitTermination()
    // a file the log never committed, sorted before the committed ones:
    // listing the directory instead of the log would read its footer
    spark.range(1).select(lit("x").as("other")).coalesce(1).write.parquet(s"$base/stray")
    val stray = new java.io.File(s"$base/stray").listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(stray.toPath, java.nio.file.Paths.get(out, "a-stray.parquet"))
    assert(Tables.parquet(spark, out).columns.toSeq === Seq("id", "k"))
    assertSameAsSpark(out)
  }

  test("schema merging returns Spark's merged schema") {
    val dir = tmpDir("open-merge") + "/t"
    spark.range(3).select(col("id"), lit("a").as("a")).write.parquet(s"$dir/part=1")
    spark.range(3).select(col("id"), lit(2.0).as("b")).write.parquet(s"$dir/part=2")
    val key = "spark.sql.parquet.mergeSchema"
    try {
      spark.conf.set(key, "true")
      val ours = Tables.parquet(spark, dir)
      val theirs = spark.read.parquet(dir)
      assert(Set("a", "b", "part").subsetOf(ours.columns.toSet))
      assert(ours.schema === theirs.schema)
      assert(rows(ours) === rows(theirs))
    } finally spark.conf.unset(key)
  }

  test("an empty directory fails as spark.read.parquet fails") {
    val dir = tmpDir("open-empty")
    val theirs = intercept[Exception](spark.read.parquet(dir))
    val ours = intercept[Exception](Tables.parquet(spark, dir))
    assert(ours.getClass === theirs.getClass)
    assert(ours.getMessage === theirs.getMessage)
  }
}
