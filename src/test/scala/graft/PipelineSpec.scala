package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.config.{EtlConfig, WriteDisposition}
import graft.pipeline.EtlPipeline

/** End-to-end golden test: fixture source -> full pipeline -> warehouse,
  * asserting the SURVEY §7.2 ground-truth slice (row count, time range,
  * mean traffic) and append/truncate disposition semantics.
  */
class PipelineSpec extends SparkTestBase {

  private def freshBucket(): String = {
    val dir = tmpDir("graft_bucket")
    new java.io.File(s"$dir/raw_data").mkdirs()
    dir
  }

  private def csvConfig(bucket: String, disp: WriteDisposition) = EtlConfig(
    projectId = "test", bucketUri = s"file://$bucket", dataset = "d",
    table = "t", writeDisposition = disp,
    sourceBlob = "raw_data/traffic.csv")

  /** 287-row CSV fixture mirroring the reference sample (5-min grid,
    * dd/MM/yyyy HH:mm strings to exercise the strict day-first parse T2).
    */
  private def writeCsvFixture(bucket: String): Unit = {
    val rows = (0 until 287).map { i =>
      val h = i / 12; val m = (i % 12) * 5
      f"23/05/2021 $h%02d:$m%02d,${4.0 + (i % 55) * 0.1}%.4f"
    }
    Files.write(Paths.get(s"$bucket/raw_data/traffic.csv"),
      ("Time,Traffic\n" + rows.mkString("\n")).getBytes)
  }

  test("CSV fixture end-to-end: counts, disposition append then truncate") {
    val bucket = freshBucket()
    writeCsvFixture(bucket)
    val r1 = new EtlPipeline(spark, csvConfig(bucket, WriteDisposition.Append)).run()
    assert(r1.rowsExtracted == 287 && r1.rowsTransformed == 287 && r1.rowsLoaded == 287)
    val r2 = new EtlPipeline(spark, csvConfig(bucket, WriteDisposition.Append)).run()
    assert(r2.rowsLoaded == 287) // the batch's own rows, not the table total
    assert(spark.read.parquet(r2.warehousePath).count() == 574) // append accumulates
    val r3 = new EtlPipeline(spark, csvConfig(bucket, WriteDisposition.Truncate)).run()
    assert(r3.rowsLoaded == 287) // truncate resets
    assert(spark.read.parquet(r3.warehousePath).count() == 287)
    // artifacts exist in all three zones
    assert(new java.io.File(s"$bucket/backups").listFiles().nonEmpty)
    assert(new java.io.File(s"$bucket/processed").listFiles().nonEmpty)
    // warehouse time range parses day-first: 23/05 = May 23rd
    val wh = spark.read.parquet(r3.warehousePath)
    val times = wh.selectExpr("min(time) AS lo", "max(time) AS hi").head()
    assert(times.getTimestamp(0).toString.startsWith("2021-05-23 00:00"))
    assert(times.getTimestamp(1).toString.startsWith("2021-05-23 23:50"))
  }

  test("XLS end-to-end against the reference sample (SURVEY §7.2 slice)") {
    assume(new java.io.File("/root/reference/data/traffic_spreadsheet.xls").exists())
    val bucket = freshBucket()
    Files.copy(
      Paths.get("/root/reference/data/traffic_spreadsheet.xls"),
      Paths.get(s"$bucket/raw_data/traffic_spreadsheet.xls"))
    val cfg = EtlConfig(projectId = "test", bucketUri = s"file://$bucket",
      dataset = "d", table = "t")
    val report = new EtlPipeline(spark, cfg).run()
    assert(report.rowsLoaded == 287)
    val wh = spark.read.parquet(report.warehousePath)
    val stats = wh.selectExpr("count(*)", "min(time)", "max(time)", "avg(traffic)").head()
    assert(stats.getLong(0) == 287)
    assert(stats.getTimestamp(1).toString.startsWith("2021-05-23 00:00"))
    assert(stats.getTimestamp(2).toString.startsWith("2021-05-23 23:50"))
    assert(math.abs(stats.getDouble(3) - 6.95334) < 1e-4)
  }

  test("XLSX end-to-end: the converted reference sample through the full pipeline") {
    assume(new java.io.File("/root/reference/data/traffic_spreadsheet.xls").exists())
    val bucket = freshBucket()
    // convert the BIFF8 sample to OOXML (exact serial roundtrip) — the
    // reference's pd.read_excel covers both containers; so must we
    val src = spark.read.format("xls")
      .load("/root/reference/data/traffic_spreadsheet.xls")
      .collect().map(r => Seq[Any](r.getTimestamp(0), r.getDouble(1))).toSeq
    XlsxTestWriter.write(new java.io.File(s"$bucket/raw_data/traffic.xlsx"),
      Seq("time", "traffic"), src)
    val cfg = EtlConfig(projectId = "test", bucketUri = s"file://$bucket",
      dataset = "d", table = "t", sourceBlob = "raw_data/traffic.xlsx")
    val report = new EtlPipeline(spark, cfg).run()
    assert(report.rowsLoaded == 287)
    val wh = spark.read.parquet(report.warehousePath)
    val stats = wh.selectExpr("count(*)", "min(time)", "max(time)", "avg(traffic)").head()
    assert(stats.getLong(0) == 287)
    assert(stats.getTimestamp(1).toString.startsWith("2021-05-23 00:00"))
    assert(stats.getTimestamp(2).toString.startsWith("2021-05-23 23:50"))
    assert(math.abs(stats.getDouble(3) - 6.95334) < 1e-4)
    // the backup keeps the source's real extension
    assert(new java.io.File(s"$bucket/backups").listFiles()
      .exists(_.getName.endsWith(".xlsx")))
  }

  test("empty source rejects (extract.py:76-77)") {
    val bucket = freshBucket()
    // header only: inferSchema types both columns as strings, which the
    // transform would reject as non-numeric traffic if it ran first
    Files.write(Paths.get(s"$bucket/raw_data/traffic.csv"), "time,traffic\n".getBytes)
    val e = intercept[ExtractError] {
      new EtlPipeline(spark, csvConfig(bucket, WriteDisposition.Append)).run()
    }
    assert(e.getMessage == "Extracted 0 rows")
  }

  test("empty source rejects before the transform's type checks") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val bucket = freshBucket()
    // a numeric time column fails T2's type check at plan time
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("time", DoubleType), StructField("traffic", DoubleType))))
      .write.parquet(s"$bucket/raw_data/traffic.parquet")
    val cfg = csvConfig(bucket, WriteDisposition.Append)
      .copy(sourceBlob = "raw_data/traffic.parquet")
    val e = intercept[ExtractError](new EtlPipeline(spark, cfg).run())
    assert(e.getMessage == "Extracted 0 rows")
  }

  /** Runs a CSV source through `run()`, expecting a TransformError with
    * `message` and no artifact in any output zone.
    */
  private def assertRejectedBeforeLoad(csv: String, message: String): Unit = {
    val bucket = freshBucket()
    Files.write(Paths.get(s"$bucket/raw_data/traffic.csv"), csv.getBytes)
    val e = intercept[TransformError] {
      new EtlPipeline(spark, csvConfig(bucket, WriteDisposition.Append)).run()
    }
    assert(e.getMessage == message)
    Seq("backups", "processed", "warehouse").foreach { zone =>
      assert(!new java.io.File(s"$bucket/$zone").exists(), s"$zone written")
    }
  }

  test("unparseable time rejects the run before anything is written (transform.py:24-25)") {
    assertRejectedBeforeLoad("time,traffic\n23/05/2021 00:00,5.0\nnot-a-date,6.0\n",
      "Failed to parse 'time' values as datetime (found nulls after parse)")
  }

  test("null traffic rejects the run before anything is written (transform.py:45-47)") {
    assertRejectedBeforeLoad("time,traffic\n23/05/2021 00:00,5.0\n23/05/2021 00:05,\n",
      "Column 'traffic' contains 1 null values")
  }

  test("an XLSX run launches three SQL executions: one validation pass, two writes") {
    val bucket = freshBucket()
    val t0 = Timestamp.valueOf("2021-05-23 00:00:00").getTime
    XlsxTestWriter.write(new java.io.File(s"$bucket/raw_data/traffic.xlsx"),
      Seq("Time", "TRAFFIC"),
      (0 until 288).map(i => Seq[Any](new Timestamp(t0 + i * 300000L), 4.0 + i % 55 * 0.1)))
    val cfg = EtlConfig(projectId = "test", bucketUri = s"file://$bucket",
      dataset = "d", table = "t", sourceBlob = "raw_data/traffic.xlsx")
    val executions = new AtomicInteger
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext) // earlier tests' events stay uncounted
    spark.listenerManager.register(listener)
    try {
      val report = new EtlPipeline(spark, cfg).run()
      ListenerBusDrain(spark.sparkContext)
      assert((report.rowsExtracted, report.rowsTransformed, report.rowsLoaded) == ((288, 288, 288)))
      assert(executions.get == 3)
    } finally spark.listenerManager.unregister(listener)
  }

  test("an .xls and an .xlsx of the same rows load the same warehouse rows") {
    // day-first strings, as a hand-kept sheet holds them: the transform's
    // strict parse runs on both containers
    val rows = (0 until 288).map { i =>
      Seq[Any](f"23/05/2021 ${i / 12}%02d:${i % 12 * 5}%02d", 4.0 + i % 55 * 0.1)
    }
    val now = java.time.Instant.parse("2021-05-24T00:05:00Z")
    val runs = Seq("xls", "xlsx").map { ext =>
      val bucket = freshBucket()
      val file = new java.io.File(s"$bucket/raw_data/traffic.$ext")
      if (ext == "xls") XlsTestWriter.write(file, Seq("time", "traffic"), rows)
      else XlsxTestWriter.write(file, Seq("time", "traffic"), rows)
      val cfg = EtlConfig(projectId = "test", bucketUri = s"file://$bucket",
        dataset = "d", table = "t", sourceBlob = s"raw_data/traffic.$ext")
      val report = new EtlPipeline(spark, cfg).run(now)
      val warehouse = spark.read.parquet(report.warehousePath)
        .select("time", "traffic", "created_at", "dt").collect()
        .map(_.toSeq).toSeq.sortBy(_.head.toString)
      ((report.rowsExtracted, report.rowsTransformed, report.rowsLoaded), warehouse)
    }
    assert(runs(0)._1 == ((288L, 288L, 288L)))
    assert(runs(0)._1 == runs(1)._1)
    assert(runs(0)._2.length == 288)
    assert(runs(0)._2 == runs(1)._2)
  }

  test("missing required column rejects (extract.py:69-74)") {
    val bucket = freshBucket()
    Files.write(Paths.get(s"$bucket/raw_data/traffic.csv"),
      "time,volume\n2021-05-23 00:00:00,5.0\n".getBytes)
    val e = intercept[PipelineError] {
      new EtlPipeline(spark, csvConfig(bucket, WriteDisposition.Append)).run()
    }
    assert(e.getMessage.toLowerCase.contains("traffic"))
  }

  test("extract failure carries the auth remediation hint (extract.py:26-29)") {
    Seq("raw_data/traffic.csv", "raw_data/traffic.xls", "raw_data/traffic.xlsx").foreach { blob =>
      val bucket = freshBucket()
      // no raw_data file at all -> the read itself fails
      val e = intercept[ExtractError] {
        new EtlPipeline(spark, csvConfig(bucket, WriteDisposition.Append)
          .copy(sourceBlob = blob)).run()
      }
      assert(e.getMessage.contains("gcloud auth application-default login"), blob)
    }
  }

  test("load failure carries the dataset-creation hint (load.py:98-101)") {
    import org.apache.spark.sql.functions.lit
    val bucket = freshBucket()
    // destination parent is a FILE -> parquet write cannot create the dir
    Files.write(Paths.get(s"$bucket/not_a_dir"), "x".getBytes)
    val df = spark.range(3).withColumn("v", lit(1))
    val e = intercept[LoadError] {
      graft.sinks.Sinks.loadWarehouse(spark, df,
        s"$bucket/not_a_dir/table", WriteDisposition.Append)
    }
    assert(e.getMessage.contains("bq mk --dataset"))
  }
}
