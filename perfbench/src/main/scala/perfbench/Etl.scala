package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit
import java.time.{Instant, LocalDate, ZoneOffset}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ExtractError
import graft.config.{EtlConfig, WriteDisposition}
import graft.operators.TrafficTransform
import graft.pipeline.{EtlPipeline, RunReport}
import graft.sinks.Sinks
import graft.sources.XlsxSource

/** `etl_daily`: one 288-row workbook per synthetic day, appended to one
  * warehouse by `EtlPipeline.run`, each load followed by a read-back of
  * the last seven days' hourly mean traffic.
  */
final class EtlDaily(h: Harness) extends Workload {
  private val spark = h.spark
  private val seed = h.args.seed
  private val MaxDays = 60
  /** Days loaded before timing: per-job overhead keeps getting faster for
    * several days as the JIT compiles Spark's scheduling and commit paths.
    */
  private val WarmDays = 6
  private val day0 = Gen.firstDay(seed)
  private var expects = IndexedSeq.empty[Gen.Expect]
  /** Generated input directories (`<bucket>/raw_data`), latest last. */
  private val generated = ArrayBuffer.empty[File]
  private def measureBucket: File = generated.last.getParentFile
  private def warmBucket: File = generated(generated.size - 2).getParentFile
  /** A wrong generator expectation, for the benchmark's self-test. */
  private val skew: Long = if (h.args.fault.contains("expect")) 1L else 0L

  private def blob(d: Int) = f"raw_data/traffic_$d%03d.xlsx"
  private def day(d: Int): LocalDate = day0.plusDays(d)
  /** The cron-style run time: five past midnight after the day ends. */
  private def now(d: Int): Instant = day(d + 1).atTime(0, 5).toInstant(ZoneOffset.UTC)

  private def config(bucket: File, d: Int): EtlConfig =
    EtlConfig("perfbench", bucket.toURI.toString.stripSuffix("/"), "analytics", "traffic",
      WriteDisposition.Append, blob(d))

  private def warehouse(cfg: EtlConfig) = s"${cfg.bucketUri}/warehouse/${cfg.dataset}.${cfg.table}"

  override def inputMarker: String = generated.last.toURI.getPath.stripSuffix("/")

  def generate(dir: File): Unit = {
    dir.mkdirs()
    expects = (0 until MaxDays).map(d =>
      Gen.dailyWorkbook(new File(dir.getParentFile, blob(d)), seed, day(d)))
    generated += dir
  }

  override def hasCycle(i: Int): Boolean = i < MaxDays
  override def minCycles: Int = 8

  def warmUp(): Unit = {
    (0 until WarmDays).foreach { d =>
      new EtlPipeline(spark, config(warmBucket, d)).run(now(d))
      readback(config(warmBucket, d), d).length
    }
    if (h.args.trace) checkReplay(WarmDays)
  }

  /** One pipeline run: `EtlPipeline.run` untraced; traced, the same calls
    * in the same order made from here, each inside a span.
    */
  private def runPipeline(cfg: EtlConfig, now: Instant): RunReport =
    if (h.args.trace) replay(cfg, now) else new EtlPipeline(spark, cfg).run(now)

  private val stampFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)

  /** `EtlPipeline.run`'s calls, from outside: its `extract` is private. */
  private def replay(cfg: EtlConfig, now: Instant): RunReport = h.tracer.span("pipeline.run") {
    val stamp = stampFmt.format(now)
    val runTs = Timestamp.from(now.truncatedTo(ChronoUnit.SECONDS))
    val raw = h.tracer.span("sources.xlsx_read")(XlsxSource.read(spark, cfg.inputUri))
    val have = raw.columns.map(_.toLowerCase).toSet
    val missing = Seq("time", "traffic").filterNot(have)
    if (missing.nonEmpty) throw ExtractError(s"Missing required columns: ${missing.mkString(", ")}")
    val extracted = raw.count()
    if (extracted == 0) throw ExtractError("Extracted 0 rows")
    val transformed = h.tracer.span("operators.transform")(TrafficTransform(raw, runTs))
    val nTransformed = transformed.count()
    val backupUri = h.tracer.span("sinks.backup")(
      Sinks.backup(spark, cfg.inputUri, s"${cfg.backupsPrefix}/original_$stamp.xlsx"))
    val csvUri = h.tracer.span("sinks.csv")(Sinks.writeCsv(transformed,
      s"${cfg.processedPrefix}/traffic_data_$stamp.csv", singleFile = true))
    val loaded = h.tracer.span("sinks.warehouse")(Sinks.loadWarehouse(spark,
      transformed.withColumn("dt", to_date(col("time"))), warehouse(cfg), cfg.writeDisposition,
      partitionOn = Seq("dt")))
    RunReport(extracted, nTransformed, loaded, backupUri, csvUri, warehouse(cfg), stamp)
  }

  /** The replay must report what `run()` reports on the same input. */
  private def checkReplay(d: Int): Unit = {
    val counts = Seq("run", "replay").map { name =>
      val bucket = new File(warmBucket, name)
      val src = new File(warmBucket, blob(d)).toPath
      val dst = new File(bucket, blob(d)).toPath
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst)
      val r = if (name == "run") new EtlPipeline(spark, config(bucket, d)).run(now(d))
        else replay(config(bucket, d), now(d))
      (r.rowsExtracted, r.rowsTransformed, r.rowsLoaded)
    }
    if (counts(0) != counts(1))
      throw new IllegalStateException(s"traced replay reports ${counts(1)}, run() reports ${counts(0)}")
  }

  /** Hourly mean traffic of the seven days ending with day `d`. */
  private def readback(cfg: EtlConfig, d: Int): Array[Row] =
    spark.read.parquet(warehouse(cfg))
      .where(col("dt").between(lit(Date.valueOf(day(math.max(0, d - 6)))), lit(Date.valueOf(day(d)))))
      .groupBy(col("dt"), hour(col("time")).as("h"))
      .agg(count(lit(1)).as("n"), avg(col("traffic")).as("mean"))
      .collect()

  private def checkReadback(rows: Array[Row], d: Int): Seq[String] = {
    val want = (math.max(0, d - 6) to d).flatMap(k => expects(k).hourly).toMap
    val got = rows.map(r => (r.getDate(0).toLocalDate, r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val missing = (want.keySet -- got.keySet).size
    val extra = (got.keySet -- want.keySet).size
    val wrong = want.count { case (k, (n, mean)) =>
      got.get(k).exists { case (gn, gm) => gn != n + skew || math.abs(gm - mean) > 1e-9 * math.max(1.0, math.abs(mean)) }
    }
    if (missing + extra + wrong == 0) Nil
    else Seq(s"read-back day $d: $missing hours missing, $extra unexpected, $wrong wrong")
  }

  /** Mismatches between a run's report, its CSV artifact and the
    * generator's row count.
    */
  private def checkLoad(r: RunReport, rows: Long): Seq[String] = {
    val csvRows = Files.list(new File(new java.net.URI(r.csvUri)).toPath).iterator.asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => Files.lines(p, UTF_8).count() - 1).sum // one header per part file
    Seq("extracted" -> r.rowsExtracted, "transformed" -> r.rowsTransformed,
      "loaded" -> r.rowsLoaded, "csv" -> csvRows)
      .collect { case (k, n) if n != rows => s"rows $k $n, expected $rows" }
  }

  /** Data files under the bucket outside its input, with their sizes. */
  private def outputFiles(bucket: File): Map[Path, Long] =
    Files.walk(bucket.toPath).iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.toString.contains("/raw_data/"))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
      .map(p => p -> Files.size(p)).toMap

  private def report(what: String, problems: Seq[String]): Int =
    if (problems.isEmpty) 0 else { h.fail(s"$what: ${problems.mkString("; ")}"); 1 }

  def cycle(i: Int): Cycle = {
    val cfg = config(measureBucket, i)
    val before = if (h.args.trace) outputFiles(measureBucket) else Map.empty[Path, Long]
    val load = h.timed(runPipeline(cfg, now(i)))
    val rb = h.timed(h.tracer.span("sinks.readback")(readback(cfg, i)))
    val rows = expects(i).rows + skew
    val loadFailed = report(s"day $i load", load.result.fold(e => Seq(e.toString), checkLoad(_, rows)))
    val rbFailed = report(s"day $i read-back", rb.result.fold(e => Seq(e.toString), checkReadback(_, i)))
    // sinks output, traced runs only: data files that appeared under the
    // bucket during the cycle, against the workbook they came from
    val sinks =
      if (!h.args.trace) Map.empty[String, Double]
      else {
        val fresh = outputFiles(measureBucket).filter { case (p, n) => !before.get(p).contains(n) }
        Map("sinks.bytes_written" -> fresh.values.sum.toDouble,
          "sinks.files_written" -> fresh.size.toDouble,
          "input_bytes" -> new File(measureBucket, blob(i)).length.toDouble)
      }
    Cycle(load.wallS + rb.wallS, load.cpuS + rb.cpuS, Seq(load.wallS), ops = 2,
      loadFailed + rbFailed,
      sinks ++ Map("pipeline.actions" -> load.executions.toDouble,
        "pipeline.source_scans" -> load.sourceScans.toDouble, "sinks.readback_s" -> rb.wallS))
  }

  override def layerExtras(cycles: Seq[Cycle]): Map[String, Double] = {
    def med(k: String) = Stats.median(cycles.map(_.extra.getOrElse(k, 0.0)))
    val ratio = cycles.map(_.extra.getOrElse("sinks.bytes_written", 0.0)).sum /
      math.max(1.0, cycles.map(_.extra.getOrElse("input_bytes", 0.0)).sum)
    Seq("pipeline.actions", "pipeline.source_scans", "sinks.bytes_written",
      "sinks.files_written", "sinks.readback_s").map(k => k -> med(k)).toMap +
      ("sinks.stored_bytes_ratio" -> ratio)
  }
}
