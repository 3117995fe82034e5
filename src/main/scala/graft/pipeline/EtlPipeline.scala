package graft.pipeline

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.slf4j.LoggerFactory

import graft._
import graft.config.{EtlConfig, WriteDisposition}
import graft.operators.TrafficTransform
import graft.sinks.Sinks
import graft.sources.Tables

/** One pipeline run's outcome (reference logs these counts at
  * extract.py:79, transform.py:62, load.py:108-109 and banners them at
  * __main__.py:70).
  *
  * `rowsExtracted` and `rowsTransformed` both come from the run's one
  * validation pass ([[TrafficTransform.census]]): the transform only
  * projects and never drops or adds a row, so the two are equal by
  * construction. `rowsLoaded` is counted by the warehouse write itself.
  */
final case class RunReport(
    rowsExtracted: Long,
    rowsTransformed: Long,
    rowsLoaded: Long,
    backupUri: String,
    csvUri: String,
    warehousePath: String,
    runTimestamp: String)

/** The reference's pipeline orchestrator `run_etl` (src/etl/__main__.py:25-74)
  * as a library: EXTRACT → TRANSFORM → LOAD with stage banners, one
  * run-constant timestamp threaded through artifact names and `created_at`
  * (reference: __main__.py:28 + transform.py:34 — captured ONCE in the
  * driver, injected as a literal), and typed stage errors.
  */
final class EtlPipeline(spark: SparkSession, config: EtlConfig) {
  private val log = LoggerFactory.getLogger(getClass)
  private val stampFmt =
    DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss").withZone(ZoneOffset.UTC)

  def run(now: Instant = Instant.now()): RunReport = {
    val stamp = stampFmt.format(now) // reference: __main__.py:28
    val runTs = Timestamp.from(now.truncatedTo(java.time.temporal.ChronoUnit.SECONDS))

    log.info("=== EXTRACT ===")
    val raw = extract(config.inputUri)
    // an empty source is an extract error even where its (inferred) types
    // would fail the transform's metadata checks first
    val enriched =
      try TrafficTransform.prepare(raw, runTs)
      catch { case _: TransformError if raw.isEmpty => throw emptySource }
    // the run's one validation pass, before anything is written: a bad
    // input fails the run with no artifact left behind
    val census = TrafficTransform.census(enriched)
    if (census.rows == 0) throw emptySource
    log.info(s"Extracted ${census.rows} rows")

    log.info("=== TRANSFORM ===")
    TrafficTransform.requireValid(census)
    val transformed = TrafficTransform.finish(enriched)
    log.info(s"Transformed ${census.rows} rows")

    log.info("=== LOAD ===")
    // L3 backup of raw input (reference: __main__.py:61-63); keep the
    // source's real extension — sourceBlob is configurable (.xls/.csv/...)
    val srcName = config.sourceBlob.split('/').last
    val ext = if (srcName.contains('.')) "." + srcName.split('.').last else ""
    val backupUri = Sinks.backup(spark, config.inputUri,
      s"${config.backupsPrefix}/original_$stamp$ext")
    // L1/L2 processed CSV artifact (reference: __main__.py:52-53 + load.py:18-47)
    val csvUri = Sinks.writeCsv(transformed,
      s"${config.processedPrefix}/traffic_data_$stamp.csv", singleFile = true)
    // L4 warehouse load (reference: load.py:67-110), date-partitioned so
    // time-range reads prune files at scale (SURVEY §7.4). The partition
    // column is derived, not part of the reference's 3-column contract —
    // reading the table back yields time/traffic/created_at/dt.
    val warehousePath = s"${config.bucketUri}/warehouse/${config.dataset}.${config.table}"
    val loaded = Sinks.loadWarehouse(spark,
      transformed.withColumn("dt", org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("time"))),
      warehousePath, config.writeDisposition, partitionOn = Seq("dt"))
    log.info(s"Loaded $loaded rows to ${config.tableId}")

    log.info("=== COMPLETE ===")
    RunReport(census.rows, census.rows, loaded, backupUri, csvUri, warehousePath, stamp)
  }

  private def emptySource = ExtractError("Extracted 0 rows") // extract.py:76-77

  /** S1/S2 — source scan. A workbook (.xls or .xlsx) goes through the
    * `excel` DataSource V2, which picks the decoder from the file's magic
    * bytes as pandas does (extract.py:60); CSV/parquet read natively
    * (schema inferred for CSV like pandas does). The post-read row-count
    * check S3 runs in `run()`, on the validation pass.
    */
  private def extract(uri: String): DataFrame = {
    val lower = uri.toLowerCase
    val df =
      try {
        if (lower.endsWith(".xls") || lower.endsWith(".xlsx"))
          spark.read.format("excel").load(uri)
        else if (lower.endsWith(".csv"))
          spark.read.option("header", "true").option("inferSchema", "true").csv(uri)
        else Tables.parquet(spark, uri)
      } catch {
        case e: Exception =>
          // actionable remediation, reference extract.py:26-29: a storage
          // access failure most often means missing credentials for the
          // bucket's filesystem
          throw ExtractError(
            s"Failed to extract from $uri: ${e.getMessage}\n" +
              "If the source filesystem needs credentials, authenticate first " +
              "(for gs:// buckets: run 'gcloud auth application-default login').", e)
      }
    // S4 — required source columns, case-insensitive (extract.py:69-74)
    val have = df.columns.map(_.toLowerCase).toSet
    val missing = Seq("time", "traffic").filterNot(have)
    if (missing.nonEmpty)
      throw ExtractError(
        s"Missing required columns: ${missing.mkString(", ")}. " +
          s"Found: ${df.columns.mkString(", ")}")
    df
  }
}

/** CLI parity with `python -m etl run [--truncate]`
  * (reference: __main__.py:77-97, flag override __main__.py:33-34).
  */
object EtlCli {
  val Usage = "usage: EtlCli run [--truncate]"

  /** `Right(truncate)` for `run [--truncate]`, else the error to print
    * above the usage line. Anything else exits 1 (argparse parity,
    * __main__.py:77-93): a typo'd cron entry must not register as a
    * successful run, and `run --truncat` must not append the day again.
    */
  def parseArgs(args: Seq[String]): Either[String, Boolean] = args match {
    case "run" +: flags =>
      val unknown = flags.filterNot(_ == "--truncate")
      if (unknown.isEmpty) Right(flags.nonEmpty)
      else Left(s"Unrecognized arguments: ${unknown.mkString(" ")}")
    case cmd +: _ => Left(s"Unknown command: $cmd")
    case _ => Left("Missing command")
  }

  def main(args: Array[String]): Unit = {
    val truncate = parseArgs(args.toSeq) match {
      case Right(t) => t
      case Left(err) =>
        System.err.println(err)
        println(Usage)
        sys.exit(1)
    }
    val config =
      try {
        val base = EtlConfig.fromEnv()
        if (truncate) base.copy(writeDisposition = WriteDisposition.Truncate)
        else base
      } catch {
        case e: PipelineError =>
          System.err.println(s"Pipeline failed: ${e.getMessage}")
          sys.exit(1)
      }
    val spark = GraftSession.create("graft-etl")
    try {
      val report = new EtlPipeline(spark, config).run()
      println(s"Loaded ${report.rowsLoaded} rows")
    } catch {
      case e: PipelineError =>
        System.err.println(s"Pipeline failed: ${e.getMessage}")
        sys.exit(1)
    } finally spark.stop()
  }
}
