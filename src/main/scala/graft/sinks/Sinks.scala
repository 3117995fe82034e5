package graft.sinks

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.LoadError
import graft.config.{EtlConfig, WriteDisposition}
import graft.sources.Tables

/** Sinks (reference §2.3): CSV artifact, warehouse table, backup copy.
  * The reference's GCS staging hop (load.py:18-47) disappears — Spark
  * writes to the destination filesystem natively.
  */
object Sinks {

  /** L1 — CSV artifact write (reference: save_to_csv transform.py:66-72).
    * Header on; timestamps formatted `yyyy-MM-dd HH:mm:ss` (the canonical
    * text form, transform.py:27,34). `singleFile=true` reproduces the
    * reference's one-file contract via coalesce(1) — a small-data
    * compatibility knob; leave false for a partitioned write at scale.
    */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): String = {
    val formatted = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampType =>
          acc.withColumn(f.name, date_format(col(f.name), "yyyy-MM-dd HH:mm:ss"))
        case _ => acc
      }
    }
    val out = if (singleFile) formatted.coalesce(1) else formatted
    out.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    path
  }

  /** Keep-latest upsert (MERGE emulation): rows in `updates` replace
    * same-key rows in `existing`; unmatched rows from both survive.
    * Plain parquet has no transactional MERGE, so the standard rewrite is
    * union + per-key keep-one with the update side preferred — one
    * shuffle on the key. At warehouse scale this runs partition-scoped
    * (only the date partitions the batch touches are rewritten), which is
    * exactly what the `dt=` layout loadWarehouse writes enables.
    *
    * Determinism contract: with no `versionCols`, each side must carry at
    * most one row per key (the ANSI MERGE precondition — real MERGE errors
    * on multiple matches) and this is ASSERTED, not assumed: a duplicate
    * key within one side fails the job with the offending key, instead of
    * silently keeping a partition-order-dependent winner. When a batch CAN
    * legitimately hold several updates for one key, pass `versionCols`
    * (e.g. an event timestamp) — they extend the window ordering so the
    * highest-version row wins deterministically.
    */
  def upsert(existing: DataFrame, updates: DataFrame, keyCols: Seq[String],
             versionCols: Seq[String] = Nil): DataFrame = {
    val tagged = existing.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val tiebreak = versionCols.map(col(_).desc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("__src").desc +: tiebreak: _*) // updates (1) win over existing (0)
    val ranked = tagged.withColumn("__rn", row_number().over(w))
    // uniqueness guard rides the shuffle the upsert already pays: without
    // versionCols each side must hold one row per key (MERGE
    // precondition); with versionCols, (key, side, version) must be
    // unique or the "highest version wins" contract is still ambiguous
    val guardCols = keyCols.map(col) ++ (col("__src") +: versionCols.map(col))
    val deduped = ranked
      .withColumn("__side_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(guardCols: _*)))
      .withColumn("__rn", when(col("__side_n") > 1,
        raise_error(concat(lit("upsert: ambiguous duplicate for key ("),
          concat_ws(",", keyCols.map(col): _*),
          lit(if (versionCols.isEmpty)
            ") — pass versionCols for a deterministic winner"
          else ") — same key and version on one side; no deterministic winner"))))
        .otherwise(col("__rn")))
      .drop("__side_n")
    deduped.filter(col("__rn") === 1).drop("__src", "__rn")
  }

  /** L4 — warehouse load with append/truncate disposition (reference:
    * load_to_bigquery load.py:67-110). BigQuery's REQUIRED mode → we assert
    * the frame's contract upstream (TrafficTransform.requireValid, before
    * any write) since Parquet happily stores nulls. Returns the loaded row
    * count of THIS batch like the reference (load.py:108-109 reports the
    * load job's own output_rows) — a table-total would over-report under
    * Append.
    *
    * @param partitionOn optional column names to partition the table by
    *   (e.g. a derived date column). At warehouse scale a date-partitioned
    *   layout is what makes downstream time-range queries prune files
    *   instead of scanning history — pass Seq("dt") derived via
    *   `withColumn("dt", to_date(col("time")))` to get it.
    */
  def loadWarehouse(spark: SparkSession, df: DataFrame, path: String,
                    disposition: WriteDisposition,
                    partitionOn: Seq[String] = Nil): Long = {
    val mode = disposition match {
      case WriteDisposition.Append   => SaveMode.Append
      case WriteDisposition.Truncate => SaveMode.Overwrite
    }
    try {
      // count THIS batch, not the whole table — under Append the table
      // total would over-report rowsLoaded (reference load.py:108-109
      // reports the load job's own output_rows). Observation rides the
      // write itself: one pass, and the count is of the rows actually
      // committed (a separate df.count() would re-execute the lineage
      // and could disagree with what was written).
      val obs = org.apache.spark.sql.Observation()
      val observed = df.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows_loaded"))
      val writer = observed.write.mode(mode)
      val partitioned =
        if (partitionOn.nonEmpty) writer.partitionBy(partitionOn: _*) else writer
      partitioned.parquet(path)
      obs.get("rows_loaded").asInstanceOf[Long]
    } catch {
      case e: Exception =>
        // actionable remediation, reference load.py:98-101: the commonest
        // load failure is a destination that was never created
        throw LoadError(
          s"Warehouse load to $path failed: ${e.getMessage}\n" +
            "If the destination dataset does not exist, create it first " +
            "(BigQuery: 'bq mk --dataset <project>:<dataset>').", e)
    }
  }

  /** Small-files compaction for a parquet directory: rewrite to about
    * `targetFileBytes` per file. Streaming appends and per-batch loads
    * accumulate small files, and at warehouse scale scan cost tracks the
    * FILE count (task scheduling + footer reads), not just bytes —
    * periodic compaction is a standard maintenance op. Writes to a
    * sibling temp dir then swaps, so the input is never read and
    * overwritten in the same job; the swap is not atomic for concurrent
    * readers (a table format with a transaction log is the answer when
    * that matters).
    *
    * @return number of output files written
    */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // preserve a Hive-style partition layout: walk `k=v` directory levels
    // to recover the partition columns, and rewrite with the same
    // partitionBy — otherwise compacting a dt= table would silently fold
    // the partition columns into flat files and kill pruning/DPP
    val partitionCols = {
      val cols = Seq.newBuilder[String]
      var cur = p
      var done = false
      while (!done) {
        val subdirs = fs.listStatus(cur).filter(_.isDirectory)
          .filter(_.getPath.getName.contains("="))
        if (subdirs.isEmpty) done = true
        else { cols += subdirs.head.getPath.getName.split("=", 2)(0); cur = subdirs.head.getPath }
      }
      cols.result()
    }
    val tmp = new Path(path + ".compact-tmp")
    val writer = Tables.parquet(spark, path).repartition(nFiles)
      .write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp.toString)
    val old = new Path(path + ".compact-old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(p, old))
      throw LoadError(s"compact: could not move $path aside; table untouched")
    if (!fs.rename(tmp, p)) {
      // roll the original back so the table path never stays nonexistent
      fs.rename(old, p)
      throw LoadError(s"compact: swap failed for $path; original restored")
    }
    fs.delete(old, true)
    nFiles
  }

  /** L3 — backup copy of the raw artifact before load (reference:
    * copy_within_gcs load.py:50-64, invoked __main__.py:61-63). A pure
    * object-store operation via the Hadoop FileSystem API — works on any
    * scheme (file://, gs://, s3a://) without engine involvement.
    */
  def backup(spark: SparkSession, sourceUri: String, destUri: String): String = {
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val srcPath = new Path(sourceUri)
      val dstPath = new Path(destUri)
      val srcFs = FileSystem.get(new URI(sourceUri), conf)
      val dstFs = FileSystem.get(new URI(destUri), conf)
      if (!srcFs.exists(srcPath))
        throw LoadError(s"Backup source does not exist: $sourceUri")
      dstFs.mkdirs(dstPath.getParent)
      FileUtil.copy(srcFs, srcPath, dstFs, dstPath, false, true, conf)
      destUri
    } catch {
      case e: LoadError => throw e
      case e: Exception =>
        throw LoadError(s"Backup $sourceUri -> $destUri failed: ${e.getMessage}", e)
    }
  }
}
