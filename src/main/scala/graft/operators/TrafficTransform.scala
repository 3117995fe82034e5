package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.TransformError

/** The reference's transform dataflow (T1-T8, src/etl/transform.py:55-63),
  * re-expressed as *one lazy Catalyst plan* instead of five eager pandas
  * passes. Each combinator is `DataFrame => DataFrame`; Catalyst's
  * CollapseProject/ColumnPruning fuse the chain into a single
  * whole-stage-codegen'd projection over the scan.
  *
  * The checks that must inspect data (T2 strictness, T6 nulls) read ONE
  * single-pass aggregate, [[census]] — never a per-check `count()` — so
  * the cost at 100 TB is one scan, not k scans. The same pass carries the
  * row count, so a caller that also needs it launches no second job.
  */
object TrafficTransform {

  /** T1 — lowercase all column names (reference: transform.py:57). */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase): _*)

  /** T2 — strict day-first timestamp parse (reference: transform.py:16-28).
    * The reference parses with `dayfirst=True` (docstring says dd/mm/YY) and
    * raises if ANY value fails to parse (transform.py:24-25). Spark's
    * `to_timestamp` returns null on failure, so strictness is enforced by
    * [[requireValid]] on the [[census]] null count; here we only build the
    * plan. Already-timestamp input passes through unchanged (the XLS path
    * materializes TimestampType, SURVEY §1.4).
    */
  def parseTimeColumn(df: DataFrame, column: String = "time"): DataFrame =
    df.schema(column).dataType match {
      case TimestampType => df
      case StringType =>
        // day-first patterns, most-specific first. try_to_timestamp (null on
        // mismatch, even under ANSI mode) + coalesce; strictness is restored
        // by requireValid's null check, matching the reference's
        // fail-on-any-unparsed contract.
        val patterns = Seq(
          "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy",
          "dd/MM/yy HH:mm:ss", "dd/MM/yy HH:mm", "dd/MM/yy",
          "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm", "yyyy-MM-dd")
        val parsed = coalesce(patterns.map(p =>
          try_to_timestamp(col(column), lit(p))): _*)
        df.withColumn(column, parsed)
      case DoubleType | FloatType | LongType | IntegerType =>
        throw TransformError(
          s"Column '$column' is numeric; expected timestamp or string")
      case other =>
        throw TransformError(s"Cannot parse '$column' of type $other as time")
    }

  /** T4 — run-constant ingestion timestamp (reference: transform.py:31-35).
    * The reference freezes ONE wall-clock value per run (transform.py:34);
    * `current_timestamp()` would be query-constant but not run-constant
    * across separately executed statements, so the caller captures the
    * instant once (driver) and we inject it as a literal.
    */
  def addCreatedAt(df: DataFrame, runTs: Timestamp): DataFrame =
    df.withColumn("created_at", lit(runTs))

  /** T5 — required-columns contract (reference: transform.py:40-43, and the
    * extract-side variant extract.py:69-74). Pure metadata check: no job.
    */
  def requireColumns(df: DataFrame, required: Seq[String]): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    val missing = required.filterNot(c => have(c.toLowerCase))
    if (missing.nonEmpty)
      throw TransformError(
        s"Missing required columns: ${missing.mkString(", ")}. " +
          s"Found: ${df.columns.mkString(", ")}")
    df
  }

  /** What the data-touching checks read: the row count and the nulls in
    * `time` (after the T2 parse) and `traffic`.
    */
  final case class Census(rows: Long, nullTime: Long, nullTraffic: Long)

  /** The one aggregate pass over a [[prepare]]d frame that every strict
    * check reads (one scan regardless of how many checks read it).
    */
  def census(df: DataFrame): Census = {
    def nulls(c: String) = count(when(col(c).isNull, lit(1)))
    val row = df.agg(count(lit(1)), nulls("time"), nulls("traffic")).head()
    Census(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** T2 strictness, then T6, in the reference's order: a null `time` after
    * the parse is an unparseable value or NaT (transform.py:21-25), a null
    * `traffic` breaks the no-null contract (transform.py:45-47).
    */
  def requireValid(c: Census): Unit = {
    if (c.nullTime > 0)
      throw TransformError(
        "Failed to parse 'time' values as datetime (found nulls after parse)")
    if (c.nullTraffic > 0)
      throw TransformError(s"Column 'traffic' contains ${c.nullTraffic} null values")
  }

  /** T7 — numeric-dtype contract (reference: transform.py:49-50).
    * Metadata-only, like pandas' is_numeric_dtype.
    */
  def requireNumeric(df: DataFrame, column: String): DataFrame = {
    df.schema(column).dataType match {
      case _: NumericType => df
      case other =>
        throw TransformError(s"Column '$column' must be numeric, got $other")
    }
  }

  /** T8 — final projection, exact column order (reference: transform.py:61). */
  def project(df: DataFrame, columns: Seq[String]): DataFrame =
    df.select(columns.map(col): _*)

  /** T1-T5, all plan-building: lower → require columns → parse →
    * created_at. Throws only on metadata (a missing column, a `time` type
    * that cannot be parsed).
    */
  def prepare(df: DataFrame, runTs: Timestamp): DataFrame = {
    val named = requireColumns(normalizeColumnNames(df), Seq("time", "traffic"))
    addCreatedAt(parseTimeColumn(named), runTs)
  }

  /** T7-T8 on a [[prepare]]d frame: numeric `traffic`, final projection. */
  def finish(df: DataFrame): DataFrame =
    project(requireNumeric(df, "traffic"), Seq("time", "traffic", "created_at"))

  /** The full transform (reference: transform() transform.py:55-63):
    * [[prepare]] → strict checks on one [[census]] → [[finish]]. The
    * census is the only job. No step filters, so the output has exactly
    * the input's rows.
    */
  def apply(df: DataFrame, runTs: Timestamp): DataFrame = {
    val enriched = prepare(df, runTs)
    requireValid(census(enriched))
    finish(enriched)
  }
}
