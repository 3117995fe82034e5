package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Loaders for the testdata star schema (see FIXTURES.md §B).
  *
  * All reads are plain parquet scans so Catalyst gets pushdown/pruning for
  * free; callers `select` only the columns they need so `ReadSchema` in the
  * physical plan stays narrow.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The one way graft opens parquet. Spark's own schema inference runs a
    * one-task job per open just to read one footer; here the driver lists
    * the path with Spark's file index and converts that same footer with
    * Spark's own code ([[FooterSchema]]), so an open launches no job. The
    * schema carries only the data columns, so Spark still discovers
    * partition columns (`dt=`, `centroid_id=`) from the directory names.
    * With schema merging on (`spark.sql.parquet.mergeSchema`), or a path
    * with no readable footer, the open goes through Spark's job unchanged
    * (its merged schema, its error messages).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    FooterSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")

  /** events.parquet has shipped with three physical encodings of `ts`
    * across fixture generations: TIMESTAMP(NANOS) (surfaced as BIGINT via
    * the nanosAsLong legacy conf, which Spark's vectorized reader needs to
    * accept nanos at all), TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (surfaced as TIMESTAMP_NTZ), and plain session-zoned TIMESTAMP.
    * Dispatch on the LOADED schema rather than hard-coding one encoding —
    * all three normalize to microsecond TimestampType with identical UTC
    * instants (sessions run with spark.sql.session.timeZone=UTC), which is
    * exactly what DuckDB sees reading the same file, so oracle comparisons
    * agree regardless of fixture vintage.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, dir, "events")
    df.schema("ts").dataType match {
      // A bare BIGINT ts could be a nanos vintage (nanosAsLong) OR a future
      // vintage storing plain epoch micros. Magnitude disambiguates per row:
      // 1e17 nanos = 1973-03-03 while 1e17 micros = year 5138, so any
      // instant in (1973, 5138) lands on the right side of the threshold —
      // far wider than the 1990-2100 sanity band EventsSchemaSpec pins.
      case LongType         => df.withColumn("ts", expr(
        "timestamp_micros(CASE WHEN abs(ts) >= 100000000000000000 THEN ts div 1000 ELSE ts END)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** Decouples COMPUTE parallelism from SCAN parallelism for compute-bound
    * per-row pipelines (shingling + hashing, vector math, payload decode).
    *
    * Scan task count is bounded by file splits — a table that is physically
    * few files / few row groups decodes in few tasks, and everything
    * downstream of it (md5 over every shingle, dot products over every
    * embedding) inherits that ceiling until the first shuffle. For
    * compute-heavy operators that is the difference between 1 busy core and
    * the whole cluster.
    *
    * The repartition is CONDITIONAL on the scan being too small to fill the
    * cluster on its own (bytes < cores x maxPartitionBytes): exactly the
    * regime where the extra round-robin shuffle is cheap (it moves less
    * than one scan-split per core). At warehouse scale the same table spans
    * thousands of splits, the condition is false, and this is an identity —
    * so operators can call it unconditionally. The scan's size is what
    * Spark's file index already listed for it, so the table is not walked
    * a second time; a frame with no file scan is always spread.
    */
  def spreadForCompute(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val cores = sc.defaultParallelism
    // JavaUtils understands Spark byte strings ("128m", "1g") — a naive
    // digit-strip would read "256m" as 256 bytes and silently disable the
    // spread everywhere
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    val bytes = df.queryExecution.analyzed.collect {
      case r: LogicalRelation => r.relation.sizeInBytes
    }.sum
    if (bytes >= cores * maxSplit) df else df.repartition(cores)
  }

  /** spreadForCompute over one table. */
  def spread(s: SparkSession, dir: String, name: String): DataFrame =
    spreadForCompute(load(s, dir, name))

  /** Register the named tables as temp views (for spark.sql callers).
    * Events goes through [[events]] so SQL callers see the same
    * micro-truncated TimestampType `ts` the operators (and DuckDB) see —
    * the raw view would expose nanos-as-BIGINT.
    */
  def register(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }

  /** Register every fixture table as a temp view. */
  def registerAll(spark: SparkSession, dir: String): Unit = register(spark, dir, All)
}
