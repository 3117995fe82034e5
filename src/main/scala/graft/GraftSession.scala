package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the engine.
  *
  * Scale posture: AQE on (runtime re-plan, skew-join splitting), shuffle
  * partitions sized to the local core count rather than the 200 default —
  * on a real cluster this is set per-job to ~2-3x total cores. UTC session
  * timezone matches the reference's UTC-everywhere convention
  * (src/etl/transform.py:34, src/etl/__main__.py:28).
  */
object GraftSession {
  /** Shuffle-layer tuning shared by every engine entry point (r16
    * optimization round, guide §1.1/§2.1). Stack-sampling the bench's
    * exchange stages showed the dominant per-task cost was FILE-OPEN
    * syscalls in BypassMergeSortShuffleWriter (one file per reduce
    * partition per map task — 32x32 = 1024 opens+merges per exchange on
    * this box), not row work: a synthetic 2.1M-row hash-partitioned
    * exchange cost 0.35s wall with the bypass writer vs 0.17s with the
    * single-file-per-map-task Unsafe writer on tmpfs.
    *
    *  - bypassMergeThreshold=1: always use the serialized sort writer
    *    (one output file + index per map task). Scale-neutral: the bypass
    *    path only ever applies to shuffles with <= 200 reduce partitions,
    *    which at 100 TB are the tiny catalog-sized exchanges; the big
    *    shuffles already use the Unsafe writer.
    *  - spark.local.dir from SPARK_GRAFT_LOCAL_DIR when set, else Spark's
    *    own default (production: point it at the NVMe array). tmpfs is
    *    opt-in: shuffle files and spill of a one-box benchmark are
    *    latency-bound, not capacity-bound, so `Bench` puts them on
    *    /dev/shm, but a spill-heavy job must not fill RAM-backed tmpfs.
    *  - AQE coalesce floor 64k (default 1m): parallelism-first coalescing
    *    targets all cores but is FLOORED by minPartitionSize, so
    *    byte-small intermediates (candidate pairs, node tables — two
    *    longs compress a million rows under a few MB) collapsed to 1-5
    *    read tasks and their CPU-bound downstream work serialized — the
    *    signature the per-site width pins fixed by hand, as an engine
    *    default. Scale-neutral: post-shuffle partitions at 100 TB dwarf
    *    either floor, so the knob only acts where parallelism should
    *    win anyway. Measured (MinPartProbe, warm, sf0.1): prefix 1.68 ->
    *    1.36s, semantic_dedup 1.61 -> 1.39s, hybrid 1.32 -> 0.92s,
    *    pagerank 2.99 -> 2.74s; none slower.
    *
    * Both settings are plain Spark conf keys, so a job overrides them the
    * usual way (`--conf` or the builder).
    */
  private def shuffleTuning(b: SparkSession.Builder): SparkSession.Builder = {
    val tuned = b.config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    sys.env.get("SPARK_GRAFT_LOCAL_DIR")
      .fold(tuned)(d => tuned.config("spark.local.dir", d))
  }

  /** The engine's own `file:` filesystem ([[graft.sinks.GraftLocalFileSystem]]
    * for `FileSystem`, [[graft.sinks.GraftLocalFs]] for `FileContext`):
    * stock Hadoop local checksummed writes, minus a child process per
    * `chmod` and an ext4 flush per overwrite. Without the native hadoop
    * library the stock `file:` filesystem runs `chmod` as a process for
    * every file, `.crc` and directory it creates and `readlink` before
    * every `FileContext.rename`; it also rewrites an existing file by
    * truncating it, which ext4 writes back on close. JFR
    * `jdk.ProcessStart` counts on a 4-core box, before → after: 328 →
    * 0 `chmod` over one perfbench `etl_daily` run (16 pipeline runs,
    * ~20 per `EtlPipeline.run`) and 148 → 0 over one `query_mix` run.
    *
    * Only the `file` scheme changes: object stores (`gs://`, `s3a://`)
    * and `hdfs://` keep their own filesystems, and reads are the stock
    * code. Modes, file sets and `.crc` files are as before. Both keys
    * are plain Hadoop settings that a job overrides the usual way.
    */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[sinks.GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[sinks.GraftLocalFs].getName)

  /** What every graft session carries, whoever sets the rest of its
    * builder: the `file:` filesystem above and graft's SQL functions
    * ([[functions.GraftExtensions]]). The functions go in with
    * `withExtensions`, so a job's own `spark.sql.extensions` still applies,
    * and they reach every `newSession()` and `foreachBatch` session of the
    * context. Operators do not install functions themselves: on a session
    * built without this (or without
    * `--conf spark.sql.extensions=graft.functions.GraftExtensions`), a
    * query that calls one fails at analysis with `UNRESOLVED_ROUTINE`.
    */
  def install(b: SparkSession.Builder): SparkSession.Builder =
    b.config(LocalFsConf).withExtensions(new functions.GraftExtensions)

  def builder(appName: String = "graft",
              master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    shuffleTuning(install(SparkSession.builder())
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))

  def create(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
