package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession}

final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: File,      // scratch space for this run, emptied by the caller
    records: File,   // where the run record and spans are kept
    data: File,      // committed query fixture
    ledger: File,
    out: File,       // result JSON
    fault: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", new File(need("work")), new File(need("records")),
      new File(need("data")), new File(need("ledger")), new File(need("out")), kv.get("fault"))
  }
}

final case class Metric(name: String, value: Double, unit: String) {
  def json: String = {
    val v = if (value.isNaN || value.isInfinite) "null" else java.lang.Double.toString(value)
    s""""$name": {"value": $v, "unit": "$unit"}"""
  }
}

/** One closed-loop operation cycle: its timed wall and process-CPU
  * seconds, the latency of each of its primary operations (pipeline runs
  * or queries), how many operations it attempted (read-backs included)
  * and how many of those failed or returned a wrong result. `extra` holds
  * per-layer figures the workload measured itself.
  */
final case class Cycle(wallS: Double, cpuS: Double, latencies: Seq[Double], ops: Int,
                       failed: Int, extra: Map[String, Double] = Map.empty)

/** The timed part of a cycle: its result (or failure), wall and CPU
  * seconds, and in traced runs the Spark SQL executions it made and how
  * many of them read the workload's input.
  */
final case class Timed[T](result: scala.util.Try[T], wallS: Double, cpuS: Double,
                          executions: Long, sourceScans: Long)

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Highest whole percentile with at least ten samples above it, and its
    * value; the median when there are too few samples for any.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val pct = math.max(50, math.floor(100.0 * (1.0 - 10.0 / math.max(1, xs.size))).toInt)
    (pct.toDouble, quantile(xs, pct / 100.0))
  }
}

/** What a workload supplies to the shared closed-loop harness. */
trait Workload {
  /** Writes the seeded inputs under `dir`. */
  def generate(dir: File): Unit
  /** Runs untimed operations until lazy set-up has happened. */
  def warmUp(): Unit
  /** Cycle `i` of the measured loop. */
  def cycle(i: Int): Cycle
  /** Cycles every run measures, however long they take. */
  def minCycles: Int = 1
  /** Whether cycle `i` can still run (inputs are finite). */
  def hasCycle(i: Int): Boolean = true
  /** Path fragment that marks a scan of this workload's input. */
  def inputMarker: String
  /** Per-layer figures only this workload produces, from its cycles. */
  def layerExtras(cycles: Seq[Cycle]): Map[String, Double] = Map.empty
}

final class Harness(val args: Args, val spark: SparkSession) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val tracer: Tracer =
    if (args.trace) new Tracer(s"${args.workload}-${args.seed}-${ProcessHandle.current.pid}") else Tracer.Off
  var instruments: Option[Instruments] = None
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = os.getProcessCpuTime / 1e9
  def fail(msg: String): Unit = System.err.println(s"[perfbench] FAILED $msg")

  /** Runs `f` as a timed part of a cycle. Traced runs count engine events
    * only in here; the bus is drained outside the timed interval.
    */
  def timed[T](f: => T): Timed[T] = {
    instruments.foreach(_.resume())
    val (e0, s0) = instruments.fold((0L, 0L))(i => (i.executions, i.sourceScans))
    val (c0, t0) = (cpuS(), System.nanoTime())
    val r = scala.util.Try(f)
    val (wall, cpu) = ((System.nanoTime() - t0) / 1e9, cpuS() - c0)
    instruments.foreach(_.pause())
    val (e1, s1) = instruments.fold((0L, 0L))(i => (i.executions, i.sourceScans))
    r.failed.foreach(e => fail(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    Timed(r, wall, cpu, e1 - e0, s1 - s0)
  }

  /** Frees the persist/checkpoint blocks a query leaves behind, untimed. */
  def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

object Main {
  val PerLayer: Seq[(String, String)] = Seq(
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.tasks_failed" -> "count", "engine.task_run_s" -> "s", "engine.task_cpu_s" -> "s",
    "engine.gc_s" -> "s", "engine.input_bytes" -> "bytes", "engine.shuffle_read_bytes" -> "bytes",
    "engine.shuffle_write_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.task_max_over_p50" -> "ratio", "engine.idle_core_s" -> "s",
    "engine.sql_executions" -> "count", "engine.peak_rss_mb" -> "MB",
    "pipeline.run_s" -> "s", "pipeline.self_s" -> "s", "pipeline.actions" -> "count",
    "pipeline.source_scans" -> "count",
    "sources.xlsx_read_s" -> "s",
    "operators.transform_s" -> "s") ++
    Bench.Headline.map(q => s"operators.${q}_s" -> "s") ++ Seq(
    "operators.classic_s" -> "s", "operators.graph_s" -> "s", "operators.dedup_s" -> "s",
    "operators.retrieval_s" -> "s", "operators.self_s" -> "s",
    "sinks.backup_s" -> "s", "sinks.csv_s" -> "s", "sinks.warehouse_s" -> "s",
    "sinks.bytes_written" -> "bytes", "sinks.files_written" -> "count",
    "sinks.stored_bytes_ratio" -> "ratio", "sinks.readback_s" -> "s",
    "sql.plan_s" -> "s", "sql.exec_s" -> "s", "sql.self_s" -> "s",
    "trace.wall_s" -> "s", "trace.spans" -> "count",
    "bench.ops" -> "count", "bench.op_tail_s" -> "s", "bench.op_tail_pct" -> "pct",
    "box.load1" -> "load", "box.spin_ms" -> "ms", "box.steal_pct" -> "pct")

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val (load1, spinMs) = (Bench.load1(), Bench.spinMs()) // before Spark starts
    System.err.println(f"[perfbench] box load1=$load1%.2f spin_ms=$spinMs%.1f")

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(appName = "perfbench",
      master = s"local[${Runtime.getRuntime.availableProcessors}]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val h = new Harness(args, spark)
      if (args.workload == "record_ledger") {
        val qm = new QueryMix(h)
        qm.generate(new File(args.work, "fixture"))
        qm.record(args.ledger)
        return
      }
      val wl: Workload = args.workload match {
        case "etl_daily" => new EtlDaily(h)
        case "query_mix" => new QueryMix(h)
        case other       => sys.error(s"unknown workload $other")
      }
      val inst = if (args.trace) Some(new Instruments(spark, () => wl.inputMarker)) else None
      h.instruments = inst

      // set-up: input generation three times into fresh directories (the
      // median counts), then one warm-up
      val genS = (1 to 3).map { k =>
        val dir = new File(args.work, s"bucket-$k/raw_data")
        val g0 = System.nanoTime(); wl.generate(dir); (System.nanoTime() - g0) / 1e9
      }
      val w0 = System.nanoTime()
      wl.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(genS) + warmS
      System.err.println(f"[perfbench] setup session=$sessionS%.2f gen=${Stats.median(genS)}%.2f warm=$warmS%.2f")

      val cycles = ArrayBuffer.empty[Cycle]
      val cpu0 = cpuTicks()
      val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
      var i = 0
      while ((i < wl.minCycles || System.nanoTime() < deadline) && wl.hasCycle(i)) {
        cycles += h.tracer.span("cycle")(wl.cycle(i))
        i += 1
      }
      val stealPct = stealPercent(cpu0, cpuTicks())
      System.err.println(f"[perfbench] measured ${cycles.size} cycles; steal $stealPct%.1f%% of box CPU")

      val lat = cycles.flatMap(_.latencies).toSeq
      val attempted = cycles.map(_.ops).sum
      val failed = cycles.map(_.failed).sum
      val metrics =
        if (!args.trace) Seq(
          Metric("setup_s", setupS, "s"),
          Metric("wall_s", Stats.median(cycles.map(_.wallS).toSeq), "s"),
          Metric("op_geomean_s", Stats.geomean(lat), "s"),
          Metric("cpu_s", Stats.median(cycles.map(_.cpuS).toSeq), "s"))
        else {
          val roots = h.tracer.spans.filter(_.name == "cycle")
          val parts = roots.map(h.tracer.breakdown)
          def per(f: ((Map[String, Double], Map[String, Double])) => Double): Double =
            Stats.median(parts.map(f))
          val fromSpans = PerLayer.collect {
            case (n, "s") if n.endsWith(".self_s") =>
              n -> per(_._2.getOrElse(n.stripSuffix(".self_s"), 0.0))
            case (n, "s") if !n.startsWith("engine.") =>
              n -> per(_._1.getOrElse(n.stripSuffix("_s"), 0.0))
          }.toMap
          val engine = inst.get.engine.totals(h.cores, cycles.map(_.wallS).sum)
            .map { case (n, v, _) =>
              n -> (if (n == "engine.task_max_over_p50") v else v / cycles.size)
            }.toMap
          val (tailPct, tailS) = Stats.tail(lat)
          val computed = fromSpans ++ engine ++ wl.layerExtras(cycles.toSeq) ++ Map(
            "engine.sql_executions" -> inst.get.executions.toDouble / cycles.size,
            "engine.peak_rss_mb" -> peakRssMb(),
            "trace.wall_s" -> Stats.median(cycles.map(_.wallS).toSeq),
            "trace.spans" -> h.tracer.spans.size.toDouble,
            "bench.ops" -> attempted.toDouble,
            "bench.op_tail_s" -> tailS,
            "bench.op_tail_pct" -> tailPct,
            "box.load1" -> load1,
            "box.spin_ms" -> spinMs,
            "box.steal_pct" -> stealPct)
          writeSpans(args, h.tracer)
          PerLayer.map { case (n, u) => Metric(n, computed.getOrElse(n, 0.0), u) }
        }
      val result = s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {${metrics.map(_.json).mkString(", ")}}}"""
      Files.write(args.out.toPath, result.getBytes(UTF_8))
      writeRecord(args, load1, spinMs, stealPct, sessionS, genS, warmS, cycles.toSeq)
    } finally spark.stop()
  }

  /** The box-wide CPU tick counters of `/proc/stat` (user, nice, system,
    * idle, iowait, irq, softirq, steal, ...).
    */
  def cpuTicks(): Array[Long] =
    scala.io.Source.fromFile("/proc/stat", "UTF-8").getLines().next()
      .trim.split("\\s+").drop(1).map(_.toLong)

  /** Share of box CPU time the hypervisor gave to other guests between two
    * samples: a high figure marks a run slowed by its neighbours.
    */
  def stealPercent(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (y, x) => y - x }
    if (d.length < 8 || d.take(8).sum <= 0) 0.0 else 100.0 * d(7) / d.take(8).sum
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status", "UTF-8").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def writeSpans(args: Args, tracer: Tracer): Unit = {
    args.records.mkdirs()
    Files.write(new File(args.records, s"${tracer.runId}.spans.jsonl").toPath,
      tracer.spans.map(_.json).mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Box state, set-up split and every cycle, for telling a noisy run
    * from a regression after the fact.
    */
  private def writeRecord(args: Args, load1: Double, spinMs: Double, stealPct: Double, sessionS: Double,
                          genS: Seq[Double], warmS: Double, cycles: Seq[Cycle]): Unit = {
    args.records.mkdirs()
    val cs = cycles.map(c =>
      f"""{"wall_s":${c.wallS},"cpu_s":${c.cpuS},"failed":${c.failed},"latencies":[${c.latencies.mkString(",")}]}""")
    val rec = s"""{"workload":"${args.workload}","seed":${args.seed},"trace":${args.trace},""" +
      s""""load1":$load1,"spin_ms":$spinMs,"steal_pct":$stealPct,"session_s":$sessionS,"gen_s":[${genS.mkString(",")}],""" +
      s""""warm_s":$warmS,"cycles":[${cs.mkString(",")}]}"""
    Files.write(new File(args.records,
      s"${args.workload}-${args.seed}-${if (args.trace) 1 else 0}.json").toPath, rec.getBytes(UTF_8))
  }
}
