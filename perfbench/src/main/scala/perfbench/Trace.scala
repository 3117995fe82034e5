package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer's public function. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"id":$id,"parent":$parent,"name":"$name","run":"$runId","start_ns":$startNs,"end_ns":$endNs}"""
}

/** Span recorder. Untraced runs use [[Tracer.Off]], whose `span` is a
  * plain call, so the timed path carries no tracing code at all.
  */
class Tracer(val runId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try f finally {
      done += Span(id, parent, name, runId, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Seconds of each span name under `root`, and each layer's self time:
    * a span's duration minus the part of it its child spans cover. The
    * layer of a span is the prefix of its name before the first dot.
    */
  def breakdown(root: Span): (Map[String, Double], Map[String, Double]) = {
    val all = spans
    val children = all.groupBy(_.parent)
    def under(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).flatMap(c => c +: under(c))
    val inside = under(root)
    val byName = inside.groupMapReduce(_.name)(_.seconds)(_ + _)
    val self = inside.groupMapReduce(_.name.takeWhile(_ != '.')) { s =>
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    }(_ + _)
    (byName, self)
  }
}

object Tracer {
  object Off extends Tracer("off") {
    override def span[T](name: String)(f: => T): T = f
  }
}

/** Engine counters for the traced run, summed over every task, stage and
  * job the listener bus delivers. Registered through
  * `SparkContext.addSparkListener`.
  */
final class EngineCounters extends SparkListener {
  @volatile var active = false
  private val lock = new Object
  private var jobs = 0L
  private var stages = 0L
  private var tasks = 0L
  private var tasksFailed = 0L
  private var runMs = 0L
  private var cpuNs = 0L
  private var gcMs = 0L
  private var inputBytes = 0L
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  private val durations = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (active) lock.synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) lock.synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) lock.synchronized {
    tasks += 1
    if (!e.taskInfo.successful) tasksFailed += 1
    durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Totals over the intervals the counters were active. */
  def totals(cores: Int, wallS: Double): Seq[(String, Double, String)] = lock.synchronized {
    val sorted = durations.sorted
    val p50 = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    val maxOverP50 = if (sorted.isEmpty) 0.0 else sorted.last.toDouble / math.max(1L, p50)
    Seq(
      ("engine.jobs", jobs.toDouble, "count"),
      ("engine.stages", stages.toDouble, "count"),
      ("engine.tasks", tasks.toDouble, "count"),
      ("engine.tasks_failed", tasksFailed.toDouble, "count"),
      ("engine.task_run_s", runMs / 1e3, "s"),
      ("engine.task_cpu_s", cpuNs / 1e9, "s"),
      ("engine.gc_s", gcMs / 1e3, "s"),
      ("engine.input_bytes", inputBytes.toDouble, "bytes"),
      ("engine.shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
      ("engine.shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
      ("engine.spill_bytes", spill.toDouble, "bytes"),
      ("engine.task_max_over_p50", maxOverP50, "ratio"),
      ("engine.idle_core_s", cores * wallS - runMs / 1e3, "s"))
  }
}

/** Counts Spark SQL executions, and those among them whose plan reads the
  * workload's input: a file scan under `inputPath`, or the driver-decoded
  * rows of a workbook (an RDD-backed relation). Registered through
  * `spark.listenerManager`.
  */
final class ExecCounter(inputPath: () => String) extends QueryExecutionListener {
  @volatile var active = false
  @volatile var executions = 0L
  @volatile var sourceScans = 0L

  private def readsInput(plan: LogicalPlan): Boolean = {
    val input = inputPath()
    plan.collectLeaves().exists {
      case _: LogicalRDD => true
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists(_.toString.contains(input))
        case _ => false
      }
      case _ => false
    }
  }

  private def record(qe: QueryExecution): Unit = if (active) synchronized {
    executions += 1
    if (readsInput(qe.optimizedPlan)) sourceScans += 1
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** The traced run's engine-side instruments, installed on one session.
  * They count only between `resume` and `pause`, which bracket the timed
  * part of each cycle, so warm-up and output checks stay out.
  */
final class Instruments(spark: SparkSession, inputPath: () => String) {
  val engine = new EngineCounters
  val execs = new ExecCounter(inputPath)
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(execs)

  private def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)
  private def set(on: Boolean): Unit = { drain(); engine.active = on; execs.active = on }
  def resume(): Unit = set(true)
  def pause(): Unit = set(false)
  def executions: Long = execs.executions
  def sourceScans: Long = execs.sourceScans
}
