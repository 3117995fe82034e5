package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.{Bench, SparkEntry}
import graft.sql.SqlFrontDoor

/** `query_mix`: passes over the 21 headline queries built with
  * `SparkEntry.queries`, then over [[QueryMix.SqlMix]] submitted as SQL
  * text through `SqlFrontDoor.run`, one query at a time, against the
  * committed fixture. Each result is collected, and its digest (taken after
  * the clock stops) must match the committed ledger; a SQL twin must
  * return the same result as its DataFrame query.
  */
final class QueryMix(h: Harness) extends Workload {
  private val spark = h.spark
  private var dir: File = _

  private lazy val ledger: Ledger = Ledger.read(h.args.ledger)

  /** The inputs are the committed fixture; each run reads its own copy. */
  def generate(target: File): Unit = {
    val src = h.args.data.toPath
    Files.walk(src).iterator.asScala.foreach { p =>
      val dst = target.toPath.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    dir = target
  }

  override def inputMarker: String = dir.toURI.getPath.stripSuffix("/")

  private def execute(q: String, sql: Boolean): (DataFrame, Array[Row]) =
    if (sql) {
      val df = h.tracer.span("sql.plan") {
        val d = SqlFrontDoor.run(spark, dir.getPath, q); d.queryExecution.executedPlan; d
      }
      (df, h.tracer.span("sql.exec")(df.collect()))
    } else h.tracer.span(s"operators.$q") {
      val df = SparkEntry.queries(q)(spark, dir.getPath); (df, df.collect())
    }

  /** The first query once: class loading, the parquet reader and the code
    * generator's first compile.
    */
  def warmUp(): Unit = { execute(Bench.Headline.head, sql = false); h.unpersistAll() }

  def cycle(i: Int): Cycle = {
    val runs = Bench.Headline.map(_ -> false) ++ QueryMix.SqlMix.map(_ -> true)
    val done = runs.map { case (q, sql) =>
      val t = h.timed(execute(q, sql))
      val problem = t.result.fold(e => Some(s"$q: $e"), { case (df, rows) =>
        ledger.check(q, rows.length, Digest(df.schema, rows))
      })
      problem.foreach(p => h.fail(if (sql) s"sql $p" else p))
      h.unpersistAll()
      (q, sql, t, problem.isDefined)
    }
    Cycle(done.map(_._3.wallS).sum, done.map(_._3.cpuS).sum, done.map(_._3.wallS),
      ops = done.size, failed = done.count(_._4),
      extra = done.collect { case (q, false, t, _) => s"operators.${q}_s" -> t.wallS }.toMap)
  }

  override def layerExtras(cycles: Seq[Cycle]): Map[String, Double] =
    QueryMix.Families.map { case (family, qs) =>
      s"operators.${family}_s" -> Stats.median(cycles.map(c => qs.map(q => c.extra(s"operators.${q}_s")).sum))
    }.toMap

  /** Records the ledger from this run's results. */
  def record(out: File): Unit = {
    val rows = Bench.Headline.map { q =>
      val (df, rs) = execute(q, sql = false); h.unpersistAll()
      (q, rs.length.toLong, Digest(df.schema, rs))
    }
    Ledger.write(out, s"Result digests of the headline queries over ${h.args.data.getName}.\n" +
      "Recorded by: python3 perfbench/run.py --record-ledger", rows)
  }
}

object QueryMix {
  /** The query families of the headline list, in list order. */
  val Families: Seq[(String, Seq[String])] = {
    val hl = Bench.Headline
    Seq(
      "classic" -> hl.take(10),
      "graph" -> Seq("q_pagerank_copurchase", "q_triangle_count", "q_markov_attribution", "q_shortest_paths"),
      "dedup" -> Seq("q_dedup_prefix_filter", "q_semantic_dedup", "q_dedup_winnow", "q_dedup_substring"),
      "retrieval" -> Seq("q_hybrid_search", "q_bitext_margin_index", "q_semantic_decontaminate"))
  }

  /** The SQL subset: headline classics that fit the per-run budget, one
    * that passes the oracle text through unchanged and three hand-written
    * Spark-dialect twins (as-of join, JSON, text functions).
    */
  val SqlMix: Seq[String] = Seq(
    "q_agg_pricing_summary", "q_asof_join_events_orders", "q_json_extract_props",
    "q_text_quality")
}
