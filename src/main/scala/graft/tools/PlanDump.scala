package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dev probe: dump `.explain("formatted")` for named registry queries (or
  * the full headline set) under the bench session shape — local[32],
  * shuffle.partitions=32, GraftSession's engine conf — so the committed
  * plans-dir artifacts match what the bench executes, and print one
  * summary line per query: parquet scans, scans with pushed filters,
  * exchanges and the join algorithms (a missing pushdown, a cartesian or
  * a lost broadcast shows up here first).
  * usage: PlanDump <sfDir> <outDir> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/tmp/graft_plans_bench"
    val names = if (args.length > 2) args.drop(2).toSeq else graft.Bench.Headline
    val spark = GraftSession.builder("plan-dump", "local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(out).mkdirs()
    names.foreach { name =>
      try {
        val plan = SparkEntry.queries(name)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/$name.txt"), plan)
        def n(re: String) = re.r.findAllIn(plan).size
        // no codegen count: under AQE the pre-execution formatted plan
        // carries no WholeStageCodegen wrappers, so it would always read 0
        println(s"[plandump] $name scans=${n("Scan parquet")} " +
          s"pushedFilterScans=${n("PushedFilters: \\[[^\\]]")} " +
          s"exchanges=${n("Exchange")} bhj=${n("BroadcastHashJoin")} " +
          s"smj=${n("SortMergeJoin")} nlj=${n("NestedLoop")} -> $out/$name.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $name: ERROR ${String.valueOf(e.getMessage).linesIterator.next()}")
      }
    }
    spark.stop()
  }
}
