package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev probe: per-stage wall/CPU time for one registry query. */
object StageMetricsProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = if (args.length > 1) args(1) else "q_dedup_prefix_filter"
    val spark = graft.GraftSession.builder("stage-metrics", "local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm pass
    graft.SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val stages = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(80), wall,
          si.taskMetrics.executorRunTime, si.numTasks,
          si.taskMetrics.shuffleReadMetrics.totalBytesRead,
          si.taskMetrics.shuffleWriteMetrics.bytesWritten))
      }
    })
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    println(f"[probe] total: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    Thread.sleep(1000)
    val totSr = stages.map(_._6).sum / 1e6
    val totSw = stages.map(_._7).sum / 1e6
    println(f"[probe] shuffle totals: read=$totSr%.1fMB write=$totSw%.1fMB over ${stages.size} stages")
    stages.sortBy(-_._3).foreach { case (id, n, wall, run, tasks, sr, sw) =>
      println(f"[probe] stage $id%4d wall=${wall / 1e3}%6.2fs taskRunSum=${run / 1e3}%7.2fs tasks=$tasks%3d sr=${sr / 1e6}%6.1fMB sw=${sw / 1e6}%6.1fMB  $n")
    }
    spark.stop()
  }
}
