package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.plans.PlanFingerprint

/** The bench-drift triage protocol as a tool (r3 established it by hand;
  * this commits it):
  *
  *  - `--write`: regenerate plan_fingerprints.txt — do this ONLY when a
  *    plan change is intentional, and commit the diff (the summary column
  *    shows what shape changed).
  *  - default (check): recompute fingerprints against the checked-in file
  *    and report PLAN_SAME / PLAN_CHANGED per headline query.
  *  - `--bench`: additionally run each headline query best-of-3 and print
  *    the times next to the plan verdict — a slowdown with PLAN_SAME is
  *    noise or environment, don't touch code; with PLAN_CHANGED it's a
  *    plan regression with a named culprit.
  *
  * The session has SparkTestBase's shape (local[4], 4 shuffle
  * partitions, sf0.001) so the tool and PlanFingerprintSpec always agree;
  * fingerprints are planned with AQE off, so the engine's AQE settings
  * do not reach them.
  *
  *  - `--check-bench <bench.json>`: no Spark — parse a graft.Bench output
  *    line and FAIL (exit 1) if any per-query time exceeds 2x its
  *    committed bench_floor.txt entry for that SF. This is the gate that
  *    keeps an r8-style phantom (5.79s reported for a 1.93s query) from
  *    standing as the round's number: run it on every bench JSON before
  *    trusting it.
  */
object BenchGuard {

  /** Exits the JVM: 0 = all within gate, 1 = breach or unparseable,
    * 2 = box was loaded (rerun demanded). With `requireQuiet` (the
    * `--require-quiet` flag — for the CANONICAL per-round artifact), an
    * elevated sentinel is itself a failure even when every query is
    * within gate: the canonical BENCH_rN.json must be a quiet-box run,
    * so the gate artifact and the narrative artifact can never disagree
    * again (the r12 q_ann_bruteforce_topk 1.8x confusion).
    */
  def checkBench(jsonPath: String, requireQuiet: Boolean = false): Unit = {
    val line = scala.io.Source.fromFile(jsonPath).getLines()
      .find(_.contains("\"queries\"")).getOrElse {
        println(s"[guard] no bench JSON line in $jsonPath"); sys.exit(1)
      }
    val sfName = "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(line)
      .map(m => new java.io.File(m.group(1)).getName).getOrElse {
        println(s"[guard] no sf field in $jsonPath"); sys.exit(1)
      }
    val floors = graft.Bench.loadFloors(sfName)
    if (floors.isEmpty) {
      println(s"[guard] no committed floors for $sfName — nothing to gate")
      sys.exit(0)
    }
    val times = "\"(q_[A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9.]+)".r
      .findAllMatchIn(line).map(m => m.group(1) -> m.group(2).toDouble).toMap
    var breaches = 0
    floors.toSeq.sortBy(_._1).foreach { case (q, floor) =>
      times.get(q) match {
        case Some(t) if t < 0 =>
          breaches += 1; println(f"[guard] $q FAILED in the bench run (-1)")
        case Some(t) if t > 2 * floor =>
          breaches += 1; println(f"[guard] $q $t%.3fs BREACHES 2x floor $floor%.3fs")
        case Some(t) => println(f"[guard] $q $t%.3fs within gate (floor $floor%.3fs)")
        case None => breaches += 1; println(s"[guard] $q missing from bench JSON")
      }
    }
    // Box-state adjudication (r11 verdict task 2): the bench JSON carries
    // per-pass sentinel samples; a breach measured while the box sentinel
    // was elevated is a "rerun demanded" (exit 2), not a regression (exit 1).
    val sentinels =
      "\\{\"tag\":\"([^\"]+)\",\"load1\":(-?[0-9.]+),\"spin_ms\":(-?[0-9.]+)\\}".r
        .findAllMatchIn(line)
        .map(m => (m.group(1), m.group(2).toDouble, m.group(3).toDouble)).toSeq
    val spinRef = graft.Bench.loadSpinRef()
    val loaded: Boolean = sentinels.nonEmpty && {
      val startLoadHot = sentinels.collectFirst {
        case ("start", l, _) if l > 2.0 => l
      }
      val hotSpins = spinRef.toSeq.flatMap { ref =>
        sentinels.collect { case (tag, _, s) if s > 1.5 * ref => (tag, s, ref) }
      }
      startLoadHot.foreach(l => println(
        f"[guard] sentinel: start load1 $l%.2f > 2.0 — box was not quiet at launch"))
      hotSpins.foreach { case (tag, s, ref) => println(
        f"[guard] sentinel: $tag spin $s%.1fms > 1.5x quiet ref ($ref%.1fms) — contention during run") }
      startLoadHot.nonEmpty || hotSpins.nonEmpty
    }
    if (sentinels.nonEmpty && spinRef.isEmpty)
      println("[guard] sentinel present but no `sentinel spin_ms` reference committed in bench_floor.txt")
    if (breaches == 0) {
      if (requireQuiet && loaded) {
        println("[guard] within gate BUT the sentinel shows a loaded box — NOT acceptable as the canonical artifact (exit 2)")
        sys.exit(2)
      }
      println(if (requireQuiet)
        "[guard] bench within the committed floor gate on a verified-quiet box — canonical"
      else "[guard] bench within the committed floor gate")
      sys.exit(0)
    } else if (loaded) {
      println(s"[guard] $breaches breach(es) COINCIDE with an elevated box sentinel — RERUN on a quiet box (exit 2)")
      sys.exit(2)
    } else if (sentinels.nonEmpty) {
      println(s"[guard] $breaches breach(es) on a QUIET box (sentinel clean) — treat as a real regression")
      sys.exit(1)
    } else {
      println(s"[guard] $breaches breach(es) — no sentinel in this JSON; rerun on a quiet box or treat as regression")
      sys.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    val write = args.contains("--write")
    val bench = args.contains("--bench")
    args.indexOf("--check-bench") match {
      case i if i >= 0 && i + 1 < args.length =>
        checkBench(args(i + 1), requireQuiet = args.contains("--require-quiet")); return
      case _ =>
    }
    val spark = GraftSession.builder("bench-guard", "local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = PlanFingerprint.PinnedSf
    if (write) {
      PlanFingerprint.write(spark, sf, PlanFingerprint.DefaultFile)
      println(s"wrote ${PlanFingerprint.Guarded.size} fingerprints to ${PlanFingerprint.DefaultFile}")
    } else {
      val pinned = PlanFingerprint.read(PlanFingerprint.DefaultFile)
      var changed = 0
      PlanFingerprint.compute(spark, sf).foreach { case (name, d, s) =>
        val verdict = pinned.get(name) match {
          case Some((pd, _)) if pd == d => "PLAN_SAME"
          case Some((_, ps)) => changed += 1; s"PLAN_CHANGED (was: $ps)"
          case None => changed += 1; "PLAN_NEW (not in fingerprint file)"
        }
        val timing = if (bench) {
          val fn = SparkEntry.queries(name)
          val best = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sf).write.mode("overwrite")
              .format("noop").save()
            (System.nanoTime() - t0) / 1e9
          }.min
          f" best3=$best%.3fs"
        } else ""
        println(s"[guard] $name: $verdict$timing now: $s")
      }
      println(if (changed == 0) "[guard] all plans match the pinned fingerprints"
        else s"[guard] $changed plan(s) changed — if intentional, rerun with --write and commit")
    }
    spark.stop()
  }
}
