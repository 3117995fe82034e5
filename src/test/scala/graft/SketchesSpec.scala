package graft

import org.apache.spark.sql.functions._

import graft.operators.Sketches
import graft.sources.Tables

/** The audited-sketch query surfaces: each must (a) reproduce the exact
  * deterministic columns, (b) report every bound flag as 1 on the
  * fixtures, and (c) demonstrably consult the real sketch — the audits
  * here recompute the raw estimates and check the operator's flag logic
  * against them, and a planted high-cardinality case exercises the
  * regime where the sketches genuinely approximate.
  */
class SketchesSpec extends SparkTestBase {

  test("q_distinct_users_approx: exact columns match, all bounds pass") {
    val got = Sketches.approxDistinctUsers(spark, Sf, SparkEntry.Sketch.rsd)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    val expected = Tables.events(spark, Sf)
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.map(t => (t._1, t._2)) === expected)
    assert(got.forall(_._3 == 1), s"HLL++ bound flag must pass: $got")
    assert(got.nonEmpty)
  }

  test("q_hll_sketch_rollup: rollup equals single-pass on exact columns, bounds pass") {
    val got = Sketches.hllSketchRollup(spark, Sf, SparkEntry.Sketch.lgK)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val expected = Tables.events(spark, Sf)
      .groupBy("event_type")
      .agg(countDistinct(to_date(col("ts"))).as("d"),
        countDistinct("user_id").as("u"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) === expected)
    assert(got.forall(_._4 == 1), s"HLL union bound flag must pass: $got")
  }

  test("hll incremental cube maintenance equals the from-scratch rollup") {
    val lgK = SparkEntry.Sketch.lgK
    val merged = Sketches.hllSketchRollupIncremental(spark, Sf, lgK)
      .collect().map(_.toSeq).toSeq
    val scratch = Sketches.hllSketchRollup(spark, Sf, lgK)
      .collect().map(_.toSeq).toSeq
    assert(merged === scratch)
    // the 4/5 split must exercise a real merge: both slices non-empty
    val ev = Tables.events(spark, Sf)
    val r = ev.agg(min(expr("unix_micros(ts)")), max(expr("unix_micros(ts)"))).head()
    val split = r.getLong(0) + (r.getLong(1) - r.getLong(0)) * 4 / 5
    assert(ev.filter(expr(s"unix_micros(ts) < ${split}L")).count() > 0)
    assert(ev.filter(expr(s"unix_micros(ts) >= ${split}L")).count() > 0)
  }

  test("hll overlap: exact intersections match, inclusion-exclusion bounds pass") {
    val got = Sketches.hllOverlap(spark, Sf, SparkEntry.Sketch.lgK)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    val tu = Tables.events(spark, Sf)
      .select("event_type", "user_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byType = tu.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = byType.keys.toSeq.sorted
    val expected = (for {
      a <- types; b <- types if a < b
      n = (byType(a) intersect byType(b)).size.toLong if n > 0
    } yield (a, b, n)).sortBy(t => (t._1, t._2))
    assert(got.map(t => (t._1, t._2, t._3)) === expected)
    assert(got.forall(_._4 == 1), s"inclusion-exclusion bound must pass: $got")
    assert(got.nonEmpty)
  }

  test("hll union of daily sketches estimates like a direct whole-table sketch") {
    // mergeability in anger: union-of-parts must agree with the one-shot
    // sketch exactly (same registers either way — HLL unions are lossless
    // at equal lgK), not merely land within the error bound
    val lgK = SparkEntry.Sketch.lgK
    val viaUnion = Tables.events(spark, Sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      .head().getLong(0)
    val direct = Tables.events(spark, Sf)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(lgK))).as("est"))
      .head().getLong(0)
    assert(viaUnion === direct)
  }

  test("q_cms_point_queries: exact columns match, both guarantees hold") {
    val got = Sketches.cmsPointQueries(spark, Sf,
      SparkEntry.Sketch.cmsEps, SparkEntry.Sketch.cmsConfidence)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    val expected = Tables.events(spark, Sf)
      .groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.map(t => (t._1, t._2)) === expected)
    assert(got.forall(t => t._3 == 1 && t._4 == 1), s"CMS guarantees must hold: $got")
  }

  test("streaming distinct users: cross-trigger estimate lands on the batch answer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventsStream
    import graft.streaming.EventsStream.Event
    def ev(id: Long, u: Long, t: String) =
      Event(id, java.sql.Timestamp.valueOf(s"2024-01-01 $t"), u, "click", 1.0)
    val input = MemoryStream[Event]
    val rsd = SparkEntry.Sketch.rsd
    val q = EventsStream.distinctUsers(input.toDF(), rsd)
      .writeStream.format("memory").queryName("sk_users")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete()).start()
    try {
      // users 1..40 across two triggers with overlap — the register-max
      // merge must count the union, not the sum (60 adds, 40 distinct)
      input.addData((1 to 30).map(i => ev(i, i, "10:00:00")): _*)
      q.processAllAvailable()
      input.addData((11 to 40).map(i => ev(100 + i, i, "11:00:00")): _*)
      q.processAllAvailable()
      val est = spark.table("sk_users").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val e = est("click")
      assert(math.abs(e - 40.0) <= 3 * rsd * 40 + 8,
        s"streaming HLL estimate $e outside bound for exact 40")
    } finally q.stop()
  }

  test("CMS never undercounts on a planted high-cardinality domain") {
    // 50k distinct keys against a 2/eps-wide grid forces real collisions;
    // the one-sided guarantee (est >= exact) must survive them for every
    // probed key, and at least the planted heavy key must estimate high
    val eps = 0.01
    val keys = spark.range(50000).select(
      concat(lit("k"), col("id") % 49000).as("k")) // k0 repeats ~2x, others ~1x
    val blob = keys.agg(
      expr(s"count_min_sketch(k, ${eps}d, 0.99d, 7)").as("cms")).head()
      .getAs[Array[Byte]]("cms")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(blob)
    val exact = keys.groupBy("k").agg(count(lit(1)).as("n"))
      .filter(col("k").isin("k0", "k1", "k777", "k48999"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    exact.foreach { case (k, n) =>
      assert(cms.estimateCount(k) >= n, s"CMS undercounted $k")
    }
    assert(cms.totalCount() === 50000L)
  }

  test("q_theta_set_ops: exact columns match, 3σ intervals bracket, exact-mode exactness") {
    val got = Sketches.thetaSetOps(spark, Sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getInt(4), r.getInt(5))).toSeq
    // exact sides from an independent set-wise recompute
    val tu = Tables.events(spark, Sf)
      .select("event_type", "user_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val byType = tu.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val types = byType.keys.toSeq.sorted
    val want = for {
      a <- types; b <- types if a < b
      inter = (byType(a) & byType(b)).size.toLong if inter > 0
    } yield (a, b, inter, byType(a).size.toLong - inter)
    assert(got.map(t => (t._1, t._2, t._3, t._4)) === want)
    assert(got.forall(t => t._5 == 1 && t._6 == 1),
      s"theta 3σ intervals must bracket the exact answers: $got")
    // planted case: exact-mode sketches (< 4096 entries) intersect and
    // subtract EXACTLY — |[0,1000) ∩ [500,1500)| = 500, A\B = 500
    import org.apache.datasketches.memory.Memory
    import org.apache.datasketches.theta.CompactSketch
    val ab = spark.range(0, 1000).selectExpr("theta_sketch_agg(id, 12) AS a")
      .crossJoin(spark.range(500, 1500).selectExpr("theta_sketch_agg(id, 12) AS b"))
      .selectExpr("theta_intersection(a, b) AS i", "theta_difference(a, b) AS d")
      .head()
    for (i <- 0 to 1) {
      val r = CompactSketch.heapify(Memory.wrap(ab.getAs[Array[Byte]](i)))
      assert(r.getEstimate === 500.0)
      assert(r.getLowerBound(3) === 500.0 && r.getUpperBound(3) === 500.0)
    }
  }

  test("q_quantile_rollup: exact columns match, every rank-audit flag passes") {
    val got = Sketches.quantileRollup(spark, Sf, SparkEntry.Sketch.kllK)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    val expected = Tables.events(spark, Sf)
      .groupBy("event_type")
      .agg(countDistinct(to_date(col("ts"))).as("d"),
        count(col("value")).as("n"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.map(t => (t._1, t._3, t._4)).distinct === expected)
    assert(got.map(_._2).distinct.sorted === Seq(0.5, 0.9, 0.99).flatMap(
      p => if (got.map(_._2).contains(p)) Some(p) else None))
    assert(got.forall(_._5 == 1), s"KLL rank-audit flag must pass: $got")
  }

  test("kll incremental cube maintenance equals the from-scratch rollup") {
    val k = SparkEntry.Sketch.kllK
    val merged = Sketches.quantileRollupIncremental(spark, Sf, k)
      .collect().map(_.toSeq).toSeq
    val scratch = Sketches.quantileRollup(spark, Sf, k)
      .collect().map(_.toSeq).toSeq
    assert(merged === scratch)
    // the 4/5 split must exercise a real merge: both slices non-empty
    val ev = Tables.events(spark, Sf)
    val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val split = r.getLong(0) + (r.getLong(1) - r.getLong(0)) * 4 / 5
    assert(ev.filter(unix_micros(col("ts")) < split).count() > 0)
    assert(ev.filter(unix_micros(col("ts")) >= split).count() > 0)
  }

  test("kll_agg rank accuracy on a known distribution; merge keeps the bound") {
    import org.apache.datasketches.kll.{KllDoublesSketch, KllSketch}
    import org.apache.datasketches.memory.Memory
    val k = SparkEntry.Sketch.kllK
    val n = 20000
    val eps = KllSketch.getNormalizedRankError(k, false)
    // values 0..n-1 uniform: true rank of value v is (v+1)/n (inclusive)
    val df = spark.range(n).selectExpr("CAST(id AS DOUBLE) AS v",
      "CAST(id % 7 AS INT) AS part")
    def checkBlob(blob: Array[Byte]): Unit = {
      val sk = KllDoublesSketch.heapify(Memory.wrap(blob))
      assert(sk.getN === n.toLong)
      for (p <- Seq(0.5, 0.9, 0.99)) {
        val est = sk.getQuantile(p)
        val trueRank = (est + 1.0) / n
        assert(math.abs(trueRank - p) <= 3 * eps + 1e-3,
          s"estimate $est for p=$p has true rank $trueRank (eps=$eps)")
      }
    }
    val oneShot = df.selectExpr(s"kll_sketch_agg_double(v, $k) AS sk")
      .head().getAs[Array[Byte]](0)
    checkBlob(oneShot)
    // per-part sketches merged must satisfy the same bound (mergeability)
    val mergedBlob = df.groupBy(col("part"))
      .agg(expr(s"kll_sketch_agg_double(v, $k)").as("sk"))
      .selectExpr(s"kll_merge_agg_double(sk, $k) AS sk")
      .head().getAs[Array[Byte]](0)
    checkBlob(mergedBlob)
    // NULL inputs are skipped, not counted
    val withNulls = spark.range(100)
      .selectExpr("CASE WHEN id % 2 = 0 THEN CAST(id AS DOUBLE) END AS v")
      .selectExpr(s"kll_sketch_agg_double(v, $k) AS sk").head().getAs[Array[Byte]](0)
    assert(KllDoublesSketch.heapify(Memory.wrap(withNulls)).getN === 50L)
  }
}
