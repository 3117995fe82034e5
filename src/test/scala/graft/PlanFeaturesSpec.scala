package graft

import org.apache.spark.sql.functions._

/** Asserts that the scale-critical optimizer features actually fire on
  * this engine's plans — runtime bloom-filter pruning for selective
  * fact-fact joins and dynamic partition pruning over the date-partitioned
  * warehouse layout. These are plan-shape checks (the local fixtures are
  * tiny, so thresholds are lowered to trigger the rewrites); at warehouse
  * scale the same plans fire on the default thresholds.
  */
class PlanFeaturesSpec extends SparkTestBase {

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { pairs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // local fixtures are far below the production 10GB application-side
      // threshold; zeroing it demonstrates the rewrite the real-scale plan
      // gets for free
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.read.parquet(s"$Sf/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
      val ord = spark.read.parquet(s"$Sf/orders.parquet")
        .filter(col("o_totalprice") > 400000) // selective creation side
        .select("o_orderkey")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a bloom-filter runtime filter in:\n$plan")
      assert(joined.count() > 0)
    }
  }

  test("AQE broadcasts the unhinted customer/supplier join sides at fixture scale") {
    // The SF-scaled sides (customer, supplier) deliberately carry NO
    // broadcast() hint — a forced hint would override AQE's size check and
    // OOM the driver at warehouse scale. This pins the other half of that
    // contract: at small scale AQE must still pick broadcast from runtime
    // stats, so dropping the hints costs nothing locally.
    import graft.operators.Analytics
    val rr = Analytics.regionRevenue(spark, Sf)
    assert(rr.collect().nonEmpty) // finalize THIS query execution's adaptive plan
    val rrPlan = rr.queryExecution.executedPlan.toString
    val rrBhj = "BroadcastHashJoin".r.findAllIn(rrPlan).size
    assert(rrBhj >= 5, // orders, customer, supplier, nation, region sides
      s"expected >=5 BroadcastHashJoin (AQE-chosen) in region revenue, got $rrBhj:\n$rrPlan")
    assert(!rrPlan.contains("SortMergeJoin"),
      s"no join should fall back to SMJ at fixture scale:\n$rrPlan")

    val sp = Analytics.shippingPriority(spark, Sf)
    assert(sp.collect().nonEmpty)
    val spPlan = sp.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(spPlan).size >= 2,
      s"expected AQE broadcast joins in shipping priority:\n$spPlan")
  }

  test("corpus funnel: AQE broadcasts the unhinted drop-set join at fixture scale") {
    // the drop set joins with no forced hint (it is O(near-dups) — small
    // in practice but data-scaled, same policy as customer/supplier);
    // statically the planner picks SMJ, and this pins that AQE flips it
    // to broadcast from runtime stats, so the no-hint policy is free
    val fn = graft.operators.TextAnalysis.corpusFunnel(spark, Sf)
    assert(fn.collect().nonEmpty)
    // AdaptiveSparkPlan's string includes the pre-AQE "Initial Plan"
    // section (where SMJ legitimately appears) — judge the FINAL plan only
    val plan = fn.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"),
      s"drop-set join should be AQE-broadcast at fixture scale:\n$plan")
  }

  test("IVF nearest-centroid assignment hash-aggregates with no sort anywhere") {
    // the one full-corpus step of the IVF path: must be a map-side
    // combining HashAggregate (packed-BIGINT max_by ordering), never a
    // window or SortAggregate — at corpus scale a sort of corpus×nLists
    // scored rows is the difference between one pass and a spill storm
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"),
        col("vnorm").as("cnorm"))
    val scored = emb.crossJoin(broadcast(centroids)).withColumn("cm",
      expr(Similarity.scoreMicrosFromNorms("dot_f(embedding, cv)", "vnorm", "cnorm")))
    val assign = Similarity.nearestCentroid(scored)
    assert(assign.count() > 0)
    val plan = assign.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"),
      s"assignment must stay hash-aggregable (primitive buffer):\n$plan")
    assert(!plan.contains("Sort"),
      s"no sort of the scored corpus is acceptable:\n$plan")
  }

  test("nearestInLabel top-1 hash-aggregates with no sort anywhere") {
    // the near-dup NN stage over every within-label pair: the packed
    // max_by must plan as a map-side-combining HashAggregate — the old
    // row_number() window shuffled AND sorted all scored pairs, which at
    // corpus scale is the dominant cost of the whole query
    import graft.operators.Similarity
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
      .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))
    val out = Similarity.nearestInLabelCore(emb, maxBlock = 1 << 16)
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("HashAggregate"),
      s"top-1 must stay hash-aggregable (primitive buffer):\n$plan")
    assert(!plan.contains("Sort"),
      s"no sort (window, SortAggregate, or SMJ) is acceptable:\n$plan")
  }

  test("PQ/ADC scoring cross joins are broadcast, never cartesian") {
    // the corpus-side scoring of pqTopK is two crossJoins against one-row
    // / nQueries-row lookup tables; both must plan as
    // BroadcastNestedLoopJoin (map-only over the corpus) — an unhinted
    // CartesianProduct here would shuffle the packed-code table per query
    import graft.operators.Similarity
    val out = Similarity.pqTopK(spark, Sf)
    assert(out.count() > 0)
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      s"PQ scoring must broadcast its lookup tables:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size >= 2,
      s"expected broadcast crossJoins for nsq + lut tables:\n$plan")
  }

  test("dynamic partition pruning fires on the dt-partitioned warehouse") {
    val wh = tmpDir("graft_dpp")
    val orders = spark.read.parquet(s"$Sf/orders.parquet")
      .withColumn("dt", to_date(col("o_orderdate")))
    orders.write.mode("overwrite").partitionBy("dt").parquet(wh)

    withConf(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      // fixture sizes are below the default benefit heuristic; forcing the
      // filter demonstrates the plan shape the real-scale layout gets
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100") {
      val fact = spark.read.parquet(wh)
      // small dim restricting to a handful of dates
      val dim = spark.read.parquet(s"$Sf/orders.parquet")
        .filter(col("o_totalprice") > 450000)
        .select(to_date(col("o_orderdate")).as("want_dt")).distinct()
      val joined = fact.join(dim, col("dt") === col("want_dt"))
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("dynamicpruning") || planStr.contains("SubqueryBroadcast"),
        s"expected dynamic partition pruning in:\n$planStr")
      assert(joined.count() > 0)
    }
  }

  test("substringSpans counts hot grams via salted partials, not a per-gram window") {
    // the duplicate-gram test must never route all occurrences of one hot
    // boilerplate gram to a single window partition: the only window
    // functions in the plan are the per-doc island merge (doc_id keys)
    val df = graft.operators.Dedup.substringSpans(spark, Sf)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "expected the island-merge windows to remain")
    windows.foreach { w =>
      val parts = w.partitionSpec.flatMap(_.references.toSeq.map(_.name))
      assert(!parts.contains("g"),
        s"window partitioned on the gram digest (single-partition hot-gram ceiling): $w")
      assert(parts.contains("doc_id"), s"unexpected window partition keys $parts")
    }
    assert(df.count() > 0)
  }

  test("pareto frontier: the per-point window is bucket-partitioned, never global") {
    // the textbook skyline formulation is max(size) OVER (ORDER BY price)
    // with no partition — one task sees every row. The two-level plan may
    // only run an UNpartitioned window over the per-bucket maxima (one row
    // per non-empty price band, catalog-sized by construction).
    val df = graft.operators.Mining.paretoFrontier(spark, Sf, 5000L)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size >= 2, "expected local-skyline + prefix-max windows")
    val globalWindows = windows.filter(_.partitionSpec.isEmpty)
    globalWindows.foreach { w =>
      val inputs = w.child.output.map(_.name)
      assert(inputs.contains("bkt_max") && !inputs.contains("p_partkey"),
        s"global window must only see per-bucket rows, saw $inputs")
    }
    assert(df.count() > 0)
  }

  test("market basket and pagerank plans contain no cartesian product") {
    Seq(
      graft.operators.Mining.marketBasket(spark, Sf, 8, 25),
      graft.operators.Mining.pagerankCopurchase(spark, Sf, 8, 2)
    ).foreach { df =>
      assert(df.collect().nonEmpty)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"pair generation must stay an equi join:\n$plan")
    }
  }

  test("triangle count: adjacency joins stay equi, never cartesian") {
    val df = graft.operators.Mining.triangleCount(spark, Sf, 8, 25)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"oriented-adjacency joins must stay equi joins:\n$plan")
  }

  test("bloom semi join: the only non-equi join is the broadcast of the one-row bitset") {
    val df = graft.operators.Analytics.bloomSemiOrderMix(spark, Sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the bitset must broadcast (BroadcastNestedLoopJoin), not cartesian:\n$plan")
    // the screen itself: no UDF anywhere in the probe path
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"probe tests must be codegen'd expressions:\n$plan")
  }

  test("seasonal anomaly: one scan of the fact table, baselines broadcast back") {
    val df = graft.operators.Quality.seasonalAnomaly(spark, Sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 2, // cells + the distinct-days frame share one source
      s"seasonal grid must not rescan the fact table per join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"catalog-sized baselines must broadcast:\n$plan")
  }

  test("connected components: every superstep join stays equi, never cartesian") {
    val df = graft.operators.Mining.connectedComponents(spark, Sf,
      maxItems = 8, minCo = 2, rounds = 4, topN = 25)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"label-propagation supersteps must stay equi joins:\n$plan")
  }

  test("selection gain: no single-partition window over the corpus") {
    val df = graft.operators.Curation.selectionGain(spark, Sf)
    assert(df.collect().nonEmpty)
    // the doc-level rank must come from per-range-partition windows; the
    // only unpartitioned windows allowed are the catalog-sized offset
    // (32 pids) and decile (10 rows) frames — so every Window node's
    // child must NOT be the document scan itself
    val plan = df.queryExecution.executedPlan.toString
    val winSpecs = "windowspecdefinition\\([^)]*\\)".r
      .findAllIn(plan.toLowerCase).toSeq
    val unpartitioned = winSpecs.count(!_.contains ("pid#"))
    // offsets window (orderBy pid) + decile cum window = at most 2
    assert(unpartitioned <= 2,
      s"expected the doc rank to ride partition-local windows:\n$plan")
  }

  test("retrieval eval: truth and index joins never go cartesian; @k fan-out broadcasts") {
    val df = graft.operators.Retrieval.retrievalEval(spark, Sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the candidate and hit joins must stay equi; the k frame broadcasts:\n$plan")
  }

  test("seq pair support: the self-join stays keyed on user_id, never cartesian") {
    val df = graft.operators.Mining.seqPairSupport(spark, Sf)
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the spans self-join must stay an equi join on user_id:\n$plan")
    // the only BNLJ allowed is the 1-row n_total cross join
    val conditionedBnlj = plan.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && (l.contains("<") || l.contains(">")))
    assert(!conditionedBnlj,
      s"pair fan-out must ride the user_id equi join, not a theta join:\n$plan")
  }

  test("k-core peel: every round's census and survivor joins stay equi") {
    val df = graft.operators.Mining.kcoreMembership(spark, Sf,
      SparkEntry.Basket.maxItems, SparkEntry.Basket.ccMinCo,
      SparkEntry.Basket.kcoreK, SparkEntry.Basket.kcoreRounds)
    df.collect() // may be small at tiny SF; the pin is on the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"k-core survivor joins must stay equi:\n$plan")
  }
}
