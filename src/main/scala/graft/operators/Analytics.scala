package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational analytics suite over the star schema.
  *
  * The reference delegates ALL of this to BigQuery (SURVEY §2.5 — the repo
  * itself has no joins/aggs/windows); these operators are that delegated
  * capability, implemented natively so a reference user's warehouse queries
  * run inside this engine.
  *
  * Scale notes baked into each operator:
  *  - truly bounded dimension tables (region/nation — fixed 5/25-row
  *    domains at ANY scale factor) go through `broadcast()`; every side
  *    that scales with the data (customer, supplier, part) carries NO
  *    hint, so AQE picks broadcast-vs-shuffle from runtime stats — a
  *    forced hint there would override the size check and OOM at 100×;
  *  - aggregations rely on partial (map-side) aggregation — no `distinct`
  *    before `groupBy`;
  *  - every output is deterministically ordered (total order incl. tiebreak)
  *    so results are stable for the correctness gate;
  *  - all double aggregates are rounded to 4 decimals: canonicalizes
  *    accumulation-order FP noise across partition counts AND engines.
  */
object Analytics {

  private[operators] def r4(c: Column): Column = round(c, 4)

  /** TPC-H Q1-style pricing summary: single-pass hash aggregate on the fact
    * table; only 7 lineitem columns are read (check ReadSchema in explain).
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r4(sum(col("l_quantity"))).as("sum_qty"),
        r4(sum(col("l_extendedprice"))).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
        r4(avg(col("l_quantity"))).as("avg_qty"),
        r4(avg(col("l_extendedprice"))).as("avg_price"),
        r4(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3-style shipping priority: 3-way join narrowed by pushed-down
    * filters, group + top-10. Customer side is filtered before the join so
    * AQE can flip it to broadcast at runtime — no forced hint, because
    * customer scales with the data (1-in-5 of an SF-scaled table is still
    * SF-scaled; PlanFeaturesSpec pins that AQE broadcasts it at fixture
    * scale from runtime stats alone).
    */
  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style regional revenue: 6-way join. Only the genuinely
    * bounded dims (region: 5 rows, nation: 25 rows at every SF) carry a
    * broadcast hint; customer and supplier scale with the fact data, so
    * they are left to AQE — broadcast at small SF (runtime stats), SMJ at
    * warehouse scale, never a driver OOM from an overridden size check.
    */
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
    val supplier = Tables.supplier(s, dir)
    val customer = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val orders = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Fact x part-dimension join: revenue by part brand. Part is a true
    * dimension join (shuffle-or-broadcast decided by AQE from its actual
    * size — at warehouse scale `part` is itself large, so no forced
    * broadcast here, unlike the filtered region/nation sides).
    */
  def brandRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val part = Tables.part(s, dir).select("p_partkey", "p_brand")
    li.join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"),
        // per-row exact cents then integer sum — order-free, unlike
        // round(sum(double)) whose accumulation order and rounding ties
        // are engine-dependent
        sum(expr(
          """CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
             * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"""))
          .as("revenue_cents"))
      .orderBy(col("p_brand"))
  }

  /** Left outer join + aggregate: order count per customer INCLUDING
    * zero-order customers (the outer-join contract).
    */
  def customerOrderCounts(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("order_count"))
      .orderBy(col("c_custkey"))
  }

  /** Left-semi join: customers having at least one URGENT order. */
  def customersWithUrgentOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join: customers with no orders at all. */
  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
    val ord = Tables.orders(s, dir).select("o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .orderBy(col("c_custkey"))
  }

  /** Exact distinct aggregation (expand-based two-phase count distinct). */
  def supplierPartBreadth(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        count(lit(1)).as("lineitems"))
      .orderBy(col("l_suppkey"))
  }

  /** ROLLUP grouping sets over orders; grouping nulls surfaced as 'ALL'
    * so ordering is engine-agnostic (Spark sorts nulls first, DuckDB last).
    */
  def orderRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), r4(sum(col("o_totalprice"))).as("total_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("status"), col("priority"))
  }

  /** Arbitrary GROUPING SETS (not the rollup/cube lattice): per-status,
    * per-priority, and grand-total groups in ONE pass — the grouping-set
    * expansion happens before the partial aggregate, so it is still a
    * single shuffle.
    */
  def orderGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"))
      .orderBy(col("status"), col("priority"))
  }

  /** RANGE-frame window: per user, the rolling 1-hour event-time sum in
    * exact cents — a true range frame (varying row count per frame), not
    * a ROWS frame. The frame bound is on integer epoch seconds so both
    * engines resolve identical frames. ts_sec uses explicit FLOOR
    * semantics (sign-split, since Spark's `div` truncates toward zero
    * while DuckDB's `//` floors) so pre-1970 timestamps land in the same
    * second bucket on both engines.
    */
  def rollingHourValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"))
      .rangeBetween(-3599, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("""CAST(CASE WHEN unix_micros(ts) >= 0
                    THEN unix_micros(ts) div 1000000
                    ELSE -((-unix_micros(ts) + 999999) div 1000000)
                END AS BIGINT)""").as("ts_sec"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .withColumn("hour_cents", sum(col("cents")).over(w))
      .select(col("user_id"), col("event_id"), col("ts_sec"), col("hour_cents"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** first_value / last_value / nth_value over each user's full ordered
    * history (unbounded frame; ids only, engine-proof).
    */
  def userEventEndpoints(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("first_event", first(col("event_id")).over(w))
      .withColumn("last_event", last(col("event_id")).over(w))
      .withColumn("second_event", nth_value(col("event_id"), 2).over(w))
      .groupBy(col("user_id"), col("first_event"), col("last_event"), col("second_event"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Upsert (MERGE emulation) demo: a deterministic 10% of orders gets a
    * price correction and is merged keep-latest into the table via
    * Sinks.upsert; the merged result is summarized in exact cents. The
    * update set derives from the hash-sampling predicate so the oracle
    * reproduces the exact same batch.
    */
  def upsertOrders(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val updates = orders
      .filter(Sampling.keepExpr(col("o_orderkey"), 0.1))
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
    graft.sinks.Sinks.upsert(orders, updates, Seq("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr(
          "CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("total_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** Datetime function suite over o_orderdate, grouped per calendar month:
    * extract fields (year/quarter/month/day-of-*), ISO week, day-of-week,
    * date_trunc, last_day — the scalar date surface a warehouse user needs.
    * All outputs are ints or formatted strings (engine-exact). dow is
    * normalized to 0=Sunday (Spark's dayofweek is 1-based Sunday-first;
    * DuckDB's dow is 0-based — the explicit -1 aligns them).
    */
  def orderDateParts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderdate").as("d"))
      .select(
        year(col("d")).cast("long").as("yr"),
        quarter(col("d")).cast("long").as("qtr"),
        month(col("d")).cast("long").as("mon"),
        (dayofweek(col("d")) - 1).cast("long").as("dow0"),
        dayofyear(col("d")).cast("long").as("doy"),
        dayofmonth(col("d")).cast("long").as("dom"),
        weekofyear(col("d")).cast("long").as("isoweek"),
        date_format(date_trunc("month", col("d")), "yyyy-MM-dd").as("month_start"),
        date_format(last_day(col("d")), "yyyy-MM-dd").as("month_end"))
      .groupBy(col("yr"), col("qtr"), col("mon"), col("month_start"), col("month_end"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("dow0")).as("sum_dow0"),
        sum(col("doy")).as("sum_doy"),
        sum(col("dom")).as("sum_dom"),
        max(col("isoweek")).as("max_isoweek"),
        countDistinct(col("dom")).as("distinct_days"))
      .orderBy(col("yr"), col("mon"))

  /** Equi-width histogram of order value: 10 fixed 50k-wide buckets with
    * an overflow top bucket — one hash aggregate (bucket id is a pure
    * projection), counts and exact-cent bounds per bucket.
    */
  def orderPriceHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      // identical IEEE ops on both engines: double divide, floor, least —
      // (`div`'s double handling differs between engines, floor does not)
      .select(expr(
        "least(CAST(floor(o_totalprice / CAST(50000 AS DOUBLE)) AS BIGINT), CAST(9 AS BIGINT))")
        .as("bucket"),
        expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .orderBy(col("bucket"))

  /** Equal-frequency (decile) binning of order prices — the ML
    * feature-engineering discretizer — WITHOUT the global NTILE sort:
    * a global `ntile(10) OVER (ORDER BY price)` funnels every row
    * through one partition. Instead: collapse rows to the VALUE
    * HISTOGRAM (cents, count), then build the exclusive-prefix CDF with
    * a two-level sum — range-partition the histogram, per-partition
    * totals (one row each) prefix-summed on the catalog-sized offsets
    * frame, partition-LOCAL running sums add the offset back. No
    * operator ever sees more than the value domain / P per task, and the
    * result is independent of where the range boundaries fall.
    *
    * Bin of a value = floor(bins·p / n) + 1 where p is the exclusive
    * prefix count — pure BIGINT, so ties land identically in every
    * engine (all rows of one value share a bin by construction; a tie
    * mass spanning thresholds leaves later bins sparse rather than
    * splitting a value, which is what makes the output deterministic
    * where interpolated-boundary bucketize is not).
    */
  def equalFreqBins(s: SparkSession, dir: String, bins: Int = 10): DataFrame = {
    val cents = Tables.orders(s, dir).select(
      expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
        .as("cents"))
    val hist = cents.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val total = hist.agg(sum(col("cnt")).as("n"))
    // order-preserving bucket id from the VALUE, not from sampling
    // (repartitionByRange samples boundaries, and this plan reads the
    // bucketed frame in two subtrees — ids must agree by construction,
    // not by exchange reuse); 64 value-range buckets of the cents span
    val bounds = hist.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
    val nBuckets = 64
    val ranged = hist.crossJoin(broadcast(bounds))
      .withColumn("pid", expr(
        s"CAST(($nBuckets * (cents - lo)) DIV (hi - lo + 1) AS INT)"))
      .drop("lo", "hi")
    // per-bucket totals: 64 rows; the offsets window is catalog-sized
    val offsets = ranged.groupBy(col("pid")).agg(sum(col("cnt")).as("ptot"))
      .withColumn("poff", coalesce(sum(col("ptot")).over(
        Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("pid"), col("poff"))
    val wIn = Window.partitionBy(col("pid")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .withColumn("pin", coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("pid"))
      .crossJoin(broadcast(total))
      .withColumn("bin", expr(s"(($bins * (pin + poff)) DIV n) + 1"))
      .groupBy(col("bin"))
      .agg(sum(col("cnt")).as("n_orders"),
        min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
      .orderBy(col("bin"))
  }

  /** Multiset (ALL-variant) set operations: nation keys of customers
    * minus/intersected-with suppliers WITH multiplicity — EXCEPT ALL and
    * INTERSECT ALL keep duplicate counts, where the distinct forms
    * (q_setops_nations) collapse them. Aggregated per key so the output
    * is small and totally ordered.
    */
  def nationKeyMultisets(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey"))
    val sup = Tables.supplier(s, dir).select(col("s_nationkey").as("nationkey"))
    val exceptAllCounts = c.exceptAll(sup)
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .select(lit("except_all").as("op"), col("nationkey").cast("long").as("nationkey"), col("n"))
    val intersectAllCounts = c.intersectAll(sup)
      .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
      .select(lit("intersect_all").as("op"), col("nationkey").cast("long").as("nationkey"), col("n"))
    exceptAllCounts.unionByName(intersectAllCounts)
      .orderBy(col("op"), col("nationkey"))
  }

  /** Dense reporting scaffold: every (day x event_type) cell over the
    * data's full date span, with explicit zeros where nothing happened —
    * downstream charts/exports need the absent cells, and a bare groupBy
    * silently drops them. The scaffold is sequence+explode of the
    * (min,max) day range crossed with the distinct types (both tiny,
    * broadcast), left-joined to the actual counts.
    */
  def denseDailyCounts(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .agg(min(expr("to_date(ts)")).as("d0"), max(expr("to_date(ts)")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day"))
    val types = Tables.events(s, dir).select(col("event_type")).distinct()
    val actual = Tables.events(s, dir)
      .groupBy(expr("to_date(ts)").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    days.crossJoin(types)
      .join(actual, Seq("day", "event_type"), "left")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Percent-of-total (ratio-to-report): each nation's share of global
    * revenue via an unpartitioned window total — exact cents in, half-up
    * 4-decimal fixed-point share out.
    */
  def nationRevenueShare(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(sum(expr(
        "CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("revenue_cents"))
    rev.withColumn("total_cents",
        sum(col("revenue_cents")).over(Window.partitionBy()))
      .select(col("c_nationkey").cast("long").as("nationkey"),
        col("revenue_cents"),
        expr("CAST((20000 * revenue_cents + total_cents) div (2 * total_cents) AS BIGINT)")
          .as("share_1e4"))
      .orderBy(col("nationkey"))
  }

  /** Forward fill (LOCF): per user, nulls take the last preceding
    * non-null observation — the gap-filling pass for sparse telemetry.
    * The fixture has no nulls, so a deterministic hash knockout blanks
    * ~20% of readings first (the oracle rebuilds the same knockout);
    * values are exact cents. Spark side uses the idiomatic
    * `last(ignoreNulls)` running frame; the oracle uses the portable
    * two-window rewrite (non-null prefix count as group, max per group) —
    * same semantics, so parity checks the OPERATOR, not one vendor's
    * syntax. One window shuffle.
    */
  def forwardFillValues(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("""CASE WHEN substr(md5(CAST(event_id AS STRING)), 1, 1) IN ('0','1','2')
                THEN CAST(NULL AS BIGINT)
                ELSE CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("cents"))
      .withColumn("filled_cents", last(col("cents"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"),
        col("cents"), col("filled_cents"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Ordered funnel (view -> click -> purchase): per user, each step's
    * first occurrence must land strictly AFTER the previous step's — the
    * traffic-warehouse conversion query. Step frontiers are per-user min
    * aggregates joined step-over-step (each a (user) equi-join on an
    * already-aggregated, so tiny, left side); timestamps compare as exact
    * integer micros. Emits one row per step with the surviving user count.
    */
  def eventFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t_us"))
    def firstAfter(typ: String, prev: Option[DataFrame]): DataFrame = {
      val base = prev match {
        case None => ev.filter(col("event_type") === typ)
        case Some(p) => ev.filter(col("event_type") === typ)
          .join(p, Seq("user_id"))
          .filter(col("t_us") > col("t_prev"))
      }
      // materialize each step's tiny per-user frontier: the three count
      // branches and the step-over-step joins would otherwise re-scan the
      // events table once per consumer (~6 scans in the final union)
      base.groupBy(col("user_id")).agg(min(col("t_us")).as("t_prev"))
        .localCheckpoint(true)
    }
    val s1 = firstAfter("view", None)
    val s2 = firstAfter("click", Some(s1))
    val s3 = firstAfter("purchase", Some(s2))
    val counts = Seq(("1_view", s1), ("2_click", s2), ("3_purchase", s3))
      .map { case (name, df) =>
        df.agg(count(lit(1)).as("n_users")).select(lit(name).as("step"), col("n_users"))
      }
    counts.reduce(_ unionByName _).orderBy(col("step"))
  }

  /** Cohort retention: users grouped by their first active day; for each
    * (cohort day, day offset) the count of distinct users active again.
    * Two aggregates and one join on already-distinct (user, day) rows —
    * the shuffle carries user-days, never raw events. Day indexes are
    * explicit floor divisions of epoch seconds (sign-split, same
    * discipline as rollingHourValue).
    */
  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val daySec = 86400L
    val dayIdx = s"""CAST(CASE WHEN ts_sec >= 0 THEN ts_sec div $daySec
                        ELSE -((-ts_sec + ${daySec - 1}) div $daySec)
                    END AS BIGINT)"""
    val userDays = Tables.events(s, dir)
      .select(col("user_id"),
        expr("""CAST(CASE WHEN unix_micros(ts) >= 0
                    THEN unix_micros(ts) div 1000000
                    ELSE -((-unix_micros(ts) + 999999) div 1000000)
                END AS BIGINT)""").as("ts_sec"))
      .select(col("user_id"), expr(dayIdx).as("day_idx"))
      .distinct()
    val cohorts = userDays.groupBy(col("user_id"))
      .agg(min(col("day_idx")).as("cohort_day"))
    userDays.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day_idx") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Cohort LTV curve: cumulative purchase revenue per acquisition cohort
    * by day offset, priced per cohort user — the companion readout to
    * [[cohortRetention]] (retention says who comes BACK; LTV says what
    * the cohort is WORTH by age, the payback-period number an
    * acquisition budget is set against). Cohort = the user's first
    * active day (any event type, the retention convention); offsets
    * appear only where revenue occurred (the cumulative sum is over
    * present rows — documented contract, matching the oracle exactly).
    *
    * 100 TB shape: one distinct user-day pass + one purchase-side join
    * against the |users|-sized cohort frame (scales with data — no
    * forced hint, AQE sizes it); everything after (per-cohort cumsum
    * window, size join) rides the |cohorts| x |offsets| frame, which is
    * calendar-bounded; the cohort-size frame broadcasts.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    val dayIdx = "CAST(unix_micros(ts) DIV 1000000 DIV 86400 AS BIGINT)"
    val ev = Tables.events(s, dir)
    val ud = ev.select(col("user_id"), expr(dayIdx).as("day_idx")).distinct()
    val cohorts = ud.groupBy(col("user_id"))
      .agg(min(col("day_idx")).as("cohort_day"))
      // |users|-sized, TWO consumers (size census + purchase join): pin
      // once instead of re-running the distinct user-day pass per branch
      .localCheckpoint(true)
    val sizes = cohorts.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("n_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr(dayIdx).as("day_idx"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_day"),
        (col("day_idx") - col("cohort_day")).as("day_offset"))
      .agg(sum(col("cents")).as("revenue_cents"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(w))
      .join(broadcast(sizes), Seq("cohort_day"))
      .select(col("cohort_day"), col("day_offset"), col("revenue_cents"),
        col("cum_revenue_cents"), col("n_users"),
        expr("CAST((2 * 10000 * cum_revenue_cents + n_users) DIV (2 * n_users) AS BIGINT)")
          .as("ltv_per_user_1e4"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** [[cohortLtv]] as DuckDB SQL. */
  private[graft] def cohortLtvSql: String =
    s"""WITH ud AS (SELECT DISTINCT user_id,
           CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day_idx
         FROM events),
       c AS (SELECT user_id, min(day_idx) AS cohort_day FROM ud
             GROUP BY user_id),
       cs AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_users
              FROM c GROUP BY cohort_day),
       r AS (SELECT c.cohort_day, p.day_idx - c.cohort_day AS day_offset,
                    CAST(sum(p.cents) AS BIGINT) AS revenue_cents
             FROM (SELECT user_id,
                          CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day_idx,
                          CAST(floor(value * CAST(100 AS DOUBLE)
                            + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
                   FROM events WHERE event_type = 'purchase') p
             JOIN c ON p.user_id = c.user_id
             GROUP BY c.cohort_day, p.day_idx - c.cohort_day),
       cum AS (SELECT cohort_day, day_offset, revenue_cents,
                      CAST(sum(revenue_cents) OVER (PARTITION BY cohort_day
                        ORDER BY day_offset ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cum_revenue_cents
               FROM r)
       SELECT cohort_day, day_offset, revenue_cents, cum_revenue_cents,
              n_users,
              CAST((2 * 10000 * cum_revenue_cents + n_users)
                // (2 * n_users) AS BIGINT) AS ltv_per_user_1e4
       FROM cum JOIN cs USING (cohort_day)
       ORDER BY cohort_day, day_offset"""

  /** Rolling DAU/WAU: for every day, the distinct users active THAT day
    * and within the trailing `windowDays` window ending on it. The
    * classic sliding-distinct problem solved by a BOUNDED explode — each
    * distinct (user, day) row contributes to exactly the `windowDays`
    * window-end days it covers (sequence(day, day+w-1)), then ONE hash
    * aggregate counts distincts per window end. Expansion is a fixed ×w
    * of user-days (already distinct, tiny vs raw events), versus the
    * alternatives at corpus scale: a RANGE-frame window cannot do
    * count(DISTINCT), and a day×day range self-join shuffles user-days
    * w times without map-side combine. DAU rides the same aggregate as a
    * conditional distinct (window end == the contributing day).
    */
  def rollingActiveUsers(s: SparkSession, dir: String,
                         windowDays: Int = 7): DataFrame = {
    val daySec = 86400L
    val dayIdx = s"""CAST(CASE WHEN ts_sec >= 0 THEN ts_sec div $daySec
                        ELSE -((-ts_sec + ${daySec - 1}) div $daySec)
                    END AS BIGINT)"""
    val userDays = Tables.events(s, dir)
      .select(col("user_id"),
        expr("""CAST(CASE WHEN unix_micros(ts) >= 0
                    THEN unix_micros(ts) div 1000000
                    ELSE -((-unix_micros(ts) + 999999) div 1000000)
                END AS BIGINT)""").as("ts_sec"))
      .select(col("user_id"), expr(dayIdx).as("day"))
      .distinct()
    val maxDay = userDays.agg(max(col("day")).as("mx"))
    userDays
      .select(col("user_id"), col("day").as("uday"),
        explode(expr(s"sequence(day, day + ${windowDays - 1})")).as("wend"))
      .crossJoin(broadcast(maxDay))
      .filter(col("wend") <= col("mx")) // windows past the data end don't report
      .groupBy(col("wend").as("day"))
      .agg(
        // two countDistinct in one agg plans via Expand (x2 row
        // multiplication) — acceptable HERE because the input is already
        // distinct user-days bounded by users x windowDays; do NOT copy
        // this shape onto raw events, where the Expand doubles the
        // full event stream before any reduction
        countDistinct(when(col("uday") === col("wend"), col("user_id"))).as("dau"),
        countDistinct(col("user_id")).as("wau"))
      .orderBy(col("day"))
  }

  /** Per-event residual against the LINEAR INTERPOLATION of its two
    * neighbors in the user's series — the local-trend anomaly signal
    * (large residual = spike/dip vs the straight line through the
    * surrounding points). One lag/lead window pass, one shuffle on
    * user_id. Endpoints (no neighbor) and zero-span neighbors emit NULL —
    * the zero-span guard also keeps 0/0 NaN semantics (which differ
    * between DuckDB releases) out of the comparison. The interpolation
    * arithmetic is the same pinned-order double expression on both
    * engines, so the residual bits match exactly; output is cents via
    * floor(x*100 + 0.5).
    */
  def valueVsLocalTrend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        expr("""CAST(CASE WHEN unix_micros(ts) >= 0
                    THEN unix_micros(ts) div 1000000
                    ELSE -((-unix_micros(ts) + 999999) div 1000000)
                END AS BIGINT)""").as("t"))
      .withColumn("pv", lag(col("value"), 1).over(w))
      .withColumn("nv", lead(col("value"), 1).over(w))
      .withColumn("pt", lag(col("t"), 1).over(w))
      .withColumn("nt", lead(col("t"), 1).over(w))
      .select(col("event_id"), col("user_id"),
        expr("""CASE WHEN pt IS NULL OR nt IS NULL OR nt = pt THEN NULL
                ELSE CAST(floor((value - (pv + (nv - pv)
                  * (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))))
                  * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("residual_cents"))
      .orderBy(col("event_id"))
  }

  /** Scalar string-function surface in one pass over customer — the
    * warehouse string toolkit (case, slice, search, pad, replace,
    * translate, split, reverse, concat) restricted to functions with
    * identical cross-engine semantics (1-based positions, 0-if-absent
    * search). Pure projection: zero shuffles beyond the result sort.
    */
  def customerStringShapes(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        expr("upper(c_mktsegment)").as("seg_upper"),
        expr("lower(c_name)").as("name_lower"),
        expr("CAST(length(c_name) AS BIGINT)").as("name_len"),
        expr("substr(c_name, 1, 8)").as("name_prefix"),
        expr("replace(c_name, 'Customer', 'C')").as("name_short"),
        expr("lpad(CAST(c_custkey AS STRING), 12, '0')").as("key_padded"),
        expr("split_part(c_name, '#', 2)").as("name_num"),
        expr("CAST(instr(c_name, '#') AS BIGINT)").as("hash_pos"),
        expr("translate(c_mktsegment, 'AEIOU', 'aeiou')").as("seg_translated"),
        expr("reverse(c_name)").as("name_rev"),
        expr("concat_ws('|', c_mktsegment, c_name)").as("seg_name"),
        expr("trim(BOTH '0' FROM split_part(c_name, '#', 2))").as("num_trimmed"))
      .orderBy(col("c_custkey"))

  /** Deterministic MODE (argmax-by-count) of order priority per status:
    * count per candidate, keep the most frequent with a pinned tiebreak
    * (smallest priority string) — built-in `mode()` leaves ties
    * engine/partition-dependent, so it can never be oracle-exact. Two
    * aggregates but one data-sized shuffle: the second groupBy sees only
    * (status, priority) pairs.
    */
  def orderPriorityMode(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("n").desc, col("o_orderpriority"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("n").as("mode_n"))
      .orderBy(col("o_orderstatus"))
  }

  /** Least-squares regression slope of price-vs-quantity per return flag,
    * in EXACT integer arithmetic: quantities and price-cents are ints, the
    * four moment sums accumulate in DECIMAL(38,0) (order-free, overflow-
    * checked — a double sum would be partition-order-dependent), and
    * slope_1e6 = (1e6 * (n*Sqp - Sq*Sp)) / (n*Sqq - Sq*Sq) is computed as
    * the exact truncated quotient (x - x % den) / den, which both engines
    * evaluate identically (remainder takes the dividend's sign in Spark
    * and DuckDB alike). The same shape gives corr/covar/stddev — one
    * shuffle, map-side partial aggregation of the moments.
    */
  def priceQuantitySlope(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        expr("CAST(l_quantity AS BIGINT)").as("q"),
        expr("CAST(floor(l_extendedprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("p"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"),
        sum(expr("CAST(p AS DECIMAL(38,0))")).as("sp"),
        sum(expr("CAST(q * p AS DECIMAL(38,0))")).as("sqp"),
        sum(expr("CAST(q * q AS DECIMAL(38,0))")).as("sqq"))
      .withColumn("num", expr(
        "(CAST(n AS DECIMAL(38,0)) * sqp - sq * sp) * CAST(1000000 AS DECIMAL(38,0))"))
      .withColumn("den", expr("CAST(n AS DECIMAL(38,0)) * sqq - sq * sq"))
      .select(col("l_returnflag"), col("n"),
        expr("CAST((num - num % den) / den AS BIGINT)").as("slope_cents_1e6"))
      .orderBy(col("l_returnflag"))
  def eventCube(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"), date_format(col("ts"), "HH").as("hour"), col("value"))
      .cube(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n_events"), r4(sum(col("value"))).as("sum_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("hour"), lit("ALL")).as("hour"),
        col("n_events"), col("sum_value"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Window ranking: top-3 customers by order revenue within each nation.
    * Rank input is pre-rounded so FP noise can't flip ranks between engines.
    */
  def topCustomersPerNation(s: SparkSession, dir: String): DataFrame = {
    val revenue = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(r4(sum(col("o_totalprice"))).as("revenue"))
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("revenue").desc, col("c_custkey"))
    revenue.join(cust, col("o_custkey") === col("c_custkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey"), col("rk").cast("long").as("rk"),
        col("c_custkey"), col("revenue"))
      .orderBy(col("c_nationkey"), col("rk"))
  }

  /** Sliding window frame: 10-event moving average of `value` per user.
    *
    * Exactness note: `value` is 2-decimal money-like data and small frame
    * counts (often powers of two) make the true quotient land EXACTLY on
    * `.xxxx5` boundaries, where Spark (rounds the shortest decimal repr)
    * and other engines (round the raw double) legitimately disagree. So the
    * rounded average is computed in integer arithmetic — cents summed
    * exactly over the frame, then half-up division — which is
    * engine-portable bit-for-bit: avg4 = floor((200*cents + n) / (2n)) / 1e4.
    */
  def movingAverage(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, Window.currentRow)
    Tables.events(s, dir)
      // floor(x+0.5) not round(): identical on every engine (see Similarity
      // .scoreMicrosExpr); `value` passes through untouched (raw parquet
      // bits — no arithmetic, so no engine can disagree on it)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("cents"))
      .withColumn("mv_cents", sum(col("cents")).over(w))
      .withColumn("mv_n", count(lit(1)).over(w))
      // sign split keeps half-up-away-from-zero semantics AND avoids the
      // Spark-div-truncates vs DuckDB-//-floors divergence on negative sums;
      // emitted as BIGINT ten-thousandths of the cent average (fixed-point
      // end-to-end — money pipelines avoid float drift the same way)
      .withColumn("moving_avg_1e4", expr(
        """CAST(CASE WHEN mv_cents >= 0 THEN (200 * mv_cents + mv_n) div (2 * mv_n)
                ELSE -((200 * -mv_cents + mv_n) div (2 * mv_n)) END AS BIGINT)"""))
      .select(col("user_id"), col("event_id"), col("value"), col("moving_avg_1e4"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** lag(): microsecond gap between consecutive events per user. */
  def eventGaps(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Ranking-window family: ntile quartile, percent_rank, cume_dist per
    * priority over order price. The o_orderkey tiebreak makes every rank
    * deterministic; pct_rank/cume are single IEEE divisions of exact small
    * ints, so they hash identically on any engine. One shuffle on the
    * partition key serves all three functions (same window spec).
    */
  def orderPriceRanks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .orderBy(col("o_orderkey"))
  }

  /** Global top-K with total-order tiebreak (TakeOrderedAndProject —
    * no full sort at scale).
    */
  def topOrders(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
  }

  /** Set operations: customer nations vs supplier nations, tagged and
    * stacked (UNION / INTERSECT / EXCEPT in one deterministic result).
    */
  def nationSetOps(s: SparkSession, dir: String): DataFrame = {
    val custNations = Tables.customer(s, dir).select(col("c_nationkey").as("nationkey")).distinct()
    val suppNations = Tables.supplier(s, dir).select(col("s_nationkey").cast("int").as("nationkey")).distinct()
    val union = custNations.union(suppNations).distinct().withColumn("tag", lit("union"))
    val inter = custNations.intersect(suppNations).withColumn("tag", lit("intersect"))
    val exceptOp = custNations.except(suppNations).withColumn("tag", lit("except"))
    union.unionByName(inter).unionByName(exceptOp)
      .select(col("tag"), col("nationkey").cast("long").as("nationkey"))
      .orderBy(col("tag"), col("nationkey"))
  }

  /** GROUP BY + HAVING: customers with more than 12 orders. */
  def frequentBuyers(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), r4(sum(col("o_totalprice"))).as("total_spent"))
      .filter(col("n_orders") > 12)
      .orderBy(col("o_custkey"))
  }

  /** Scalar subquery pattern: orders above 1.5x the global average price.
    * The scalar aggregate is broadcast (a 1-row cross join), not recomputed
    * per row.
    *
    * The comparison is pure integer arithmetic: price > 1.5*avg rewritten
    * as 2*n*cents > 3*sum_cents over exact cents. A raw double average
    * would make boundary-row membership depend on accumulation order —
    * i.e. on partitioning and on the engine. (BIGINT headroom: cents*2*n
    * stays < 2^63 up to ~10^12 rows of 10^7-cent orders; beyond that,
    * swap to DECIMAL(38,0).)
    */
  def bigTicketOrders(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice"),
      expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
        .as("cents"))
    val totals = ord.agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n"))
    ord.crossJoin(broadcast(totals))
      .filter(col("cents") * 2 * col("n") > col("sum_cents") * 3)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** JSON extraction over events.props (reference has none; `events.props`
    * is the natural fixture — SURVEY §2.5 scalar-function note).
    */
  def jsonPropsAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        r4(avg(col("k"))).as("avg_k"))
      .orderBy(col("event_type"))
  }

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`, both linear interpolation). The
    * approximate-sketch variant (approx_percentile / approx_count_distinct)
    * is demonstrated in ApproxSpec — sketches differ across engines, so
    * they are spec-checked against exact values rather than oracle'd.
    */
  def pricePercentiles(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        // array form: ONE per-group value buffer for all three quantiles
        // (three separate percentile() calls would buffer the group 3x)
        expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("ps"))
      .select(col("o_orderpriority"), col("n_orders"),
        r4(expr("ps[0]")).as("p50"), r4(expr("ps[1]")).as("p90"),
        r4(expr("ps[2]")).as("p99"))
      .orderBy(col("o_orderpriority"))
  }

  /** approx_percentile end-to-end with its error bound CHECKED: for each
    * p in {0.5, 0.9, 0.99}, compute the sketch quantile of o_totalprice
    * at accuracy B alongside the exact interpolated percentile, then
    * verify the sketch value's actual rank against the documented
    * guarantee — |rank(approx) - p*n| <= n/B for Spark's
    * ApproximatePercentile (Greenwald-Khanna) — emitting an INTEGER pass
    * flag (tolerance 2n/B + 1 to absorb rank discretization at the small
    * SFs). The sketch VALUE itself is partitioning-dependent and never
    * compared across engines; only the exact percentile and the flag are,
    * so the row hash-matches while a sketch regression flips the flag.
    *
    * This is the unbounded-cardinality scale path (SCALE.md): exact
    * percentile() buffers every group value; approx_percentile holds an
    * O(B log n) summary, map-side combined. The rank audit joins the
    * 3-row bounds frame back broadcast — 3 extra streamed comparisons per
    * row, no extra shuffle of orders.
    */
  def approxPercentileBounds(s: SparkSession, dir: String, b: Int = 1000): DataFrame = {
    val ps = Seq(0.5, 0.9, 0.99)
    val psSql = ps.mkString("array(", ", ", ")")
    val v = Tables.orders(s, dir).select(col("o_totalprice").as("v"))
    val agg = v.agg(
      count(lit(1)).as("n"),
      expr(s"approx_percentile(v, $psSql, $b)").as("apx"),
      expr(s"percentile(v, $psSql)").as("exact"))
    val bounds = agg
      .select(col("n"), posexplode(arrays_zip(col("apx"), col("exact"))).as(Seq("i", "z")))
      .select(col("n"), expr(s"CAST($psSql[i] AS DOUBLE)").as("pct"),
        col("z.apx").as("apx"), col("z.exact").as("exact"))
    v.crossJoin(broadcast(bounds))
      .groupBy(col("pct"), col("n"), col("apx"), col("exact"))
      .agg(sum(when(col("v") <= col("apx"), 1L).otherwise(0L)).as("rank_le"))
      .select(col("pct"),
        r4(col("exact")).as("exact_px"),
        (abs(col("rank_le") - col("pct") * col("n")) <=
          lit(2.0) * col("n") / lit(b) + lit(1.0)).cast("int").as("within_bound"))
      .orderBy(col("pct"))
  }

  /** Double aggregation (TPC-H Q13 shape): distribution of customers by
    * order count, zero-bucket included via the outer join.
    */
  def orderCountDistribution(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey")
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("order_count"))
      .groupBy(col("order_count"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("order_count"))
  }

  /** Correlated per-group subquery shape: orders 20% above their OWN
    * customer's average price. Written as the decorrelated plan Catalyst
    * would produce anyway (group-avg + equi-join), so there is exactly one
    * pass over orders plus a small broadcastable aggregate.
    */
  def aboveOwnAverage(s: SparkSession, dir: String): DataFrame = {
    // price > 1.2*avg as integer cents: 5*n*cents > 6*sum_cents — see
    // bigTicketOrders for why the threshold must not be a raw double
    val ord = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"),
      expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
        .as("cents"))
    val perCust = ord.groupBy(col("o_custkey").as("k"))
      .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n"))
    ord.join(perCust, col("o_custkey") === col("k"))
      .filter(col("cents") * 5 * col("n") > col("sum_cents") * 6)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Gap-based sessionization in batch: the exact batch twin of
    * streaming.EventsStream.sessionize (30-minute inactivity gap). Session
    * boundaries via lag + cumulative sum of new-session flags — one
    * shuffle on user_id, both window passes reuse that partitioning.
    */
  def sessionizeBatch(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs || lag(col("ts_us"), 1).over(byUser).isNull, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        r4(sum(col("value"))).as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Per-day session quality — the website-analytics rollup the reference
    * pipeline's warehouse would serve (bounce rate, mean dwell): sessions
    * from [[sessionizeBatch]] bucketed by their START day, bounce =
    * single-event session. Ratios in half-up 1e-4 units and mean duration
    * in half-up micros — all BIGINT, so the oracle hash-matches.
    * Cost on top of sessionization: one |days|-key hash aggregate.
    */
  def sessionQualityByDay(s: SparkSession, dir: String,
                          gapMinutes: Int = 30): DataFrame = {
    sessionizeBatch(s, dir, gapMinutes)
      .withColumn("day",
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("end_us") - col("start_us")).as("dur_sum"))
      .select(col("day"), col("n_sessions"), col("n_bounces"),
        expr("(20000 * n_bounces + n_sessions) DIV (2 * n_sessions)")
          .as("bounce_1e4"),
        expr("(2 * dur_sum + n_sessions) DIV (2 * n_sessions)")
          .as("mean_dur_us"))
      .orderBy(col("day"))
  }

  /** Purchase revenue per market segment THROUGH the salted join — the
    * explicit whale-key mitigation ([[SkewUtils.saltedJoin]]: hot user
    * spread over 8 shuffle partitions, dimension replicated 8x) wired to
    * a driver-checked surface. The oracle states the PLAIN join: salting
    * must be invisible in the result — no duplicated or dropped rows —
    * which is exactly what the query proves on every run.
    */
  def saltedPurchaseRevenue(s: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("c_custkey"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
    val cust = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    SkewUtils.saltedJoin(purchases, cust, "c_custkey", salts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("revenue_cents"))
      .orderBy(col("c_mktsegment"))
  }

  /** Order mix of one customer segment THROUGH the Bloom-screened semi
    * join ([[SkewUtils.bloomSemiJoin]]): orders placed by AUTOMOBILE
    * customers, counted per priority. The ORACLE states the plain
    * `o_custkey IN (SELECT ...)` semi join, so every run proves the
    * Bloom screen is result-invisible — false positives die in the exact
    * rejoin, false negatives are impossible by construction. The query
    * surface of the same contract saltedPurchaseRevenue pins for salting:
    * an execution strategy must never change an answer.
    *
    * 100 TB shape: the 16 KiB bitset broadcasts no matter how large the
    * dimension grows, so the fact-side shuffle feeding the exact semi
    * join carries only screen survivors (matching fraction + bounded
    * false-positive rate) instead of every order.
    */
  def bloomSemiOrderMix(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.spread(s, dir, "orders")
    val autoCust = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey"))
    SkewUtils.bloomSemiJoin(orders, autoCust, "o_custkey", "c_custkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr(
          "CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("revenue_cents"))
      .orderBy(col("o_orderpriority"))
  }

  /** Conversion-window funnel: of each day's signups, how many purchased
    * within `windowDays`? The per-signup "next purchase" is a masked
    * `min` over the FOLLOWING window frame — min ignores NULLs by
    * definition, so the same text runs in every engine (no IGNORE NULLS
    * vendor syntax), and one user-keyed window pass prices the whole
    * funnel: no self-join of events against events, which is the
    * O(n·m)-per-user trap the naive "signup JOIN later purchase" writes.
    * Ratios in half-up 1e-4 BIGINT.
    */
  def conversionWindow(s: SparkSession, dir: String,
                       windowDays: Int = 7): DataFrame = {
    val horizonUs = windowDays * 86400L * 1000000L
    val wFollow = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      .withColumn("purch_us",
        when(col("event_type") === "purchase", col("t_us")))
      .withColumn("next_purchase_us", min(col("purch_us")).over(wFollow))
      .filter(col("event_type") === "signup")
      .withColumn("day",
        date_format(timestamp_micros(col("t_us")), "yyyy-MM-dd"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_signups"),
        sum(when(col("next_purchase_us").isNotNull &&
          col("next_purchase_us") - col("t_us") <= horizonUs, 1L)
          .otherwise(0L)).as("n_converted"))
      .select(col("day"), col("n_signups"), col("n_converted"),
        expr("(20000 * n_converted + n_signups) DIV (2 * n_signups)")
          .as("conv_1e4"))
      .orderBy(col("day"))
  }

  /** Tumbling 1-hour buckets over the event stream (batch equivalent of the
    * Structured Streaming windowed aggregation in graft.streaming).
    */
  def hourlyEventRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00:00").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        r4(sum(col("value"))).as("sum_value"),
        r4(avg(col("value"))).as("avg_value"))
      .orderBy(col("bucket"))
  }

  /** Join-key skew audit: the top-K heaviest keys of a fact table's join
    * column, each with its share of all rows and its ratio to the mean
    * key load — the dashboard an operator reads BEFORE a big join to
    * decide whether to salt, AQE-split, or broadcast. This engine leans
    * on skew machinery everywhere (saltedJoin, AQE skew-join, whale-label
    * sub-blocking); this query is the measurement those decisions start
    * from.
    *
    * 100 TB shape: one map-side-combined key aggregate (shuffle carries
    * distinct keys), a TakeOrderedAndProject top-K, and a broadcast
    * single-row totals frame — the audit never materializes more than
    * K + distinct-key rows.
    */
  def keySkewAudit(s: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    val keyed = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val tot = keyed.agg(sum(col("n_events")).as("total"),
      count(lit(1)).as("n_keys"))
    val w = Window.orderBy(col("n_events").desc, col("user_id"))
    keyed.crossJoin(broadcast(tot))
      .orderBy(col("n_events").desc, col("user_id")).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("share_1e4", expr("(20000 * n_events + total) DIV (2 * total)"))
      // ratio numerator is a COUNT x COUNT product (hot-key rows x
      // distinct keys) — in BIGINT it wraps at n_events*n_keys ~ 4.6e14,
      // reachable at warehouse scale, so it rides DECIMAL(38,0); the
      // truncated quotient equals DIV on these non-negative terms
      .withColumn("rnum",
        expr("CAST(20000 AS DECIMAL(38,0)) * n_events * n_keys + total"))
      .withColumn("rden", expr("CAST(2 AS DECIMAL(38,0)) * total"))
      .withColumn("ratio_to_avg_1e4",
        expr("CAST((rnum - rnum % rden) / rden AS BIGINT)"))
      .select(col("rank"), col("user_id"), col("n_events"),
        col("share_1e4"), col("ratio_to_avg_1e4"))
      .orderBy(col("rank"))
  }

  /** Tukey-fence outlier report: per event type, how many values fall
    * outside [p25 − 1.5·IQR, p75 + 1.5·IQR] — the robust anomaly count a
    * metrics pipeline alerts on (robust because the fences themselves
    * ignore the outliers they catch). Values are integerized to 1e-4
    * units FIRST, so the quartile interpolation runs over integers at
    * exact binary fractions and the fence arithmetic (×1.5 → eighths) is
    * bit-identical across engines — no float-boundary coin flips.
    *
    * 100 TB shape: per-type quartiles via one aggregate (same
    * exact-vs-approx_percentile trade as rfmSegments, one function name
    * to swap), broadcast fences, map-side compare, per-type rollup. The
    * events scan is read twice (quartiles, then compare); at warehouse
    * scale the first read reduces per-type — no corpus-sized state.
    */
  def valueOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(floor(value * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("v4"))
    val th = ev.groupBy(col("event_type"))
      .agg(expr("percentile(v4, array(0.25, 0.75))").as("p"))
      .select(col("event_type"), expr("p[0]").as("p25"), expr("p[1]").as("p75"))
    ev.join(broadcast(th), Seq("event_type"))
      .withColumn("is_out", expr(
        """CAST(v4 AS DOUBLE) < p25 - 1.5 * (p75 - p25)
           OR CAST(v4 AS DOUBLE) > p75 + 1.5 * (p75 - p25)"""))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("is_out"), lit(1L)).otherwise(lit(0L))).as("n_outliers"))
      .withColumn("outlier_1e4", expr("(20000 * n_outliers + n_events) DIV (2 * n_events)"))
      .orderBy(col("event_type"))
  }

  /** RFM segmentation: customers bucketed into quartile scores on
    * Recency (days of last order), Frequency (order count), and Monetary
    * (lifetime cents), reported as the 64-cell segment matrix — the
    * classic warehouse marketing rollup. Scores are 1 + the number of
    * quartile thresholds strictly exceeded, with thresholds from exact
    * interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`; quartile fractions are exact binary, so the
    * interpolation arithmetic is bit-stable across engines — the same
    * parity argument as pricePercentiles). Threshold-compare scoring
    * beats ntile here: no global sort, and a customer's score depends
    * only on the broadcast thresholds, not on neighbors.
    *
    * 100 TB shape: one per-customer aggregate (map-side combined), one
    * single-row threshold aggregate, then a broadcast compare + the
    * 64-cell rollup. Exact `percentile` buffers the per-customer column
    * on one node — at warehouse scale swap in `approx_percentile` (a
    * mergeable sketch, same plan shape, one function name); exact is
    * kept here for the bit-exact oracle.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        expr("datediff(CAST(max(o_orderdate) AS DATE), DATE '1970-01-01')").as("rec_days"),
        count(lit(1)).as("freq"),
        sum(expr(
          "CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("cents"))
    val th = per.agg(
      expr("percentile(rec_days, array(0.25, 0.5, 0.75))").as("tr"),
      expr("percentile(freq, array(0.25, 0.5, 0.75))").as("tf"),
      expr("percentile(cents, array(0.25, 0.5, 0.75))").as("tm"))
    def score(m: String, t: String) =
      s"CAST(1 + CAST($m > $t[0] AS INT) + CAST($m > $t[1] AS INT) + CAST($m > $t[2] AS INT) AS BIGINT)"
    per.crossJoin(broadcast(th))
      .withColumn("r_score", expr(score("rec_days", "tr")))
      .withColumn("f_score", expr(score("freq", "tf")))
      .withColumn("m_score", expr(score("cents", "tm")))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cell_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Event transition matrix: for every (from, to) pair of consecutive
    * event types within a user's timeline, the transition count and its
    * half-up fixed-point row share — the first-order Markov view of user
    * flows (what follows a signup? where do errors lead?). Consecutive =
    * next event by (ts, event_id); the id tiebreak makes same-timestamp
    * runs deterministic across engines.
    *
    * 100 TB shape: ONE user-partitioned window (shuffle+sort keyed on
    * user_id — the same shape sessionization already pays, parallel
    * across users), then a hash aggregate down to |types|² rows; the
    * share window runs over that tiny matrix. No self-join of events.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wf = Window.partitionBy(col("from_type"))
    Tables.events(s, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("from_total", sum(col("n_transitions")).over(wf))
      .withColumn("share_1e4",
        expr("(20000 * n_transitions + from_total) DIV (2 * from_total)"))
      .select(col("from_type"), col("to_type"), col("n_transitions"), col("share_1e4"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** SCD2 (slowly-changing-dimension type 2) build: the change-record
    * stream contracted to validity intervals. Each user's event_type runs
    * collapse to one row per run with [valid_from, valid_to) bounds in
    * exact micros (valid_to = next run's start; NULL = current), a
    * monotone version number, and is_current — the warehouse dimension
    * shape MERGE-based SCD loaders produce, derived here in one pass from
    * the raw history (the reference's BigQuery users do this downstream;
    * cf. /root/reference/src/etl/load.py write-disposition handling).
    *
    * 100 TB shape: both windows share ONE user-partitioned shuffle+sort
    * (same spec), then a filter keeps only change rows — output is
    * O(changes), never O(events). No self-join of the history.
    */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame =
    scd2Core(eventsForScd2(s, dir)).orderBy(col("user_id"), col("version"))

  /** (user_id, event_id, event_type, t_us) projection all SCD2 paths share. */
  private def eventsForScd2(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))

  /** Run-collapse over an events frame (unsorted output — callers order). */
  private def scd2Core(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
    ev
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      // post-filter rows are exactly the run heads; re-window over them
      .withColumn("valid_from_us", col("t_us"))
      .withColumn("valid_to_us", lead(col("t_us"), 1).over(w))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("event_type"), col("valid_from_us"),
        col("valid_to_us"), col("version"), col("is_current"))
  }

  /** SCD2 over events with t_us in [loUs, hiUs) — a prior run's snapshot. */
  def scd2Slice(s: SparkSession, dir: String, loUs: Long, hiUs: Long): DataFrame =
    scd2Core(eventsForScd2(s, dir)
      .filter(col("t_us") >= loUs && col("t_us") < hiUs))

  /** Point-in-time dimension lookup (the fact-vs-SCD2 temporal join):
    * resolve each purchase against the browsing-state dimension built
    * from the user's NON-purchase events — "what state was the user in
    * when they bought". Purchases before any state row resolve to
    * '(none)'/version 0.
    *
    * NOT a BETWEEN range join: interval joins degrade to per-key
    * all-pairs under skew. Because SCD2 intervals are disjoint and
    * contiguous per user, membership in [from, to) is equivalent to
    * "latest dimension start at or before the fact", so the plan is the
    * as-of carry — union dimension starts with facts, ONE user-keyed
    * window pass, O(n log n) per user timeline (cf. AsofJoin.scala for
    * the same argument; the oracle states the BETWEEN form and the
    * equivalence is exact, empty [t, t) intervals included: the carry
    * takes the later same-instant start, BETWEEN excludes the empty one).
    */
  def scd2PointLookup(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsForScd2(s, dir)
    val dim = scd2Core(ev.filter(col("event_type") =!= "purchase"))
      .select(col("user_id"), col("valid_from_us").as("t_us"),
        col("event_type").as("st"), col("version").as("ver"),
        lit(1).as("is_dim"), lit(null).cast("long").as("event_id"))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t_us"),
        lit(null).cast("string").as("st"), lit(null).cast("long").as("ver"),
        lit(0).as("is_dim"), col("event_id"))
    // at equal t_us: dim rows sort before facts (a state starting at the
    // fact instant applies — mirrors the oracle's >=), and among dim rows
    // version ascends so the carry keeps the latest (non-empty) interval
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("is_dim").desc, col("ver"))
      .rowsBetween(Window.unboundedPreceding, 0)
    dim.unionByName(facts)
      .withColumn("state_c", last(col("st"), ignoreNulls = true).over(w))
      .withColumn("ver_c", last(col("ver"), ignoreNulls = true).over(w))
      .filter(col("is_dim") === 0)
      .select(col("event_id"), col("user_id"),
        coalesce(col("state_c"), lit("(none)")).as("state"),
        coalesce(col("ver_c"), lit(0L)).as("state_version"))
      .orderBy(col("event_id"))
  }

  /** Incremental SCD2 merge: fold a DELTA of change records (all with
    * t_us at or after every prior event — the append-only warehouse
    * cadence) into a prior snapshot WITHOUT re-reading prior history.
    * Exact because run collapse is prefix-decomposable in time: the only
    * prior state a delta can touch is each user's current row, which the
    * snapshot itself carries (type + version). The first delta run of a
    * user is absorbed when it continues the carried type; otherwise the
    * carried current row closes at the first differing head and new rows
    * version on from the carried counter — merge == rescan, which the
    * from-scratch oracle proves.
    *
    * 100 TB shape: prior rows are touched only through an O(users-in-
    * delta) equi-join on the close-at frame (never re-sorted, never
    * re-windowed); the delta pays the usual user-keyed window. Steady-
    * state cost tracks the delta, not the dimension's history.
    */
  def scd2Merge(prior: DataFrame, deltaEv: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
    val carried = prior.filter(col("is_current"))
      .select(col("user_id"), col("event_type").as("carry_type"),
        col("version").as("carry_version"))
    val newRows = deltaEv
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .join(carried, Seq("user_id"), "left")
      // only the FIRST delta head can continue the carried run; later
      // heads differ from their in-delta predecessor by construction
      .withColumn("head_idx", row_number().over(w))
      .filter(!(col("head_idx") === 1 && col("carry_type").isNotNull &&
        col("event_type") === col("carry_type")))
      .withColumn("new_idx", row_number().over(w).cast("long"))
      .withColumn("valid_from_us", col("t_us"))
      .withColumn("valid_to_us", lead(col("t_us"), 1).over(w))
      .withColumn("version", coalesce(col("carry_version"), lit(0L)) + col("new_idx"))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(col("user_id"), col("event_type"), col("valid_from_us"),
        col("valid_to_us"), col("version"), col("is_current"))
    val closeAt = newRows.groupBy(col("user_id"))
      .agg(min(col("valid_from_us")).as("close_at"))
    prior.join(closeAt, Seq("user_id"), "left")
      .withColumn("valid_to_us",
        when(col("is_current") && col("close_at").isNotNull, col("close_at"))
          .otherwise(col("valid_to_us")))
      .withColumn("is_current", col("is_current") && col("close_at").isNull)
      .drop("close_at")
      .unionByName(newRows)
      .orderBy(col("user_id"), col("version"))
  }

  /** Last-touch attribution: every purchase credits the nearest strictly
    * preceding non-purchase event type in the same user timeline (the
    * standard marketing-attribution rollup). Purchases with no prior
    * touch land in the '(none)' channel, so revenue is conserved.
    *
    * The carry is a running last(ignoreNulls) over a masked channel
    * column — forward fill's shape, frame ended at -1 so a purchase never
    * credits itself; revenue in exact cents. One user-partitioned window
    * then a hash aggregate to |types| rows. The oracle rewrites the
    * carry with the portable two-window count/max trick (see
    * forwardFillValues), so parity checks semantics, not vendor syntax.
    */
  def lastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .withColumn("chan",
        when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("touch", last(col("chan"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("(none)")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("revenue_cents"))
      .orderBy(col("channel"))
  }

  /** First-touch attribution — the complementary marketing model to
    * [[lastTouchAttribution]]: every purchase credits the user's FIRST
    * channel event ever (acquisition credit), rather than the most recent
    * one (conversion credit); running both and comparing the two revenue
    * splits is precisely how a marketing team brackets a channel's true
    * contribution. Purchases before any channel touch credit '(none)',
    * conserving revenue. Same single user-partitioned window as the
    * last-touch pass (first(ignoreNulls) instead of last), then a hash
    * aggregate to |types| rows; the oracle rewrites the carry with the
    * portable first-touch join (touch with running count 1).
    */
  def firstTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, dir)
      .withColumn("chan",
        when(col("event_type") =!= "purchase", col("event_type")))
      .withColumn("touch", first(col("chan"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("(none)")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("revenue_cents"))
      .orderBy(col("channel"))
  }

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution — the
    * model between [[firstTouchAttribution]] and [[lastTouchAttribution]]:
    * each purchase splits its revenue 40% to the user's first touch, 40%
    * to the most recent touch, and 20% evenly across the middle touches
    * (one touch takes all; two split half-half). All credit is exact
    * integer cents — the first touch absorbs every truncation remainder,
    * so per-purchase credit sums to the purchase EXACTLY and the three
    * attribution models are revenue-conserving against each other
    * (OperatorSpec pins that equality).
    *
    * 100 TB shape: NO touches-x-purchases join (the naive model is
    * quadratic in per-user activity). One user-partitioned window pass
    * carries first/last channel and a running count PER CHANNEL (the
    * channel slate is catalog-sized — |event types| columns over the one
    * sorted pass), so each purchase prices every channel's middle count
    * from projections alone; an |channels|-wide explode then one hash
    * aggregate. The oracle spells the same semantics with the quadratic
    * pair join — fine at oracle scale, and the parity check proves the
    * window form equivalent.
    */
  def positionAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
    // catalog-sized channel slate (|event types|), deterministic order
    val channels = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chan = when(col("event_type") =!= "purchase", col("event_type"))
    val carried = channels.zipWithIndex.foldLeft(
      ev.withColumn("first_chan", first(chan, ignoreNulls = true).over(w))
        .withColumn("last_chan", last(chan, ignoreNulls = true).over(w))
        .withColumn("n", sum(when(chan.isNotNull, lit(1L)).otherwise(lit(0L))).over(w))) {
      case (df, (c, i)) => df.withColumn(s"cnt_$i",
        sum(when(col("event_type") === c, lit(1L)).otherwise(lit(0L))).over(w))
    }
    val priced = carried.filter(col("event_type") === "purchase")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("last_credit",
        when(col("n") >= 3, expr("(cents * 4) DIV 10"))
          .when(col("n") === 2, expr("cents DIV 2"))
          .otherwise(lit(0L)))
      .withColumn("mid_each",
        when(col("n") >= 3, expr("(cents * 2) DIV (10 * (n - 2))"))
          .otherwise(lit(0L)))
      .withColumn("first_credit",
        col("cents") - col("last_credit")
          - col("mid_each") * greatest(col("n") - 2, lit(0L)))
    val slates = channels.zipWithIndex.map { case (c, i) =>
      val isFirst = when(col("first_chan") === c, lit(1L)).otherwise(lit(0L))
      val isLast = when(col("n") >= 2 && col("last_chan") === c, lit(1L))
        .otherwise(lit(0L))
      val mids = coalesce(col(s"cnt_$i"), lit(0L)) - isFirst - isLast
      struct(lit(c).as("channel"),
        (isFirst * col("first_credit") + isLast * col("last_credit")
          + col("mid_each") * mids).as("credit"),
        isFirst.as("is_first"), isLast.as("is_last"),
        (mids + isFirst + isLast).as("part"))
    } :+ {
      val isNone = when(col("n") === 0, lit(1L)).otherwise(lit(0L))
      struct(lit("(none)").as("channel"),
        (isNone * col("cents")).as("credit"),
        isNone.as("is_first"), isNone.as("is_last"), isNone.as("part"))
    }
    priced.select(explode(array(slates: _*)).as("x"))
      .groupBy(col("x.channel").as("channel"))
      .agg(sum(col("x.is_first")).as("n_first"),
        sum(col("x.is_last")).as("n_last"),
        sum(col("x.credit")).as("credit_cents"),
        sum(col("x.part")).as("parts"))
      .filter(col("parts") > 0)
      .drop("parts")
      .orderBy(col("channel"))
  }

  /** [[positionAttribution]] as portable SQL — the quadratic
    * touches-join-purchases spelling (oracle scale only; the operator's
    * window form is the one that survives 100 TB).
    */
  private[graft] def positionAttributionSql: String =
    s"""WITH ev AS (SELECT user_id, ts, event_id, event_type,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
              FROM events),
       p AS (SELECT user_id, ts, event_id, cents FROM ev
             WHERE event_type = 'purchase'),
       t AS (SELECT user_id, ts, event_id, event_type FROM ev
             WHERE event_type <> 'purchase'),
       pt AS (SELECT p.user_id, p.event_id AS pid, p.cents,
                     t.event_type AS chan, t.ts AS tts, t.event_id AS tid
              FROM p JOIN t ON p.user_id = t.user_id
               AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))),
       rk AS (SELECT pid, cents, chan,
                     row_number() OVER (PARTITION BY pid
                       ORDER BY tts, tid) AS i,
                     count(*) OVER (PARTITION BY pid) AS n
              FROM pt),
       cr AS (SELECT chan AS channel,
                     CASE WHEN i = 1 THEN 1 ELSE 0 END AS is_first,
                     CASE WHEN n >= 2 AND i = n THEN 1 ELSE 0 END AS is_last,
                     CASE WHEN n = 1 THEN cents
                          WHEN i = n THEN
                            CASE WHEN n = 2 THEN cents // 2
                                 ELSE (cents * 4) // 10 END
                          WHEN i = 1 THEN cents
                            - (CASE WHEN n = 2 THEN cents // 2
                                    ELSE (cents * 4) // 10 END)
                            - (CASE WHEN n >= 3 THEN
                                 (n - 2) * ((cents * 2) // (10 * (n - 2)))
                               ELSE 0 END)
                          ELSE (cents * 2) // (10 * (n - 2)) END AS credit
              FROM rk),
       np AS (SELECT '(none)' AS channel, 1 AS is_first, 1 AS is_last,
                     cents AS credit
              FROM p WHERE NOT EXISTS
                (SELECT 1 FROM t WHERE t.user_id = p.user_id
                  AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))))
       SELECT channel,
              CAST(sum(is_first) AS BIGINT) AS n_first,
              CAST(sum(is_last) AS BIGINT) AS n_last,
              CAST(sum(credit) AS BIGINT) AS credit_cents
       FROM (SELECT * FROM cr UNION ALL SELECT * FROM np) u
       GROUP BY channel ORDER BY channel"""

  /** Time-decay attribution — the recency-weighted model that completes
    * the standard set (first/last/U-shaped/Markov/this): every purchase
    * splits its revenue across the user's prior touches with weight
    * 2^(-age_days), so yesterday's ad earns twice last week's. Exact
    * integer weights: w = 1024 >> age for whole-day ages 0..9, zero past
    * the 10-day horizon (a touch older than ten days earns nothing —
    * the bounded-horizon contract that also makes the operator scale-
    * safe); same-day touches must PRECEDE the purchase event. Credits
    * are exact-cents apportioned per purchase: floor shares by weight,
    * remainder to the heaviest channel (ties by name) — conservation is
    * exact, spec-pinned against the other models. Touchless purchases
    * credit '(none)'.
    *
    * 100 TB shape: NO touches-x-purchases join. Same-day-prior counts
    * ride one (user, day)-windowed channel slate (the positionAttribution
    * trick); prior days collapse to a (user, channel, day) count frame
    * joined through a BOUNDED explode of 9 day-offsets per purchase
    * (equi-join on (user, day) — never a range join); the apportion
    * windows partition by purchase id over <= |channels| rows each.
    */
  def timeDecayAttribution(s: SparkSession, dir: String,
                           horizon: Int = 9): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"),
        expr("CAST(unix_micros(ts) DIV 1000000 DIV 86400 AS BIGINT)").as("day"))
    val channels = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val slate = channels.zipWithIndex.foldLeft(ev) { case (df, (c, i)) =>
      df.withColumn(s"sd_$i",
        sum(when(col("event_type") === c, lit(1L)).otherwise(lit(0L))).over(wDay))
    }
    val purchases = slate.filter(col("event_type") === "purchase")
      .select(Seq(col("user_id"), col("event_id").as("pid"),
        col("day").as("pday"), col("cents")) ++
        channels.indices.map(i => coalesce(col(s"sd_$i"), lit(0L)).as(s"sd_$i")): _*)
      .localCheckpoint(true) // two consumers: W build + the '(none)' anti
    val daily = ev.filter(col("event_type") =!= "purchase")
      .groupBy(col("user_id"), col("event_type").as("channel"), col("day"))
      .agg(count(lit(1)).as("c"))
    val prior = purchases
      .select(col("user_id"), col("pid"), col("pday"),
        explode(expr(s"sequence(1, $horizon)")).as("k"))
      .join(daily, Seq("user_id"))
      .filter(col("day") === col("pday") - col("k"))
      .select(col("pid"), col("channel"),
        expr("c * shiftright(1024, CAST(k AS INT))").as("w"))
    val sameDay = purchases.select(col("pid"),
      explode(array(channels.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("channel"), (col(s"sd_$i") * 1024L).as("w"))
      }: _*)).as("x"))
      .select(col("pid"), col("x.channel").as("channel"), col("x.w").as("w"))
    val wByChan = prior.unionByName(sameDay)
      .groupBy(col("pid"), col("channel")).agg(sum(col("w")).as("w"))
      .filter(col("w") > 0)
    val wp = Window.partitionBy(col("pid"))
    val wr = Window.partitionBy(col("pid"))
      .orderBy(col("w").desc, col("channel"))
    val credited = wByChan
      .join(purchases.select(col("pid"), col("cents")), Seq("pid"))
      .withColumn("wtot", sum(col("w")).over(wp))
      .withColumn("fl", expr("(cents * w) DIV wtot"))
      .withColumn("rk", row_number().over(wr))
      .withColumn("credit",
        col("fl") + when(col("rk") === 1,
          col("cents") - sum(col("fl")).over(wp)).otherwise(lit(0L)))
    val none = purchases
      .join(wByChan.select(col("pid")).distinct(), Seq("pid"), "left_anti")
      .select(lit("(none)").as("channel"), col("cents").as("credit"))
    credited.select(col("channel"), col("credit"))
      .unionByName(none)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("credit")).as("credit_cents"))
      .orderBy(col("channel"))
  }

  /** [[timeDecayAttribution]] as templated SQL — the oracle spells the
    * quadratic touches-join-purchases form (oracle scale only; the
    * operator's bounded-explode form is the one that survives 100 TB).
    */
  private[graft] def timeDecayAttributionSql(horizon: Int): String = {
    val w = "(1024 >> CAST(p.pday - t.tday AS INT))"
    s"""WITH e AS (SELECT user_id, event_id, event_type,
             CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents,
             epoch_us(ts) AS t_us,
             CAST(epoch_us(ts) // 1000000 // 86400 AS BIGINT) AS day
           FROM events),
       p AS (SELECT user_id, event_id AS pid, t_us, day AS pday, cents
             FROM e WHERE event_type = 'purchase'),
       t AS (SELECT user_id, event_id, event_type AS channel, t_us,
                    day AS tday
             FROM e WHERE event_type <> 'purchase'),
       wrows AS (SELECT p.pid, t.channel, CAST(sum($w) AS BIGINT) AS w
             FROM p JOIN t ON p.user_id = t.user_id
              AND (t.t_us < p.t_us OR (t.t_us = p.t_us AND t.event_id < p.pid))
              AND p.pday - t.tday <= $horizon
             GROUP BY p.pid, t.channel
             HAVING sum($w) > 0),
       cr AS (SELECT wrows.pid, channel, w, p.cents,
                     sum(w) OVER (PARTITION BY wrows.pid) AS wtot,
                     row_number() OVER (PARTITION BY wrows.pid
                       ORDER BY w DESC, channel) AS rk
              FROM wrows JOIN p ON wrows.pid = p.pid),
       fl AS (SELECT pid, channel, rk, cents,
                     (cents * w) // wtot AS fl,
                     sum((cents * w) // wtot) OVER (PARTITION BY pid) AS flsum
              FROM cr),
       credited AS (SELECT channel,
                     fl + CASE WHEN rk = 1 THEN cents - flsum ELSE 0 END AS credit
              FROM fl),
       none AS (SELECT '(none)' AS channel, cents AS credit FROM p
                WHERE NOT EXISTS (SELECT 1 FROM wrows WHERE wrows.pid = p.pid))
       SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
              CAST(sum(credit) AS BIGINT) AS credit_cents
       FROM (SELECT * FROM credited UNION ALL SELECT * FROM none) u
       GROUP BY channel ORDER BY channel"""
  }

  /** Markov-chain (removal-effect) attribution — the data-driven model
    * that completes the first/last/position family: journeys become a
    * first-order Markov chain (START -> channels -> CONV | DROP), and a
    * channel's credit is how much total conversion probability disappears
    * when every transition INTO that channel is redirected to loss (the
    * Anderl et al. removal-effect construction, public literature).
    * Unlike the rule-based models it prices channels by their structural
    * position in real paths — a channel that only ever precedes drops
    * earns nothing even if it is frequent.
    *
    * Journey contract: each user's timeline ordered by (ts, event_id) up
    * to and INCLUDING the first purchase (CONV, absorbing); users who
    * never purchase terminate in DROP. Absorption probability is computed
    * by `iters` rounds of fixed-point value iteration in exact 1e-9
    * integer units — p_k(s) = sum_d cnt(s,d)*p_{k-1}(d) DIV n(s) — so the
    * result is bit-reproducible on any engine and partitioning (bounded-
    * round semantics is the contract, the connectedComponents discipline;
    * both engines run identical rounds). All removal scenarios iterate
    * JOINTLY: the state frame carries a scenario key rm in
    * {(base)} ∪ channels and the removed channel's value is clamped to 0
    * each round, so one K-round chain prices every channel at once. The
    * scenario set is the channels OBSERVED INSIDE JOURNEYS (distinct
    * transition srcs minus START): a channel type seen only after
    * conversions is journey-external — it could only ever price at zero
    * removal effect — and emits no row.
    *
    * 100 TB shape: ONE user-partitioned window pass over the fact stream
    * builds the transition counts (map-side-combinable aggregate to
    * <= |states|^2 <= ~50 rows); everything after — scenarios x states
    * value frame, K join-aggregate rounds, the readout — is catalog-sized
    * and derives from the CHECKPOINTED transition frame (the corpus is
    * touched exactly once).
    * sum(cnt*p) holds in BIGINT while n_transitions < 9e9; past that,
    * lift the products to DECIMAL(38,0) (documented hatch, cf. assocRules).
    */
  def markovAttribution(s: SparkSession, dir: String, iters: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pos = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")).as("state"))
      .withColumn("i", row_number().over(w).cast("long"))
      .drop("ts", "event_id")
    val conv = pos.filter(col("state") === "CONV")
      .groupBy(col("user_id")).agg(min(col("i")).as("ci"))
    val wj = Window.partitionBy(col("user_id")).orderBy(col("i"))
    val st = pos.join(conv, Seq("user_id"), "left")
      .filter(col("ci").isNull || col("i") <= col("ci"))
      .withColumn("src", coalesce(lag(col("state"), 1).over(wj), lit("START")))
      .withColumn("drops", col("ci").isNull && lead(col("i"), 1).over(wj).isNull)
    // transition counts: the only corpus-sized aggregate in the operator
    val trans = st.select(col("src"), col("state").as("dst"))
      .unionByName(st.filter(col("drops"))
        .select(col("state").as("src"), lit("DROP").as("dst")))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    // scenario set from the CHECKPOINTED transition frame, not pos —
    // deriving from pos would re-run the corpus window pass just to list
    // ~5 channels. Every journey state appears as a src (it either has a
    // successor or gets the DROP terminal), so distinct src \ {START} is
    // exactly the journey channels at catalog size.
    val channels = trans.filter(col("src") =!= "START")
      .select(col("src").as("rm")).distinct()
    markovFromTransitions(s, trans, channels, iters)
  }

  /** The removal-effect value iteration over a prepared transition-count
    * frame — shared by [[markovAttribution]] and the streaming face
    * (whose per-user state emits the same steps incrementally;
    * StreamingSpec pins the replayed counts + this epilogue equal to the
    * batch operator). `trans` is (src, dst, cnt) including the DROP
    * terminals; `channels` is the removal-scenario frame (one row per
    * channel, no specials). Everything here is catalog-sized.
    */
  private[graft] def markovFromTransitions(s: SparkSession, trans: DataFrame,
                                           channels: DataFrame,
                                           iters: Int): DataFrame = {
    // r15 optimization round (guide §1.2 step 1 / §2.4 — remove shuffles
    // outright): the value iteration is CATALOG-sized (|states| ~ channels
    // + START/CONV/DROP, |transitions| <= |states|^2 ~ 50 rows), yet the
    // former join-aggregate spelling paid one broadcast build + one
    // exchange per round — at iters=12 that is ~24 shuffle/broadcast
    // stages of 33-34 near-empty tasks each, and the stage probe measured
    // the whole 3-4s bench wall as exactly that scheduling constant (no
    // stage over 0.54s, every round's taskRunSum dominated by per-task
    // setup). The rounds now run as ONE whole-stage-codegen'd aggregate()
    // fold over the transition array, collected to a single row by a
    // global collect_list (trans is already checkpointed and ~50 rows):
    //   p_k[i] = 0                         if state_i = rm (removal clamp)
    //          = 1e9                       if state_i = CONV (absorbing)
    //          = 0                         if state_i is never a src
    //            (absent-row-is-zero in the old spelling: a state with no
    //             outgoing transitions simply had no row after round 1)
    //          = (sum_e cnt_e * p_{k-1}[dst_e]) DIV n_i   otherwise.
    // Long sums are order-independent and DIV is unchanged, so the result
    // is bit-identical (DriftAuditSpec's in-memory reference, the DuckDB
    // oracle, and the SQL twin all pin it; MarkovFoldSpec pins the edge
    // cases: removal clamp, DROP handling, empty input). Scale: the corpus
    // pass (transition counting) is untouched; only the post-aggregation
    // catalog-sized math moved, so the 100 TB story is unchanged.
    val one = trans
      .groupBy()
      .agg(sort_array(collect_list(struct(col("src"), col("dst"),
        col("cnt")))).as("tr"))
      .withColumn("st", expr(
        """array_sort(array_distinct(concat(
             transform(tr, t -> t.src), transform(tr, t -> t.dst))))"""))
      .withColumn("ed", expr(
        """transform(tr, t -> struct(
             CAST(array_position(st, t.src) AS INT) AS si,
             CAST(array_position(st, t.dst) AS INT) AS di,
             t.cnt AS cnt))"""))
      .withColumn("nn", expr(
        """transform(st, x -> aggregate(filter(tr, t -> t.src = x),
             CAST(0 AS BIGINT), (a, t) -> a + t.cnt))"""))
      .select("st", "ed", "nn")
    val scen = channels
      .unionByName(s.range(1).select(lit("(base)").as("rm")))
    // the START guard keeps empty-input behavior identical to the old
    // spelling (no transitions -> no START row -> empty output) and
    // avoids element_at(_, 0) under ANSI
    val p0 =
      """transform(st, x -> CAST(CASE WHEN x = 'CONV'
           THEN 1000000000 ELSE 0 END AS BIGINT))"""
    // sequence(1, 0) DESCENDS in Spark ([1, 0]), it is not empty — guard
    // iters < 1 by skipping the fold (the old loop ran zero rounds)
    val pFinal = if (iters < 1) p0 else
      s"""aggregate(sequence(1, $iters), $p0,
            (p, k) -> transform(sequence(1, size(st)), i ->
              CASE WHEN element_at(st, i) = rm THEN CAST(0 AS BIGINT)
                   WHEN element_at(st, i) = 'CONV'
                     THEN CAST(1000000000 AS BIGINT)
                   WHEN element_at(nn, i) = 0 THEN CAST(0 AS BIGINT)
                   ELSE aggregate(filter(ed, e -> e.si = i),
                          CAST(0 AS BIGINT),
                          (a, e) -> a + e.cnt * element_at(p, e.di))
                        DIV element_at(nn, i)
              END))"""
    val pStart = scen.crossJoin(broadcast(one))
      .select(col("rm"), expr(
        s"""CASE WHEN array_position(st, 'START') > 0 THEN element_at(
              $pFinal,
              CAST(array_position(st, 'START') AS INT)) END""").as("p"))
      .filter(col("p").isNotNull)
    val base = pStart.filter(col("rm") === "(base)")
      .select(col("p").as("p_base"))
    pStart.crossJoin(broadcast(base))
      .select(col("rm").as("channel"),
        col("p").as("p_removed_1e9"),
        when(col("rm") === "(base)" || col("p_base") === 0, lit(0L))
          .otherwise(expr("((p_base - p) * 1000000) DIV p_base"))
          .as("removal_1e6"))
      .orderBy(col("channel"))
  }

  /** [[markovAttribution]] as one SQL statement with the value iteration
    * unrolled (the pagerank pattern).
    */
  private[graft] def markovAttributionSql(iters: Int): String = {
    val header =
      s"""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS t_us,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS state
           FROM events),
         pos AS (SELECT user_id, state,
             CAST(row_number() OVER (PARTITION BY user_id
               ORDER BY t_us, event_id) AS BIGINT) AS i
           FROM ev),
         cv AS (SELECT user_id, min(i) AS ci FROM pos
                WHERE state = 'CONV' GROUP BY user_id),
         st AS (SELECT j.user_id, j.i, j.state, j.ci,
             coalesce(lag(j.state) OVER (PARTITION BY j.user_id ORDER BY j.i),
                      'START') AS src,
             CASE WHEN j.ci IS NULL AND lead(j.i) OVER (PARTITION BY j.user_id
               ORDER BY j.i) IS NULL THEN 1 ELSE 0 END AS drops
           FROM (SELECT p.user_id, p.i, p.state, c.ci
                 FROM pos p LEFT JOIN cv c ON p.user_id = c.user_id
                 WHERE c.ci IS NULL OR p.i <= c.ci) j),
         tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt FROM (
                 SELECT src, state AS dst FROM st
                 UNION ALL
                 SELECT state AS src, 'DROP' AS dst FROM st WHERE drops = 1) u
                GROUP BY src, dst),
         ns AS (SELECT src, CAST(sum(cnt) AS BIGINT) AS n FROM tr GROUP BY src),
         scen AS (SELECT DISTINCT src AS rm FROM tr WHERE src <> 'START'
                  UNION ALL SELECT '(base)' AS rm),
         sts AS (SELECT src AS state FROM tr
                 UNION SELECT dst AS state FROM tr),
         it0 AS (SELECT s.rm, t.state,
             CAST(CASE WHEN t.state = 'CONV' THEN 1000000000 ELSE 0 END
                  AS BIGINT) AS p
           FROM scen s CROSS JOIN sts t)"""
    val steps = (1 to iters).map { k =>
      s"""it$k AS (
           SELECT p.rm, t.src AS state,
                  CASE WHEN t.src = p.rm THEN CAST(0 AS BIGINT)
                       ELSE sum(t.cnt * p.p) // max(n2.n) END AS p
           FROM tr t JOIN it${k - 1} p ON t.dst = p.state
           JOIN ns n2 ON t.src = n2.src
           GROUP BY p.rm, t.src
           UNION ALL
           SELECT rm, 'CONV' AS state, CAST(1000000000 AS BIGINT) AS p
           FROM scen)"""
    }
    (header +: steps).mkString(",\n") +
      s""",
         bs AS (SELECT p AS p_base FROM it$iters
                WHERE rm = '(base)' AND state = 'START')
         SELECT x.rm AS channel,
                CAST(x.p AS BIGINT) AS p_removed_1e9,
                CAST(CASE WHEN x.rm = '(base)' OR b.p_base = 0 THEN 0
                     ELSE ((b.p_base - x.p) * 1000000) // b.p_base
                     END AS BIGINT) AS removal_1e6
         FROM it$iters x CROSS JOIN bs b
         WHERE x.state = 'START'
         ORDER BY channel"""
  }

  /** Time-weighted average value (TWAP) per user: each event's value
    * holds until the user's next event (the step-function/LOCF reading of
    * a sampled signal), and the average weights every held value by how
    * long it held — the billing/exposure primitive where a flat per-event
    * mean is simply wrong (one week at value 100 must outweigh ten
    * back-to-back ticks at 5).
    *
    * Exact integers throughout: durations in WHOLE SECONDS
    * ((next_us - t_us) DIV 1e6 — truncation is part of the contract and
    * identical on both engines), values in half-up cents, the quotient
    * emitted half-up 1e-4. cents x seconds keeps the weighted sum inside
    * BIGINT to ~2e5 user-years of held cents — the microsecond version
    * overflows at one user-month, which is why seconds are the contract
    * (DECIMAL(38,0) hatch documented for colder keys).
    *
    * Users with a single event have no held interval and drop out
    * (span_s > 0): a point mass has no time-weighted reading. One
    * user-partitioned window (lead) + one hash aggregate.
    */
  def timeWeightedValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .withColumn("t_us", unix_micros(col("ts")))
      .withColumn("dur_s",
        expr("(lead(t_us, 1) OVER (PARTITION BY user_id ORDER BY t_us, event_id) - t_us) DIV 1000000"))
      .filter(col("dur_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_held"),
        sum(col("dur_s")).as("span_s"),
        sum(expr("cents * dur_s")).as("wsum"))
      .filter(col("span_s") > 0)
      .select(col("user_id"), col("n_held"), col("span_s"),
        expr("CAST((20000 * wsum + span_s) DIV (2 * span_s) AS BIGINT)")
          .as("twap_1e4"))
      .orderBy(col("user_id"))
  }

  /** [[timeWeightedValue]] as DuckDB SQL. */
  private[graft] def timeWeightedValueSql: String =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t_us,
             CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
           FROM events),
       d AS (SELECT user_id, cents,
             (lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id)
              - t_us) // 1000000 AS dur_s
           FROM e),
       agg AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_held,
                      CAST(sum(dur_s) AS BIGINT) AS span_s,
                      CAST(sum(cents * dur_s) AS BIGINT) AS wsum
               FROM d WHERE dur_s IS NOT NULL GROUP BY user_id)
       SELECT user_id, n_held, span_s,
              CAST((20000 * wsum + span_s) // (2 * span_s) AS BIGINT) AS twap_1e4
       FROM agg WHERE span_s > 0 ORDER BY user_id"""

  /** Exponentially-weighted moving average of event value per user:
    * decay 1/2 per step over the trailing 6 events (current + 5 lags),
    * entirely in integers — weights are the exact powers 32,16,8,4,2,1
    * over half-up cents, the quotient emitted half-up in 1e-4 cent units
    * (the monitoring-pipeline smoother, where EWMA beats a flat moving
    * average by discounting stale events; cf. movingAverage for the
    * unweighted sibling).
    *
    * The six lag() calls share ONE window spec — one shuffle+sort keyed
    * on user_id, no per-row loop, no float pow(). A longer horizon at
    * scale stays this same shape (k lags = k projections over the one
    * sorted pass) until k is large enough that the closed-form
    * recurrence via mapGroups is cheaper.
    */
  def ewmaUserValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val base = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("cents"))
    val terms = (0 to 5).map { k =>
      val weight = 1L << (5 - k)
      val c = if (k == 0) col("cents") else lag(col("cents"), k).over(w)
      (when(c.isNotNull, c * lit(weight)).otherwise(lit(0L)),
       when(c.isNotNull, lit(weight)).otherwise(lit(0L)))
    }
    base
      .withColumn("num", terms.map(_._1).reduce(_ + _))
      .withColumn("den", terms.map(_._2).reduce(_ + _))
      // half-up fixed point; den >= 1 because the current row always counts.
      // Sign-safe across all three surfaces: Spark DIV, Java Long `/`
      // (streaming twin), and DuckDB `//` on BIGINT all truncate toward
      // zero (DuckDB verified: (-7)//2 = -3), so negative cents cannot
      // desync batch/stream/oracle.
      .withColumn("ewma_1e4", expr("(20000 * num + den) DIV (2 * den)"))
      .select(col("user_id"), col("event_id"), col("cents"), col("ewma_1e4"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Throttle-style event dedup: within each (user, event_type) timeline,
    * keep an event only when it lands strictly MORE than `windowHours`
    * after the last KEPT event — the true rate-limiter recurrence
    * (alerting, notification-dedup, at-most-N-per-period feeds). Distinct
    * from a lag()-gap filter: after a drop the clock still runs from the
    * last kept event, so a slow drizzle inside the window collapses to
    * one survivor per window hop, not zero (the lag form under-keeps;
    * both engines agree this keeps 811 vs lag's 790 on the sf0.001
    * fixture at 12h).
    *
    * The kept set is a prefix-dependent recurrence — not expressible as
    * one window function — so this is the honest use of the typed
    * Dataset API: groupByKey + flatMapSortedGroups, where the SHUFFLE's
    * sort (not a per-task buffer) delivers each (user, type) timeline in
    * (t_us, event_id) order and the recurrence streams the iterator with
    * O(1) state per group — one Long and no materialized array, so even a
    * whale timeline costs sort-spill, never task memory. The SQL surfaces
    * reach the same fixed point with a bounded recursive CTE over a
    * precomputed next-beyond-window pointer table.
    *
    * 100 TB shape: ONE shuffle on (user_id, event_type) — the same key
    * sessionization pays — whose sort-merge delivers ordered runs; the
    * per-group pass is linear and constant-memory.
    */
  def throttleDedup(s: SparkSession, dir: String, windowHours: Int = 24): DataFrame = {
    import s.implicits._
    val winUs = windowHours * 3600L * 1000000L
    Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("t_us"))
      .as[(Long, String, Long, Long)]
      .groupByKey(e => (e._1, e._2))
      .flatMapSortedGroups(col("t_us"), col("event_id")) {
        (key: (Long, String), it: Iterator[(Long, String, Long, Long)]) =>
          var lastKept = Long.MinValue
          it.flatMap { e =>
            if (lastKept == Long.MinValue || e._4 > lastKept + winUs) {
              lastKept = e._4
              Some((key._1, key._2, e._3, e._4))
            } else None
          }
      }
      .toDF("user_id", "event_type", "event_id", "t_us")
      .orderBy(col("user_id"), col("event_type"), col("t_us"), col("event_id"))
  }

  /** Sweep-line interval union: each event opens an activity interval
    * [ts, ts + holdMinutes]; per user, overlapping-or-touching intervals
    * merge into blocks and the report is the user's merged-block count,
    * total covered micros, and covered/span density — "how much wall
    * clock was this user actually active", the billing/engagement metric
    * a raw sum of interval lengths double-counts (the reference's
    * BigQuery users express this as the classic gaps-and-islands SQL).
    *
    * Sweep-line via ONE window: a new block starts where the interval's
    * start exceeds the running max of all previous ends (running max is
    * O(1) window state, not a buffer); block ids are the running sum of
    * those flags over the same sorted pass. Two more hash aggregates
    * collapse blocks and users.
    *
    * 100 TB shape: a single shuffle+sort on user_id (the shape
    * sessionization pays) feeds both windows; everything after is
    * map-side-combined aggregation. No self-join of intervals — the
    * O(n²) formulation this replaces — and no per-group memory beyond
    * the two running scalars.
    */
  def intervalUnionTime(s: SparkSession, dir: String,
                        holdMinutes: Int = 5): DataFrame = {
    val holdUs = holdMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val prevMaxEnd =
      max(col("end_us")).over(byUser.rowsBetween(Window.unboundedPreceding, -1))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("end_us", col("ts_us") + holdUs)
      .withColumn("new_block",
        when(prevMaxEnd.isNull || col("ts_us") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("block_id", sum(col("new_block")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("block_id"))
      .agg(min(col("ts_us")).as("b_start"), max(col("end_us")).as("b_end"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("b_end") - col("b_start")).as("covered_us"),
        (max(col("b_end")) - min(col("b_start"))).as("span_us"))
      // half-up fixed point; span_us >= covered_us >= holdUs > 0
      .withColumn("density_1e4",
        expr("(20000 * covered_us + span_us) DIV (2 * span_us)"))
      .orderBy(col("user_id"))
  }

  /** Session path mining: sessionize (same 30-minute-gap definition as
    * sessionizeBatch), truncate each session to its first maxLen event
    * types, and rank the topK most common paths with their half-up
    * fixed-point share of all sessions — the "what do users actually do"
    * path report behind funnel design (transitions are its first-order
    * marginal; this keeps the full prefix).
    *
    * 100 TB shape: the user-keyed shuffle+sort sessionization already
    * pays, then row_number TRUNCATES each session to maxLen rows BEFORE
    * collect_list — per-group state is bounded at maxLen structs, so a
    * whale session costs its window sort, never task memory. Path counts
    * are one hash aggregate on a domain bounded by |types|^maxLen; the
    * global topK goes through orderBy+limit (TakeOrderedAndProject:
    * per-partition top-k, merge of k-row heads) and only the surviving
    * topK rows enter the single-partition rank window.
    */
  def sessionPaths(s: SparkSession, dir: String, gapMinutes: Int = 30,
                   maxLen: Int = 5, topK: Int = 20): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val paths = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .withColumn("new_session",
        when(col("ts_us") - lag(col("ts_us"), 1).over(byUser) > gapUs
          || lag(col("ts_us"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(bySess))
      .filter(col("rn") <= maxLen)
      .groupBy(col("user_id"), col("session_id"))
      // rn is unique within the group, so the struct sort is a total order
      .agg(array_sort(collect_list(struct(col("rn"), col("event_type")))).as("steps"))
      .select(expr("array_join(transform(steps, x -> x.event_type), '>')").as("path"))
    val counts = paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
    val total = counts.agg(sum(col("n_sessions")).as("t"))
    val top = counts.crossJoin(broadcast(total))
      .withColumn("share_1e4", expr("(20000 * n_sessions + t) DIV (2 * t)"))
      .orderBy(col("n_sessions").desc, col("path")).limit(topK)
    top
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
      .select(col("rk").cast("long").as("rk"), col("path"),
        col("n_sessions"), col("share_1e4"))
      .orderBy(col("rk"))
  }

  /** Day-of-week traffic/value profile per event type: event share and
    * half-up-cents value share landing on each weekday (0 = Sunday,
    * matching DuckDB's dayofweek so the oracle needs no remap) — the
    * seasonality view behind capacity planning and anomaly baselines
    * ("is Tuesday low, or is Tuesday always low?").
    *
    * 100 TB shape: one map-side-combined hash aggregate down to
    * |types| x 7 rows; the per-type totals come from a window over that
    * tiny frame, not a second scan. Shares stay in BIGINT: the largest
    * product is 20000 * sum(cents), which fits until sum(cents) exceeds
    * ~4.6e14 per (type, dow) cell — beyond that, lift the share math to
    * DECIMAL(38,0) (both engines agree on decimal integer division).
    */
  def dowProfile(s: SparkSession, dir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    Tables.events(s, dir)
      .select(col("event_type"),
        (dayofweek(col("ts")) - 1).cast("long").as("dow"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents_sum"))
      .withColumn("type_n", sum(col("n_events")).over(byType))
      .withColumn("type_cents", sum(col("cents_sum")).over(byType))
      .withColumn("traffic_share_1e4",
        expr("(20000 * n_events + type_n) DIV (2 * type_n)"))
      .withColumn("value_share_1e4",
        expr("(20000 * cents_sum + type_cents) DIV (2 * type_cents)"))
      .select(col("event_type"), col("dow"), col("n_events"), col("cents_sum"),
        col("traffic_share_1e4"), col("value_share_1e4"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** MAD (median-absolute-deviation) robust outlier report per event
    * type — the heavy-tail-safe sibling of the Tukey fences
    * (valueOutliers): both quartiles AND the IQR inflate under
    * contamination, while the MAD's 50% breakdown point survives it.
    * Flag rule |x - median| > 3 * MAD, all in exact integers: medians are
    * carried DOUBLED (med_x2 = percentile(2*cents, 0.5) is always
    * integer — interpolating adjacent even integers lands on an integer;
    * mad_x4 likewise), so the comparison 2*|2c - med_x2| > 3*mad_x4 is
    * BIGINT-exact and the oracle (quantile_cont) agrees bit-for-bit —
    * the same interpolation-parity argument as rfmSegments.
    *
    * 100 TB shape: two broadcast-threshold passes (median, then MAD of
    * deviations) + one counting aggregate — thresholds are |types|-row
    * frames, the corpus is never sorted globally. Exact `percentile`
    * buffers per-group values on the agg task; at warehouse scale swap
    * `approx_percentile` (same plan shape), exact kept for the oracle.
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("CAST(percentile(2 * cents, CAST(0.5 AS DOUBLE)) AS BIGINT)").as("med_x2"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("d2", abs(expr("2 * cents - med_x2")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("CAST(percentile(2 * d2, CAST(0.5 AS DOUBLE)) AS BIGINT)").as("mad_x4"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("med_x2")).as("med_x2"), // constant within the group
        max(col("mad_x4")).as("mad_x4"),
        sum(when(expr("2 * d2 > 3 * mad_x4"), lit(1L)).otherwise(lit(0L)))
          .as("n_outliers"))
      .withColumn("outlier_1e4", expr("(20000 * n_outliers + n_events) DIV (2 * n_events)"))
      .orderBy(col("event_type"))
  }

  /** Behavior-overlap matrix: Jaccard similarity of the USER SETS of
    * every pair of event types ("do the people who share also purchase")
    * — the audience-overlap readout behind funnel and recommendation
    * design, and the exact twin of the HLL overlap sketch (hllOverlap):
    * this is the precise answer the sketch approximates.
    *
    * 100 TB shape: one distinct on (user, type) — cardinality bounded by
    * users x |types| — then a self-equi-join on user_id where each user
    * contributes at most |types|² ≈ 49 pairs (never a cross join of
    * events), collapsing immediately to the |types|²-row matrix; the
    * per-type set sizes broadcast back onto it.
    */
  def behaviorOverlap(s: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(s, dir)
      .select(col("user_id"), col("event_type")).distinct()
    val per = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    val a = ut.toDF("user_id", "type_a")
    val b = ut.toDF("user_id", "type_b")
    a.join(b, "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(per.toDF("type_a", "n_a")), Seq("type_a"))
      .join(broadcast(per.toDF("type_b", "n_b")), Seq("type_b"))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_both"))
      .withColumn("jaccard_1e4", expr("(20000 * n_both + n_union) DIV (2 * n_union)"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"),
        col("n_b"), col("jaccard_1e4"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** New-vs-returning daily split — the canonical web-analytics readout
    * for a traffic warehouse (the reference's dashboard consumers read
    * exactly this off BigQuery): per active day, how many distinct users
    * were seen for the first time ever vs returning, with the half-up
    * fixed-point new-user share.
    *
    * 100 TB shape: one distinct to (user, day) — the active-matrix
    * cardinality, far below raw events — then a user-keyed window min
    * for the first-seen day (O(1) state) and a hash aggregate to |days|
    * rows. No events self-join, no per-day scans. The yyyy-MM-dd string
    * orders lexicographically == chronologically, so min() needs no
    * date round-trip.
    */
  def newVsReturning(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .distinct()
    ud.withColumn("first_day", min(col("day")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), lit(1L)).otherwise(lit(0L)))
          .as("n_new"))
      .withColumn("n_returning", col("n_active") - col("n_new"))
      .withColumn("new_share_1e4", expr("(20000 * n_new + n_active) DIV (2 * n_active)"))
      .orderBy(col("day"))
  }

  /** Month-over-month revenue momentum: monthly order revenue in exact
    * half-up cents, the absolute delta vs the prior month, and the
    * percentage change in fixed-point 1e-4 units (truncated toward zero —
    * Spark DIV and DuckDB `//` on BIGINT agree, and deltas CAN be
    * negative here, unlike the all-positive EWMA path). First month emits
    * NULL delta/pct, as a reporting surface should.
    *
    * Shape: the heavy part is one map-side-combined aggregate keyed on
    * month; the lag window then runs over one row per month — a
    * catalog-sized single-partition frame regardless of fact volume
    * (100 TB of orders still yields tens of rows per decade). This is the
    * standard "aggregate first, window over the aggregate" shape that
    * keeps ordered analytics off the fact table.
    */
  /** Public (not private) so Catalyst's codegen'd encoders can reach them. */
  final case class KmStep(t_day: Long, n_risk: Long,
                          d_events: Long, c_censored: Long)
  final case class KmRow(t_day: Long, n_risk: Long, d_events: Long,
                         c_censored: Long, surv_1e9: Long)

  /** Kaplan-Meier survival curve for signup -> first purchase, with
    * right-censoring at the feed horizon — the time-to-event/retention
    * readout ("what fraction of signups have NOT converted by day t")
    * that a plain conversion rate understates whenever the feed is still
    * ingesting (recent signups haven't had time to convert; censoring
    * accounts for them instead of counting them as failures; cf.
    * conversionWindow for the fixed-window variant).
    *
    * Exact-integer product-limit: durations in floor days, survival in
    * 1e-9 units via the recurrence S <- (S * (n_t - d_t)) DIV n_t over
    * event days. One step per day with at least one conversion.
    *
    * 100 TB shape: the per-user reduction (first signup, first qualifying
    * purchase) is two user-keyed aggregates; everything after runs on ONE
    * ROW PER DISTINCT DURATION DAY — catalog-sized (a decade is ~3.6k
    * rows) — so the at-risk prefix window and the sequential product
    * recurrence (flatMapSortedGroups over the singleton group, the
    * throttle-dedup pattern: the shuffle's sort delivers rows in order,
    * O(1) memory) are a few-row epilogue regardless of fact volume. The
    * oracle and the Spark twin state the same recurrence as a recursive
    * CTE.
    */
  def survivalSignupPurchase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t_us"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("t_us")).as("t0"))
    val pu = ev.filter(col("event_type") === "purchase")
      .join(su, Seq("user_id"))
      .filter(col("t_us") >= col("t0"))
      .groupBy(col("user_id")).agg(min(col("t_us")).as("tp"))
    val bounds = ev.agg(max(col("t_us")).as("h_us"))
    val durs = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(bounds))
      .select(
        expr("""CASE WHEN tp IS NOT NULL THEN (tp - t0) DIV 86400000000
                     ELSE (h_us - t0) DIV 86400000000 END""").as("t_day"),
        expr("CASE WHEN tp IS NOT NULL THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END")
          .as("ev"))
    val days = durs.groupBy(col("t_day"))
      .agg(sum(col("ev")).as("d_events"),
        sum(lit(1L) - col("ev")).as("c_censored"))
    val tot = durs.agg(count(lit(1)).as("n"))
    // exclusive prefix over one row per distinct day: catalog-sized window
    val w = Window.orderBy(col("t_day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val steps = days.crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n") -
        coalesce(sum(col("d_events") + col("c_censored")).over(w), lit(0L)))
      .filter(col("d_events") > 0)
      .select(col("t_day"), col("n_risk"), col("d_events"), col("c_censored"))
      .as[KmStep]
    steps.groupByKey(_ => true)
      .flatMapSortedGroups(col("t_day")) { (_, it) =>
        var surv = 1000000000L
        it.map { st =>
          surv = surv * (st.n_risk - st.d_events) / st.n_risk
          KmRow(st.t_day, st.n_risk, st.d_events, st.c_censored, surv)
        }
      }
      .toDF()
      .orderBy(col("t_day"))
  }

  /** Higher-order array-function surface in one pass over embeddings —
    * the ARRAY sibling of [[customerStringShapes]]: size / filter /
    * transform / aggregate(fold) / zip_with / reverse / slice /
    * array_max / array_sort / element_at, restricted to forms with
    * identical cross-engine semantics. Doubles appear only inside
    * pinned-order folds ((0 + v1) + v2 + ... — bitwise equal to DuckDB's
    * list_reduce) and leave the query as half-up 1e-4 fixed point, the
    * dot_f convention. Pure projection: zero shuffles beyond the result
    * sort, and every lambda is codegen'd by Catalyst (no UDFs).
    */
  def embeddingArrayShapes(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "embeddings")
      .select(col("vec_id"), expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .select(
        col("vec_id"),
        expr("CAST(size(v) AS BIGINT)").as("n_dims"),
        expr("CAST(size(filter(v, x -> x > CAST(0 AS DOUBLE))) AS BIGINT)")
          .as("n_pos"),
        expr("""CAST(floor(aggregate(transform(v, x -> abs(x)),
                  CAST(0 AS DOUBLE), (a, b) -> a + b)
                * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)""")
          .as("l1_1e4"),
        expr("""CAST(floor(array_max(v) * CAST(10000 AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) AS BIGINT)""").as("max_1e4"),
        expr("""CASE WHEN size(v) = 0 THEN CAST(NULL AS BIGINT)
                ELSE CAST(floor(element_at(array_sort(v),
                       CAST(size(v) DIV 2 + 1 AS INT))
                     * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("med_1e4"),
        expr("""CAST(floor(aggregate(zip_with(v, reverse(v), (p, q) -> p * q),
                  CAST(0 AS DOUBLE), (a, b) -> a + b)
                * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)""")
          .as("revdot_1e4"),
        expr("""CAST(floor(aggregate(slice(v, 1, 3),
                  CAST(0 AS DOUBLE), (a, b) -> a + b)
                * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)""")
          .as("head3_sum_1e4"))
      .orderBy(col("vec_id"))

  /** Public for Catalyst's codegen'd encoders. */
  final case class FunnelUser(user_id: Long, stage: Long)

  /** Strictly-ordered multi-step funnel (signup -> click -> purchase):
    * how many users completed each prefix IN ORDER, where each step must
    * happen strictly after the previous step's FIRST qualifying instant
    * (the standard product-analytics funnel; eventFunnel counts unordered
    * presence, conversionWindow a single windowed step).
    *
    * One shuffle, not three: the relational formulation is a chain of
    * min-after aggregates with a join back per stage (the oracle states
    * exactly that chain); this operator instead makes ONE pass per user
    * timeline via flatMapSortedGroups — the shuffle's sort delivers
    * events in time order and the greedy stage tracker is O(1) memory.
    * At K funnel stages the join chain costs K user-keyed shuffles; the
    * sorted-group pass stays at one, which is why warehouses grow a
    * dedicated WINDOW_FUNNEL. Ties: a later step at the exact same
    * microsecond does NOT count (strict >), pinned by both surfaces.
    */
  def funnelOrdered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stages = Seq("signup", "click", "purchase")
    val perUser = Tables.events(s, dir)
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("t_us"), col("event_id"))
      .groupByKey(r => r.getLong(0))
      .flatMapSortedGroups(col("t_us"), col("event_id")) { (uid, it) =>
        var stage = 0
        var lastT = Long.MinValue
        it.foreach { r =>
          if (stage < stages.length && r.getString(1) == stages(stage) &&
              (stage == 0 || r.getLong(2) > lastT)) {
            lastT = r.getLong(2)
            stage += 1
          }
        }
        if (stage > 0) Iterator.single(FunnelUser(uid, stage.toLong))
        else Iterator.empty
      }
    // stage s counts every user whose deepest stage is >= s; the stage-1
    // row doubles as the denominator (everyone who entered the funnel)
    val counts = perUser.toDF()
      .select(explode(expr("sequence(CAST(1 AS BIGINT), stage)")).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
    counts
      .crossJoin(broadcast(counts.filter(col("stage") === 1)
        .select(col("n_users").as("n_entered"))))
      .withColumn("share_1e4",
        expr("(20000 * n_users + n_entered) DIV (2 * n_entered)"))
      .select(col("stage"), col("n_users"), col("share_1e4"))
      .orderBy(col("stage"))
  }

  /** The funnel's SQL surface: the min-after JOIN-CHAIN formulation —
    * deliberately a different algorithm than the operator's sorted-group
    * pass, so equality is an algorithmic cross-check, not an echo.
    */
  private[graft] def funnelSql: String =
    s"""WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
           FROM events e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
           GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3
           FROM events e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
           GROUP BY e.user_id),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_entered FROM s1),
         c AS (SELECT CAST(1 AS BIGINT) AS stage,
                      CAST(count(*) AS BIGINT) AS n_users FROM s1
               UNION ALL
               SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT) FROM s2
               UNION ALL
               SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT) FROM s3)
         SELECT stage, n_users,
                (20000 * n_users + n_entered) // (2 * n_entered) AS share_1e4
         FROM c CROSS JOIN n WHERE n_users > 0 ORDER BY stage"""

  /** The KM computation as one SQL statement, recursion included. */
  private[graft] def survivalSql: String =
    s"""WITH RECURSIVE su AS (
           SELECT user_id, min(epoch_us(ts)) AS t0
           FROM events WHERE event_type = 'signup' GROUP BY user_id),
         pu AS (
           SELECT e.user_id, min(epoch_us(e.ts)) AS tp
           FROM events e JOIN su ON su.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.t0
           GROUP BY e.user_id),
         bounds AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
         durs AS (
           SELECT CASE WHEN pu.tp IS NOT NULL
                       THEN (pu.tp - su.t0) // 86400000000
                       ELSE (b.h_us - su.t0) // 86400000000 END AS t_day,
                  CASE WHEN pu.tp IS NOT NULL THEN CAST(1 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS ev
           FROM su LEFT JOIN pu ON su.user_id = pu.user_id
           CROSS JOIN bounds b),
         days AS (SELECT t_day, CAST(sum(ev) AS BIGINT) AS d_events,
                         CAST(sum(1 - ev) AS BIGINT) AS c_censored
                  FROM durs GROUP BY t_day),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM durs),
         risk AS (
           -- the at-risk prefix runs over EVERY day (censor-only days
           -- still shrink later risk sets); the event-day filter comes
           -- after, in steps
           SELECT t_day, d_events, c_censored,
                  t.n - CAST(coalesce(sum(d_events + c_censored)
                    OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
           FROM days CROSS JOIN tot t),
         steps AS (
           SELECT t_day, d_events, c_censored, n_risk,
                  CAST(row_number() OVER (ORDER BY t_day) AS BIGINT) AS rk
           FROM risk WHERE d_events > 0),
         km AS (
           SELECT t_day, n_risk, d_events, c_censored, rk,
                  (1000000000 * (n_risk - d_events)) // n_risk AS surv_1e9
           FROM steps WHERE rk = 1
           UNION ALL
           SELECT s.t_day, s.n_risk, s.d_events, s.c_censored, s.rk,
                  (km.surv_1e9 * (s.n_risk - s.d_events)) // s.n_risk
           FROM km JOIN steps s ON s.rk = km.rk + 1)
         SELECT t_day, n_risk, d_events, c_censored, surv_1e9
         FROM km ORDER BY t_day"""

  def momRevenue(s: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.spread(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(sum(expr(
        "CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("rev_cents"))
    val w = Window.orderBy(col("month"))
    monthly
      .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
      .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
      .withColumn("pct_1e4", expr("(delta_cents * 10000) DIV prev_cents"))
      .orderBy(col("month"))
  }

  /** Daily value bands — the P50/P90 operational readout ("is today's
    * traffic value distribution shaped like yesterday's") behind
    * latency/value SLO dashboards. Both bands are ENGINE-EXACT integers:
    * the median rides the doubled-value trick (percentile(2·cents, 0.5)
    * interpolates adjacent even integers — always an integer, the
    * madOutliers argument), and P90 is the DISCRETE quantile — the cents
    * value at rank ceil(0.9·n) in (cents, event_id) order — because
    * continuous interpolation at 0.9 lands on arbitrary fractions no
    * integer encoding survives; rank-based selection is exact everywhere.
    *
    * 100 TB shape: the P90 rank window partitions by day (parallel across
    * days; within a day the sort is the cost — at whale-day scale swap
    * the two-level histogram CDF equalFreqBinning already uses); the
    * median is one aggregate. Output is |days| rows.
    */
  def dailyValueBands(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        expr("CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"),
        col("event_id"))
    val byDay = Window.partitionBy(col("day"))
    val ranked = ev
      .withColumn("rk", row_number().over(byDay.orderBy(col("cents"), col("event_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(byDay))
    val p90 = ranked.filter(col("rk") === expr("(9 * n + 9) DIV 10"))
      .select(col("day"), col("cents").as("p90_cents"))
    ev.groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(percentile(2 * cents, CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("p50_x2"))
      .join(p90, Seq("day"))
      .orderBy(col("day"))
  }

  /** The bands statement (quantile_cont and Spark's percentile share
    * the same linear interpolation, verified across the percentile
    * family).
    */
  private[graft] def dailyBandsSql: String =
    s"""WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
              CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_id
            FROM events),
         r AS (SELECT day, cents,
                      CAST(row_number() OVER (PARTITION BY day
                           ORDER BY cents, event_id) AS BIGINT) AS rk,
                      CAST(count(*) OVER (PARTITION BY day) AS BIGINT) AS n
               FROM ev),
         p90 AS (SELECT day, cents AS p90_cents FROM r
                 WHERE rk = (9 * n + 9) // 10),
         ag AS (SELECT day, CAST(count(*) AS BIGINT) AS n_events,
                       CAST(quantile_cont(2 * cents, 0.5) AS BIGINT) AS p50_x2
                FROM ev GROUP BY day)
         SELECT ag.day, ag.n_events, ag.p50_x2, p90.p90_cents
         FROM ag JOIN p90 ON p90.day = ag.day
         ORDER BY ag.day"""

  /** Revenue concentration: the Lorenz decile table + exact Gini over
    * per-customer purchase revenue — "what share of revenue do the
    * bottom-k% of customers carry" (the whale-dependence readout behind
    * pricing and risk decisions).
    *
    * The interesting part is the EXACT GLOBAL RANK at scale: a bare
    * `row_number() OVER (ORDER BY cents)` serializes the corpus through
    * one task (WindowExec warns exactly this), so ranks come from the
    * zorderWrite discipline instead — repartitionByRange on the sort key
    * (sampled boundaries, parallel), per-PARTITION rank windows, and a
    * broadcast prefix-count offset per partition: global_rank = local
    * rank + offset. Sampled boundaries move WHERE partitions split, but
    * never the total (cents, custkey) order, so the ranks — and
    * everything derived — are deterministic and engine-exact.
    *
    * Gini rides the rank identity G = (2·Σ(rank·x) - (n+1)·Σx) / (n·Σx)
    * in half-up 1e-4 fixed point. BIGINT holds Σ(rank·cents) to ~10^18 —
    * beyond (1e9 customers × warehouse cents) lift the sums to
    * DECIMAL(38,0), same plan.
    *
    * 100 TB shape: one customer-keyed aggregate collapses the feed; the
    * range exchange + per-partition windows are the only ordered work,
    * all parallel; the decile rollup is a 10-row aggregate with a window
    * over 10 rows.
    */
  def revenueLorenz(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("cents"))
    val ranked = RankUtils.globalRank(perCust, 32, col("cents"), col("user_id"))
      .localCheckpoint(true) // totals + decile rollup both read the ranks
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("cents")).as("total"),
      sum(col("rank") * col("cents")).as("rank_cents"))
    val deciles = ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("(10 * (rank - 1)) DIV n"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("cents_sum"),
        max(col("n")).as("n"), max(col("total")).as("total"),
        max(col("rank_cents")).as("rank_cents"))
    deciles
      .withColumn("cum_cents", sum(col("cents_sum")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_share_1e4",
        expr("(20000 * cum_cents + total) DIV (2 * total)"))
      .withColumn("gini_1e4", expr(
        "((2 * rank_cents - (n + 1) * total) * 10000 + (n * total) DIV 2) DIV (n * total)"))
      .select(col("decile"), col("n_customers"), col("cents_sum"),
        col("cum_cents"), col("cum_share_1e4"), col("gini_1e4"))
      .orderBy(col("decile"))
  }

  /** The Lorenz/Gini statement: the oracle states the NAIVE global
    * row_number formulation (fine single-node; the operator's
    * range-partitioned rank is the distributed execution strategy —
    * equality proves strategy-invisibility, the salted-join contract).
    */
  private[graft] def lorenzSql: String =
    s"""WITH pc AS (SELECT user_id,
              CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         r AS (SELECT user_id, cents,
                      CAST(row_number() OVER (ORDER BY cents, user_id)
                        AS BIGINT) AS rank
               FROM pc),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(cents) AS BIGINT) AS total,
                      CAST(sum(rank * cents) AS BIGINT) AS rank_cents
               FROM r),
         d AS (SELECT (10 * (rank - 1)) // t.n AS decile,
                      CAST(count(*) AS BIGINT) AS n_customers,
                      CAST(sum(cents) AS BIGINT) AS cents_sum,
                      max(t.n) AS n, max(t.total) AS total,
                      max(t.rank_cents) AS rank_cents
               FROM r CROSS JOIN t GROUP BY (10 * (rank - 1)) // t.n)
         SELECT decile, n_customers, cents_sum,
                CAST(sum(cents_sum) OVER w AS BIGINT) AS cum_cents,
                (20000 * CAST(sum(cents_sum) OVER w AS BIGINT) + total)
                  // (2 * total) AS cum_share_1e4,
                ((2 * rank_cents - (n + 1) * total) * 10000
                 + (n * total) // 2) // (n * total) AS gini_1e4
         FROM d
         WINDOW w AS (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY decile"""

  /** Public (not private) so Catalyst's codegen'd encoders can reach them. */
  final case class CusumDay(day: String, cents: Long, n: Long, total: Long)
  final case class CusumRow(day: String, cents: Long, s_hi: Long, s_lo: Long,
                            flag_hi: Long, flag_lo: Long)

  /** Two-sided CUSUM changepoint detector over daily event revenue (Page
    * 1954) — the level-shift monitor that a per-day threshold misses: a
    * persistent +30% drift never trips a 2x-outlier rule, but its
    * cumulative excess grows linearly and crosses the CUSUM decision
    * band within days.
    *
    * Exact-integer recurrence with mean subtraction by CROSS-MULTIPLICATION
    * (no division anywhere, so every engine agrees bit-for-bit): with n
    * days and total = sum(cents), the doubled deviation of day t is
    * 2·n·x_t - 2·total; allowance (the classic k, here half the daily
    * mean) makes the high/low steps
    *   s_hi <- max(0, s_hi + 2·n·x_t - 3·total)
    *   s_lo <- max(0, s_lo + total - 2·n·x_t)
    * and the decision band h (two mean-days) is 4·total in the same
    * units. BIGINT holds while n·cents_day < 4.6e18 — beyond that, the
    * documented DECIMAL(38,0) escape hatch.
    *
    * 100 TB shape: one map-side-combined aggregate collapses the feed to
    * |days| rows; the prefix-dependent recurrence then runs as ONE
    * flatMapSortedGroups pass over that catalog-sized frame (the
    * throttle/survival pattern: the shuffle's sort delivers days in
    * order, O(1) state). The oracle and the Spark twin state the same
    * recurrence as a recursive CTE.
    */
  def cusumChangepoint(s: SparkSession, dir: String): DataFrame =
    cusumFromDaily(
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(expr(
          "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("cents")))

  /** The CUSUM epilogue over an already-reduced (day, cents) frame —
    * shared by the batch operator and the streaming face (the daily cells
    * are complete-mode streaming state; the recurrence runs downstream of
    * the sink, where the monitor reads it anyway — the bitmapIndex
    * readout pattern).
    */
  def cusumFromDaily(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    val daily = dailyIn.localCheckpoint(true) // |days| rows, two consumers
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("cents")).as("total"))
    daily.crossJoin(broadcast(tot)).as[CusumDay]
      .groupByKey(_ => true)
      .flatMapSortedGroups(col("day")) { (_, it) =>
        var sHi = 0L
        var sLo = 0L
        it.map { d =>
          sHi = math.max(0L, sHi + 2L * d.n * d.cents - 3L * d.total)
          sLo = math.max(0L, sLo + d.total - 2L * d.n * d.cents)
          CusumRow(d.day, d.cents, sHi, sLo,
            if (sHi > 4L * d.total) 1L else 0L,
            if (sLo > 4L * d.total) 1L else 0L)
        }
      }
      .toDF()
      .orderBy(col("day"))
  }

  /** The CUSUM recurrence as one recursive-CTE statement. */
  private[graft] def cusumSql: String =
    s"""WITH RECURSIVE d AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM events GROUP BY 1),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(cents) AS BIGINT) AS total FROM d),
         s AS (SELECT day, cents,
                      CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
               FROM d),
         c AS (
           SELECT s.day, s.cents, s.rk,
                  CAST(greatest(0, 2 * t.n * s.cents - 3 * t.total) AS BIGINT)
                    AS s_hi,
                  CAST(greatest(0, t.total - 2 * t.n * s.cents) AS BIGINT)
                    AS s_lo
           FROM s CROSS JOIN t WHERE s.rk = 1
           UNION ALL
           SELECT s.day, s.cents, s.rk,
                  CAST(greatest(0, c.s_hi + 2 * t.n * s.cents - 3 * t.total)
                    AS BIGINT),
                  CAST(greatest(0, c.s_lo + t.total - 2 * t.n * s.cents)
                    AS BIGINT)
           FROM c JOIN s ON s.rk = c.rk + 1 CROSS JOIN t)
         SELECT c.day, c.cents, c.s_hi, c.s_lo,
                CAST(CASE WHEN c.s_hi > 4 * t.total THEN 1 ELSE 0 END
                  AS BIGINT) AS flag_hi,
                CAST(CASE WHEN c.s_lo > 4 * t.total THEN 1 ELSE 0 END
                  AS BIGINT) AS flag_lo
         FROM c CROSS JOIN t ORDER BY c.day"""

  /** Winsorized robust mean of order value per priority: exact integer
    * P5/P95 order statistics clamp the tails, then the mean runs over
    * the clamped values — the outlier-robust location estimate a value
    * monitor trusts when whale orders would drag a plain mean
    * ([[madOutliers]] flags the whales; this prices the distribution
    * with them neutralized). All cents-integer arithmetic, half-up at
    * the single final division, so the oracle compare is bit-stable.
    *
    * 100 TB shape: rows collapse once to per-(priority, cents) counts
    * (map-side combinable, value-domain-sized output — the same CDF
    * frame as [[Quality.ksDrift]]); the rank thresholds come from a
    * running-sum window over that cell frame (never a row-level global
    * sort), and the clamped re-aggregate joins the 5-row bounds frame
    * back broadcast. Orders is scanned exactly once.
    */
  def winsorizedStats(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.spread(s, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .groupBy(col("priority"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // bounds pass + clamp pass share one scan
    val byP = Window.partitionBy(col("priority"))
    val cum = cells
      .withColumn("cum", sum(col("cnt")).over(byP.orderBy(col("cents"))))
      .withColumn("n", sum(col("cnt")).over(byP))
    val bounds = cum.groupBy(col("priority"), col("n"))
      .agg(
        min(when(col("cum") >= expr("(n + 19) DIV 20"), col("cents")))
          .as("p05_cents"),
        min(when(col("cum") >= expr("(19 * n + 19) DIV 20"), col("cents")))
          .as("p95_cents"))
    val clamped = cells.join(broadcast(bounds), Seq("priority"))
      .groupBy(col("priority"))
      .agg(
        sum(col("cnt") * least(greatest(col("cents"), col("p05_cents")),
          col("p95_cents"))).as("sumw"),
        sum(when(col("cents") < col("p05_cents") ||
                 col("cents") > col("p95_cents"), col("cnt"))
          .otherwise(lit(0L))).as("n_clamped"))
    bounds.join(clamped, Seq("priority"))
      .select(col("priority"), col("n"), col("p05_cents"), col("p95_cents"),
        col("n_clamped"),
        expr("CAST((2 * sumw + n) DIV (2 * n) AS BIGINT)")
          .as("win_mean_cents"))
      .orderBy(col("priority"))
  }

  /** The winsorized mean as DuckDB SQL. */
  private[graft] def winsorizedStatsSql: String =
    s"""WITH o AS (SELECT o_orderpriority AS priority,
                CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders),
       cells AS (SELECT priority, cents, CAST(count(*) AS BIGINT) AS cnt
                 FROM o GROUP BY priority, cents),
       cum AS (SELECT priority, cents, cnt,
                      CAST(sum(cnt) OVER (PARTITION BY priority
                           ORDER BY cents) AS BIGINT) AS cum,
                      CAST(sum(cnt) OVER (PARTITION BY priority)
                           AS BIGINT) AS n
               FROM cells),
       b AS (SELECT priority, n,
                    min(CASE WHEN cum >= (n + 19) // 20
                             THEN cents END) AS p05_cents,
                    min(CASE WHEN cum >= (19 * n + 19) // 20
                             THEN cents END) AS p95_cents
             FROM cum GROUP BY priority, n),
       m AS (SELECT c.priority,
                    CAST(sum(c.cnt * least(greatest(c.cents, b.p05_cents),
                                           b.p95_cents)) AS BIGINT) AS sumw,
                    CAST(sum(CASE WHEN c.cents < b.p05_cents
                                    OR c.cents > b.p95_cents
                                  THEN c.cnt ELSE 0 END) AS BIGINT)
                      AS n_clamped
             FROM cells c JOIN b ON b.priority = c.priority
             GROUP BY c.priority)
       SELECT b.priority, b.n, b.p05_cents, b.p95_cents, m.n_clamped,
              CAST((2 * m.sumw + b.n) // (2 * b.n) AS BIGINT)
                AS win_mean_cents
       FROM b JOIN m ON m.priority = b.priority
       ORDER BY b.priority"""

  /** Top user-journey trigrams: the most common three-step event-type
    * sequences over each user's time-ordered stream — one step up from
    * [[eventTransitions]]' bigram matrix, and the shape session-path
    * mining uses to find the routes worth optimizing. Deterministic
    * ordering: (ts, event_id) within user, count desc / lexicographic
    * tiebreak on the trigram.
    *
    * 100 TB shape: the lead windows ride ONE user-keyed shuffle+sort
    * (both leads share the window spec, so Catalyst plans one exchange +
    * one sort); the trigram count is map-side combinable; top-K is
    * TakeOrderedAndProject. A whale user bounds the sort task, not the
    * count.
    */
  def journeyTrigrams(s: SparkSession, dir: String, topN: Int = 25): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
      .limit(topN)
  }

  /** The trigram statement — fully portable text (lead + window are
    * spelled identically in DuckDB and Spark).
    */
  private[graft] def journeyTrigramsSql(topN: Int): String =
    s"""WITH t AS (SELECT user_id, event_type,
              lead(event_type, 1) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS e2,
              lead(event_type, 2) OVER (PARTITION BY user_id
                ORDER BY ts, event_id) AS e3
            FROM events)
       SELECT event_type AS e1, e2, e3, CAST(count(*) AS BIGINT) AS n
       FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
       GROUP BY event_type, e2, e3
       ORDER BY n DESC, e1, e2, e3 LIMIT $topN"""

  // ------------------------------------------------------- TPC-H classics
  // The reference's warehouse consumers run the canonical decision-support
  // shapes (SURVEY §2.5 delegates them to BigQuery); this block adds the
  // classics the registry was still missing: the nation-pair flow (Q7),
  // market share (Q8), promotion effect (Q14), top supplier with tie
  // semantics (Q15), the avg-quantity correlated subquery (Q17), and the
  // min-cost-supplier-per-part window (Q2's shape recast on lineitem since
  // the synthetic star has no partsupp). All money is per-row half-up
  // cents summed as BIGINT (order-free — see brandRevenue) and every ratio
  // is half-up 1e4 fixed point, so no engine promotion/accumulation noise
  // can reach the driver's hash.

  private val centsLi =
    """CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
       * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"""

  /** TPC-H Q7-style volume shipping: revenue flow between an ordered pair
    * of trading nations by ship year. Lineitem joins orders then the two
    * nation roles arrive through customer and supplier — the only forced
    * broadcasts are the 25-row nation dim (bounded at any SF); customer
    * and supplier scale with the data so AQE decides their side. One
    * shuffle agg on (supp_nation, cust_nation, year): 2x2x|years| groups.
    */
  def volumeShipping(s: SparkSession, dir: String,
                     nationA: String = "NATION_18",
                     nationB: String = "NATION_19"): DataFrame = {
    val n1 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_suppkey"),
        expr(centsLi).as("cents"), year(col("l_shipdate")).cast("long").as("l_year"))
    li.join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum(col("cents")).as("revenue_cents"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private[graft] def volumeShippingSql(nationA: String, nationB: String): String =
    s"""SELECT supp_nation, cust_nation, l_year,
              CAST(sum(cents) AS BIGINT) AS revenue_cents
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(year(l_shipdate) AS BIGINT) AS l_year,
                    CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                      * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
             FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation n1 ON s_nationkey = n1.n_nationkey
             JOIN nation n2 ON c_nationkey = n2.n_nationkey
             WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
               AND ((n1.n_name = '$nationA' AND n2.n_name = '$nationB')
                 OR (n1.n_name = '$nationB' AND n2.n_name = '$nationA'))) shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year"""

  /** TPC-H Q8-style market share: of the ECONOMY-part revenue sold into
    * one region's customers per order year, the half-up 1e4 fraction
    * supplied by one of that region's nations (the Q8 BRAZIL-in-AMERICA
    * shape). The numerator is a conditional sum inside the same single
    * aggregation — no second scan, no self-join.
    */
  def marketShare(s: SparkSession, dir: String,
                  nation: String = "NATION_15",
                  region: String = "AFRICA",
                  ptype: String = "ECONOMY"): DataFrame = {
    val regionNations = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir).filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nk"))
    val suppNation = Tables.nation(s, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        expr(centsLi).as("cents"))
    li.join(Tables.part(s, dir).filter(col("p_type") === ptype).select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(regionNations), col("c_nationkey") === col("c_nk"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === nation, col("cents")).otherwise(0L))
          .as("nation_cents"),
        sum(col("cents")).as("total_cents"))
      .withColumn("share_1e4",
        expr("CAST((20000 * nation_cents + total_cents) div (2 * total_cents) AS BIGINT)"))
      .orderBy(col("o_year"))
  }

  private[graft] def marketShareSql(nation: String, region: String, ptype: String): String =
    s"""WITH base AS (
         SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                n2.n_name AS supp_nation,
                CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                  * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         WHERE p_type = '$ptype' AND r_name = '$region'),
       agg AS (
         SELECT o_year,
                CAST(sum(CASE WHEN supp_nation = '$nation' THEN cents ELSE 0 END) AS BIGINT)
                  AS nation_cents,
                CAST(sum(cents) AS BIGINT) AS total_cents
         FROM base GROUP BY o_year)
       SELECT o_year, nation_cents, total_cents,
              CAST((20000 * nation_cents + total_cents) // (2 * total_cents) AS BIGINT)
                AS share_1e4
       FROM agg ORDER BY o_year"""

  /** TPC-H Q14-style promotion effect: the half-up 1e4 share of monthly
    * revenue coming from PROMO-type parts. Part is an unhinted dimension
    * join (scales with data); one agg, conditional numerator.
    */
  def promotionEffect(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
        expr(centsLi).as("cents"))
    li.join(Tables.part(s, dir).select("p_partkey", "p_type"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("cents")).otherwise(0L))
          .as("promo_cents"),
        sum(col("cents")).as("total_cents"))
      .withColumn("promo_share_1e4",
        expr("CAST((20000 * promo_cents + total_cents) div (2 * total_cents) AS BIGINT)"))
      .orderBy(col("ship_month"))
  }

  /** [[promotionEffect]] as DuckDB SQL. */
  private[graft] def promotionEffectSql: String =
    s"""WITH base AS (
         SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, p_type,
                CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                  * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
         FROM lineitem JOIN part ON l_partkey = p_partkey),
       agg AS (
         SELECT ship_month,
                CAST(sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS BIGINT)
                  AS promo_cents,
                CAST(sum(cents) AS BIGINT) AS total_cents
         FROM base GROUP BY ship_month)
       SELECT ship_month, promo_cents, total_cents,
              CAST((20000 * promo_cents + total_cents) // (2 * total_cents) AS BIGINT)
                AS promo_share_1e4
       FROM agg ORDER BY ship_month"""

  /** TPC-H Q15-style top supplier: the supplier(s) whose quarterly
    * revenue equals the maximum — tie semantics preserved exactly (ints,
    * so ties are bit-identical in both engines), spelled as a window max
    * instead of Q15's view + scalar subquery: one shuffle on s_suppkey
    * then a single-column global max broadcast by the window.
    */
  def topSupplier(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(expr(centsLi)).as("revenue_cents"))
    rev.withColumn("mx", max(col("revenue_cents")).over(Window.partitionBy()))
      .filter(col("revenue_cents") === col("mx"))
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_cents"))
      .orderBy(col("s_suppkey"))
  }

  private[graft] val topSupplierSql: String =
    """WITH rev AS (
         SELECT l_suppkey,
                CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                  * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT)
                  AS revenue_cents
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, revenue_cents
       FROM rev JOIN supplier ON l_suppkey = s_suppkey
       WHERE revenue_cents = (SELECT max(revenue_cents) FROM rev)
       ORDER BY s_suppkey"""

  /** TPC-H Q17-style small-quantity revenue: lineitems of one brand whose
    * quantity is below 20% of that part's average quantity. The correlated
    * avg subquery is spelled as a window avg over p_partkey — one shuffle,
    * no second lineitem scan. l_quantity values are small integers stored
    * as DOUBLE, so sum/avg are exact in IEEE double in any order and the
    * 0.2*avg comparison is bit-identical across engines.
    */
  def smallQtyRevenue(s: SparkSession, dir: String,
                      brand: String = "Brand#1"): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter(col("p_brand") === brand)
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("l_quantity"), expr(centsLi).as("cents"))
    li.withColumn("avg_qty", avg(col("l_quantity")).over(Window.partitionBy(col("p_partkey"))))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(count(lit(1)).as("n_items"), coalesce(sum(col("cents")), lit(0L)).as("revenue_cents"))
      .withColumn("avg_weekly_cents",
        expr("CAST((2 * revenue_cents + 7) div 14 AS BIGINT)"))
  }

  private[graft] def smallQtyRevenueSql(brand: String): String =
    s"""WITH li AS (
         SELECT p_partkey, l_quantity,
                CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                  * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents,
                avg(l_quantity) OVER (PARTITION BY p_partkey) AS avg_qty
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand = '$brand'),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n_items,
                CAST(coalesce(sum(cents), 0) AS BIGINT) AS revenue_cents
         FROM li WHERE l_quantity < 0.2 * avg_qty)
       SELECT n_items, revenue_cents,
              CAST((2 * revenue_cents + 7) // 14 AS BIGINT) AS avg_weekly_cents
       FROM agg"""

  /** TPC-H Q6-style forecast revenue change: the discount revenue that
    * would vanish if small-order discounts in one band were dropped for a
    * year — a pure filter + single-row aggregate, the canonical
    * predicate-pushdown probe (every filter reaches the scan; only 4
    * columns read). Discount cents are half-up per row then summed as
    * BIGINT (order-free).
    */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_items"),
        coalesce(sum(expr(
          """CAST(floor(l_extendedprice * l_discount * CAST(100 AS DOUBLE)
             + CAST(0.5 AS DOUBLE)) AS BIGINT)""")), lit(0L))
          .as("discount_cents"))

  /** [[forecastRevenue]] as portable SQL. */
  private[graft] def forecastRevenueSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_items,
              CAST(coalesce(sum(CAST(floor(l_extendedprice * l_discount
                * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)), 0)
                AS BIGINT) AS discount_cents
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_discount >= 0.05 AND l_discount <= 0.07
         AND l_quantity < 24"""

  /** TPC-H Q10-style returned-item report: customers ranked by the revenue
    * they returned (l_returnflag = 'R') against orders placed in one
    * quarter — the "which accounts are churning value" readout. Revenue in
    * exact half-up cents; top-K exits via TakeOrderedAndProject on
    * (revenue DESC, custkey), so no global sort materializes.
    *
    * 100 TB shape: the returnflag filter and the orderdate window both
    * push to the scans; customer joins shuffle-hash/broadcast per AQE
    * (customer scales with the data — no forced hint); the 25-row nation
    * frame broadcasts.
    */
  def returnedItemReport(s: SparkSession, dir: String,
                         topK: Int = 20): DataFrame = {
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey"), col("n_name"))
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), expr(centsLi).as("cents"))
      .join(Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("c_custkey"))
      .limit(topK)
  }

  /** [[returnedItemReport]] as portable SQL (no dialect points — runs
    * verbatim on both engines).
    */
  private[graft] def returnedItemReportSql(topK: Int): String =
    s"""SELECT c_custkey, c_name, n_name,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT)
                AS revenue_cents
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
       GROUP BY c_custkey, c_name, n_name
       ORDER BY revenue_cents DESC, c_custkey
       LIMIT $topK"""

  /** TPC-H Q19-style disjunctive-predicate revenue: three (brand, size
    * band, quantity band) arms OR-ed together, revenue per arm. The
    * classic "does the optimizer keep a disjunction of conjunctions
    * sargable" probe: the per-arm brand+size predicates stay on the part
    * scan (part prunes to the 3 brands before the join) and the quantity
    * bands evaluate post-join without a second lineitem scan.
    */
  def disjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val arms = part_arms
    val p = Tables.part(s, dir)
      .filter(arms.map { case (b, s0, s1, _, _) =>
        col("p_brand") === b && col("p_size").between(s0, s1)
      }.reduce(_ || _))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), expr(centsLi).as("cents"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .filter(arms.map { case (b, s0, s1, q0, q1) =>
        col("p_brand") === b && col("p_size").between(s0, s1) &&
          col("l_quantity") >= q0 && col("l_quantity") <= q1
      }.reduce(_ || _))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("cents")).as("revenue_cents"))
      .orderBy(col("p_brand"))
  }

  /** (brand, size lo, size hi, qty lo, qty hi) arms shared by the operator
    * and both SQL surfaces.
    */
  private val part_arms: Seq[(String, Int, Int, Int, Int)] = Seq(
    ("Brand#11", 1, 15, 1, 20),
    ("Brand#22", 10, 30, 10, 35),
    ("Brand#13", 20, 50, 25, 50))

  /** [[disjunctiveRevenue]] as portable SQL. */
  private[graft] def disjunctiveRevenueSql: String = {
    val preds = part_arms.map { case (b, s0, s1, q0, q1) =>
      s"""(p_brand = '$b' AND p_size BETWEEN $s0 AND $s1
          AND l_quantity >= $q0 AND l_quantity <= $q1)"""
    }.mkString("\n           OR ")
    s"""SELECT p_brand,
              CAST(count(*) AS BIGINT) AS n_items,
              CAST(sum(CAST(floor(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
                * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT)
                AS revenue_cents
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE $preds
       GROUP BY p_brand
       ORDER BY p_brand"""
  }

  /** TPC-H Q2's shape recast on lineitem (the synthetic star has no
    * partsupp): per part of one brand, the supplier offering the lowest
    * observed sell price (min extendedprice; ties break to the smaller
    * suppkey). Window min-rank over (part), deterministic total order.
    * Prices are compared exactly as stored doubles — no arithmetic, so
    * engine-identical.
    */
  def minCostSupplier(s: SparkSession, dir: String,
                      brand: String = "Brand#2"): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).filter(col("p_brand") === brand)
        .select("p_partkey"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"))
      .agg(min(expr(
        """CAST(floor(l_extendedprice * CAST(100 AS DOUBLE)
           + CAST(0.5 AS DOUBLE)) AS BIGINT)""")).as("min_price_cents"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("min_price_cents"), col("l_suppkey"))
    li.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("p_partkey"), col("l_suppkey").as("s_suppkey"),
        col("min_price_cents"))
      .orderBy(col("p_partkey"))
  }

  private[graft] def minCostSupplierSql(brand: String): String =
    s"""WITH offers AS (
         SELECT p_partkey, l_suppkey,
                CAST(min(CAST(floor(l_extendedprice * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS min_price_cents
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand = '$brand'
         GROUP BY p_partkey, l_suppkey),
       ranked AS (
         SELECT p_partkey, l_suppkey, min_price_cents,
                row_number() OVER (PARTITION BY p_partkey
                  ORDER BY min_price_cents, l_suppkey) AS rk
         FROM offers)
       SELECT p_partkey, l_suppkey AS s_suppkey, min_price_cents
       FROM ranked WHERE rk = 1 ORDER BY p_partkey"""

  /** Autocorrelation of the daily event-value series at lags 1..maxLag —
    * the seasonality probe behind the dow-profile and seasonal-anomaly
    * queries (is there actually a weekly cycle to model?). Determinism
    * story: the daily series is exact half-up cents (BIGINT); all Pearson
    * component sums run in DECIMAL(38,0) (no BIGINT wraparound, no
    * engine-specific promotion); only the final r = num/(sqrt(dx)sqrt(dy))
    * happens in DOUBLE — from identical integers through correctly-rounded
    * IEEE ops, so both engines produce the same bits — and is emitted as
    * signed half-up micro units. Shuffle shape: one day-keyed agg over
    * events, then lead() windows on the catalog-sized daily series
    * (|days| rows at any SF), then a maxLag-key agg.
    */
  def acfDailyValue(s: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
    val w = Window.orderBy(col("day"))
    val withLeads = (1 to maxLag).foldLeft(daily)((df, k) =>
      df.withColumn(s"y$k", lead(col("v"), k).over(w)))
    val pairs = withLeads
      .select(explode(array((1 to maxLag).map(k =>
        struct(lit(k.toLong).as("lag_d"), col("v").as("x"), col(s"y$k").as("y"))): _*)).as("z"))
      .select(col("z.lag_d").as("lag_d"), col("z.x").as("x"), col("z.y").as("y"))
      .filter(col("y").isNotNull)
    pairs.groupBy(col("lag_d"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("syy"))
      .withColumn("num", expr("CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)"))
      .withColumn("dx", expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)"))
      .withColumn("dy", expr("CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)"))
      .select(col("lag_d"), col("n"),
        expr("""CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(0 AS BIGINT)
                WHEN num >= 0 THEN CAST(floor(num / (sqrt(dx) * sqrt(dy))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE -CAST(floor((-num) / (sqrt(dx) * sqrt(dy))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("acf_micro"))
      .orderBy(col("lag_d"))
  }

  /** Fully portable text (lead/UNION ALL/decimal sums spell identically in
    * DuckDB and Spark).
    */
  private[graft] def acfDailyValueSql(maxLag: Int): String = {
    val leadCols = (1 to maxLag)
      .map(k => s"lead(v, $k) OVER (ORDER BY day) AS y$k").mkString(", ")
    val lagArms = (1 to maxLag)
      .map(k => s"SELECT $k AS lag_d, x, y$k AS y FROM leads WHERE y$k IS NOT NULL")
      .mkString("\n         UNION ALL ")
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY CAST(ts AS DATE)),
       leads AS (SELECT day, v AS x, $leadCols FROM daily),
       pairs AS ($lagArms),
       agg AS (
         SELECT lag_d, count(*) AS n,
                sum(CAST(x AS DECIMAL(38,0))) AS sx,
                sum(CAST(y AS DECIMAL(38,0))) AS sy,
                sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
                sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
                sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
         FROM pairs GROUP BY lag_d),
       fin AS (
         SELECT lag_d, n,
                CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) AS num,
                CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE) AS dx,
                CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) AS dy
         FROM agg)
       SELECT CAST(lag_d AS BIGINT) AS lag_d, CAST(n AS BIGINT) AS n,
              CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(0 AS BIGINT)
                   WHEN num >= 0 THEN CAST(floor(num / (sqrt(dx) * sqrt(dy))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor((-num) / (sqrt(dx) * sqrt(dy))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              END AS acf_micro
       FROM fin ORDER BY lag_d"""
  }

  /** The Ljung-Box readout expression over a 1-row frame carrying
    * n_days and r1..rK (micro ACF integers): Q = n(n+2)·Σ r_k²/(n−k),
    * UNROLLED left-to-right instead of a SQL SUM — a float SUM over a
    * K-row frame has engine/partition-defined addition order; a single
    * fixed expression over exact integer inputs is bit-identical
    * everywhere. Shared verbatim by the operator and both SQL twins.
    */
  private[graft] def ljungBoxReadout(maxLag: Int): String = {
    val terms = (1 to maxLag).map { k =>
      s"""CAST(r$k AS DOUBLE) * CAST(r$k AS DOUBLE)
          / (CAST(1000000000000 AS DOUBLE) * CAST(n_days - $k AS DOUBLE))"""
    }.mkString("\n                  + ")
    s"""CASE WHEN n_days <= $maxLag THEN CAST(0 AS BIGINT)
        ELSE CAST(floor(CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE)
          * ($terms)
          * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        END"""
  }

  /** Ljung-Box portmanteau statistic over the first K daily-revenue
    * autocorrelations — THE residual-whiteness test (Ljung & Box,
    * Biometrika 1978): one number answering "is there ANY linear
    * autocorrelation structure left in the first K lags?", where
    * [[acfDailyValue]] shows the per-lag picture and [[runsTestDaily]]
    * checks sign randomness. Q = n(n+2)·Σ_{k≤K} r_k²/(n−k); under
    * whiteness Q ~ χ²(K), so q_micro > 14.07e6 rejects at 5% for K=7
    * (the caller's table lookup — no p-value float ships).
    *
    * The r_k plug in from the committed [[acfDailyValue]] reading
    * (per-lag Pearson over the lag-k pair frame — the documented
    * variant; classic Ljung-Box uses c_k/c_0, and for |days| ≫ K the
    * two agree to O(K/n)). Determinism: the r_k are exact micro
    * INTEGERS and the readout is ONE unrolled fixed-order expression
    * ([[ljungBoxReadout]]) — no float ever crosses an aggregation
    * boundary, so the single output double is engine-identical.
    *
    * 100 TB shape: everything after the acf's own day-aggregate rides
    * the K-row ACF frame pivoted to ONE row (conditional-max pivot, the
    * catalog class) plus a 1-row day census broadcast.
    */
  def ljungBoxDaily(s: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    val acf = acfDailyValue(s, dir, maxLag)
    val rCols = (1 to maxLag).map(k =>
      coalesce(max(when(col("lag_d") === k, col("acf_micro"))), lit(0L))
        .as(s"r$k"))
    val pivot = acf.agg(rCols.head, rCols.tail: _*)
    val census = Tables.events(s, dir)
      .select(col("ts").cast("date").as("day")).distinct()
      .agg(count(lit(1)).as("n_days"))
    pivot.crossJoin(broadcast(census))
      .select((col("n_days") +: (lit(maxLag.toLong).as("max_lag")) +:
        (1 to maxLag).map(k => col(s"r$k"))) :+
        expr(ljungBoxReadout(maxLag)).as("q_micro"): _*)
  }

  /** Fully portable (the acf text is portable; the pivot is
    * conditional-max; the readout is the shared unrolled expression).
    */
  private[graft] def ljungBoxDailySql(maxLag: Int): String = {
    val rcols = (1 to maxLag).map(k =>
      s"""CAST(coalesce(max(CASE WHEN lag_d = $k THEN acf_micro END), 0)
          AS BIGINT) AS r$k""").mkString(",\n                ")
    val rsel = (1 to maxLag).map(k => s"r$k").mkString(", ")
    s"""WITH acf AS (${acfDailyValueSql(maxLag)}),
       pv AS (SELECT $rcols FROM acf),
       census AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM (
                    SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) dd)
       SELECT n_days, CAST($maxLag AS BIGINT) AS max_lag, $rsel,
              ${ljungBoxReadout(maxLag)} AS q_micro
       FROM pv CROSS JOIN census"""
  }

  /** The Durbin-Levinson recursion as an ordered list of (column,
    * expression) steps over a 1-row frame carrying r1d..rKd (the ACF as
    * doubles): phi_1_1 = r1; each level k derives phi_k_k from the
    * previous level's row and then updates phi_k_j. Every Σ is unrolled
    * left-to-right (the [[ljungBoxReadout]] rule: floats never cross an
    * aggregation boundary and addition order is pinned by the text), so
    * the recursion is bit-identical on both engines. A degenerate
    * denominator (1 − Σ ≈ 0: a perfectly predictable series) reads
    * phi_k_k = 0 rather than dividing by ~0.
    */
  private[graft] def durbinLevinsonSteps(maxLag: Int): Seq[(String, String)] = {
    val steps = scala.collection.mutable.ArrayBuffer[(String, String)]()
    steps += ("phi_1_1" -> "r1d")
    for (k <- 2 to maxLag) {
      val num = (1 until k).map(j => s"phi_${k - 1}_$j * r${k - j}d")
        .mkString(" + ")
      val den = (1 until k).map(j => s"phi_${k - 1}_$j * r${j}d")
        .mkString(" + ")
      steps += (s"phi_${k}_$k" ->
        s"""CASE WHEN abs(CAST(1 AS DOUBLE) - ($den)) < CAST(1e-12 AS DOUBLE)
            THEN CAST(0 AS DOUBLE)
            ELSE (r${k}d - ($num)) / (CAST(1 AS DOUBLE) - ($den)) END""")
      for (j <- 1 until k)
        steps += (s"phi_${k}_$j" ->
          s"phi_${k - 1}_$j - phi_${k}_$k * phi_${k - 1}_${k - j}")
    }
    steps.toSeq
  }

  private def pacfMicro(k: Int): String =
    s"""CASE WHEN phi_${k}_$k >= 0
        THEN CAST(floor(phi_${k}_$k * CAST(1000000 AS DOUBLE)
          + CAST(0.5 AS DOUBLE)) AS BIGINT)
        ELSE -CAST(floor(-phi_${k}_$k * CAST(1000000 AS DOUBLE)
          + CAST(0.5 AS DOUBLE)) AS BIGINT) END"""

  /** Partial autocorrelation of daily revenue — the lag-k correlation
    * with lags 1..k−1 regressed out, via the Durbin-Levinson recursion
    * ([[acfDailyValue]] answers "correlated at lag k?"; this answers
    * "correlated at lag k GIVEN the shorter lags?" — the reading that
    * identifies AR order, where an AR(p) series cuts off after lag p).
    *
    * Determinism: inputs are the committed ACF's exact micro integers;
    * the whole recursion is [[durbinLevinsonSteps]] — fixed-order
    * expressions over ONE row, no float aggregation anywhere — so every
    * intermediate double and the signed half-up micro readouts are
    * engine-identical.
    *
    * 100 TB shape: everything past the ACF's own day-aggregate rides
    * the K-row frame pivoted to ONE row; the recursion is scalar
    * expressions on that row; the output is K rows via UNION-ALL arms.
    */
  def pacfDaily(s: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    val acf = acfDailyValue(s, dir, maxLag)
    val rCols = (1 to maxLag).map(k =>
      coalesce(max(when(col("lag_d") === k, col("acf_micro"))), lit(0L))
        .as(s"r$k"))
    var frame = acf.agg(rCols.head, rCols.tail: _*)
    for (k <- 1 to maxLag)
      frame = frame.withColumn(s"r${k}d",
        expr(s"CAST(r$k AS DOUBLE) / CAST(1000000 AS DOUBLE)"))
    for ((name, ex) <- durbinLevinsonSteps(maxLag))
      frame = frame.withColumn(name, expr(ex))
    // pinned once: each of the K output arms reads this 1-row frame —
    // unpinned, every arm re-runs the whole ACF subtree (K corpus scans)
    frame = frame.localCheckpoint(true)
    val arms = (1 to maxLag).map(k => frame.select(
      lit(k.toLong).as("lag_d"), expr(pacfMicro(k)).as("pacf_micro")))
    arms.reduce(_.unionByName(_)).orderBy(col("lag_d"))
  }

  /** Fully portable (the acf text is a CTE; the recursion is the shared
    * generated step chain; UNION ALL arms emit the K rows).
    */
  private[graft] def pacfDailySql(maxLag: Int): String = {
    val rcols = (1 to maxLag).map(k =>
      s"""CAST(coalesce(max(CASE WHEN lag_d = $k THEN acf_micro END), 0)
          AS BIGINT) AS r$k""").mkString(",\n                ")
    val rds = (1 to maxLag).map(k =>
      s"CAST(r$k AS DOUBLE) / CAST(1000000 AS DOUBLE) AS r${k}d")
      .mkString(",\n                ")
    val steps = durbinLevinsonSteps(maxLag)
    val chain = steps.zipWithIndex.map { case ((name, ex), i) =>
      val prev = if (i == 0) "base" else s"s${i - 1}"
      s"s$i AS (SELECT *, $ex AS $name FROM $prev)"
    }
    val last = s"s${steps.size - 1}"
    val arms = (1 to maxLag).map(k =>
      s"""SELECT CAST($k AS BIGINT) AS lag_d,
          ${pacfMicro(k)} AS pacf_micro FROM $last""")
      .mkString("\n         UNION ALL ")
    s"""WITH acf AS (${acfDailyValueSql(maxLag)}),
       pv AS (SELECT $rcols FROM acf),
       base AS (SELECT *,
                $rds
                FROM pv),
       ${chain.mkString(",\n       ")}
       SELECT lag_d, pacf_micro FROM (
         $arms) u
       ORDER BY lag_d"""
  }

  /** Theil-Sen robust trend of the daily revenue series: the MEDIAN of
    * all pairwise day-to-day slopes — the estimator whose breakdown
    * point (~29%) shrugs off the outlier days that pull an OLS line
    * ([[priceQuantitySlope]] is the parametric sibling; one flash-sale
    * day can own its slope, but not this one). Exact rationals
    * throughout: a pair's slope is (cents_j − cents_i)/(days apart), the
    * median is the LOWER order statistic at rank (n+1) DIV 2 under an
    * order both engines reproduce bit-for-bit (slope doubles are single
    * correctly-rounded divisions of modest integers — identical IEEE
    * results — with a full deterministic integer tiebreak behind them),
    * and the reported slope is the exact truncated integer quotient of
    * the WINNING pair's rational (the regr-slope discipline; no float
    * ever reaches the output). The 1e6-scaled numerator holds in BIGINT
    * while the winning pair's daily-total difference stays under
    * ~9.2e12 cents ($92B/day); past that lift num to DECIMAL(38,0)
    * (documented hatch, cf. assocRules).
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the pairwise slope set is the documented catalog-sized crossJoin
    * (|days|² pairs — a decade is ~6.7M rows, a 30-year horizon ~60M)
    * and the median rank comes from RankUtils.globalRank — sampled
    * range partitioning + broadcast prefix offsets, the repo's own
    * discipline for "order statistics without one window task" (the r11
    * version ranked the whole pair frame through a single
    * Window.orderBy task; result-identical, WindowExec-warned shape).
    * The ranked frame is checkpointed by globalRank, so the n_pairs
    * census re-reads the pinned frame, not the crossJoin subtree.
    */
  def theilSenTrend(s: SparkSession, dir: String): DataFrame = {
    // pinned once (r9 discipline): both crossJoin sides read the daily
    // frame — unpinned, each side re-runs the corpus aggregate
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
      .localCheckpoint(true)
    val a = daily.select(col("day").as("da"), col("v").as("va"))
    val b = daily.select(col("day").as("db"), col("v").as("vb"))
    val pairs = a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("num", col("vb") - col("va"))
      .withColumn("den", expr("CAST(datediff(db, da) AS BIGINT)"))
      .withColumn("slope", expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"))
    val ranked = RankUtils.globalRank(pairs, 32,
      col("slope"), col("num"), col("den"), col("da"))
    val census = ranked.agg(count(lit(1)).as("n_pairs"))
    ranked.crossJoin(broadcast(census))
      .filter(col("rank") === expr("(n_pairs + 1) DIV 2"))
      .select(
        expr("CAST(den AS BIGINT)").as("median_gap_days"),
        col("n_pairs"),
        expr("""CAST((num * 1000000 - (num * 1000000) % den) / den AS BIGINT)""")
          .as("slope_cents_per_day_1e6"))
  }

  /** [[theilSenTrend]] as DuckDB SQL. */
  private[graft] def theilSenTrendSql: String =
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY CAST(ts AS DATE)),
       pairs AS (SELECT a.day AS da, b.day AS db,
                        b.v - a.v AS num,
                        CAST(date_diff('day', a.day, b.day) AS BIGINT) AS den
                 FROM daily a JOIN daily b ON a.day < b.day),
       ranked AS (SELECT num, den,
                    row_number() OVER (ORDER BY
                      CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
                      num, den, da) AS rk
                  FROM pairs),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
       SELECT CAST(den AS BIGINT) AS median_gap_days, n_pairs,
              CAST((num * 1000000 - (num * 1000000) % den) / den AS BIGINT)
                AS slope_cents_per_day_1e6
       FROM ranked CROSS JOIN st
       WHERE rk = CAST(floor((n_pairs + 1) / CAST(2 AS DOUBLE)) AS BIGINT)"""

  /** Siegel repeated-median slope of daily revenue — the 50%-breakdown
    * upgrade of [[theilSenTrend]] (Siegel, Biometrika 1982): for each
    * day i take the MEDIAN slope to every other day, then the median of
    * those per-day medians. Theil-Sen's single median over all pairs
    * breaks once ~29% of days are corrupted; the repeated median holds
    * to 50% — the strongest possible breakdown for a slope — because a
    * bad day must first win its own inner median before it can even
    * vote in the outer one.
    *
    * Exactness inherits the theilSen discipline wholesale: each slope
    * is one correctly-rounded IEEE division of modest integers with a
    * full deterministic (num, den, day) tiebreak behind it, medians are
    * LOWER order statistics at rank (n+1) DIV 2, and the output slope
    * is the exact truncated integer quotient of the winning pair's
    * rational (x − x%d over d truncates identically for any sign mix on
    * both engines — no float reaches the output).
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the |days|² pair frame is the documented catalog-sized crossJoin,
    * and — unlike theilSen's global rank — the inner medians come from
    * a window PARTITIONED by day (|days| parallel partitions of |days|
    * rows each; no single-task choke to engineer around), leaving only
    * the |days|-row outer rank as a catalog-sized global window.
    */
  def siegelSlope(s: SparkSession, dir: String): DataFrame = {
    // pinned once (r9 discipline): both crossJoin sides read this frame
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
      .localCheckpoint(true)
    val a = daily.select(col("day").as("da"), col("v").as("va"))
    val b = daily.select(col("day").as("db"), col("v").as("vb"))
    val pairs = a.crossJoin(b).filter(col("da") =!= col("db"))
      .withColumn("num", col("vb") - col("va"))
      .withColumn("den", expr("CAST(datediff(db, da) AS BIGINT)"))
      .withColumn("slope", expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"))
    val byDay = Window.partitionBy(col("da"))
    val innerMed = pairs
      .withColumn("rk", row_number().over(
        byDay.orderBy(col("slope"), col("num"), col("den"), col("db"))))
      .withColumn("cnt", count(lit(1)).over(byDay))
      .filter(col("rk") === expr("(cnt + 1) DIV 2"))
      .select(col("da"), col("num"), col("den"), col("slope"))
    innerMed
      .withColumn("rk2", row_number().over(
        Window.orderBy(col("slope"), col("num"), col("den"), col("da"))))
      .withColumn("n_days", count(lit(1)).over(Window.partitionBy()))
      .filter(col("rk2") === expr("(n_days + 1) DIV 2"))
      .select(col("da").as("median_day"), col("n_days"),
        expr("""CAST((num * 1000000 - (num * 1000000) % den) / den AS BIGINT)""")
          .as("slope_cents_per_day_1e6"))
  }

  /** [[siegelSlope]] as DuckDB SQL. */
  private[graft] def siegelSlopeSql: String =
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY CAST(ts AS DATE)),
       pairs AS (SELECT a.day AS da, b.day AS db,
                        b.v - a.v AS num,
                        CAST(date_diff('day', a.day, b.day) AS BIGINT) AS den
                 FROM daily a JOIN daily b ON a.day <> b.day),
       sl AS (SELECT da, db, num, den,
                CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS slope
              FROM pairs),
       inner_med AS (SELECT da, num, den, slope FROM (
                 SELECT da, num, den, slope,
                        row_number() OVER (PARTITION BY da
                          ORDER BY slope, num, den, db) AS rk,
                        count(*) OVER (PARTITION BY da) AS cnt
                 FROM sl) r
               WHERE rk = CAST(floor((cnt + 1) / CAST(2 AS DOUBLE)) AS BIGINT)),
       ranked AS (SELECT da, num, den,
                    row_number() OVER (ORDER BY slope, num, den, da) AS rk2,
                    CAST(count(*) OVER () AS BIGINT) AS n_days
                  FROM inner_med)
       SELECT da AS median_day, n_days,
              CAST((num * 1000000 - (num * 1000000) % den) / den AS BIGINT)
                AS slope_cents_per_day_1e6
       FROM ranked
       WHERE rk2 = CAST(floor((n_days + 1) / CAST(2 AS DOUBLE)) AS BIGINT)"""

  /** Bot-likeness score per user — the traffic-hygiene screen every
    * website-analytics pipeline runs before trusting its own KPIs
    * (sessions, funnels, attribution all read differently once scripted
    * traffic is flagged): three pure-integer behavioral flags summed to
    * a 0–3 score. (1) REGULAR TIMING — scripted clients fire on a
    * clock: inter-event gap CV² < 0.01, stated cross-multiplied as
    * 100·(k·Σg² − (Σg)²) < (Σg)² over exact DECIMAL(38,0) operands (the
    * mannWhitney discipline — gap² at month-micros scale overflows
    * BIGINT), so no variance float ever exists. (2) HIGH RATE — mean
    * gap under 60s across the horizon, cross-multiplied
    * Σg < k·60e6. (3) NO PURCHASE — volume without a single conversion.
    * Flags are heuristics with documented thresholds, not a classifier
    * — the score EXPLAINS itself (which flags fired is in the row).
    *
    * 100 TB shape: ONE user-keyed window pass for the gaps (the
    * sessionize exchange), one map-side-combining per-user aggregate,
    * catalog thresholds inline — no joins, no second corpus touch.
    */
  def botLikeness(s: SparkSession, dir: String, minEvents: Long = 10): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("t_us"))
      .withColumn("gap", col("t_us") - lag(col("t_us"), 1).over(byUser))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        coalesce(sum(expr(
          "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END")), lit(0L))
          .as("n_purchases"),
        coalesce(sum(expr("CASE WHEN gap IS NULL THEN 0 ELSE 1 END")), lit(0L))
          .as("k_gaps"),
        coalesce(sum(expr("CASE WHEN gap IS NULL THEN CAST(0 AS BIGINT) ELSE gap END")),
          lit(0L)).as("sg"),
        coalesce(sum(expr(
          """CASE WHEN gap IS NULL THEN CAST(0 AS DECIMAL(38,0))
             ELSE CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0)) END""")),
          expr("CAST(0 AS DECIMAL(38,0))")).as("sg2"))
      .filter(col("n_events") >= minEvents)
      .select(col("user_id"), col("n_events"), col("n_purchases"),
        col("k_gaps"),
        expr("CASE WHEN k_gaps > 0 THEN sg DIV (k_gaps * 1000) ELSE CAST(0 AS BIGINT) END")
          .as("mean_gap_ms"),
        expr("""CASE WHEN k_gaps >= 5 AND sg > 0
                AND 100 * (k_gaps * sg2 - CAST(sg AS DECIMAL(38,0)) * sg)
                    < CAST(sg AS DECIMAL(38,0)) * sg
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END""")
          .as("regular_timing"),
        expr("""CASE WHEN k_gaps > 0 AND sg < k_gaps * CAST(60000000 AS BIGINT)
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END""")
          .as("high_rate"),
        expr("""CASE WHEN n_purchases = 0 THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END""").as("no_purchase"))
      .withColumn("bot_score",
        col("regular_timing") + col("high_rate") + col("no_purchase"))
      .orderBy(col("user_id"))
  }

  /** [[botLikeness]] as DuckDB SQL. */
  private[graft] def botLikenessSql(minEvents: Long = 10): String =
    s"""WITH ev AS (SELECT user_id, event_id, event_type,
                epoch_us(ts) AS t_us
              FROM events),
       gaps AS (SELECT user_id, event_type,
                t_us - lag(t_us, 1) OVER (PARTITION BY user_id
                  ORDER BY t_us, event_id) AS gap
              FROM ev),
       agg AS (SELECT user_id,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_purchases,
                CAST(coalesce(sum(CASE WHEN gap IS NULL THEN 0 ELSE 1 END), 0)
                  AS BIGINT) AS k_gaps,
                CAST(coalesce(sum(CASE WHEN gap IS NULL
                  THEN CAST(0 AS BIGINT) ELSE gap END), 0) AS BIGINT) AS sg,
                coalesce(sum(CASE WHEN gap IS NULL THEN CAST(0 AS DECIMAL(38,0))
                  ELSE CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0))
                  END), CAST(0 AS DECIMAL(38,0))) AS sg2
              FROM gaps GROUP BY user_id),
       flagged AS (SELECT user_id, n_events, n_purchases, k_gaps,
                CASE WHEN k_gaps > 0
                  THEN CAST(sg // (k_gaps * 1000) AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS mean_gap_ms,
                CASE WHEN k_gaps >= 5 AND sg > 0
                  AND 100 * (k_gaps * sg2 - CAST(sg AS DECIMAL(38,0)) * sg)
                      < CAST(sg AS DECIMAL(38,0)) * sg
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                  AS regular_timing,
                CASE WHEN k_gaps > 0 AND sg < k_gaps * CAST(60000000 AS BIGINT)
                  THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                  AS high_rate,
                CASE WHEN n_purchases = 0 THEN CAST(1 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS no_purchase
              FROM agg WHERE n_events >= $minEvents)
       SELECT user_id, n_events, n_purchases, k_gaps, mean_gap_ms,
              regular_timing, high_rate, no_purchase,
              regular_timing + high_rate + no_purchase AS bot_score
       FROM flagged ORDER BY user_id"""

  /** Classical additive seasonal decomposition of daily revenue —
    * v = trend + seasonal + residual with a centered 7-day moving
    * average trend and day-of-week seasonal indices (the textbook
    * decomposition statsmodels ships as `seasonal_decompose`; the
    * "where does the weekly cycle end and the anomaly begin?" reading
    * that [[seasonalAnomaly]] consumes implicitly and this op makes
    * explicit). Only days with a FULL ±3 window carry a trend — edge
    * days drop, the classical contract. The window is over OBSERVED
    * days (a ROWS frame, gap-blind): a series with calendar holes
    * should densify first ([[denseDailyCounts]] is that op) — the
    * decomposition itself does not invent zero-revenue days.
    *
    * PURE INTEGER evidence: the trend is the exact two-branch truncated
    * milli-cent quotient sum7·1000 DIV 7 (signed-safe, same treatment
    * as the seasonal quotient — truncating DIV and flooring // agree on
    * both branches even if a daily total went negative, e.g. refunds);
    * the detrended value is held as the exact
    * integer d7 = 7·v − sum7 (denominator 7 carried, never divided
    * early); each weekday's seasonal index is the two-branch truncated
    * rational Σd7·1000 DIV (7·n_dow); the residual closes the identity
    * v·1000 − trend_milli − seasonal_milli exactly. Indices are NOT
    * re-centered to sum zero — the residual mean absorbs the offset
    * (documented classical variant; re-centering would add one more
    * rational join for cosmetics).
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the centered window, the dow aggregate, and the index join-back
    * all ride that catalog frame.
    */
  def seasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val byDay = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
    val trended = daily
      .withColumn("sum7", sum(col("v")).over(byDay))
      .withColumn("cnt7", count(lit(1)).over(byDay))
      .filter(col("cnt7") === 7)
      .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
      .withColumn("d7", lit(7L) * col("v") - col("sum7"))
      .localCheckpoint(true) // seasonal aggregate + the per-day readout
    val seasonal = trended.groupBy(col("dow"))
      .agg(sum(col("d7")).as("sd"), count(lit(1)).as("n_dow"))
      .select(col("dow"),
        expr("""CASE WHEN sd >= 0 THEN (sd * 1000) DIV (7 * n_dow)
                ELSE -((-sd * 1000) DIV (7 * n_dow)) END""")
          .as("seasonal_milli"))
    trended.join(broadcast(seasonal), Seq("dow"))
      .withColumn("trend_milli",
        expr("""CASE WHEN sum7 >= 0 THEN (sum7 * 1000) DIV 7
                ELSE -((-sum7 * 1000) DIV 7) END"""))
      .select(col("day"), col("v").as("v_cents"),
        col("trend_milli"), col("seasonal_milli"),
        (lit(1000L) * col("v") - col("trend_milli") - col("seasonal_milli"))
          .as("residual_milli"))
      .orderBy(col("day"))
  }

  /** [[seasonalDecompose]] as DuckDB SQL (both signed quotients —
    * seasonal and trend — are two-branch, so truncating and flooring
    * division agree).
    */
  private[graft] def seasonalDecomposeSql: String =
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY CAST(ts AS DATE)),
       trended AS (SELECT day, v, CAST(dayofweek(day) AS BIGINT) AS dow,
                CAST(sum7 AS BIGINT) AS sum7, 7 * v - sum7 AS d7,
                CASE WHEN sum7 >= 0
                     THEN CAST((sum7 * 1000) // 7 AS BIGINT)
                     ELSE -CAST(((-sum7) * 1000) // 7 AS BIGINT) END
                  AS trend_milli
              FROM (SELECT day, v,
                      sum(v) OVER (ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS sum7,
                      count(*) OVER (ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS cnt7
                    FROM daily) t
              WHERE cnt7 = 7),
       seasonal AS (SELECT dow,
                CASE WHEN sd >= 0 THEN CAST((sd * 1000) // (7 * n_dow) AS BIGINT)
                     ELSE -CAST(((-sd) * 1000) // (7 * n_dow) AS BIGINT) END
                  AS seasonal_milli
              FROM (SELECT dow, CAST(sum(d7) AS BIGINT) AS sd,
                      CAST(count(*) AS BIGINT) AS n_dow
                    FROM trended GROUP BY dow) g)
       SELECT t.day, t.v AS v_cents,
              t.trend_milli,
              s.seasonal_milli,
              1000 * t.v - t.trend_milli
                - s.seasonal_milli AS residual_milli
       FROM trended t JOIN seasonal s ON t.dow = s.dow
       ORDER BY t.day"""

  /** Wald-Wolfowitz runs test on the daily revenue up/down sequence —
    * the randomness check behind every trend readout ([[theilSenTrend]],
    * [[mannKendallSeasonal]] say WHERE the series is going; this one
    * says whether the day-to-day wiggle is even random, or clustered /
    * oscillating — too FEW runs means momentum regimes, too MANY means
    * mean-reverting overcorrection). Day-over-day ties (d = 0) drop,
    * the standard treatment; a run is a maximal streak of equal signs.
    *
    * PURE INTEGER census: n₊, n₋, R are counts; with n = n₊+n₋ and
    * A = 2·n₊·n₋ the z numerator is the exact integer R·n − A − n
    * (n·(R − μ), μ = A/n + 1) and the denominator is n·σ =
    * sqrt(A(A−n)/(n−1)) — the double products stay exact below 2^53
    * past n = 60k days, and the single sqrt/division readout is
    * engine-identical IEEE.
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the two lag windows ride that catalog frame (the acf/holt class)
    * and the readout is ONE row.
    */
  def runsTestDaily(s: SparkSession, dir: String): DataFrame = {
    val byDay = Window.orderBy(col("day"))
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
    val signs = daily
      .withColumn("d", col("v") - lag(col("v"), 1).over(byDay))
      .filter(col("d").isNotNull && col("d") =!= 0)
      .withColumn("sgn", expr("CASE WHEN d > 0 THEN 1 ELSE -1 END"))
      .withColumn("prev", lag(col("sgn"), 1).over(byDay))
    signs.agg(
        coalesce(sum(expr("CASE WHEN sgn = 1 THEN 1 ELSE 0 END")), lit(0L))
          .as("n_plus"),
        coalesce(sum(expr("CASE WHEN sgn = -1 THEN 1 ELSE 0 END")), lit(0L))
          .as("n_minus"),
        coalesce(sum(expr(
          "CASE WHEN prev IS NULL OR sgn <> prev THEN 1 ELSE 0 END")), lit(0L))
          .as("n_runs"))
      .select(col("n_plus"), col("n_minus"), col("n_runs"),
        expr("""CASE WHEN n_plus = 0 OR n_minus = 0
                     OR n_plus + n_minus < 2 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(
                  CAST(n_runs * (n_plus + n_minus)
                       - 2 * n_plus * n_minus - (n_plus + n_minus) AS DOUBLE)
                  / sqrt(CAST(2 AS DOUBLE) * n_plus * n_minus
                         * (CAST(2 AS DOUBLE) * n_plus * n_minus
                            - (n_plus + n_minus))
                         / CAST(n_plus + n_minus - 1 AS DOUBLE))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("z_micro"))
  }

  /** Fully portable (two lag windows over the daily frame, one IEEE
    * sqrt/division readout; floor(x + 0.5) keeps the signed micro exact
    * because the numerator's sign flows through the division).
    */
  private[graft] def runsTestDailySql: String =
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY CAST(ts AS DATE)),
       diffs AS (SELECT day, v - lag(v, 1) OVER (ORDER BY day) AS d
                 FROM daily),
       signs AS (SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS sgn
                 FROM diffs WHERE d IS NOT NULL AND d <> 0),
       runsrc AS (SELECT sgn, lag(sgn, 1) OVER (ORDER BY day) AS prev
                  FROM signs),
       census AS (SELECT
                    CAST(coalesce(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS n_plus,
                    CAST(coalesce(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END), 0)
                      AS BIGINT) AS n_minus,
                    CAST(coalesce(sum(CASE WHEN prev IS NULL OR sgn <> prev
                      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_runs
                  FROM runsrc)
       SELECT n_plus, n_minus, n_runs,
              CASE WHEN n_plus = 0 OR n_minus = 0
                        OR n_plus + n_minus < 2 THEN CAST(0 AS BIGINT)
                   ELSE CAST(floor(
                     CAST(n_runs * (n_plus + n_minus)
                          - 2 * n_plus * n_minus - (n_plus + n_minus) AS DOUBLE)
                     / sqrt(CAST(2 AS DOUBLE) * n_plus * n_minus
                            * (CAST(2 AS DOUBLE) * n_plus * n_minus
                               - (n_plus + n_minus))
                            / CAST(n_plus + n_minus - 1 AS DOUBLE))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              END AS z_micro
       FROM census"""

  /** Kendall tau-b between the daily event COUNT and daily revenue —
    * the rank-based association that answers "do busier days actually
    * take more money?" without assuming linearity or trusting outliers
    * (the Pearson matrix [[corrMatrix]] is the parametric reading; a
    * single whale day can push r toward 1 while tau barely moves).
    * PURE INTEGER evidence: concordant/discordant/tie counts over all
    * day pairs — no ranks materialized, no floats until the single
    * final tau ratio, whose sqrt operands are exact BIGINTs (IEEE sqrt
    * is correctly rounded, so even the double is engine-identical).
    * tau_b handles ties in either margin the standard way:
    * tau = (C − D) / sqrt((n0 − tx)(n0 − ty)), n0 = n(n−1)/2.
    *
    * 100 TB shape: aggregate-first to the |days|-row frame, the pair
    * census is the documented catalog-sized crossJoin, and the readout
    * is ONE row of counts.
    */
  def kendallTauDaily(s: SparkSession, dir: String): DataFrame = {
    // pinned once (r9 discipline): both crossJoin sides read this frame
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr(
          "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("y"))
      .localCheckpoint(true)
    val a = daily.select(col("day").as("da"), col("x").as("xa"), col("y").as("ya"))
    val b = daily.select(col("day").as("db"), col("x").as("xb"), col("y").as("yb"))
    // census sums coalesce to 0: under 2 days the pair frame is EMPTY and
    // a global-agg sum returns NULL, which would NULL-poison the n0 =
    // ties_x guard and make every CASE branch miss (r11 advisory) — the
    // degenerate series reads tau = 0, not NULL
    a.crossJoin(b).filter(col("da") < col("db"))
      .agg(
        count(lit(1)).as("n0"),
        coalesce(sum(expr(
          """CASE WHEN (xa < xb AND ya < yb) OR (xa > xb AND ya > yb)
             THEN 1 ELSE 0 END""")), lit(0L)).as("concordant"),
        coalesce(sum(expr(
          """CASE WHEN (xa < xb AND ya > yb) OR (xa > xb AND ya < yb)
             THEN 1 ELSE 0 END""")), lit(0L)).as("discordant"),
        coalesce(sum(expr("CASE WHEN xa = xb THEN 1 ELSE 0 END")), lit(0L)).as("ties_x"),
        coalesce(sum(expr("CASE WHEN ya = yb THEN 1 ELSE 0 END")), lit(0L)).as("ties_y"))
      .select(col("n0"), col("concordant"), col("discordant"),
        col("ties_x"), col("ties_y"),
        expr("""CASE WHEN n0 = 0 OR n0 = ties_x OR n0 = ties_y THEN CAST(0 AS BIGINT)
                WHEN concordant >= discordant THEN
                  CAST(floor(CAST(concordant - discordant AS DOUBLE)
                    / (sqrt(CAST(n0 - ties_x AS DOUBLE))
                       * sqrt(CAST(n0 - ties_y AS DOUBLE)))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE -CAST(floor(CAST(discordant - concordant AS DOUBLE)
                    / (sqrt(CAST(n0 - ties_x AS DOUBLE))
                       * sqrt(CAST(n0 - ties_y AS DOUBLE)))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("tau_b_micro"))
  }

  /** Fully portable (crossJoin-as-inequality-join, CASE census, IEEE
    * sqrt readout spell identically in DuckDB and Spark).
    */
  private[graft] def kendallTauDailySql: String =
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS x,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS y
         FROM events GROUP BY CAST(ts AS DATE)),
       census AS (
         SELECT CAST(count(*) AS BIGINT) AS n0,
                CAST(coalesce(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                              OR (a.x > b.x AND a.y > b.y)
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS concordant,
                CAST(coalesce(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                              OR (a.x > b.x AND a.y < b.y)
                         THEN 1 ELSE 0 END), 0) AS BIGINT) AS discordant,
                CAST(coalesce(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END), 0) AS BIGINT) AS ties_x,
                CAST(coalesce(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END), 0) AS BIGINT) AS ties_y
         FROM daily a JOIN daily b ON a.day < b.day)
       SELECT n0, concordant, discordant, ties_x, ties_y,
              CASE WHEN n0 = 0 OR n0 = ties_x OR n0 = ties_y THEN CAST(0 AS BIGINT)
                   WHEN concordant >= discordant THEN
                     CAST(floor(CAST(concordant - discordant AS DOUBLE)
                       / (sqrt(CAST(n0 - ties_x AS DOUBLE))
                          * sqrt(CAST(n0 - ties_y AS DOUBLE)))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor(CAST(discordant - concordant AS DOUBLE)
                       / (sqrt(CAST(n0 - ties_x AS DOUBLE))
                          * sqrt(CAST(n0 - ties_y AS DOUBLE)))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              END AS tau_b_micro
       FROM census"""

  /** Spearman rank correlation between the daily event COUNT and daily
    * revenue — Pearson's r computed on AVERAGE ranks, the third leg of
    * the rank-association tripod ([[kendallTauDaily]] is the pair
    * census; [[Quality.corrMatrix]] the raw-value parametric reading).
    * Spearman answers the same "monotone association?" question as tau
    * with the familiar [-1, 1] Pearson scale and O(n log n) cost where
    * tau's census is O(n²) pairs.
    *
    * PURE INTEGER evidence: ties take the standard average rank, kept
    * exact by DOUBLING — a value with `before` smaller entries in a
    * group of `cnt` ties has 2·avg_rank = 2·before + cnt + 1, an
    * integer — so every Pearson component sum (Sx, Sxx, Sxy, ...) is an
    * exact BIGINT and the only float is the single final ratio, whose
    * sqrt operands are exact BIGINTs (IEEE sqrt is correctly rounded, so
    * even the double is engine-identical). BIGINT headroom: the largest
    * component is n·Sxy ≤ 4n⁴, which crosses 2⁶³ near n ≈ 39k — with
    * realistic (near-permutation) doubled ranks the practical ceiling
    * is ~50k days, i.e. 100+ years of daily data; past that, the
    * overflow hatch is DECIMAL(38,0) sums (cf. assocRules), good to
    * n ≈ 10⁹.
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the rank build aggregates it again to the DISTINCT-VALUE frames
    * (≤ |days| rows) whose prefix-count window is catalog-sized by
    * construction (the RankUtils discipline matters for corpus-sized
    * rank frames; a ≤ |days|-row window is the same class as the
    * kendall crossJoin census). The two rank joins broadcast under AQE
    * and the readout is ONE row of exact sums.
    */
  def spearmanDaily(s: SparkSession, dir: String): DataFrame = {
    // pinned once (r9 discipline): the daily frame feeds both rank
    // builds and the final join fan-in
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr(
          "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("y"))
      .localCheckpoint(true)
    // doubled average rank per DISTINCT value: 2·before + cnt + 1
    def doubledRanks(vcol: String, out: String): DataFrame = {
      val w = Window.orderBy(col(vcol))
        .rowsBetween(Window.unboundedPreceding, -1)
      daily.groupBy(col(vcol)).agg(count(lit(1)).as("cnt"))
        .withColumn("before", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col(vcol),
          (lit(2L) * col("before") + col("cnt") + lit(1L)).as(out))
    }
    daily
      .join(doubledRanks("x", "r2x"), Seq("x"))
      .join(doubledRanks("y", "r2y"), Seq("y"))
      .agg(
        count(lit(1)).as("n_days"),
        coalesce(sum(col("r2x")), lit(0L)).as("sx"),
        coalesce(sum(col("r2y")), lit(0L)).as("sy"),
        coalesce(sum(col("r2x") * col("r2x")), lit(0L)).as("sxx"),
        coalesce(sum(col("r2y") * col("r2y")), lit(0L)).as("syy"),
        coalesce(sum(col("r2x") * col("r2y")), lit(0L)).as("sxy"))
      .select(col("n_days"),
        (col("n_days") * col("sxy") - col("sx") * col("sy")).as("d_xy"),
        (col("n_days") * col("sxx") - col("sx") * col("sx")).as("d_xx"),
        (col("n_days") * col("syy") - col("sy") * col("sy")).as("d_yy"))
      .select(col("n_days"), col("d_xy"), col("d_xx"), col("d_yy"),
        expr("""CASE WHEN n_days < 2 OR d_xx = 0 OR d_yy = 0 THEN CAST(0 AS BIGINT)
                WHEN d_xy >= 0 THEN
                  CAST(floor(CAST(d_xy AS DOUBLE)
                    / (sqrt(CAST(d_xx AS DOUBLE)) * sqrt(CAST(d_yy AS DOUBLE)))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE -CAST(floor(CAST(-d_xy AS DOUBLE)
                    / (sqrt(CAST(d_xx AS DOUBLE)) * sqrt(CAST(d_yy AS DOUBLE)))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("rho_micro"))
  }

  /** Fully portable (GROUP BY rank build, prefix-count window, IEEE sqrt
    * readout spell identically in DuckDB and Spark).
    */
  private[graft] def spearmanDailySql: String =
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS x,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS y
         FROM events GROUP BY CAST(ts AS DATE)),
       rx AS (SELECT x,
                CAST(2 * coalesce(sum(cnt) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + cnt + 1 AS BIGINT) AS r2x
              FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt
                    FROM daily GROUP BY x) gx),
       ry AS (SELECT y,
                CAST(2 * coalesce(sum(cnt) OVER (ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     + cnt + 1 AS BIGINT) AS r2y
              FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt
                    FROM daily GROUP BY y) gy),
       sums AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                CAST(coalesce(sum(r2x), 0) AS BIGINT) AS sx,
                CAST(coalesce(sum(r2y), 0) AS BIGINT) AS sy,
                CAST(coalesce(sum(r2x * r2x), 0) AS BIGINT) AS sxx,
                CAST(coalesce(sum(r2y * r2y), 0) AS BIGINT) AS syy,
                CAST(coalesce(sum(r2x * r2y), 0) AS BIGINT) AS sxy
                FROM daily JOIN rx USING (x) JOIN ry USING (y)),
       d AS (SELECT n_days,
               n_days * sxy - sx * sy AS d_xy,
               n_days * sxx - sx * sx AS d_xx,
               n_days * syy - sy * sy AS d_yy
             FROM sums)
       SELECT n_days, d_xy, d_xx, d_yy,
              CASE WHEN n_days < 2 OR d_xx = 0 OR d_yy = 0 THEN CAST(0 AS BIGINT)
                   WHEN d_xy >= 0 THEN
                     CAST(floor(CAST(d_xy AS DOUBLE)
                       / (sqrt(CAST(d_xx AS DOUBLE)) * sqrt(CAST(d_yy AS DOUBLE)))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor(CAST(-d_xy AS DOUBLE)
                       / (sqrt(CAST(d_xx AS DOUBLE)) * sqrt(CAST(d_yy AS DOUBLE)))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              END AS rho_micro
       FROM d"""

  /** Seasonal Mann-Kendall trend test on daily revenue with day-of-week
    * seasons — the canonical significance companion to the
    * [[theilSenTrend]] slope (Hirsch & Slack 1984; the pairing every
    * hydrology/monitoring stack ships): "is revenue trending, judged
    * only WITHIN each weekday so the weekly cycle can't masquerade as
    * trend?" S sums sign(later − earlier) over all within-season day
    * pairs; the variance carries the standard tie correction, held as
    * exact 18-scaled integers (Var·18 = Σ n(n−1)(2n+5) − Σ t(t−1)(2t+5)
    * over seasons and tie runs), and the readout z applies the ±1
    * continuity correction with a single IEEE sqrt — no float before
    * the last expression, so the z is engine-identical bit-for-bit.
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the pair census is a 7-key equi-join on season over that catalog
    * frame (never a corpus crossJoin) and both variance terms are
    * two-level aggregates of it. The readout is ONE row.
    */
  def mannKendallSeasonal(s: SparkSession, dir: String): DataFrame = {
    // pinned once (r9 discipline): the daily frame feeds the pair
    // census (twice) and both variance aggregates
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
      .withColumn("season", (dayofweek(col("day")) - 1).cast("long"))
      .localCheckpoint(true)
    val a = daily.select(col("season"), col("day").as("da"), col("v").as("va"))
    val b = daily.select(col("season"), col("day").as("db"), col("v").as("vb"))
    // census sums coalesce to 0: a sub-2-day season yields an EMPTY pair
    // frame whose global-agg sum is NULL (the kendall r11 advisory)
    val sCensus = a.join(b, Seq("season")).filter(col("da") < col("db"))
      .agg(
        coalesce(sum(expr(
          "CASE WHEN vb > va THEN 1 WHEN vb < va THEN -1 ELSE 0 END")), lit(0L))
          .as("s_stat"),
        count(lit(1)).as("n_pairs"))
    val nTerm = daily.groupBy(col("season")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) * (2 * n + 5)")), lit(0L)).as("var18_n"))
    val tieTerm = daily.groupBy(col("season"), col("v")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("var18_t"))
    sCensus.crossJoin(broadcast(nTerm)).crossJoin(broadcast(tieTerm))
      .select(col("s_stat"), col("n_pairs"),
        (col("var18_n") - col("var18_t")).as("var18"),
        expr("""CASE WHEN var18_n - var18_t <= 0 OR s_stat = 0 THEN CAST(0 AS BIGINT)
                WHEN s_stat > 0 THEN
                  CAST(floor(CAST(s_stat - 1 AS DOUBLE)
                    / sqrt(CAST(var18_n - var18_t AS DOUBLE) / CAST(18 AS DOUBLE))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE -CAST(floor(CAST(-s_stat - 1 AS DOUBLE)
                    / sqrt(CAST(var18_n - var18_t AS DOUBLE) / CAST(18 AS DOUBLE))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("z_micro"))
  }

  /** [[mannKendallSeasonal]] as DuckDB SQL. */
  private[graft] def mannKendallSeasonalSql: String =
    s"""WITH daily AS (
         SELECT day, CAST(dayofweek(day) AS BIGINT) AS season, v FROM (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                    + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY CAST(ts AS DATE)) d),
       sc AS (SELECT
                CAST(coalesce(sum(CASE WHEN b.v > a.v THEN 1
                                       WHEN b.v < a.v THEN -1
                                       ELSE 0 END), 0) AS BIGINT) AS s_stat,
                CAST(count(*) AS BIGINT) AS n_pairs
              FROM daily a JOIN daily b
              ON a.season = b.season AND a.day < b.day),
       nt AS (SELECT CAST(coalesce(sum(n * (n - 1) * (2 * n + 5)), 0) AS BIGINT)
                AS var18_n
              FROM (SELECT CAST(count(*) AS BIGINT) AS n
                    FROM daily GROUP BY season) g),
       tt AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                AS var18_t
              FROM (SELECT CAST(count(*) AS BIGINT) AS t
                    FROM daily GROUP BY season, v) g)
       SELECT s_stat, n_pairs, var18_n - var18_t AS var18,
              CASE WHEN var18_n - var18_t <= 0 OR s_stat = 0 THEN CAST(0 AS BIGINT)
                   WHEN s_stat > 0 THEN
                     CAST(floor(CAST(s_stat - 1 AS DOUBLE)
                       / sqrt(CAST(var18_n - var18_t AS DOUBLE) / CAST(18 AS DOUBLE))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor(CAST(-s_stat - 1 AS DOUBLE)
                       / sqrt(CAST(var18_n - var18_t AS DOUBLE) / CAST(18 AS DOUBLE))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              END AS z_micro
       FROM sc CROSS JOIN nt CROSS JOIN tt"""

  /** Cross-correlation function between two event types' daily series:
    * ccf(k) = corr(click_t, purchase_{t+k}) for k in -maxLag..maxLag —
    * the lead/lag detector behind "does click volume LEAD purchase volume,
    * and by how many days?" (the peak's sign and position answer it;
    * [[acfDailyValue]] is the self-paired special case). Positive lags
    * pair today's clicks with FUTURE purchases; negative lags spell the
    * mirrored pairing (lead(x, k) vs y), so one window pass serves both
    * directions. Same determinism story as the ACF: exact DECIMAL(38,0)
    * component sums, one final double r per lag, signed half-up micro.
    *
    * 100 TB shape: the feed collapses to ONE |days|-row frame (two
    * conditional sums in one map-side aggregate); the global-ordered lead
    * window, the lag explode, and the readout all ride that catalog-sized
    * frame.
    */
  def ccfDailyValue(s: SparkSession, dir: String,
                    typeX: String = "click", typeY: String = "purchase",
                    maxLag: Int = 7): DataFrame = {
    val cents =
      "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(
        sum(expr(s"CASE WHEN event_type = '$typeX' THEN $cents ELSE 0 END")).as("x"),
        sum(expr(s"CASE WHEN event_type = '$typeY' THEN $cents ELSE 0 END")).as("y"))
    val w = Window.orderBy(col("day"))
    val withLeads = (1 to maxLag).foldLeft(daily)((df, k) =>
      df.withColumn(s"yl$k", lead(col("y"), k).over(w))
        .withColumn(s"xl$k", lead(col("x"), k).over(w)))
    val arms =
      struct(lit(0L).as("lag_d"), col("x").as("a"), col("y").as("b")) +:
        (1 to maxLag).flatMap(k => Seq(
          struct(lit(k.toLong).as("lag_d"), col("x").as("a"),
            col(s"yl$k").as("b")),
          struct(lit(-k.toLong).as("lag_d"), col(s"xl$k").as("a"),
            col("y").as("b"))))
    val pairs = withLeads
      .select(explode(array(arms: _*)).as("z"))
      .select(col("z.lag_d").as("lag_d"), col("z.a").as("a"), col("z.b").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    pairs.groupBy(col("lag_d"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(a AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(b AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(a AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(b AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))")).as("syy"))
      .withColumn("num", expr("CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)"))
      .withColumn("dx", expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)"))
      .withColumn("dy", expr("CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)"))
      .select(col("lag_d"), col("n"),
        expr("""CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(0 AS BIGINT)
                WHEN num >= 0 THEN CAST(floor(num / (sqrt(dx) * sqrt(dy))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE -CAST(floor((-num) / (sqrt(dx) * sqrt(dy))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("ccf_micro"))
      .orderBy(col("lag_d"))
  }

  /** Fully portable text for [[ccfDailyValue]] (the ACF's portable shape
    * with two conditional daily sums and mirrored negative-lag arms).
    */
  private[graft] def ccfDailyValueSql(typeX: String, typeY: String,
                                      maxLag: Int): String = {
    val leadCols = (1 to maxLag).flatMap(k => Seq(
      s"lead(y, $k) OVER (ORDER BY day) AS yl$k",
      s"lead(x, $k) OVER (ORDER BY day) AS xl$k")).mkString(", ")
    val lagArms = (Seq("SELECT 0 AS lag_d, x AS a, y AS b FROM leads") ++
      (1 to maxLag).flatMap(k => Seq(
        s"SELECT $k AS lag_d, x AS a, yl$k AS b FROM leads WHERE yl$k IS NOT NULL",
        s"SELECT -$k AS lag_d, xl$k AS a, y AS b FROM leads WHERE xl$k IS NOT NULL")))
      .mkString("\n         UNION ALL ")
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CASE WHEN event_type = '$typeX'
                  THEN CAST(floor(value * CAST(100 AS DOUBLE)
                    + CAST(0.5 AS DOUBLE)) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
                CAST(sum(CASE WHEN event_type = '$typeY'
                  THEN CAST(floor(value * CAST(100 AS DOUBLE)
                    + CAST(0.5 AS DOUBLE)) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
         FROM events GROUP BY CAST(ts AS DATE)),
       leads AS (SELECT day, x, y, $leadCols FROM daily),
       pairs AS ($lagArms),
       agg AS (
         SELECT lag_d, count(*) AS n,
                sum(CAST(a AS DECIMAL(38,0))) AS sx,
                sum(CAST(b AS DECIMAL(38,0))) AS sy,
                sum(CAST(a AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))) AS sxy,
                sum(CAST(a AS DECIMAL(38,0)) * CAST(a AS DECIMAL(38,0))) AS sxx,
                sum(CAST(b AS DECIMAL(38,0)) * CAST(b AS DECIMAL(38,0))) AS syy
         FROM pairs GROUP BY lag_d),
       fin AS (
         SELECT lag_d, n,
                CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) AS num,
                CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE) AS dx,
                CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) AS dy
         FROM agg)
       SELECT CAST(lag_d AS BIGINT) AS lag_d, CAST(n AS BIGINT) AS n,
              CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(0 AS BIGINT)
                   WHEN num >= 0 THEN CAST(floor(num / (sqrt(dx) * sqrt(dy))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor((-num) / (sqrt(dx) * sqrt(dy))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              END AS ccf_micro
       FROM fin ORDER BY lag_d"""
  }

  /** The daily traffic dashboard the reference's warehouse consumers read:
    * per day — events, distinct users, exact value cents, sessions STARTED
    * that day (30-min-gap sessionization, same contract as
    * [[sessionizeBatch]]), and half-up 1e4 events-per-session. A day all
    * of whose traffic belongs to sessions begun the previous day has
    * n_sessions = 0 and the ratio pins to 0 rather than dividing by zero.
    * Two day-keyed aggs (events; session starts) + one user-windowed scan
    * for the gap rule — the distinct-user count is the only expensive
    * aggregate and it shuffles once on day.
    */
  def trafficKpiReport(s: SparkSession, dir: String,
                       gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(expr(
          "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("value_cents"))
    val starts = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(byUser))
      .filter(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_sessions"))
    daily.join(starts, Seq("day"), "left")
      .withColumn("n_sessions", coalesce(col("n_sessions"), lit(0L)))
      .withColumn("events_per_session_1e4",
        expr("""CASE WHEN n_sessions = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST((20000 * n_events + n_sessions) div (2 * n_sessions) AS BIGINT)
                END"""))
      .orderBy(col("day"))
  }

  /** [[trafficKpiReport]] as DuckDB SQL. */
  private[graft] def trafficKpiReportSql(gapMinutes: Int): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS value_cents
         FROM events GROUP BY CAST(ts AS DATE)),
       g AS (
         SELECT ts, epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS gap_us
         FROM events),
       starts AS (
         SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_sessions
         FROM g WHERE gap_us IS NULL OR gap_us > $gapUs
         GROUP BY CAST(ts AS DATE))
       SELECT daily.day, n_events, n_users, value_cents,
              CAST(coalesce(n_sessions, 0) AS BIGINT) AS n_sessions,
              CASE WHEN coalesce(n_sessions, 0) = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST((20000 * n_events + n_sessions)
                     // (2 * n_sessions) AS BIGINT) END AS events_per_session_1e4
       FROM daily LEFT JOIN starts ON daily.day = starts.day
       ORDER BY daily.day"""
  }

  /** Public (not private) so Catalyst's codegen'd encoders can reach them. */
  final case class HoltDay(day: String, cents: Long)
  final case class HoltRow(day: String, cents: Long, level_1e4: Long,
                           trend_1e4: Long, forecast_1e4: Option[Long],
                           resid_1e4: Option[Long])

  /** Holt double-exponential smoothing over daily event revenue — the
    * trend-aware sibling of [[ewmaUserValue]]: a level-only smoother lags
    * a steadily-growing series forever, while Holt's second state
    * variable tracks the slope and the one-step-ahead forecast
    * level+trend stays centered. alpha = beta = 1/2 keeps the recurrence
    * EXACT-INTEGER (state in 1e-4 cents; every smoothing step is one
    * truncating halving, which Spark DIV, Java Long `/`, and DuckDB `//`
    * all perform identically — the EWMA sign note):
    *   f_t = l_{t-1} + b_{t-1}                    (one-step forecast)
    *   l_t = (10000·x_t + l_{t-1} + b_{t-1}) div 2
    *   b_t = ((l_t - l_{t-1}) + b_{t-1}) div 2
    * seeded l_1 = 10000·x_1, b_1 = 0; residual r_t = 10000·x_t - f_t is
    * the monitoring signal (CUSUM watches the level; this watches the
    * day-over-day surprise after trend is priced in).
    *
    * 100 TB shape: identical to [[cusumChangepoint]] — one map-side
    * aggregate collapses the feed to |days| rows, then the
    * prefix-dependent recurrence runs as ONE flatMapSortedGroups pass
    * over that catalog-sized frame. The streaming face reuses
    * [[graft.streaming.EventsStream.cusumCells]] verbatim (daily cents
    * cells as complete-mode state) with [[holtFromDaily]] as the
    * downstream epilogue.
    */
  def holtForecast(s: SparkSession, dir: String): DataFrame =
    holtFromDaily(
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(expr(
          "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
          .as("cents")))

  /** The Holt recurrence over an already-reduced (day, cents) frame —
    * shared by the batch operator and the streaming face (the
    * cusumFromDaily split: daily cells are streaming state; the
    * recurrence runs downstream of the sink over the catalog-sized
    * readout).
    */
  def holtFromDaily(dailyIn: DataFrame): DataFrame = {
    val s = dailyIn.sparkSession
    import s.implicits._
    dailyIn.as[HoltDay]
      .groupByKey(_ => true)
      .flatMapSortedGroups(col("day")) { (_, it) =>
        var l = 0L
        var b = 0L
        var first = true
        it.map { d =>
          val x = 10000L * d.cents
          if (first) {
            first = false
            l = x; b = 0L
            HoltRow(d.day, d.cents, l, b, None, None)
          } else {
            val f = l + b
            val lNew = (x + l + b) / 2
            b = ((lNew - l) + b) / 2
            l = lNew
            HoltRow(d.day, d.cents, l, b, Some(f), Some(x - f))
          }
        }
      }
      .toDF()
      .orderBy(col("day"))
  }

  /** Non-parametric trend audit over daily event revenue: the
    * Mann-Kendall S statistic with tie-corrected significance and the
    * Theil-Sen median slope — the robust pair that answers "is this
    * series actually drifting, and how fast" without the normality and
    * outlier-sensitivity assumptions an OLS slope ([[regrSlope]] family)
    * carries. One row out.
    *
    * Exactness: S = SUM sign(c_j - c_i) over day pairs is pure integers;
    * significance avoids sqrt/float entirely by comparing z^2 in
    * cross-multiplied form — with var18 = n(n-1)(2n+5) - SUM t(t-1)(2t+5)
    * (18·Var(S), tie groups of size t subtracted), the 95% two-sided
    * rule z^2 > 1.96^2 becomes 180000·S^2 > 38416·var18, all BIGINT.
    * trend = sign(S) when significant else 0. The Theil-Sen slope is the
    * lower-median pair's half-up (20000·dy + dx) div (2·dx) in 1e-4
    * cents/day; pair order is (dy/dx, day_i, day_j) — distinct slope
    * rationals with day gaps <= D differ by >= 1/D^2, far above double
    * ulp at fixture magnitudes (exact while |dy|·D^2 < 2^52), and pairs
    * with EQUAL rational slope emit the same fixed-point value, so the
    * double sort key cannot change the answer.
    *
    * 100 TB shape: one map-side aggregate collapses the feed to |days|
    * rows; everything after — the pair self-join (|days|^2), the tie
    * census, the median window — is catalog-sized (a decade is 3.6k days
    * = 6.5M pairs, still one task's worth). The oracle states the same
    * math naively.
    */
  def trendAudit(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("cents"))
      .localCheckpoint(true) // pairs, ties, and n read one |days| frame
    val n = daily.agg(count(lit(1)).as("n"))
    val ties = daily.groupBy(col("cents")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("tie18"))
    val pairs = daily.as("a")
      .join(daily.as("b"), col("a.day") < col("b.day"))
      .select(
        expr("CASE WHEN b.cents > a.cents THEN 1 WHEN b.cents < a.cents THEN -1 ELSE 0 END")
          .cast("long").as("sgn"),
        (col("b.cents") - col("a.cents")).as("dy"),
        datediff(col("b.day").cast("date"), col("a.day").cast("date"))
          .cast("long").as("dx"),
        col("a.day").as("d1"), col("b.day").as("d2"))
      .localCheckpoint(true) // S-sum + median window read one pair frame
    val sStat = pairs.agg(sum(col("sgn")).as("s_stat"),
      count(lit(1)).as("n_pairs"))
    val median = pairs
      .withColumn("rk", row_number().over(Window.orderBy(
        col("dy").cast("double") / col("dx").cast("double"),
        col("d1"), col("d2"))).cast("long"))
      .crossJoin(broadcast(sStat.select(col("n_pairs"))))
      .filter(col("rk") === expr("(n_pairs + 1) DIV 2"))
      .select(expr(
        """CASE WHEN dy >= 0 THEN (20000 * dy + dx) DIV (2 * dx)
           ELSE -((20000 * -dy + dx) DIV (2 * dx)) END""").as("slope_1e4"))
    sStat.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .crossJoin(broadcast(median))
      .withColumn("var18", expr("n * (n - 1) * (2 * n + 5) - tie18"))
      .select(col("n").as("n_days"), col("n_pairs"), col("s_stat"),
        col("var18"),
        expr("""CASE WHEN 180000 * s_stat * s_stat > 38416 * var18
                THEN CASE WHEN s_stat > 0 THEN 1 ELSE -1 END
                ELSE 0 END""").cast("long").as("trend"),
        col("slope_1e4"))
  }

  /** The trend audit as one naive statement. */
  private[graft] def trendAuditSql: String =
    s"""WITH d AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM events GROUP BY 1),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         tie AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie18
                 FROM (SELECT CAST(count(*) AS BIGINT) AS t
                       FROM d GROUP BY cents) g),
         p AS (SELECT CAST(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END AS BIGINT)
                        AS sgn,
                      b.cents - a.cents AS dy,
                      CAST(date_diff('day', CAST(a.day AS DATE), CAST(b.day AS DATE)) AS BIGINT) AS dx,
                      a.day AS d1, b.day AS d2
               FROM d a JOIN d b ON a.day < b.day),
         st AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
                       CAST(count(*) AS BIGINT) AS n_pairs FROM p),
         med AS (SELECT CASE WHEN dy >= 0 THEN (20000 * dy + dx) // (2 * dx)
                        ELSE -((20000 * -dy + dx) // (2 * dx)) END AS slope_1e4
                 FROM (SELECT dy, dx,
                         CAST(row_number() OVER (ORDER BY
                           CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE), d1, d2)
                           AS BIGINT) AS rk
                       FROM p) r CROSS JOIN st
                 WHERE rk = (n_pairs + 1) // 2)
         SELECT nn.n AS n_days, st.n_pairs, st.s_stat,
                nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tie18 AS var18,
                CAST(CASE WHEN 180000 * st.s_stat * st.s_stat >
                       38416 * (nn.n * (nn.n - 1) * (2 * nn.n + 5) - tie.tie18)
                     THEN CASE WHEN st.s_stat > 0 THEN 1 ELSE -1 END
                     ELSE 0 END AS BIGINT) AS trend,
                med.slope_1e4
         FROM st CROSS JOIN nn CROSS JOIN tie CROSS JOIN med"""

  /** The Holt recurrence as one recursive-CTE statement. */
  private[graft] def holtSql: String =
    s"""WITH RECURSIVE d AS (
           SELECT strftime(ts, '%Y-%m-%d') AS day,
                  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM events GROUP BY 1),
         s AS (SELECT day, cents,
                      CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rk
               FROM d),
         h AS (
           SELECT day, cents, rk,
                  10000 * cents AS l, CAST(0 AS BIGINT) AS b,
                  CAST(NULL AS BIGINT) AS f
           FROM s WHERE rk = 1
           UNION ALL
           SELECT s.day, s.cents, s.rk,
                  (10000 * s.cents + h.l + h.b) // 2,
                  (((10000 * s.cents + h.l + h.b) // 2 - h.l) + h.b) // 2,
                  h.l + h.b
           FROM h JOIN s ON s.rk = h.rk + 1)
         SELECT day, cents, l AS level_1e4, b AS trend_1e4,
                f AS forecast_1e4, 10000 * cents - f AS resid_1e4
         FROM h ORDER BY day"""
}
