package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Data-contract checks at warehouse scale — the generalization of the
  * reference's fixed inline validations (required columns, no-null,
  * numeric dtype; transform.py:40-50) into reusable, distributed
  * expectation operators. Each check is ONE aggregate or join pass that
  * returns violation evidence (not a boolean), so callers can gate a
  * load, quarantine rows, or alert with specifics.
  */
object Quality {

  /** Duplicate-key evidence: key tuples appearing more than once.
    * One hash aggregate; at scale this is the uniqueness audit run
    * before declaring a column a merge/upsert key.
    */
  def duplicateKeys(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** Referential-integrity evidence: child rows whose key has no parent
    * (orphans), via left-anti join — the only shuffle is the join itself,
    * and a broadcast parent makes it map-side.
    */
  def orphans(child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame =
    child.join(parent.select(col(parentKey)),
      child(childKey) === col(parentKey), "left_anti")

  /** Null-rate profile: per column, row count / null count / distinct
    * count in ONE pass (count-if aggregates, exact distinct) — the
    * completeness report a contract asserts thresholds against.
    */
  def completeness(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}__rows"),
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c =>
      s"('$c', ${c}__rows, ${c}__nulls, ${c}__distinct)").mkString(", ")
    wide.selectExpr(
      s"stack(${cols.length}, ${cols.map(c =>
        s"'$c', ${c}__rows, ${c}__nulls, ${c}__distinct").mkString(", ")}) " +
        "AS (column_name, n_rows, n_nulls, n_distinct)")
  }

  /** Contract audit of the fixture warehouse, as a driver-checkable
    * query: per check, the violation count (all zeros on healthy data —
    * the assertion is the QUERY, so the oracle proves both engines agree
    * on what "violation" means).
    */
  def contractAudit(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(s, dir)
    val customer = Tables.customer(s, dir)
    val lineitem = Tables.lineitem(s, dir)
    val checks = Seq(
      ("orders_pk_unique",
        duplicateKeys(orders, Seq("o_orderkey")).count()),
      ("orders_customer_fk",
        orphans(orders, "o_custkey", customer, "c_custkey").count()),
      ("lineitem_orders_fk",
        orphans(lineitem, "l_orderkey", orders.select("o_orderkey"), "o_orderkey").count()),
      ("orders_orderkey_nulls",
        orders.filter(col("o_orderkey").isNull).count()),
      ("orders_totalprice_nonpositive",
        orders.filter(col("o_totalprice") <= 0).count()))
    import s.implicits._
    checks.toDF("check_name", "n_violations").orderBy(col("check_name"))
  }

  /** Column-profiling report over the orders table: one row per column
    * with row/null/distinct counts plus engine-exact min/max encodings —
    * the warehouse data-profiling pass run before trusting a new feed
    * (the generalization of the reference's per-column validations,
    * /root/reference/src/etl/transform.py:41-52, from pass/fail checks to
    * a full profile).
    *
    * min/max are emitted as strings under a per-type EXACT encoding so no
    * engine can disagree on formatting: integers and raw strings pass
    * through, DOUBLE money becomes half-up cents, timestamps become
    * epoch micros. All aggregates compute in ONE scan (a single
    * hash-aggregate row, partial-agg combined map-side) and stack() to
    * the per-column layout at zero shuffle cost; at 100 TB this is one
    * pass over the table regardless of column count.
    */
  def profileOrders(s: SparkSession, dir: String): DataFrame = {
    val cents = "CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    // (name, exact comparable value-expr): min/max run on the EXACT value
    // (numeric for numbers — string min would order "100" < "99") and only
    // the result casts to the string report column. ASCII-only string
    // columns order identically under Spark and DuckDB binary collation.
    val cols = Seq(
      ("o_orderkey", "o_orderkey"),
      ("o_custkey", "o_custkey"),
      ("o_orderstatus", "o_orderstatus"),
      ("o_totalprice", cents),
      // CAST tolerates both fixture vintages: TIMESTAMP passes through,
      // TIMESTAMP_NTZ maps wall-clock to the same UTC instant (session UTC)
      ("o_orderdate", "unix_micros(CAST(o_orderdate AS TIMESTAMP))"),
      ("o_orderpriority", "o_orderpriority"))
    val aggs = cols.flatMap { case (c, repr) =>
      Seq(count(lit(1)).as(s"${c}__rows"),
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(expr(repr)).cast("string").as(s"${c}__min"),
        max(expr(repr)).cast("string").as(s"${c}__max"))
    }
    Tables.orders(s, dir)
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(
        s"stack(${cols.length}, ${cols.map { case (c, _) =>
          s"'$c', ${c}__rows, ${c}__nulls, ${c}__distinct, ${c}__min, ${c}__max"
        }.mkString(", ")}) AS (column_name, n_rows, n_nulls, n_distinct, min_repr, max_repr)")
      .orderBy(col("column_name"))
  }

  /** Load reconciliation by bucketed checksums — "did the warehouse copy
    * lose or corrupt rows, and WHERE": both sides collapse to `buckets`
    * rows of (count, bit_xor of a 60-bit row digest), so the comparison
    * moves O(buckets) bytes however big the tables are, and a mismatched
    * bucket localizes the repair to keys ≡ bucket (mod buckets) — re-copy
    * 1/16th, not the table. XOR makes the checksum order- and
    * partitioning-free; the 15-hex-char digest keeps the value inside
    * BIGINT in both engines (Spark `conv(..,16,10)` == DuckDB
    * `('0x'||h)::BIGINT`, verified). The destination side simulates a
    * partial load (every 997th key dropped) so the fixture exercises both
    * clean and dirty buckets.
    */
  def loadReconciliation(s: SparkSession, dir: String,
                         buckets: Int = 16): DataFrame = {
    val rowDigest = expr(
      """CAST(conv(substr(md5(concat_ws('|',
           CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
           CAST(CAST(floor(o_totalprice * CAST(100 AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS STRING),
           CAST(o_orderdate AS STRING))), 1, 15), 16, 10) AS BIGINT)""")
    def summarize(df: DataFrame, side: String): DataFrame =
      df.select(pmod(col("o_orderkey"), lit(buckets.toLong)).as("bucket"),
          rowDigest.as("h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"n_$side"), expr("bit_xor(h)").as(s"x_$side"))
    val src = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val dst = src.filter(col("o_orderkey") % 997 =!= 0)
    summarize(src, "src").join(summarize(dst, "dst"), Seq("bucket"), "left")
      .select(col("bucket"), col("n_src"),
        coalesce(col("n_dst"), lit(0L)).as("n_dst"),
        (col("n_src") - coalesce(col("n_dst"), lit(0L))).as("rows_missing"),
        (col("n_dst").isNotNull && col("n_src") === col("n_dst") &&
          col("x_src") === col("x_dst")).cast("int").as("checksum_match"))
      .orderBy(col("bucket"))
  }

  /** Chi-squared independence audit between two categorical columns —
    * here corpus `source` x `lang` over documents: is language
    * distribution independent of which feed a document came from? The
    * curation reading: a cell with a large contribution is a feed whose
    * language mix drifted from the corpus-wide mix (the standard
    * ingest-drift alarm before any of it reaches training).
    *
    * Exact-integer fixed point so Spark, the oracle, and any future
    * engine agree bit-for-bit:
    *   expected_1e4 = (row_total * col_total * 10000) DIV n
    *   chi2c_1e4    = absdiff_1e4^2 DIV (expected_1e4 * 10000)
    * where absdiff_1e4 = |obs*10000 - expected_1e4|. Both engines
    * truncate integer division toward zero, and every intermediate fits
    * BIGINT for any corpus up to ~10^9 docs per marginal (absdiff^2 <=
    * (10^9 * 10^4)^2 would overflow — the marginals here are per
    * source/lang, bounded far below that; documented contract).
    *
    * One pass shape: cell counts via a single map-side-combined
    * aggregate; marginals are two tiny rollups of the CELL table (never a
    * second scan of the facts), broadcast back. Only observed cells are
    * emitted (zero cells carry no contribution under this fixed-point
    * form and keep the output catalog-sized).
    */
  /** Shared chi2 core: given observed-cell counts (rowCol, colCol, obs),
    * attach marginals (rollups of the catalog-sized CELL table, broadcast
    * back — the facts are never re-scanned) and the exact-integer
    * fixed-point expected count and contribution. Truncated integer
    * division on both engines makes the math bit-portable.
    */
  private[graft] def chi2Of(cells: DataFrame, rowCol: String,
                            colCol: String): DataFrame = {
    val byRow = cells.groupBy(col(rowCol)).agg(sum(col("obs")).as("row_tot"))
    val byCol = cells.groupBy(col(colCol)).agg(sum(col("obs")).as("col_tot"))
    val total = cells.agg(sum(col("obs")).as("n"))
    cells
      .join(broadcast(byRow), Seq(rowCol))
      .join(broadcast(byCol), Seq(colCol))
      .crossJoin(broadcast(total))
      .withColumn("expected_1e4",
        expr("(row_tot * col_tot * 10000) DIV n"))
      .withColumn("chi2c_1e4",
        expr("""(abs(obs * 10000 - expected_1e4) * abs(obs * 10000 - expected_1e4))
                DIV (greatest(expected_1e4, 1) * 10000)"""))
  }

  def chi2SourceLang(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.spread(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("obs"))
    chi2Of(cells, "source", "lang")
      .select(col("source"), col("lang"), col("obs"), col("row_tot"),
        col("col_tot"), col("expected_1e4"), col("chi2c_1e4"))
      .orderBy(col("source"), col("lang"))
  }

  /** The same audit with TIME as the row axis: per hour, is the event-type
    * mix drifting from the feed's overall mix? A spiking `chi2c_1e4` cell
    * names the hour AND the event type that moved — the monitoring
    * readout an ingest pipeline alarms on. Streaming face:
    * [[graft.streaming.EventsStream.typeDrift]] (same integer math per
    * finalized window against a staged baseline; StreamingSpec pins
    * batch == stream on the fixture).
    */
  def typeDriftHourly(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("obs"))
    chi2Of(cells, "hour", "event_type")
      .select(col("hour"), col("event_type"), col("obs"), col("row_tot"),
        col("col_tot"), col("expected_1e4"), col("chi2c_1e4"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** A/B experiment readout: users split into two arms by a DETERMINISTIC
    * portable hash (first md5 hex nibble of the user id — the
    * stratifiedSplit mechanics, stable under feed growth and identical
    * in every engine, unlike engine-native hash()), conversion = the
    * user ever purchased; per (arm, converted) cell the exact-integer
    * chi2 machinery ([[chi2Of]]) prices how far the 2x2 table sits from
    * independence — the significance triage an experimentation platform
    * runs before anyone trusts a lift number. A large chi2c_1e4 on the
    * (treatment, converted) cell is the "the split moved conversion"
    * alarm; near-zero cells mean the difference is noise at this volume.
    *
    * 100 TB shape: one distinct to (user, arm, converted) — user-matrix
    * cardinality, not events — then a 4-cell aggregate; marginals are
    * rollups of the CELL table (broadcast). The arm hash is a pure
    * projection; no experiment-assignment table needs joining (that IS
    * the hash-split discipline: assignment is recomputable everywhere).
    */
  def abTestReadout(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", lit(1L))
        .otherwise(lit(0L))).as("converted"))
      .withColumn("arm", expr(
        "CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1) < '8' " +
          "THEN 'control' ELSE 'treatment' END"))
    val cells = users.groupBy(col("arm"), col("converted"))
      .agg(count(lit(1)).as("obs"))
      .localCheckpoint(true) // 4 rows; chi2Of reads it four ways — the
                             // pin stops each from re-scanning the feed
    chi2Of(cells, "arm", "converted")
      .select(col("arm"), col("converted"), col("obs"), col("row_tot"),
        col("col_tot"), col("expected_1e4"), col("chi2c_1e4"),
        expr("(20000 * obs + row_tot) DIV (2 * row_tot)").as("cell_share_1e4"))
      .orderBy(col("arm"), col("converted"))
  }

  /** The A/B readout as one statement. */
  private[graft] def abTestSql: String =
    s"""WITH u AS (SELECT user_id,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS converted,
             CASE WHEN substring(md5(CAST(user_id AS STRING)), 1, 1) < '8'
                  THEN 'control' ELSE 'treatment' END AS arm
           FROM events GROUP BY user_id),
         c AS (SELECT arm, converted, CAST(count(*) AS BIGINT) AS obs
               FROM u GROUP BY arm, converted),
         r AS (SELECT arm, CAST(sum(obs) AS BIGINT) AS row_tot
               FROM c GROUP BY arm),
         cl AS (SELECT converted, CAST(sum(obs) AS BIGINT) AS col_tot
                FROM c GROUP BY converted),
         t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c),
         e AS (SELECT c.arm, c.converted, c.obs, r.row_tot, cl.col_tot,
                      (r.row_tot * cl.col_tot * 10000) // t.n AS expected_1e4
               FROM c JOIN r ON r.arm = c.arm
               JOIN cl ON cl.converted = c.converted CROSS JOIN t)
         SELECT arm, converted, obs, row_tot, col_tot, expected_1e4,
                (abs(obs * 10000 - expected_1e4)
                 * abs(obs * 10000 - expected_1e4))
                // (greatest(expected_1e4, 1) * 10000) AS chi2c_1e4,
                (20000 * obs + row_tot) // (2 * row_tot) AS cell_share_1e4
         FROM e ORDER BY arm, converted"""

  /** Join-cardinality estimation by bucketed key histograms (the AGMS /
    * sketched-inner-product idea with a deterministic bucket function):
    * BEFORE paying for `orders JOIN lineitem`, each side collapses to B
    * per-bucket row counts (one map-side-combined aggregate each — B rows
    * per side total), and `est = Σ_b n_left[b]·n_right[b]` upper-bounds
    * the true join size (per bucket, Σ_k nl(k)·nr(k) <= (Σnl)(Σnr) —
    * cross-key products are the only overcount). At 100 TB this is THE
    * pre-flight check that tells you the shuffle volume — and which
    * bucket holds the hot keys — for two aggregate passes instead of an
    * exploratory join.
    *
    * The demo emits the per-bucket estimate NEXT TO the exact per-bucket
    * join count (so the oracle pins both the estimator's math and its
    * upper-bound guarantee as an always-1 flag); production use computes
    * only the estimate side. Bucket = key mod B — deterministic and
    * identical across engines (a real deployment can swap any hash).
    */
  def joinSizeEstimate(s: SparkSession, dir: String, buckets: Int): DataFrame = {
    val b = buckets.toLong
    val left = Tables.spread(s, dir, "orders")
      .select(pmod(col("o_orderkey"), lit(b)).as("bucket"),
        col("o_orderkey").as("key"))
    val right = Tables.spread(s, dir, "lineitem")
      .select(pmod(col("l_orderkey"), lit(b)).as("bucket"),
        col("l_orderkey").as("key"))
    val nl = left.groupBy(col("bucket")).agg(count(lit(1)).as("n_left"))
    val nr = right.groupBy(col("bucket")).agg(count(lit(1)).as("n_right"))
    // exact side (audit only): per-key counts then the product-sum per bucket
    val lk = left.groupBy(col("bucket"), col("key")).agg(count(lit(1)).as("cl"))
    val rk = right.groupBy(col("bucket"), col("key")).agg(count(lit(1)).as("cr"))
    val exact = lk.join(rk, Seq("bucket", "key"))
      .groupBy(col("bucket"))
      .agg(sum(col("cl") * col("cr")).as("exact_rows"))
    nl.join(nr, Seq("bucket"), "full")
      .join(exact, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_left"), lit(0L)).as("n_left"),
        coalesce(col("n_right"), lit(0L)).as("n_right"),
        (coalesce(col("n_left"), lit(0L)) * coalesce(col("n_right"), lit(0L)))
          .as("est_rows"),
        coalesce(col("exact_rows"), lit(0L)).as("exact_rows"))
      .withColumn("est_ge_exact",
        (col("est_rows") >= col("exact_rows")).cast("int"))
      .orderBy(col("bucket"))
  }

  /** Seasonal (hour-of-week) anomaly report: every (day, hour) traffic
    * cell against its own weekday-hour baseline — "is Tuesday 3am low,
    * or is Tuesday 3am ALWAYS low?" — the seasonality-aware sibling of
    * the global outlier reports (valueOutliers/madOutliers flag values;
    * this flags TIME CELLS, with the weekly rhythm factored out).
    *
    * Baseline per (dow, hour) is the average cell count over the days of
    * that weekday in the feed, kept as an exact fraction
    * (dh_total / n_days) and compared by integer cross-multiplication —
    * no division anywhere, so every engine agrees bit-for-bit:
    * flag_hi ⇔ n·n_days > 2·dh_total (above twice baseline),
    * flag_lo ⇔ 2·n·n_days < dh_total (below half baseline).
    * The grid is DENSE — a silent dead hour is exactly what the monitor
    * exists to catch, so missing cells materialize as zeros (and a
    * never-active (dow, hour) has dh_total = 0: dead-by-design hours
    * don't flag).
    *
    * 100 TB shape: one map-side-combined hash aggregate collapses the
    * feed to |days|·24 cells; everything after (dense grid explode,
    * weekday-day counts, baseline join) runs on catalog-sized frames and
    * broadcasts. The fact table is scanned exactly once.
    */
  def seasonalAnomaly(s: SparkSession, dir: String): DataFrame =
    // ONE scan: everything downstream is catalog-sized and derives from
    // the cell aggregate, never from the fact table again (the pinned
    // plan test counts the scans).
    seasonalFromCells(
      Tables.events(s, dir).select(
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          (dayofweek(col("ts")) - 1).cast("long").as("dow"),
          hour(col("ts")).cast("long").as("hour"))
        .groupBy(col("day"), col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events")))

  /** The seasonal epilogue over an already-reduced (day, dow, hour,
    * n_events) cell frame — shared by the batch operator and the
    * streaming face (cells are complete-mode streaming state; the grid +
    * baseline readout runs downstream of the sink, the
    * bitmapIndex/cusumCells split). A (dow, hour) absent from cells has
    * no events at all — its grid rows left-join to dh_total = 0.
    */
  def seasonalFromCells(cellsIn: DataFrame): DataFrame = {
    val cells = cellsIn
      .localCheckpoint(true) // cells is |days|·24 rows max: pin it so the
                             // four downstream uses never re-aggregate
    val days = cells.select(col("day"), col("dow")).distinct()
    val grid = days
      .select(col("day"), col("dow"),
        explode(sequence(lit(0L), lit(23L))).as("hour"))
      .join(cells, Seq("day", "dow", "hour"), "left")
      .na.fill(0L, Seq("n_events"))
    val nDays = days.groupBy(col("dow")).agg(count(lit(1)).as("n_days"))
    val dh = cells.groupBy(col("dow"), col("hour"))
      .agg(sum(col("n_events")).as("dh_total"))
    grid.join(broadcast(dh), Seq("dow", "hour"), "left")
      .na.fill(0L, Seq("dh_total"))
      .join(broadcast(nDays), Seq("dow"))
      .withColumn("flag_hi",
        when(col("n_events") * col("n_days") > lit(2L) * col("dh_total"), lit(1L))
          .otherwise(lit(0L)))
      .withColumn("flag_lo",
        when(lit(2L) * col("n_events") * col("n_days") < col("dh_total"), lit(1L))
          .otherwise(lit(0L)))
      .select(col("day"), col("hour"), col("dow"), col("n_events"),
        col("dh_total"), col("n_days"), col("flag_hi"), col("flag_lo"))
      .orderBy(col("day"), col("hour"))
  }

  /** The seasonal-anomaly statement. */
  private[graft] def seasonalSql: String =
    s"""WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(dayofweek(ts) AS BIGINT) AS dow,
                     CAST(hour(ts) AS BIGINT) AS hour FROM events),
        cells AS (SELECT day, dow, hour, CAST(count(*) AS BIGINT) AS n
                  FROM ev GROUP BY day, dow, hour),
        days AS (SELECT DISTINCT day, dow FROM cells),
        grid AS (SELECT d.day, d.dow, h.hour,
                        CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
                 FROM days d CROSS JOIN (SELECT CAST(range AS BIGINT) AS hour FROM range(0, 24)) h
                 LEFT JOIN cells c
                   ON c.day = d.day AND c.dow = d.dow AND c.hour = h.hour),
        nd AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days
               FROM days GROUP BY dow),
        dh AS (SELECT dow, hour, CAST(sum(n) AS BIGINT) AS dh_total
               FROM cells GROUP BY dow, hour)
        SELECT g.day, g.hour, g.dow, g.n_events,
               CAST(coalesce(dh.dh_total, 0) AS BIGINT) AS dh_total,
               nd.n_days,
               CAST(CASE WHEN g.n_events * nd.n_days >
                         2 * coalesce(dh.dh_total, 0)
                    THEN 1 ELSE 0 END AS BIGINT) AS flag_hi,
               CAST(CASE WHEN 2 * g.n_events * nd.n_days <
                         coalesce(dh.dh_total, 0)
                    THEN 1 ELSE 0 END AS BIGINT) AS flag_lo
        FROM grid g
        LEFT JOIN dh ON dh.dow = g.dow AND dh.hour = g.hour
        JOIN nd ON nd.dow = g.dow
        ORDER BY g.day, g.hour"""

  /** Functional-dependency audit: for a fixed slate of candidate
    * determinations A -> B over the orders feed, does each A value map to
    * exactly one B value — the key/denormalization discovery a warehouse
    * runs before declaring merge keys or collapsing columns into
    * dimensions (profileOrders describes columns in isolation; this is
    * the BETWEEN-column profile).
    *
    * Evidence, not booleans: n_lhs (distinct A), n_pairs (distinct
    * (A, B)), n_violations = n_pairs - n_lhs (the number of EXTRA B
    * values that break the dependency), holds as a 0/1 flag.
    *
    * 100 TB shape: ONE scan — the candidate slate unpivots via stack (a
    * 5x row expansion of two small string columns, far cheaper than five
    * full scans), then a single hash aggregate with two exact distinct
    * counts (Catalyst plans multi-distinct via Expand). At unbounded
    * cardinality swap the exact distincts for approx_count_distinct —
    * a dependency VIOLATION check tolerates sketch error badly, so the
    * exact form stays the default and the sketch is the triage pass.
    */
  /** The default candidate-dependency slate over the orders feed. */
  private[graft] val FdDeps = Seq(
    ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
    ("o_orderkey->o_orderstatus", "o_orderkey", "o_orderstatus"),
    ("o_custkey->o_orderstatus", "o_custkey", "o_orderstatus"),
    ("o_orderdate->o_orderpriority", "o_orderdate", "o_orderpriority"),
    ("o_orderstatus->o_orderpriority", "o_orderstatus", "o_orderpriority"))

  def fdDiscovery(s: SparkSession, dir: String): DataFrame =
    fdDiscoveryCore(Tables.spread(s, dir, "orders"), FdDeps)

  /** The FD audit over an arbitrary frame + candidate slate — exposed so
    * specs can pin the NULL contract on nullable fixtures the TPC-H feed
    * doesn't contain.
    */
  private[graft] def fdDiscoveryCore(df: DataFrame,
                                     deps: Seq[(String, String, String)]): DataFrame = {
    // NULLs coalesce to a sentinel on both surfaces: countDistinct skips
    // tuples containing NULL while SELECT DISTINCT keeps them, so a
    // nullable candidate column would otherwise silently diverge.
    val stackArgs = deps.map { case (name, lhs, rhs) =>
      s"'$name', coalesce(CAST($lhs AS STRING), '<null>'), " +
        s"coalesce(CAST($rhs AS STRING), '<null>')"
    }.mkString(", ")
    df
      .select(expr(s"stack(${deps.size}, $stackArgs) AS (dependency, lhs, rhs)"))
      .groupBy(col("dependency"))
      .agg(countDistinct(col("lhs")).as("n_lhs"),
        countDistinct(col("lhs"), col("rhs")).as("n_pairs"))
      .withColumn("n_violations", col("n_pairs") - col("n_lhs"))
      .withColumn("holds",
        when(col("n_pairs") === col("n_lhs"), lit(1L)).otherwise(lit(0L)))
      .orderBy(col("dependency"))
  }

  /** The FD audit as portable SQL (valid verbatim in DuckDB and Spark):
    * five two-level distinct blocks unioned — a deliberately different
    * formulation (five scans, no stack/Expand), so oracle equality is an
    * algorithmic cross-check of the multi-distinct path.
    */
  private[graft] def fdDiscoverySql: String = fdDiscoverySqlFor("orders", FdDeps)

  /** [[fdDiscoverySql]] parameterized on table + slate (spec surface). */
  private[graft] def fdDiscoverySqlFor(table: String,
                                       deps: Seq[(String, String, String)]): String = {
    val blocks = deps
      .map { case (name, lhs, rhs) =>
        s"""SELECT '$name' AS dependency,
               CAST(count(DISTINCT lhs) AS BIGINT) AS n_lhs,
               CAST(count(*) AS BIGINT) AS n_pairs
            FROM (SELECT DISTINCT
                         coalesce(CAST($lhs AS STRING), '<null>') AS lhs,
                         coalesce(CAST($rhs AS STRING), '<null>') AS rhs
                  FROM $table) p"""
      }
    s"""WITH u AS (${blocks.mkString("\nUNION ALL\n")})
        SELECT dependency, n_lhs, n_pairs,
               n_pairs - n_lhs AS n_violations,
               CAST(CASE WHEN n_pairs = n_lhs THEN 1 ELSE 0 END AS BIGINT)
                 AS holds
        FROM u ORDER BY dependency"""
  }

  /** k-anonymity audit over a generalization ladder: for each successive
    * coarsening of the quasi-identifier tuple (nation + segment + balance
    * bucketed at 100, then at 1000, then balance dropped), report the
    * equivalence-class census and how many rows sit in classes smaller
    * than k — the rows a release at that generalization level would
    * expose. The privacy counterpart of [[Quality.duplicateKeys]]: there
    * small classes are the GOAL (unique keys), here they are the risk.
    *
    * No reference analog (the reference releases its CSV wholesale,
    * `/root/reference/src/etl/load.py:18-110`); this is the audit a
    * training-data pipeline runs before shipping user-derived tables.
    *
    * Shape, built for 100 TB: each ladder level is a two-level hash
    * aggregate over ONLY the projected quasi-columns — per-class counts
    * (map-side combined on the quasi tuple), then a 5-number census of
    * the class-size frame, which is classes-sized, not rows-sized. The
    * three levels union; nothing row-sized ever shuffles twice. risk_1e4
    * is half-up integer fixed-point so the oracle compare stays exact.
    */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val cust = Tables.spread(s, dir, "customer")
    def level(lvl: Int, quasi: Seq[Column]): DataFrame =
      cust.groupBy(quasi: _*)
        .agg(count(lit(1)).as("class_size"))
        .agg(
          count(lit(1)).as("n_classes"),
          min(col("class_size")).as("min_class_size"),
          sum(col("class_size")).as("n_rows"),
          sum(when(col("class_size") < k, col("class_size"))
            .otherwise(0L)).as("rows_at_risk"))
        .select(lit(lvl).as("level"), col("n_classes"),
          col("min_class_size"), col("rows_at_risk"),
          expr("(20000 * rows_at_risk + n_rows) DIV (2 * n_rows)")
            .as("risk_1e4"))
    val bal100 = expr("CAST(floor(c_acctbal / 100) AS BIGINT)").as("bal_b")
    val bal1000 = expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").as("bal_b")
    level(0, Seq(col("c_nationkey"), col("c_mktsegment"), bal100))
      .unionByName(level(1, Seq(col("c_nationkey"), col("c_mktsegment"), bal1000)))
      .unionByName(level(2, Seq(col("c_nationkey"), col("c_mktsegment"))))
      .orderBy(col("level"))
  }

  /** The k-anonymity ladder as DuckDB SQL. */
  private[graft] def kAnonymitySql(k: Int = 5): String = {
    val levels = Seq(
      (0, "c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 100) AS BIGINT)"),
      (1, "c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT)"),
      (2, "c_nationkey, c_mktsegment"))
      .map { case (lvl, quasi) =>
        s"""SELECT $lvl AS level,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(min(class_size) AS BIGINT) AS min_class_size,
               CAST(coalesce(sum(CASE WHEN class_size < $k
                                      THEN class_size ELSE 0 END), 0)
                    AS BIGINT) AS rows_at_risk,
               CAST((20000 * coalesce(sum(CASE WHEN class_size < $k
                                               THEN class_size ELSE 0 END), 0)
                     + sum(class_size)) // (2 * sum(class_size))
                    AS BIGINT) AS risk_1e4
            FROM (SELECT CAST(count(*) AS BIGINT) AS class_size
                  FROM customer GROUP BY $quasi) c"""
      }
    levels.mkString("\nUNION ALL\n") + "\nORDER BY level"
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic between the order-value
    * distributions of urgent ('1-URGENT') and non-urgent orders — the
    * distribution-shift alarm a curation pipeline runs between a candidate
    * slice and the corpus it is about to join ([[chi2Of]] prices drift of
    * CATEGORICAL mixes; this is the numeric-distribution counterpart).
    * D = max_v |F_urgent(v) − F_rest(v)| over order value in half-up
    * cents, emitted half-up in 1e-6 units together with the value at
    * which the gap peaks (smallest such cents on ties) — exact integer
    * arithmetic end to end, so the oracle compare is bit-stable.
    *
    * No reference analog (the reference validates dtypes, not
    * distributions; `/root/reference/src/etl/transform.py:40-50`).
    *
    * 100 TB shape: rows collapse to per-distinct-cents (a, b) counts with
    * one map-side-combined aggregate — the CDF frame is value-domain-
    * sized, not row-sized. The running sums are TWO-LEVEL: $1k-bucket
    * subtotals take a catalog-sized global window, then within-bucket
    * cumulatives run under partitionBy(bucket), so no single task ever
    * sorts the whole value domain (the same pattern as
    * [[Dedup.substringSpans]]' salted hot-gram count). Counts stay under
    * the 2e6-scale overflow line until ~4.6e12 rows per side.
    */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val wB = org.apache.spark.sql.expressions.Window
      .orderBy(col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wV = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cells = Tables.spread(s, dir, "orders")
      .select(
        expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("v"),
        (col("o_orderpriority") === "1-URGENT").as("urgent"))
      .groupBy(col("v"))
      .agg(sum(when(col("urgent"), lit(1L)).otherwise(lit(0L))).as("a"),
        sum(when(col("urgent"), lit(0L)).otherwise(lit(1L))).as("b"))
      .withColumn("bkt", expr("v DIV 100000"))
    val bktPre = cells.groupBy(col("bkt"))
      .agg(sum(col("a")).as("ba"), sum(col("b")).as("bb"))
      .select(col("bkt"),
        coalesce(sum(col("ba")).over(wB), lit(0L)).as("pa"),
        coalesce(sum(col("bb")).over(wB), lit(0L)).as("pb"))
    val totals = cells.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    val gaps = cells
      .join(broadcast(bktPre), Seq("bkt"))
      .withColumn("ca", col("pa") + sum(col("a")).over(wV))
      .withColumn("cb", col("pb") + sum(col("b")).over(wV))
      .crossJoin(broadcast(totals))
      .withColumn("gap", abs(
        expr("(2000000 * ca + n1) DIV (2 * n1)") -
          expr("(2000000 * cb + n2) DIV (2 * n2)")))
    val peak = gaps.agg(max(col("gap")).as("d_1e6"),
      count(lit(1)).as("n_values"))
    gaps.crossJoin(broadcast(peak))
      .filter(col("gap") === col("d_1e6"))
      .groupBy(col("n1"), col("n2"), col("n_values"), col("d_1e6"))
      .agg(min(col("v")).as("v_at_max_cents"))
      .select(col("n1").as("n_urgent"), col("n2").as("n_rest"),
        col("n_values"), col("d_1e6"), col("v_at_max_cents"))
  }

  /** [[ksDrift]] as DuckDB SQL. Every output casts to BIGINT because
    * DuckDB promotes sum() and its window form to HUGEINT.
    */
  private[graft] def ksDriftSql: String =
    s"""WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
               sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS a,
               sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END) AS b
            FROM orders GROUP BY 1),
       t AS (SELECT sum(a) AS n1, sum(b) AS n2 FROM c),
       g AS (SELECT v,
               abs((2000000 * sum(a) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + n1)
                     // (2 * n1)
                 - (2000000 * sum(b) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + n2)
                     // (2 * n2)) AS gap
             FROM c CROSS JOIN t),
       m AS (SELECT max(gap) AS d_1e6, count(*) AS n_values FROM g)
       SELECT CAST(t.n1 AS BIGINT) AS n_urgent,
              CAST(t.n2 AS BIGINT) AS n_rest,
              CAST(m.n_values AS BIGINT) AS n_values,
              CAST(m.d_1e6 AS BIGINT) AS d_1e6,
              CAST(min(g.v) AS BIGINT) AS v_at_max_cents
       FROM g CROSS JOIN m CROSS JOIN t WHERE g.gap = m.d_1e6
       GROUP BY t.n1, t.n2, m.n_values, m.d_1e6"""

  /** Benford first-significant-digit audit over order values — the
    * classic fabricated-data screen: naturally-occurring multi-scale
    * amounts follow P(d) = log10(1 + 1/d), and a synthetic or truncated
    * feed shows up as a large per-digit deviation. Expected shares are
    * pinned as exact 1e-6 literals (identical constants on both engines,
    * so no transcendental function ever reaches the compare); observed
    * shares and deviations are half-up integer fixed point.
    *
    * 100 TB shape: the first digit is a projection (exact integer cents
    * -> decimal string -> first char, deterministic on every engine,
    * no float log10), then ONE map-side-combined aggregate to <= 9 cells;
    * the expected-share join is a 9-row literal table.
    */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val expected = BenfordExpected1e6.toSeq
      .map { case (d, e) => (d.toLong, e) }
      .toDF("digit", "exp_1e6")
    val obs = Tables.spread(s, dir, "orders")
      .filter(col("o_totalprice") > 0)
      .select(expr(
        """CAST(substring(CAST(CAST(floor(o_totalprice * CAST(100 AS DOUBLE)
          | + CAST(0.5 AS DOUBLE)) AS BIGINT) AS STRING), 1, 1) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("obs"))
    val total = obs.agg(sum(col("obs")).as("n"))
    obs.join(broadcast(expected), Seq("digit"))
      .crossJoin(broadcast(total))
      .withColumn("obs_1e6", expr("(2000000 * obs + n) DIV (2 * n)"))
      .select(col("digit"), col("obs"), col("exp_1e6"), col("obs_1e6"),
        abs(col("obs_1e6") - col("exp_1e6")).as("dev_1e6"))
      .orderBy(col("digit"))
  }

  /** log10(1 + 1/d) in 1e-6 fixed point, d = 1..9; sums to exactly 1e6. */
  private val BenfordExpected1e6: Map[Int, Long] = Map(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** [[benfordAudit]] as portable SQL. The expected table is a UNION ALL
    * of literal SELECTs (portable where VALUES table syntax differs).
    */
  private[graft] def benfordAuditSql: String = {
    val lits = BenfordExpected1e6.toSeq.sorted
      .map { case (d, e) => s"SELECT $d AS digit, CAST($e AS BIGINT) AS exp_1e6" }
      .mkString("\nUNION ALL\n")
    s"""WITH e AS ($lits),
       o AS (SELECT CAST(substring(CAST(CAST(floor(o_totalprice * 100 + 0.5)
                    AS BIGINT) AS STRING), 1, 1) AS BIGINT) AS digit,
                    count(*) AS obs
             FROM orders WHERE o_totalprice > 0 GROUP BY 1),
       t AS (SELECT sum(obs) AS n FROM o)
       SELECT o.digit,
              CAST(o.obs AS BIGINT) AS obs,
              e.exp_1e6,
              CAST((2000000 * o.obs + t.n) // (2 * t.n) AS BIGINT) AS obs_1e6,
              CAST(abs((2000000 * o.obs + t.n) // (2 * t.n) - e.exp_1e6)
                   AS BIGINT) AS dev_1e6
       FROM o JOIN e USING (digit) CROSS JOIN t
       ORDER BY digit"""
  }

  /** Value-concentration profile of the catalog's categorical columns:
    * per column, the Herfindahl–Hirschman concentration index over value
    * shares (1e6 = one value owns the column, 1e6/k = k equal values)
    * plus the top value's share — the profiling readout that flags a
    * column as near-constant (useless as a feature / partition key) or
    * near-uniform, without any transcendental entropy. Shares round
    * half-up to 1e-3 FIRST and the index squares those integers, so the
    * number is identical on every engine by construction.
    *
    * 100 TB shape: per column ONE map-side-combined count aggregate to a
    * value-cardinality cell frame, a broadcast total, and a cell-sized
    * fold; the five audited columns union at catalog size. The columns
    * are a fixed slate for the registry face; the operator shape accepts
    * any (table, column) list.
    */
  def columnHhi(s: SparkSession, dir: String): DataFrame = {
    val slates = Seq(
      ("orders.o_orderstatus", "orders", "o_orderstatus"),
      ("orders.o_orderpriority", "orders", "o_orderpriority"),
      ("documents.lang", "documents", "lang"),
      ("documents.source", "documents", "source"),
      ("events.event_type", "events", "event_type"))
    slates.map { case (name, tbl, c) =>
      val cells = Tables.spread(s, dir, tbl)
        .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
      val total = cells.agg(sum(col("cnt")).as("n"))
      cells.crossJoin(broadcast(total))
        .withColumn("share_1e3", expr("(2000 * cnt + n) DIV (2 * n)"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("n_distinct"),
          max(col("share_1e3")).as("top_share_1e3"),
          sum(col("share_1e3") * col("share_1e3")).as("hhi_1e6"))
        .select(lit(name).as("column_name"), col("n"), col("n_distinct"),
          col("top_share_1e3"), col("hhi_1e6"))
    }.reduce(_ unionByName _).orderBy(col("column_name"))
  }

  /** [[columnHhi]] as portable SQL. */
  private[graft] def columnHhiSql: String = {
    val blocks = Seq(
      ("orders.o_orderstatus", "orders", "o_orderstatus"),
      ("orders.o_orderpriority", "orders", "o_orderpriority"),
      ("documents.lang", "documents", "lang"),
      ("documents.source", "documents", "source"),
      ("events.event_type", "events", "event_type"))
      .map { case (name, tbl, c) =>
        s"""SELECT '$name' AS column_name,
               CAST(t.n AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(max((2000 * cnt + t.n) // (2 * t.n)) AS BIGINT)
                 AS top_share_1e3,
               CAST(sum(((2000 * cnt + t.n) // (2 * t.n))
                        * ((2000 * cnt + t.n) // (2 * t.n))) AS BIGINT)
                 AS hhi_1e6
            FROM (SELECT count(*) AS cnt FROM $tbl GROUP BY $c) v
            CROSS JOIN (SELECT sum(cnt) AS n
                        FROM (SELECT count(*) AS cnt FROM $tbl GROUP BY $c) i) t
            GROUP BY t.n"""
      }
    blocks.mkString("\nUNION ALL\n") + "\nORDER BY column_name"
  }

  /** The numeric-column slate for [[corrMatrix]]: name -> exact integer
    * projection (quantity whole units, price cents, discount/tax
    * hundredths — all half-up, so every engine starts from identical
    * BIGINTs).
    */
  private val CorrCols: Seq[(String, String)] = Seq(
    "qty" -> "CAST(floor(l_quantity + CAST(0.5 AS DOUBLE)) AS BIGINT)",
    "price" -> """CAST(floor(l_extendedprice * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)""",
    "disc" -> """CAST(floor(l_discount * CAST(100 AS DOUBLE)
                 + CAST(0.5 AS DOUBLE)) AS BIGINT)""",
    "tax" -> """CAST(floor(l_tax * CAST(100 AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) AS BIGINT)""")

  /** Pairwise Pearson correlation matrix over lineitem's numeric columns
    * (upper triangle, 6 pairs) — the between-column dependence profile a
    * feature audit reads before trusting any per-column screen
    * ([[profileColumns]] prices columns alone; this prices them jointly:
    * price tracks quantity by construction, discount shouldn't track
    * anything). Same determinism story as the daily-ACF: component sums
    * in DECIMAL(38,0) (exact, order-free, no promotion divergence), one
    * final r from identical integers through correctly-rounded IEEE ops,
    * emitted as signed half-up micro units.
    *
    * 100 TB shape: ONE scan of the fact table — the pair slate unpivots
    * via stack (Catalyst Expand, 6 two-int rows per input row) into a
    * map-side-combinable aggregate whose output is 6 rows. No joins, no
    * windows, nothing downstream touches the feed. The oracle states the
    * same sums as six UNION ALL arms (six logical scans, no Expand) —
    * equality cross-checks the stack path.
    */
  def corrMatrix(s: SparkSession, dir: String): DataFrame =
    corrReadout(corrSums(corrInput(s, dir)))

  /** The staged/incremental face of [[corrMatrix]] — the moment-profile
    * mergeability story applied to the pair slate: component sums ADD, so
    * "prefix summarized, delta arrives" unions the per-slice sums and
    * re-sums, never rescanning the prefix; the merged integers equal the
    * one-shot scan's, so the oracle IS the one-shot statement and merge
    * == rescan holds to the IEEE bit of every r.
    */
  def corrMatrixIncremental(s: SparkSession, dir: String): DataFrame = {
    val li = corrInput(s, dir)
    val split = li.agg(max(col("okey"))).head().getLong(0) * 4 / 5
    val merged = corrSums(li.filter(col("okey") <= split))
      .unionByName(corrSums(li.filter(col("okey") > split)))
      .groupBy(col("pair"))
      .agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
        sum(col("sy")).as("sy"), sum(col("sxy")).as("sxy"),
        sum(col("sxx")).as("sxx"), sum(col("syy")).as("syy"))
    corrReadout(merged)
  }

  private def corrInput(s: SparkSession, dir: String): DataFrame = {
    val pairs = for {
      (i, (na, ea)) <- CorrCols.zipWithIndex.map(_.swap)
      (j, (nb, eb)) <- CorrCols.zipWithIndex.map(_.swap) if i < j
    } yield (s"${na}_$nb", ea, eb)
    val stackArgs = pairs.map { case (name, ea, eb) =>
      s"'$name', $ea, $eb" }.mkString(", ")
    Tables.spread(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"),
        expr(s"stack(${pairs.size}, $stackArgs) AS (pair, x, y)"))
  }

  private def corrSums(df: DataFrame): DataFrame =
    df.groupBy(col("pair"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))")).as("syy"))

  private def corrReadout(sums: DataFrame): DataFrame = {
    sums
      .withColumn("num", expr("CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)"))
      .withColumn("dx", expr("CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE)"))
      .withColumn("dy", expr("CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)"))
      .select(col("pair"), col("n"),
        expr("""CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(0 AS BIGINT)
                WHEN num >= 0 THEN CAST(floor(num / (sqrt(dx) * sqrt(dy))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE -CAST(floor((-num) / (sqrt(dx) * sqrt(dy))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("r_micro"))
      .orderBy(col("pair"))
  }

  /** Distribution-shape profile per event type: population variance,
    * skewness, and excess kurtosis of the value column from exact raw
    * power sums — the audit that says WHICH way a value feed is weird
    * (heavy right tail? spiky center?) where [[profileColumns]] /
    * winsorized stats only say that it is. The classic cross-multiplied
    * central-moment identities keep everything integer until one final
    * double per statistic:
    *   d2 = n*s2 - s1^2                         (= n^2 * M2)
    *   d3 = n^2*s3 - 3n*s1*s2 + 2*s1^3          (= n^3 * M3)
    *   d4 = n^3*s4 - 4n^2*s1*s3 + 6n*s1^2*s2 - 3*s1^4  (= n^4 * M4)
    * and the dimensionless stats collapse to pure ratios — skew =
    * d3 / d2^1.5, excess kurtosis = d4 / d2^2 - 3 — so the n-powers
    * cancel exactly. Sums run in DECIMAL(38,0) (order-free, no engine
    * promotion divergence); values are half-up DECIunits (value*10) so
    * n^3*s4 stays inside 38 digits to ~1e7 rows per type (documented
    * hatch past that: shift-center the power sums). The corr-matrix
    * determinism story: identical exact integers -> one fixed tree of
    * correctly-rounded IEEE ops -> identical half-up micro outputs.
    *
    * 100 TB shape: ONE map-side-combinable aggregate over the feed, five
    * sums per group, |types| rows out. Nothing else touches the data.
    */
  def momentProfile(s: SparkSession, dir: String): DataFrame =
    momentReadout(momentSums(momentInput(s, dir)))

  /** The staged/incremental face of [[momentProfile]]: power sums are
    * trivially mergeable (they ADD), so the profile over "prefix already
    * summarized, delta arrives" is the per-slice sums unioned and
    * re-summed — never a rescan of the prefix. The event_id split point
    * mirrors the other incremental queries; the oracle runs the one-shot
    * statement, proving merge == rescan exactly (including every IEEE
    * readout bit, because the merged integer sums are identical).
    */
  def momentProfileIncremental(s: SparkSession, dir: String): DataFrame = {
    val ev = momentInput(s, dir)
    val split = ev.agg(max(col("event_id"))).head().getLong(0) * 4 / 5
    val merged = momentSums(ev.filter(col("event_id") <= split))
      .unionByName(momentSums(ev.filter(col("event_id") > split)))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("s1")).as("s1"),
        sum(col("s2")).as("s2"), sum(col("s3")).as("s3"),
        sum(col("s4")).as("s4"))
    momentReadout(merged)
  }

  private def momentInput(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"), col("event_id"),
        expr("CAST(floor(value * CAST(10 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("x"))

  private def momentSums(df: DataFrame): DataFrame = {
    val d = "CAST(x AS DECIMAL(38,0))"
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr(d)).as("s1"),
        sum(expr(s"$d * $d")).as("s2"),
        sum(expr(s"$d * $d * $d")).as("s3"),
        sum(expr(s"$d * $d * $d * $d")).as("s4"))
  }

  /** The moment readout over an externally-maintained power-sum cell
    * table (the streaming face's state readout — cells carry
    * (event_type, n, s1..s4); see `EventsStream.momentCells`).
    */
  def momentReadoutFromSums(sums: DataFrame): DataFrame = momentReadout(sums)

  /** Feed-freshness audit: per event type, how far its newest event lags
    * the head of the feed — the staleness number an ingestion SLA pages
    * on (a type whose producer died reads as a growing lag here long
    * before any volume alarm fires). Whole-second lags by truncating
    * integer division of epoch micros; the freshest type reads 0 by
    * construction.
    *
    * 100 TB shape: one map-side min/max aggregate to |types| rows; the
    * head-of-feed join is a 1-row broadcast.
    */
  def freshnessAudit(s: SparkSession, dir: String): DataFrame =
    freshnessFromCells(
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          max(unix_micros(col("ts"))).as("last_us")))

  /** The lag readout over an externally-maintained (event_type,
    * n_events, last_us) cell table — the streaming face keeps exactly
    * these cells as complete-mode state (count/max merge exactly), and
    * this epilogue runs downstream of the sink.
    */
  def freshnessFromCells(cells: DataFrame): DataFrame =
    cells.crossJoin(broadcast(cells.agg(max(col("last_us")).as("head_us"))))
      .select(col("event_type"), col("n_events"), col("last_us"),
        expr("(head_us - last_us) DIV 1000000").as("lag_s"))
      .orderBy(col("event_type"))

  /** [[freshnessAudit]] as DuckDB SQL. */
  private[graft] def freshnessAuditSql: String =
    s"""WITH per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
           FROM events GROUP BY event_type),
       h AS (SELECT max(last_us) AS head_us FROM per)
       SELECT event_type, n_events, last_us,
              CAST((head_us - last_us) // 1000000 AS BIGINT) AS lag_s
       FROM per CROSS JOIN h
       ORDER BY event_type"""

  /** Quantile treatment effect (QTE): per decile P10..P90, the exact
    * order-statistic of order value in the urgent arm minus the
    * non-urgent arm — the experimentation readout that says WHERE in the
    * distribution an effect lives (a mean uplift driven by three whales
    * and one lifting every decile price very differently; the mean-only
    * A/B readout cannot tell them apart). Exact max-rank percentiles
    * (cum*100 >= pct*n, the weightedLengthPercentiles rule), so no
    * interpolation semantics can diverge between engines.
    *
    * 100 TB shape: one map-side (arm, cents) count collapses the feed to
    * a value-domain-sized CDF frame (the ksDrift discipline); the
    * per-arm cumulative windows, the decile probes, and the pivot all
    * ride that frame.
    */
  def quantileUplift(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.load(s, dir, "orders")
      .select(
        when(col("o_orderpriority") === "1-URGENT", lit("urgent"))
          .otherwise(lit("other")).as("arm"),
        expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .groupBy(col("arm"), col("cents")).agg(count(lit(1)).as("c"))
      // value-domain-sized; pinned once for its three consumers (cum
      // window, totals, probe join) instead of re-scanning orders
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("arm"))
      .orderBy(col("cents"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = cells.withColumn("cum", sum(col("c")).over(w))
    val totals = cells.groupBy(col("arm")).agg(sum(col("c")).as("n"))
    val qs = (1 to 9).map(q => s.range(1).select(lit(q * 10L).as("pct")))
      .reduce(_ unionByName _)
    val pcts = cum.join(broadcast(totals), Seq("arm"))
      .crossJoin(broadcast(qs))
      .filter(col("cum") * 100 >= col("pct") * col("n"))
      .groupBy(col("arm"), col("pct"))
      .agg(min(col("cents")).as("cents"))
    pcts.filter(col("arm") === "urgent")
      .select(col("pct"), col("cents").as("urgent_cents"))
      .join(pcts.filter(col("arm") === "other")
        .select(col("pct"), col("cents").as("other_cents")), Seq("pct"))
      .withColumn("uplift_cents", col("urgent_cents") - col("other_cents"))
      .orderBy(col("pct"))
  }

  /** Fully portable text for [[quantileUplift]]. */
  private[graft] def quantileUpliftSql: String =
    s"""WITH cells AS (
         SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent'
                     ELSE 'other' END AS arm,
                CAST(floor(o_totalprice * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents,
                count(*) AS c
         FROM orders GROUP BY 1, 2),
       cum AS (SELECT arm, cents,
               sum(c) OVER (PARTITION BY arm ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM cells),
       t AS (SELECT arm, sum(c) AS n FROM cells GROUP BY arm),
       q AS (SELECT CAST(10 AS BIGINT) AS pct UNION ALL SELECT 20
             UNION ALL SELECT 30 UNION ALL SELECT 40 UNION ALL SELECT 50
             UNION ALL SELECT 60 UNION ALL SELECT 70 UNION ALL SELECT 80
             UNION ALL SELECT 90),
       p AS (SELECT cum.arm, pct, min(cents) AS cents
             FROM cum JOIN t ON cum.arm = t.arm CROSS JOIN q
             WHERE cum * 100 >= pct * n
             GROUP BY cum.arm, pct)
       SELECT u.pct, u.cents AS urgent_cents, o.cents AS other_cents,
              u.cents - o.cents AS uplift_cents
       FROM (SELECT pct, cents FROM p WHERE arm = 'urgent') u
       JOIN (SELECT pct, cents FROM p WHERE arm = 'other') o
         ON u.pct = o.pct
       ORDER BY u.pct"""

  /** Mann-Whitney U (Wilcoxon rank-sum) between the urgent and other
    * arms' order values — the NONPARAMETRIC significance readout beside
    * the parametric [[abTestReadout]] and the distributional
    * [[quantileUplift]]: does one arm stochastically dominate, without
    * trusting means or normality? Midranks handle ties the standard way;
    * z uses the tie-corrected variance (no continuity correction —
    * documented, both engines evaluate the same tree).
    *
    * EXACT integer evidence: per distinct cents value, the arm counts
    * and the cumulative count below give midrank×2 = 2·below + t + 1
    * (always an integer), so the rank sum and U statistic accumulate in
    * DECIMAL(38,0) with zero float ranks; u_x2 = 2·U is emitted exactly
    * (its BIGINT cast holds while n_urgent·n_other < 4.6e18 — both arms
    * under ~2.1e9 rows; the DECIMAL column itself is exact far past
    * that). The only float is the final z (correctly-rounded IEEE ops
    * over exact operands — engine-identical), half-up signed micro.
    *
    * 100 TB shape: one map-side (arm, cents) count collapses the feed
    * to the value-domain CDF frame (the ksDrift/QTE discipline); the
    * below-count window and the one-row census ride that frame. The
    * unpartitioned window is bounded by the VALUE DOMAIN, not the feed.
    */
  def mannWhitneyValue(s: SparkSession, dir: String): DataFrame = {
    val perVal = Tables.load(s, dir, "orders")
      .select(
        when(col("o_orderpriority") === "1-URGENT", lit("urgent"))
          .otherwise(lit("other")).as("arm"),
        expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))
      .groupBy(col("cents"))
      .agg(
        sum(when(col("arm") === "urgent", 1L).otherwise(0L)).as("cu"),
        sum(when(col("arm") === "other", 1L).otherwise(0L)).as("co"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("cents"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    perVal
      .withColumn("b", coalesce(sum(expr("cu + co")).over(w), lit(0L)))
      .agg(
        sum(col("cu")).as("n_urgent"),
        sum(col("co")).as("n_other"),
        sum(expr("CAST(cu AS DECIMAL(38,0)) * (2 * b + (cu + co) + 1)")).as("r2u"),
        sum(expr("CAST(cu + co AS DECIMAL(38,0)) * (cu + co) * (cu + co) - (cu + co)"))
          .as("tcorr"))
      .withColumn("u_x2_dec",
        expr("r2u - CAST(n_urgent AS DECIMAL(38,0)) * (n_urgent + 1)"))
      .withColumn("nn", expr("n_urgent + n_other"))
      .withColumn("inner", expr(
        """CAST(n_urgent AS DOUBLE) * CAST(n_other AS DOUBLE)
           * (CAST(nn + 1 AS DOUBLE)
              - CAST(tcorr AS DOUBLE) / (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)))
           / CAST(12 AS DOUBLE)"""))
      .withColumn("num", expr(
        "CAST(u_x2_dec - CAST(n_urgent AS DECIMAL(38,0)) * n_other AS DOUBLE)"))
      .select(col("n_urgent"), col("n_other"),
        expr("CAST(u_x2_dec AS BIGINT)").as("u_urgent_x2"),
        expr("""CASE WHEN n_urgent = 0 OR n_other = 0 OR nn < 2 OR inner <= 0
                THEN CAST(0 AS BIGINT)
                WHEN num >= 0 THEN CAST(floor(num / (2 * sqrt(inner))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE -CAST(floor((-num) / (2 * sqrt(inner))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("z_micro"))
  }

  /** Fully portable text for [[mannWhitneyValue]]. */
  private[graft] def mannWhitneyValueSql: String =
    """WITH cells AS (
         SELECT CAST(floor(o_totalprice * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents,
                CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END) AS BIGINT) AS cu,
                CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 0 ELSE 1 END) AS BIGINT) AS co
         FROM orders GROUP BY 1),
       withb AS (SELECT cents, cu, co,
                 coalesce(sum(cu + co) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   CAST(0 AS BIGINT)) AS b
                 FROM cells),
       agg AS (SELECT
                 CAST(sum(cu) AS BIGINT) AS n_urgent,
                 CAST(sum(co) AS BIGINT) AS n_other,
                 sum(CAST(cu AS DECIMAL(38,0)) * (2 * b + (cu + co) + 1)) AS r2u,
                 sum(CAST(cu + co AS DECIMAL(38,0)) * (cu + co) * (cu + co)
                     - (cu + co)) AS tcorr
               FROM withb),
       fin AS (SELECT n_urgent, n_other,
                 r2u - CAST(n_urgent AS DECIMAL(38,0)) * (n_urgent + 1) AS u_x2_dec,
                 n_urgent + n_other AS nn, tcorr
               FROM agg),
       rd AS (SELECT n_urgent, n_other, u_x2_dec, nn,
                CAST(n_urgent AS DOUBLE) * CAST(n_other AS DOUBLE)
                  * (CAST(nn + 1 AS DOUBLE)
                     - CAST(tcorr AS DOUBLE)
                       / (CAST(nn AS DOUBLE) * CAST(nn - 1 AS DOUBLE)))
                  / CAST(12 AS DOUBLE) AS inr,
                CAST(u_x2_dec - CAST(n_urgent AS DECIMAL(38,0)) * n_other
                  AS DOUBLE) AS num
              FROM fin)
       SELECT n_urgent, n_other,
              CAST(u_x2_dec AS BIGINT) AS u_urgent_x2,
              CASE WHEN n_urgent = 0 OR n_other = 0 OR nn < 2 OR inr <= 0
                   THEN CAST(0 AS BIGINT)
                   WHEN num >= 0 THEN CAST(floor(num / (2 * sqrt(inr))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor((-num) / (2 * sqrt(inr))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              END AS z_micro
       FROM rd"""

  /** Hodges-Lehmann pseudo-median of daily revenue — the robust
    * LOCATION estimator associated with the Wilcoxon/Mann-Whitney rank
    * family ([[mannWhitneyValue]] is the significance reading; this is
    * the "where IS the center, outliers notwithstanding" number): the
    * median of all Walsh averages (vᵢ + vⱼ)/2 over day pairs i ≤ j.
    * Against a plain median it gains ~21% asymptotic efficiency at the
    * normal and keeps a 29% breakdown point — one whale day cannot own
    * it the way it owns the mean.
    *
    * EXACT INTEGER evidence: a Walsh average is held DOUBLED as the
    * pair sum w = vᵢ + vⱼ (BIGINT, never halved into a float); the
    * median is the LOWER order statistic at rank (m+1) DIV 2 under the
    * total order (w, da, db), and the readout emits w itself plus the
    * exact milli-cent pseudo-median w·500 (÷2 for the average, ×1000
    * for milli — one integer multiply, no division anywhere).
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the Walsh set is the documented catalog-sized crossJoin (|days|²/2
    * pairs — a decade ≈ 3.3M rows) and the median rank comes from
    * RankUtils.globalRank (sampled range partitioning + broadcast
    * prefix offsets — never one window task). The ranked frame is
    * checkpointed by globalRank, so the census re-reads the pinned
    * frame, not the crossJoin subtree.
    */
  def hodgesLehmannValue(s: SparkSession, dir: String): DataFrame = {
    // pinned once (r9 discipline): both crossJoin sides read this frame
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
      .localCheckpoint(true)
    val a = daily.select(col("day").as("da"), col("v").as("va"))
    val b = daily.select(col("day").as("db"), col("v").as("vb"))
    val walsh = a.crossJoin(b).filter(col("da") <= col("db"))
      .select((col("va") + col("vb")).as("w"), col("da"), col("db"))
    val ranked = RankUtils.globalRank(walsh, 32, col("w"), col("da"), col("db"))
    val census = ranked.agg(count(lit(1)).as("n_walsh"))
    ranked.crossJoin(broadcast(census))
      .filter(col("rank") === expr("(n_walsh + 1) DIV 2"))
      .select(col("n_walsh"),
        col("w").as("walsh_sum_cents"),
        (col("w") * lit(500L)).as("pseudo_median_milli"))
  }

  /** Fully portable (self-join-as-inequality-join, row_number median,
    * integer readout spell identically in DuckDB and Spark; the rank
    * target avoids DIV-vs-// via the theilSen floor spelling).
    */
  private[graft] def hodgesLehmannValueSql: String =
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY CAST(ts AS DATE)),
       pairs AS (SELECT a.day AS da, b.day AS db, a.v + b.v AS w
                 FROM daily a JOIN daily b ON a.day <= b.day),
       ranked AS (SELECT w,
                    row_number() OVER (ORDER BY w, da, db) AS rk
                  FROM pairs),
       st AS (SELECT CAST(count(*) AS BIGINT) AS n_walsh FROM pairs)
       SELECT n_walsh,
              CAST(w AS BIGINT) AS walsh_sum_cents,
              CAST(w * 500 AS BIGINT) AS pseudo_median_milli
       FROM ranked CROSS JOIN st
       WHERE rk = CAST(floor((n_walsh + 1) / CAST(2 AS DOUBLE)) AS BIGINT)"""

  /** Qn scale estimator of daily revenue (Rousseeuw & Croux, JASA 1993)
    * — the robust SPREAD companion to the [[hodgesLehmannValue]]
    * location: the k-th order statistic of all pairwise gaps
    * |vᵢ − vⱼ| (i < j) at k = h(h−1)/2, h = n DIV 2 + 1. Against the
    * MAD ([[graft.operators.Analytics.madOutliers]]) it keeps the 50%
    * breakdown but needs no location estimate first (so it stays honest
    * on skewed series) and is 4× more efficient at the normal (82% vs
    * 37%).
    *
    * PURE INTEGER evidence end to end: gaps are exact cent differences,
    * the rank target is integer arithmetic on the day census, and the
    * readout emits the raw winning gap plus its Gaussian-consistency
    * scaling as the exact product gap·221914 in 1e-5-cent units
    * (d = 2.21914 pinned as a 1e5-scaled integer literal — no float
    * ever, not even at the readout).
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the gap set is the documented catalog-sized crossJoin and the
    * order statistic comes from RankUtils.globalRank (the
    * hodgesLehmann/theilSen discipline — never one window task).
    */
  def qnScaleValue(s: SparkSession, dir: String): DataFrame = {
    // pinned once (r9 discipline): both crossJoin sides read this frame
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
      .localCheckpoint(true)
    val a = daily.select(col("day").as("da"), col("v").as("va"))
    val b = daily.select(col("day").as("db"), col("v").as("vb"))
    val gaps = a.crossJoin(b).filter(col("da") < col("db"))
      .select(abs(col("vb") - col("va")).as("g"), col("da"), col("db"))
    val ranked = RankUtils.globalRank(gaps, 32, col("g"), col("da"), col("db"))
    val census = daily.agg(count(lit(1)).as("n_days"))
      .withColumn("h", expr("n_days DIV 2 + 1"))
      .withColumn("k_target", expr("(h * (h - 1)) DIV 2"))
    ranked.crossJoin(broadcast(census))
      .filter(col("rank") === col("k_target"))
      .select(col("n_days"), col("k_target").as("k_rank"),
        col("g").as("qn_gap_cents"),
        (col("g") * lit(221914L)).as("qn_scaled_1e5"))
  }

  /** Fully portable (inequality self-join, row_number order statistic,
    * integer census arithmetic via the floor spelling; zero floats).
    */
  private[graft] def qnScaleValueSql: String =
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
         FROM events GROUP BY CAST(ts AS DATE)),
       gaps AS (SELECT abs(b.v - a.v) AS g, a.day AS da, b.day AS db
                FROM daily a JOIN daily b ON a.day < b.day),
       ranked AS (SELECT g,
                    row_number() OVER (ORDER BY g, da, db) AS rk
                  FROM gaps),
       census AS (SELECT n_days,
                    CAST((h * (h - 1)) / 2 AS BIGINT) AS k_target
                  FROM (SELECT CAST(count(*) AS BIGINT) AS n_days,
                          CAST(floor(count(*) / CAST(2 AS DOUBLE)) + 1 AS BIGINT) AS h
                        FROM daily) c)
       SELECT n_days, k_target AS k_rank,
              CAST(g AS BIGINT) AS qn_gap_cents,
              CAST(g * 221914 AS BIGINT) AS qn_scaled_1e5
       FROM ranked CROSS JOIN census
       WHERE rk = k_target"""

  /** Wilcoxon signed-rank test on week-over-week daily revenue — the
    * PAIRED nonparametric significance test that completes the rank
    * family ([[mannWhitneyValue]] is the unpaired arm-vs-arm reading;
    * this one asks "did THIS weekday take more money than the same
    * weekday last week?", so the weekly cycle is differenced out
    * instead of averaged over). Pairs are (epoch-week w, w+1) at equal
    * day-of-week; zero differences drop (the standard Wilcoxon
    * treatment); |d| takes DOUBLED average ranks (2·below + t + 1 —
    * exact integers, the mannWhitney midrank discipline); W is the
    * doubled rank sum of the positive differences.
    *
    * PURE INTEGER evidence: with num = 2·W₂ − n(n+1) (W₂ the doubled
    * positive-rank sum) and the tie-corrected variance held 48-scaled
    * as var48 = 2n(n+1)(2n+1) − Σ(t³−t), the z statistic is
    * z = num·sqrt(3)/sqrt(var48) — both sqrt operands exact (sqrt(3)
    * spells identically on both engines), ±1-in-doubled-units
    * continuity correction (±2 on num), half-up micro readout.
    *
    * 100 TB shape: the feed collapses map-side to ONE |days|-row frame;
    * the week-pair join is an equi-join on (dow, week) over that
    * catalog frame; ranks ride a DISTINCT-|d| prefix-count frame (the
    * spearman build); the readout is ONE row.
    */
  def wilcoxonSignedRank(s: SparkSession, dir: String): DataFrame = {
    // pinned once: the daily frame feeds both sides of the pair join
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(sum(expr(
        "CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .as("v"))
      .withColumn("ed", expr("CAST(datediff(day, DATE '1970-01-05') AS BIGINT)"))
      .withColumn("week", expr("CASE WHEN ed >= 0 THEN ed DIV 7 ELSE -((-ed + 6) DIV 7) END"))
      .withColumn("dow", expr("((ed % 7) + 7) % 7"))
      .localCheckpoint(true)
    val a = daily.select(col("dow"), col("week"), col("v").as("v1"))
    val b = daily.select(col("dow"), (col("week") - 1).as("week"),
      col("v").as("v2"))
    val diffs = a.join(b, Seq("dow", "week"))
      .select((col("v2") - col("v1")).as("d"))
      .filter(col("d") =!= 0)
      .withColumn("ad", abs(col("d")))
      .localCheckpoint(true) // rank build + join-back + census
    // doubled average rank per DISTINCT |d| (the spearman build)
    val w = Window.orderBy(col("ad")).rowsBetween(Window.unboundedPreceding, -1)
    val ranks = diffs.groupBy(col("ad")).agg(count(lit(1)).as("cnt"))
      .withColumn("before", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .select(col("ad"),
        (lit(2L) * col("before") + col("cnt") + lit(1L)).as("r2"),
        col("cnt").as("t"))
    val census = diffs.join(ranks, Seq("ad"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(when(col("d") > 0, col("r2")).otherwise(lit(0L))), lit(0L))
          .as("w2"))
    val ties = ranks
      .agg(coalesce(sum(expr("t * t * t - t")), lit(0L)).as("tie3"))
    census.crossJoin(broadcast(ties))
      .select(col("n_pairs"), col("w2"),
        expr("2 * w2 - n_pairs * (n_pairs + 1)").as("num"),
        expr("2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) - tie3")
          .as("var48"))
      .select(col("n_pairs"), col("w2"), col("num"), col("var48"),
        expr("""CASE WHEN var48 <= 0 OR num = 0 THEN CAST(0 AS BIGINT)
                WHEN num > 0 THEN
                  CAST(floor(CAST(greatest(num - 2, 0) AS DOUBLE) * sqrt(CAST(3 AS DOUBLE))
                    / sqrt(CAST(var48 AS DOUBLE))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE -CAST(floor(CAST(greatest(-num - 2, 0) AS DOUBLE) * sqrt(CAST(3 AS DOUBLE))
                    / sqrt(CAST(var48 AS DOUBLE))
                    * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                END""").as("z_micro"))
  }

  /** [[wilcoxonSignedRank]] as DuckDB SQL. */
  private[graft] def wilcoxonSignedRankSql: String =
    s"""WITH daily AS (
         SELECT day, v,
                CASE WHEN ed >= 0 THEN CAST(floor(ed / CAST(7 AS DOUBLE)) AS BIGINT)
                     ELSE -CAST(floor((-ed + 6) / CAST(7 AS DOUBLE)) AS BIGINT) END AS week,
                ((ed % 7) + 7) % 7 AS dow
         FROM (SELECT day, v, CAST(date_diff('day', DATE '1970-01-05', day) AS BIGINT) AS ed FROM (
           SELECT CAST(ts AS DATE) AS day,
                  CAST(sum(CAST(floor(value * CAST(100 AS DOUBLE)
                    + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS v
           FROM events GROUP BY CAST(ts AS DATE)) d0) d1),
       diffs AS (SELECT b.v - a.v AS d, abs(b.v - a.v) AS ad
                 FROM daily a JOIN daily b
                 ON a.dow = b.dow AND b.week = a.week + 1
                 WHERE b.v <> a.v),
       ranks AS (SELECT ad,
                   CAST(2 * coalesce(sum(cnt) OVER (ORDER BY ad
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        + cnt + 1 AS BIGINT) AS r2,
                   cnt AS t
                 FROM (SELECT ad, CAST(count(*) AS BIGINT) AS cnt
                       FROM diffs GROUP BY ad) g),
       census AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                    CAST(coalesce(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END), 0)
                      AS BIGINT) AS w2
                  FROM diffs JOIN ranks USING (ad)),
       ties AS (SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tie3
                FROM ranks),
       fin AS (SELECT n_pairs, w2,
                 2 * w2 - n_pairs * (n_pairs + 1) AS num,
                 2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) - tie3 AS var48
               FROM census CROSS JOIN ties)
       SELECT n_pairs, w2, num, var48,
              CASE WHEN var48 <= 0 OR num = 0 THEN CAST(0 AS BIGINT)
                   WHEN num > 0 THEN
                     CAST(floor(CAST(greatest(num - 2, 0) AS DOUBLE) * sqrt(CAST(3 AS DOUBLE))
                       / sqrt(CAST(var48 AS DOUBLE))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor(CAST(greatest(-num - 2, 0) AS DOUBLE) * sqrt(CAST(3 AS DOUBLE))
                       / sqrt(CAST(var48 AS DOUBLE))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              END AS z_micro
       FROM fin"""

  /** McNemar's test on per-user conversion across the horizon's two
    * halves — the PAIRED BINARY member of the test family (MWU compares
    * value distributions, Wilcoxon paired values; this one asks "did
    * the users who purchase CHANGE?" — each user is their own control,
    * so population mix shifts cancel). Halves split at the event
    * horizon's day midpoint (2·day ≤ min+max — pure integer, no
    * division); the statistic uses only the DISCORDANT cells: b =
    * early-only converters, c = late-only, continuity-corrected
    * χ² = (|b−c|−1)²/(b+c).
    *
    * ZERO floats anywhere: the readout is the exact truncated rational
    * (|b−c|−1)²·1e6 DIV (b+c) — all operands non-negative, so
    * truncating DIV and flooring // agree — with the concordant cells
    * (n_both, n_neither) emitted for the full 2×2.
    *
    * 100 TB shape: one map-side bounds aggregate (1-row broadcast
    * scaffold), ONE per-user conditional-max aggregate (map-side
    * combining to |users| rows), one 4-counter readout aggregate.
    */
  def mcnemarConversion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-05') AS BIGINT)")
          .as("ed"))
    val bounds = ev.agg(min(col("ed")).as("lo"), max(col("ed")).as("hi"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(
        max(expr("""CASE WHEN event_type = 'purchase' AND 2 * ed <= lo + hi
                    THEN 1 ELSE 0 END""")).as("early"),
        max(expr("""CASE WHEN event_type = 'purchase' AND 2 * ed > lo + hi
                    THEN 1 ELSE 0 END""")).as("late"))
    perUser.agg(
        coalesce(sum(expr("CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END")),
          lit(0L)).as("n_both"),
        coalesce(sum(expr("CASE WHEN early = 0 AND late = 0 THEN 1 ELSE 0 END")),
          lit(0L)).as("n_neither"),
        coalesce(sum(expr("CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END")),
          lit(0L)).as("b_early_only"),
        coalesce(sum(expr("CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END")),
          lit(0L)).as("c_late_only"))
      .select(col("n_both"), col("n_neither"),
        col("b_early_only"), col("c_late_only"),
        expr("""CASE WHEN b_early_only + c_late_only = 0 THEN CAST(0 AS BIGINT)
                ELSE ((abs(b_early_only - c_late_only) - 1)
                      * (abs(b_early_only - c_late_only) - 1) * 1000000)
                     DIV (b_early_only + c_late_only)
                END""").as("chi2_micro"))
  }

  /** [[mcnemarConversion]] as DuckDB SQL. BIGINT headroom: the 1e6
    * numerator holds while |b − c| stays under ~3e6 discordant users
    * (DECIMAL(38,0) hatch documented, cf. assocRules).
    */
  private[graft] def mcnemarConversionSql: String =
    s"""WITH ev AS (SELECT user_id, event_type,
                CAST(date_diff('day', DATE '1970-01-05', day) AS BIGINT) AS ed
              FROM (SELECT user_id, event_type, CAST(ts AS DATE) AS day
                    FROM events) e0),
       bounds AS (SELECT min(ed) AS lo, max(ed) AS hi FROM ev),
       per_user AS (SELECT user_id,
              max(CASE WHEN event_type = 'purchase' AND 2 * ed <= lo + hi
                  THEN 1 ELSE 0 END) AS early,
              max(CASE WHEN event_type = 'purchase' AND 2 * ed > lo + hi
                  THEN 1 ELSE 0 END) AS late
            FROM ev CROSS JOIN bounds GROUP BY user_id),
       census AS (SELECT
              CAST(coalesce(sum(CASE WHEN early = 1 AND late = 1
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_both,
              CAST(coalesce(sum(CASE WHEN early = 0 AND late = 0
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_neither,
              CAST(coalesce(sum(CASE WHEN early = 1 AND late = 0
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS b_early_only,
              CAST(coalesce(sum(CASE WHEN early = 0 AND late = 1
                THEN 1 ELSE 0 END), 0) AS BIGINT) AS c_late_only
            FROM per_user)
       SELECT n_both, n_neither, b_early_only, c_late_only,
              CASE WHEN b_early_only + c_late_only = 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(((abs(b_early_only - c_late_only) - 1)
                       * (abs(b_early_only - c_late_only) - 1) * 1000000)
                       // (b_early_only + c_late_only) AS BIGINT)
              END AS chi2_micro
       FROM census"""

  /** Poisson(1) weight from an 8-hex md5 prefix — the deterministic
    * resampling kernel of the distributed bootstrap. Thresholds are
    * floor(CDF(k)·2^32) rendered as fixed-width lowercase hex LITERALS,
    * so both engines compare the same strings (the stratifiedSplit
    * hash-split convention); the tail past k=8 (~7e-6 mass) rounds
    * into 8.
    */
  private[graft] def poissonWeightCase(hexpr: String): String =
    s"""CASE WHEN $hexpr < '5e2d58d8' THEN 0
         WHEN $hexpr < 'bc5ab1b1' THEN 1
         WHEN $hexpr < 'eb715e1d' THEN 2
         WHEN $hexpr < 'fb239797' THEN 3
         WHEN $hexpr < 'ff1025f5' THEN 4
         WHEN $hexpr < 'ffd90f3b' THEN 5
         WHEN $hexpr < 'fffa8b71' THEN 6
         WHEN $hexpr < 'ffff540c' THEN 7
         ELSE 8 END"""

  /** Bootstrap confidence interval for total order revenue via the
    * POISSON BOOTSTRAP (Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012 — the canonical distributed
    * bootstrap): replicate r reweights every order by an independent
    * Poisson(1) count derived DETERMINISTICALLY from
    * md5(order_key : r), so resampling needs no RNG state, no
    * per-replicate shuffle, and no row exchange at all beyond one
    * map-side-combinable aggregate — Poisson(1) counts approximate the
    * multinomial resample without needing to know n in advance, which
    * is exactly why this is THE bootstrap that survives 100 TB.
    *
    * ZERO floats: replicate totals are integer cent sums; the CI bounds
    * are max-rank order statistics over the B-replicate frame (the
    * weightedLengthPercentiles rule) at 2.5% / 97.5%.
    *
    * 100 TB shape: the B-fold explode happens INSIDE the scan
    * projection and collapses map-side — the shuffle carries at most B
    * partial rows per input partition, and everything after rides the
    * B-row frame. B=200 keeps the percentile resolution honest at the
    * 2.5% tails (5 replicates below the bound).
    */
  def bootstrapRevenueCi(s: SparkSession, dir: String, b: Int = 200): DataFrame = {
    val o = bootInput(s, dir)
    bootstrapReadout(bootBase(o), bootTotals(o, b), b)
  }

  /** The staged/incremental face of [[bootstrapRevenueCi]] — replicate
    * totals are SUMS of deterministic per-row terms, so they ADD across
    * slices: "prefix summarized, delta arrives" unions the per-slice
    * (rep, t) partials and re-sums, never rescanning the prefix, and the
    * merged integers equal the one-shot scan's exactly (the corrMatrix /
    * momentProfile mergeability story — the oracle IS the one-shot
    * statement, merge == rescan to the exact cent).
    */
  def bootstrapRevenueCiIncremental(s: SparkSession, dir: String,
                                    b: Int = 200): DataFrame = {
    val o = bootInput(s, dir)
    // deliberate driver action (SCALE.md ledger): the 80/20 replay split
    // point is ONE long off a max() aggregate — catalog-sized by contract.
    // It exists only to FABRICATE the two slices this demo replays; a
    // production incremental run is HANDED its slice boundary (the
    // previous run's high-water mark) and never computes it
    val split = o.agg(max(col("o_orderkey"))).head().getLong(0) * 4 / 5
    val slices = Seq(o.filter(col("o_orderkey") <= split),
      o.filter(col("o_orderkey") > split))
    val reps = slices.map(bootTotals(_, b)).reduce(_ unionByName _)
      .groupBy(col("rep")).agg(sum(col("t")).as("t"))
    val base = slices.map(bootBase).reduce(_ unionByName _)
      .agg(sum(col("n_orders")).as("n_orders"),
        sum(col("total_cents")).as("total_cents"))
    bootstrapReadout(base, reps, b)
  }

  private def bootInput(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey"),
        expr("CAST(floor(o_totalprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("cents"))

  /** Per-replicate reweighted totals — the mergeable partial. */
  private def bootTotals(o: DataFrame, b: Int): DataFrame = {
    require(b >= 40, "need enough replicates to resolve the 2.5% tails")
    val wexpr = poissonWeightCase(
      "substring(md5(concat(CAST(o_orderkey AS STRING), ':', CAST(rep AS STRING))), 1, 8)")
    o.select(col("o_orderkey"), col("cents"),
        explode(expr(s"sequence(0, ${b - 1})")).as("rep"))
      .groupBy(col("rep"))
      .agg(sum(expr(s"CAST(($wexpr) AS BIGINT) * cents")).as("t"))
  }

  private def bootBase(o: DataFrame): DataFrame =
    o.agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("total_cents"))

  private def bootstrapReadout(base: DataFrame, reps: DataFrame,
                               b: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"), col("rep"))
    // BOTH bounds from one pass over the ranked B-row frame — two
    // filtered consumers would re-run the corpus-scanning replicate
    // aggregate per bound (the plan audit caught exactly that: 3 scans)
    val bounds = reps.withColumn("rn", row_number().over(w))
      .agg(
        min(when(expr(s"rn * 1000 >= 25 * $b"), col("t"))).as("boot_lo_cents"),
        min(when(expr(s"rn * 1000 >= 975 * $b"), col("t"))).as("boot_hi_cents"))
    base.crossJoin(broadcast(bounds))
      .select(col("n_orders"), col("total_cents"),
        col("boot_lo_cents"), col("boot_hi_cents"),
        lit(b.toLong).as("n_reps"))
  }

  /** [[bootstrapRevenueCi]] as DuckDB SQL. */
  private[graft] def bootstrapRevenueCiSql(b: Int = 200): String = {
    val wexpr = poissonWeightCase(
      "substring(md5(concat(CAST(o_orderkey AS STRING), ':', CAST(rep AS STRING))), 1, 8)")
    s"""WITH r AS (SELECT o_orderkey, o_totalprice, unnest(range(0, $b)) AS rep FROM orders),
       tot AS (SELECT rep,
                 CAST(sum(CAST(($wexpr) AS BIGINT)
                   * CAST(floor(o_totalprice * CAST(100 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS t
               FROM r GROUP BY rep),
       rk AS (SELECT t, rep, row_number() OVER (ORDER BY t, rep) AS rn FROM tot),
       bounds AS (SELECT
                    min(CASE WHEN rn * 1000 >= 25 * $b THEN t END) AS boot_lo_cents,
                    min(CASE WHEN rn * 1000 >= 975 * $b THEN t END) AS boot_hi_cents
                  FROM rk),
       base AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(floor(o_totalprice * CAST(100 AS DOUBLE)
                    + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS total_cents
                FROM orders)
       SELECT n_orders, total_cents, boot_lo_cents, boot_hi_cents,
              CAST($b AS BIGINT) AS n_reps
       FROM base CROSS JOIN bounds"""
  }

  /** Empirical-Bayes shrunken return rates per part: rate estimates
    * shrunk toward the global rate with prior weight `k` —
    * (x + k*p0) / (n + k) — the "small-sample leaderboard" fix every
    * marketplace ranking uses (a part with 1 return out of 2 sales must
    * NOT outrank one with 40 of 100; raw rates say it does, the
    * shrinkage says otherwise). Exact integers by cross-multiplying p0 =
    * X/N through: shrunk_1e4 = halfUp(1e4*(x*N + k*X), N*(n + k)) — no
    * float prior ever materializes. BIGINT holds to ~3e9 rows per side
    * (x*N); DECIMAL(38,0) hatch documented past that.
    *
    * 100 TB shape: one map-side per-part aggregate, one 1-row global
    * broadcast, TakeOrderedAndProject exit.
    */
  def shrunkenRates(s: SparkSession, dir: String, k: Long = 20,
                    topK: Int = 50): DataFrame = {
    val per = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("l_returnflag") === "R", lit(1L)).otherwise(lit(0L)))
          .as("n_returns"))
    per.crossJoin(broadcast(
        per.agg(sum(col("n_items")).as("nn"), sum(col("n_returns")).as("xx"))))
      .select(col("p_partkey"), col("n_items"), col("n_returns"),
        expr("CAST((20000 * n_returns + n_items) DIV (2 * n_items) AS BIGINT)")
          .as("raw_1e4"),
        expr(s"""CAST((2 * 10000 * (n_returns * nn + $k * xx)
                 + nn * (n_items + $k))
                 DIV (2 * nn * (n_items + $k)) AS BIGINT)""").as("shrunk_1e4"))
      .orderBy(col("shrunk_1e4").desc, col("p_partkey"))
      .limit(topK)
  }

  /** [[shrunkenRates]] as DuckDB SQL. */
  private[graft] def shrunkenRatesSql(k: Long, topK: Int): String =
    s"""WITH per AS (SELECT l_partkey AS p_partkey,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_returns
           FROM lineitem GROUP BY l_partkey),
       g AS (SELECT CAST(sum(n_items) AS BIGINT) AS nn,
                    CAST(sum(n_returns) AS BIGINT) AS xx FROM per)
       SELECT p_partkey, n_items, n_returns,
              CAST((20000 * n_returns + n_items) // (2 * n_items) AS BIGINT)
                AS raw_1e4,
              CAST((2 * 10000 * (n_returns * nn + $k * xx)
                + nn * (n_items + $k))
                // (2 * nn * (n_items + $k)) AS BIGINT) AS shrunk_1e4
       FROM per CROSS JOIN g
       ORDER BY shrunk_1e4 DESC, p_partkey
       LIMIT $topK"""

  /** A/B experimentation power audit: per event type, the per-arm sample
    * size needed to detect a 1% (and 5%) shift of the mean value at
    * alpha = 0.05 two-sided / 80% power — the "can this experiment even
    * be run here" readiness number every experimentation platform
    * publishes next to its metrics. The two-sample normal approximation
    * n = 2(z_{0.975}+z_{0.8})^2 sigma^2 / delta^2 with z = 1.96/0.84
    * (2(2.8)^2 = 15.68 exactly); for delta = mean/k the n-powers cancel
    * into a PURE ratio of the exact decimal power sums:
    *   n_req = ceil(15.68 * k^2 * d2 / s1^2),  d2 = n*s2 - s1^2
    * so the readout is one correctly-rounded double division per type
    * (the moment-profile determinism story — no variance estimate ever
    * materializes in float).
    *
    * 100 TB shape: the same ONE map-side power-sum aggregate as the
    * moment profile; |types| rows out.
    */
  def abPowerAudit(s: SparkSession, dir: String): DataFrame = {
    momentSums(momentInput(s, dir))
      .withColumn("nd", expr("CAST(n AS DECIMAL(38,0))"))
      .withColumn("d2", expr("CAST(nd * s2 - s1 * s1 AS DOUBLE)"))
      .withColumn("m2", expr("CAST(s1 * s1 AS DOUBLE)"))
      .select(col("event_type"), col("n"),
        expr("""CASE WHEN m2 <= 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(ceil(CAST(156800 AS DOUBLE) * d2 / m2) AS BIGINT)
                END""").as("n_req_1pct"),
        expr("""CASE WHEN m2 <= 0 THEN CAST(-1 AS BIGINT)
                ELSE CAST(ceil(CAST(6272 AS DOUBLE) * d2 / m2) AS BIGINT)
                END""").as("n_req_5pct"),
        expr("""CASE WHEN m2 <= 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(CAST(100000000 AS DOUBLE) * d2 / m2
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) END""").as("cv2_1e8"))
      .orderBy(col("event_type"))
  }

  /** Fully portable text for [[abPowerAudit]] (shares the moment-profile
    * power-sum CTE).
    */
  private[graft] def abPowerAuditSql: String = {
    val d = "CAST(x AS DECIMAL(38,0))"
    s"""WITH b AS (SELECT event_type,
             CAST(floor(value * CAST(10 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS x
           FROM events),
       agg AS (SELECT event_type, count(*) AS n,
                      sum($d) AS s1, sum($d * $d) AS s2
               FROM b GROUP BY event_type),
       fin AS (SELECT event_type, n,
                      CAST(CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS DOUBLE) AS d2,
                      CAST(s1 * s1 AS DOUBLE) AS m2
               FROM agg)
       SELECT event_type, CAST(n AS BIGINT) AS n,
              CASE WHEN m2 <= 0 THEN CAST(-1 AS BIGINT)
                   ELSE CAST(ceil(CAST(156800 AS DOUBLE) * d2 / m2) AS BIGINT)
                   END AS n_req_1pct,
              CASE WHEN m2 <= 0 THEN CAST(-1 AS BIGINT)
                   ELSE CAST(ceil(CAST(6272 AS DOUBLE) * d2 / m2) AS BIGINT)
                   END AS n_req_5pct,
              CASE WHEN m2 <= 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(floor(CAST(100000000 AS DOUBLE) * d2 / m2
                     + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS cv2_1e8
       FROM fin ORDER BY event_type"""
  }

  private def momentReadout(sums: DataFrame): DataFrame = {
    sums
      .withColumn("nd", expr("CAST(n AS DECIMAL(38,0))"))
      .withColumn("d2", expr("CAST(nd * s2 - s1 * s1 AS DOUBLE)"))
      .withColumn("d3",
        expr("CAST(nd * nd * s3 - 3 * nd * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)"))
      .withColumn("d4", expr(
        """CAST(nd * nd * nd * s4 - 4 * nd * nd * s1 * s3
           + 6 * nd * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS DOUBLE)"""))
      .select(col("event_type"), col("n"),
        expr(s"CAST(floor(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) * CAST(1000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("mean_1e4"),
        expr(s"""CASE WHEN d2 <= 0 THEN CAST(0 AS BIGINT)
                 ELSE CAST(floor(d2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                   * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END""")
          .as("var_1e4"),
        expr(s"""CASE WHEN d2 <= 0 THEN CAST(0 AS BIGINT)
                 WHEN d3 >= 0 THEN CAST(floor(d3 / (d2 * sqrt(d2))
                   * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                 ELSE -CAST(floor((-d3) / (d2 * sqrt(d2))
                   * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END""")
          .as("skew_micro"),
        expr(s"""CASE WHEN d2 <= 0 THEN CAST(0 AS BIGINT)
                 WHEN d4 / (d2 * d2) - CAST(3 AS DOUBLE) >= 0
                   THEN CAST(floor((d4 / (d2 * d2) - CAST(3 AS DOUBLE))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                 ELSE -CAST(floor(-(d4 / (d2 * d2) - CAST(3 AS DOUBLE))
                   * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END""")
          .as("ex_kurt_micro"))
      .orderBy(col("event_type"))
  }

  /** Fully portable text for [[momentProfile]] (decimal power sums + the
    * final-double readout spell identically on both engines).
    */
  private[graft] def momentProfileSql: String = {
    val d = "CAST(x AS DECIMAL(38,0))"
    s"""WITH b AS (SELECT event_type,
             CAST(floor(value * CAST(10 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS x
           FROM events),
       agg AS (SELECT event_type, count(*) AS n,
                      sum($d) AS s1, sum($d * $d) AS s2,
                      sum($d * $d * $d) AS s3, sum($d * $d * $d * $d) AS s4
               FROM b GROUP BY event_type),
       fin AS (SELECT event_type, n,
                      CAST(s1 AS DOUBLE) AS s1d,
                      CAST(CAST(n AS DECIMAL(38,0)) * s2 - s1 * s1 AS DOUBLE) AS d2,
                      CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * s3
                        - 3 * CAST(n AS DECIMAL(38,0)) * s1 * s2
                        + 2 * s1 * s1 * s1 AS DOUBLE) AS d3,
                      CAST(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))
                          * CAST(n AS DECIMAL(38,0)) * s4
                        - 4 * CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) * s1 * s3
                        + 6 * CAST(n AS DECIMAL(38,0)) * s1 * s1 * s2
                        - 3 * s1 * s1 * s1 * s1 AS DOUBLE) AS d4
               FROM agg)
       SELECT event_type, CAST(n AS BIGINT) AS n,
              CAST(floor(s1d / CAST(n AS DOUBLE) * CAST(1000 AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mean_1e4,
              CASE WHEN d2 <= 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(floor(d2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                     * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS var_1e4,
              CASE WHEN d2 <= 0 THEN CAST(0 AS BIGINT)
                   WHEN d3 >= 0 THEN CAST(floor(d3 / (d2 * sqrt(d2))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor((-d3) / (d2 * sqrt(d2))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS skew_micro,
              CASE WHEN d2 <= 0 THEN CAST(0 AS BIGINT)
                   WHEN d4 / (d2 * d2) - CAST(3 AS DOUBLE) >= 0
                     THEN CAST(floor((d4 / (d2 * d2) - CAST(3 AS DOUBLE))
                       * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor(-(d4 / (d2 * d2) - CAST(3 AS DOUBLE))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS ex_kurt_micro
       FROM fin ORDER BY event_type"""
  }

  /** Fully portable text (UNION ALL arms instead of stack; decimal sums
    * and the final-double readout spell identically in DuckDB and
    * Spark).
    */
  private[graft] def corrMatrixSql: String = {
    val pairs = for {
      (i, (na, ea)) <- CorrCols.zipWithIndex.map(_.swap)
      (j, (nb, eb)) <- CorrCols.zipWithIndex.map(_.swap) if i < j
    } yield (s"${na}_$nb", ea, eb)
    val arms = pairs.map { case (name, ea, eb) =>
      s"SELECT '$name' AS pair, $ea AS x, $eb AS y FROM lineitem"
    }.mkString("\n         UNION ALL ")
    s"""WITH pairs AS ($arms),
       agg AS (
         SELECT pair, count(*) AS n,
                sum(CAST(x AS DECIMAL(38,0))) AS sx,
                sum(CAST(y AS DECIMAL(38,0))) AS sy,
                sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
                sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
                sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
         FROM pairs GROUP BY pair),
       fin AS (
         SELECT pair, n,
                CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE) AS num,
                CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE) AS dx,
                CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE) AS dy
         FROM agg)
       SELECT pair, CAST(n AS BIGINT) AS n,
              CASE WHEN dx <= 0 OR dy <= 0 THEN CAST(0 AS BIGINT)
                   WHEN num >= 0 THEN CAST(floor(num / (sqrt(dx) * sqrt(dy))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   ELSE -CAST(floor((-num) / (sqrt(dx) * sqrt(dy))
                     * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                   END AS r_micro
       FROM fin ORDER BY pair"""
  }
}
