package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Pattern-mining operators over the warehouse tables: co-occurrence
  * (market-basket) mining and Pareto-frontier (skyline) selection.
  *
  * Neither exists in the reference (its only operators are the fixed ETL
  * transform, `/root/reference/src/etl/transform.py:55-63`; anything
  * analytical is delegated to BigQuery), but both are first-class needs of
  * a large-scale curation pipeline: co-occurrence mining is the
  * "what appears together" primitive (items per basket, tags per document,
  * spans per page), and skyline selection is exactly the
  * quality-vs-cost data-selection frontier ("no other candidate is both
  * cheaper and higher-quality").
  */
object Mining {

  /** Market-basket pair mining: the top part pairs that co-occur in the
    * same order, with support counts.
    *
    * Shape, built for 100 TB:
    *  - distinct (basket, item) first — a multi-line order contributes one
    *    unit of support per pair, and the distinct collapses the fact table
    *    to the far smaller basket/item incidence before anything quadratic
    *    can happen;
    *  - whale-basket guard BEFORE the self-join: pair expansion is
    *    quadratic in basket size, so baskets with more than [[maxItems]]
    *    distinct items are excluded up front (a deterministic, documented
    *    cut — the standard practice for basket mining, where a single
    *    10^5-item crawler "basket" would otherwise emit 10^10 pairs).
    *    The guard is one map-side-combined count aggregate, and the join
    *    back to the incidence list is on the basket key it is already
    *    shuffled by;
    *  - the pair generation itself is a plain equi self-join on the basket
    *    key with `item_a < item_b` — a shuffled hash join Catalyst can
    *    re-plan under AQE; per-basket work is bounded by maxItems^2;
    *  - final count is map-side combinable; top-K goes through
    *    TakeOrderedAndProject (no global sort materialized).
    */
  def marketBasket(s: SparkSession, dir: String,
                   maxItems: Int, topK: Int): DataFrame = {
    val incidence = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val sized = incidence.groupBy(col("basket"))
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") <= maxItems)
      .select("basket")
    val kept = incidence.join(sized, Seq("basket"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("part_a"), col("b.item").as("part_b"))
      .agg(count(lit(1)).as("n_orders"))
    pairs
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Top-K frequent TRIPLES over the basket incidence — the size-3 layer
    * above [[marketBasket]]'s pairs (bundle recommendations need the
    * third item; pair counts alone can't distinguish a genuine trio from
    * three popular pairs). Canonical a < b < c triples explode map-side
    * from per-basket sorted arrays — C(maxItems,3) <= 56 per basket, the
    * whale guard bounds the fan-out exactly as for edges — then ONE
    * map-side-combinable count and a TakeOrderedAndProject exit. The
    * oracle states the naive three-way self-join (quadratic+ at oracle
    * scale only) as an algorithmic cross-check of the explode path.
    */
  def basketTriples(s: SparkSession, dir: String, maxItems: Int,
                    topK: Int): DataFrame = {
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      // r16: same basket width pin as basketEdges — the C(n,3) triple
      // explode below is the CPU-bound stage and must not inherit the
      // byte-coalesced exchange width (§2.5)
      .repartition(s.sparkContext.defaultParallelism, col("basket"))
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("its"))
      .filter(size(col("its")).between(3, maxItems))
      .select(explode(expr(
        """flatten(flatten(transform(its, (x, i) ->
             transform(slice(its, i + 2, size(its) - i - 1), (y, j) ->
               transform(slice(its, i + j + 3, size(its) - i - j - 2),
                         z -> struct(x AS a, y AS b, z AS c))))))""")).as("t"))
      .groupBy(col("t.a").as("part_a"), col("t.b").as("part_b"),
        col("t.c").as("part_c"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"),
        col("part_c"))
      .limit(topK)
  }

  /** [[basketTriples]] as portable SQL (the naive three-way join). */
  private[graft] def basketTriplesSql(maxItems: Int, topK: Int): String =
    s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                    FROM lineitem),
       ok AS (SELECT basket FROM inc GROUP BY basket
              HAVING count(*) <= $maxItems),
       kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok USING (basket))
       SELECT a.item AS part_a, b.item AS part_b, c.item AS part_c,
              CAST(count(*) AS BIGINT) AS n_orders
       FROM kept a
       JOIN kept b ON a.basket = b.basket AND a.item < b.item
       JOIN kept c ON b.basket = c.basket AND b.item < c.item
       GROUP BY a.item, b.item, c.item
       ORDER BY n_orders DESC, part_a, part_b, part_c
       LIMIT $topK"""

  /** Distributed 2D Pareto frontier (skyline): the parts for which no
    * other part is both cheaper (price <=) and larger (size >=) with at
    * least one strict inequality. The data-curation reading: candidates on
    * the quality-vs-cost frontier — nothing else is at least as good on
    * both axes.
    *
    * The textbook window formulation (`max(size) OVER (ORDER BY price)`)
    * is a GLOBAL ordered window — one task sees every row. This
    * implementation is the two-level bucketed skyline that survives 100x:
    *
    *  1. bucket rows by a fixed price band (`price_cents DIV bandWidth`) —
    *     equal prices always share a bucket, lower buckets hold strictly
    *     lower prices;
    *  2. LOCAL skyline per bucket via a bucket-partitioned window ordered
    *     (price asc, size desc): a row is locally dominated iff an earlier
    *     row's running max size strictly exceeds its size, or ties its
    *     size at a strictly lower price (the per-(bucket,size) min price
    *     detects the latter). All parallel, no global sort;
    *  3. CROSS-bucket pass over the per-bucket max sizes only — one row
    *     per non-empty bucket, catalog-sized, so the prefix-max window
    *     over buckets is trivially small — broadcast-joined back: a local
    *     survivor stays iff its size strictly exceeds every lower
    *     bucket's max (a lower-bucket tie means an equal size at a
    *     strictly lower price, i.e. a dominator).
    *
    * Equal (price, size) duplicates are mutual non-dominators and are all
    * kept, matching the NOT EXISTS oracle.
    */
  def paretoFrontier(s: SparkSession, dir: String, bandWidth: Long): DataFrame = {
    val pts = Tables.part(s, dir)
      .select(col("p_partkey"),
        expr("CAST(floor(p_retailprice * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)")
          .as("price_cents"),
        col("p_size").cast("long").as("size"))
      .withColumn("bucket", expr(s"price_cents DIV $bandWidth"))

    val order = Window.partitionBy(col("bucket"))
      .orderBy(col("price_cents"), col("size").desc, col("p_partkey"))
    val runMax = max(col("size")).over(
      order.rowsBetween(Window.unboundedPreceding, -1))
    val minPriceForSize = min(col("price_cents"))
      .over(Window.partitionBy(col("bucket"), col("size")))
    val local = pts
      .withColumn("run_max", runMax)
      .withColumn("min_price_sz", minPriceForSize)
      .filter(col("run_max").isNull ||
        col("size") > col("run_max") ||
        (col("size") === col("run_max") &&
          col("price_cents") === col("min_price_sz")))
      .drop("run_max", "min_price_sz")

    val bucketMax = pts.groupBy(col("bucket"))
      .agg(max(col("size")).as("bkt_max"))
    // one row per non-empty bucket: the single-partition prefix window is
    // over a catalog-sized frame by construction (price-range / bandWidth)
    val prefix = bucketMax
      .withColumn("lower_max", max(col("bkt_max")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("bucket"), col("lower_max"))

    local.join(broadcast(prefix), Seq("bucket"))
      .filter(col("lower_max").isNull || col("size") > col("lower_max"))
      .select(col("p_partkey"), col("price_cents"), col("size").as("p_size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }

  /** Directed co-purchase edges with weights: (src, dst, w) where w is the
    * number of (whale-guarded) baskets containing both parts; both
    * directions emitted, so every node has out-degree >= 1 and the random
    * walk has no dangling mass. Shared by [[pagerankCopurchase]] and its
    * SQL surfaces.
    */
  private[graft] def copurchaseEdges(s: SparkSession, dir: String,
                                     maxItems: Int): DataFrame = {
    // per-basket sorted arrays + map-side canonical-pair explode (the
    // basketEdges shape — one shuffle instead of the old incidence
    // distinct + whale join + basket self-join); co-purchase weight is
    // symmetric (# baskets containing both), so count canonical pairs
    // and mirror. The canonical frame is localCheckpointed so its THREE
    // consumers (the mirror union's two arms and, downstream, the
    // out-weight aggregate) scan the 2M-row pair table instead of
    // re-running the basket explode per branch.
    //
    // r16 width pin on the BASKET exchange (guide §2.5, the r15
    // pair-count-exchange lesson one stage earlier): the basket frame is
    // byte-small (sorted item arrays), so AQE coalesced the
    // ENSURE_REQUIREMENTS exchange to ~4 read partitions and the
    // CPU-bound canonical-pair explode ran 4-wide (stage probe: 1.08s
    // wall, 3.4s CPU). A user repartition on the same key replaces the
    // coalescible exchange — same bytes move, the explode runs in-stage
    // at cluster width.
    val canon = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .repartition(s.sparkContext.defaultParallelism, col("basket"))
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("its"))
      .filter(size(col("its")) <= maxItems) // whale-basket guard
      .select(explode(expr(
        """flatten(transform(its, (x, i) ->
             transform(slice(its, i + 2, size(its) - i - 1),
                       y -> struct(x AS u, y AS v))))""")).as("e"))
      .select(col("e.u").as("src"), col("e.v").as("dst"))
      // r15 width pin (guide §2.5 — scale-adaptive, not a constant): the
      // pair-count exchange is AQE-coalesced by byte size (two longs and
      // a count compress the multi-million-pair frame under a handful of
      // advisory partitions), so the final aggregate AND the checkpoint
      // downstream of it ran on ~6 tasks (stage probe: 0.96s wall, 5.4s
      // CPU). A user repartition on the SAME keys replaces the
      // coalescible ENSURE_REQUIREMENTS exchange — the aggregate then
      // runs in-stage at cluster width. Map-side combine is not worth
      // its stage here: raw canonical pairs ~= distinct pairs (measured
      // 1,066,508 vs 1,063,648 at sf0.1 — co-purchase pairs almost never
      // repeat), so the exchange carries the same bytes either way.
      .repartition(s.sparkContext.defaultParallelism,
        col("src"), col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    // the mirror union doubles partition count (both arms scan the
    // checkpoint); fold back to cluster width shuffle-free so per-round
    // consumers schedule n tasks, not 2n near-empty ones
    canon.unionByName(canon.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      .coalesce(s.sparkContext.defaultParallelism)
  }

  /** Weighted PageRank over the co-purchase graph — the "which items
    * anchor the catalog" / "which documents anchor the link graph"
    * primitive, as a genuinely iterative distributed dataflow (the same
    * join-aggregate-per-round shape as the dup-cluster label propagation,
    * but with numeric diffusion instead of min-label gossip).
    *
    * Exact-integer fixed point so ten iterations are bit-reproducible on
    * any engine and any partitioning: ranks live in 1e-9 units,
    * per-edge contributions are `(rank * w) DIV wout`, damping is
    * `base + (85 * sum) DIV 100` with base = 150000000 DIV N. Total mass
    * leaks a few units per round to the floors — deterministic leakage,
    * not drift.
    *
    * 100 TB shape: each round is ONE equi-join (edges x ranks on src) +
    * one map-side-combined aggregate on dst, with the join strategy a
    * first-class [[RankJoinMode]]: broadcast ranks while the node catalog
    * fits executor memory, or co-partitioned shuffled-hash rounds over
    * once-repartitioned edges past ~1e8 nodes (crossover guidance on the
    * mode trait). Edge weights and out-degree totals are computed once
    * and cached; ranks are localCheckpointed per round so the 10-round
    * plan never accumulates lineage. Rounds are fixed (10), not
    * convergence-polled — no driver-side collect in the loop.
    */
  /** Per-round rank-join strategy for iterative graph dataflows.
    *
    *  - [[BroadcastRanks]] (default): ranks are the node catalog — tiny
    *    next to edges — so each round broadcasts them and edges NEVER
    *    move. Right up to the executor-memory catalog bound (~1e8
    *    nodes × 16 B ≈ 1.6 GB broadcast — the practical ceiling).
    *  - [[CoPartitionedRanks]]: edges are hash-partitioned on src ONCE
    *    (paid at build), every round is a shuffled-hash join whose edge
    *    side is exchange-free (the cached partitioning satisfies the
    *    join's distribution requirement) — only the |nodes|-sized rank
    *    frame shuffles per round. The web-graph regime: rank tables too
    *    big to broadcast, edges far too big to move per round.
    *
    * Crossover guidance: stay with broadcast while the rank table fits
    * comfortably in executor memory (it also skips the per-round rank
    * exchange); switch to co-partitioned when |nodes| approaches ~1e8 or
    * broadcast OOMs — per-round cost then stays one node-sized exchange
    * regardless of edge count. Outputs are bit-identical (MiningSpec
    * pins it): the mode moves data, never arithmetic.
    */
  sealed trait RankJoinMode
  case object BroadcastRanks extends RankJoinMode
  case object CoPartitionedRanks extends RankJoinMode

  /** One diffusion round: contributions along edges + the damped
    * map-side-combined aggregate onto dst. Exposed for the mode-equality
    * and plan-shape specs; the arithmetic is IDENTICAL across modes.
    */
  private[graft] def rankRound(edges: DataFrame, ranks: DataFrame,
                               base: Long, mode: RankJoinMode): DataFrame = {
    val joined = mode match {
      case BroadcastRanks =>
        // ranks is a checkpoint/agg frame, invisible to AQE's size
        // estimate — force the broadcast so edges never shuffle
        edges.join(broadcast(ranks), edges("src") === ranks("node"))
      case CoPartitionedRanks =>
        // edges were repartitioned on src at build: the shuffle_hash
        // hint (build side = ranks) plans a ShuffledHashJoin whose edge
        // side is exchange-free, so each round moves |nodes| rows only
        edges.join(ranks.hint("shuffle_hash"), edges("src") === ranks("node"))
    }
    joined
      .select(col("dst"), expr("(pr * w) DIV wsum").as("contrib"))
      .groupBy(col("dst"))
      .agg((lit(base) + expr("(85 * sum(contrib)) DIV 100")).as("pr"))
      .withColumnRenamed("dst", "node")
  }

  /** One frontier-expansion join under the same mode discipline as
    * [[rankRound]]: the edge/adjacency side NEVER moves — the node-sized
    * frontier/distance frame either BROADCASTS ([[BroadcastRanks]]) or
    * arrives as the hinted build side of a shuffled-hash join whose
    * stream side rides the once-paid edge partitioning
    * ([[CoPartitionedRanks]]). Every bounded-round graph loop here
    * (pagerank, shortest paths, BFS, closeness) has the same ceiling —
    * the per-round frame is node-catalog-sized, ~1e8 nodes × 16 B before
    * broadcast OOMs — so they share the same escape hatch; the caller
    * co-partitions the edge side on the probe key via [[modePartition]]
    * at build.
    */
  private[graft] def frontierJoin(edges: DataFrame, frontier: DataFrame,
                                  cond: Column,
                                  mode: RankJoinMode): DataFrame =
    mode match {
      case BroadcastRanks => edges.join(broadcast(frontier), cond)
      case CoPartitionedRanks => edges.join(frontier.hint("shuffle_hash"), cond)
    }

  /** Visited-set pruning under the same mode: the visited frame is ALSO
    * node-sized (it converges to the full reachable set), so past the
    * broadcast ceiling the anti join must be a shuffled-hash round too —
    * both sides are node-sized exchanges, never edge-sized.
    */
  private[graft] def visitedAnti(cand: DataFrame, visited: DataFrame,
                                 keys: Seq[String],
                                 mode: RankJoinMode): DataFrame =
    mode match {
      case BroadcastRanks => cand.join(broadcast(visited), keys, "left_anti")
      case CoPartitionedRanks =>
        cand.join(visited.hint("shuffle_hash"), keys, "left_anti")
    }

  /** Build-time co-location for [[CoPartitionedRanks]]: pay ONE hash
    * partition of the edge side on its probe key (cached by the caller)
    * so no subsequent round moves edges again; [[BroadcastRanks]] never
    * moves them at all.
    */
  private[graft] def modePartition(edges: DataFrame, key: Column,
                                   mode: RankJoinMode): DataFrame =
    mode match {
      case BroadcastRanks => edges
      case CoPartitionedRanks => edges.repartition(key)
    }

  /** Mode-aware pinning of an adjacency built once and probed every
    * round. Broadcast mode keeps the original localCheckpoint (cut
    * lineage, materialize once). Co-partitioned mode must NOT checkpoint:
    * `localCheckpoint` rewrites the frame as a `Scan ExistingRDD` that
    * reports `UnknownPartitioning`, which would re-exchange the
    * edge-sized side under every shuffled-hash round — the exact cost
    * the mode exists to avoid. The cached repartition (the [[rankRound]]
    * discipline) keeps the hash partitioning visible to
    * EnsureRequirements; the eager count materializes it so the loop's
    * first hop already rides the cache.
    */
  private[graft] def pinAdjacency(adj: DataFrame, key: Column,
                                  mode: RankJoinMode): DataFrame =
    mode match {
      case BroadcastRanks => adj.localCheckpoint(true)
      case CoPartitionedRanks =>
        val a = adj.repartition(key).persist()
        a.count()
        a
    }

  def pagerankCopurchase(s: SparkSession, dir: String,
                         maxItems: Int, iters: Int,
                         mode: RankJoinMode = BroadcastRanks): DataFrame = {
    val raw = copurchaseEdges(s, dir, maxItems)
    // the out-weight frame is node-catalog-sized and is ALSO the node
    // catalog itself (every node appears as a src in the mirrored edge
    // list), so one checkpointed aggregate serves three consumers: the
    // per-edge wsum broadcast, the rank seed, and the |nodes| count —
    // the former separate nodes.distinct() pass is gone (r16, §2.4)
    val wsumf = raw.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
      .localCheckpoint(true)
    // broadcast wsum onto the edge table explicitly (a checkpointed frame
    // carries no stats, so leaving this to AQE shuffle-sorts the
    // multi-million-row edge side instead); co-partitioned mode pays ONE
    // edge shuffle fused behind the same join so no round moves edges
    val edges = (mode match {
      case BroadcastRanks => raw.join(broadcast(wsumf), Seq("src"))
      case CoPartitionedRanks =>
        raw.join(broadcast(wsumf), Seq("src")).repartition(col("src"))
    }).persist()
    val n = wsumf.count()
    var ranks = wsumf.select(col("src").as("node"),
      lit(1000000000L / n).as("pr"))
    val base = 150000000L / n
    (1 to iters).foreach { i =>
      ranks = rankRound(edges, ranks, base, mode)
      // broadcast mode pins every SECOND round: each round's broadcast
      // build is a driver-blocking collect anyway, and unpinned lineage
      // would re-execute the whole chain under every nested broadcast.
      // Co-partitioned mode pins ONLY the last round (§2.4): every
      // round's aggregate output is already hash-partitioned on the next
      // join's key, so the rounds chain through node-sized exchanges
      // inside ONE action. Broadcast stays the DEFAULT: the r16
      // full-query A/B (PagerankModeAB, bench regime) measured broadcast
      // 4.2s vs copart 7.7-9.6s at sf0.1 — the loop-only probe favored
      // copart (1.56s vs 2.41s warm) but the unpinned 20-exchange chain
      // replans under AQE round by round and loses more on the whole
      // query than the loop saves; copart remains the past-broadcast-
      // ceiling escape hatch (~1e8 nodes), not the local winner.
      // The final pin makes the returned frame independent of
      // the edge cache, so the unpersist below stays safe.
      if ((mode == BroadcastRanks && i % 2 == 0) || i == iters)
        ranks = ranks.localCheckpoint(true)
    }
    val out = ranks
      .select(col("node").as("p_partkey"), col("pr").as("rank_1e9"))
      .orderBy(col("rank_1e9").desc, col("p_partkey"))
    edges.unpersist()
    out
  }

  /** The PageRank computation as one SQL statement with the iteration
    * unrolled (10 chained CTEs).
    */
  private[graft] def pagerankSql(maxItems: Int, iters: Int): String = {
    val header =
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                      FROM lineitem),
         ok AS (SELECT basket FROM inc GROUP BY basket
                HAVING count(*) <= $maxItems),
         kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok USING (basket)),
         e AS (SELECT a.item AS src, b.item AS dst,
                      CAST(count(*) AS BIGINT) AS w
               FROM kept a JOIN kept b
                 ON a.basket = b.basket AND a.item <> b.item
               GROUP BY 1, 2),
         wout AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum
                  FROM e GROUP BY src),
         nodes AS (SELECT DISTINCT src AS node FROM e),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         it0 AS (SELECT node, 1000000000 // n AS pr
                 FROM nodes CROSS JOIN nn)"""
    val steps = (1 to iters).map { i =>
      s"""it$i AS (SELECT e.dst AS node,
               (150000000 // t.n)
               + (85 * sum((r.pr * e.w) // w2.wsum)) // 100 AS pr
             FROM e JOIN it${i - 1} r ON e.src = r.node
             JOIN wout w2 ON e.src = w2.src CROSS JOIN nn t
             GROUP BY e.dst, t.n)"""
    }
    (header +: steps).mkString(",\n") +
      s"""
         SELECT node AS p_partkey, CAST(pr AS BIGINT) AS rank_1e9 FROM it$iters
         ORDER BY rank_1e9 DESC, p_partkey"""
  }

  /** Bounded weighted shortest paths (Bellman-Ford rounds) over the
    * co-purchase graph from its min-id node: edge length = 1e6 DIV w, so
    * frequently co-bought pairs are CLOSE and the distance readout ranks
    * the catalog by recommendation proximity to the anchor — the weighted
    * complement of [[bfsLevels]]' hop counts (hops say reachable, lengths
    * say how strongly). Exactly `rounds` min-plus relaxations, exact
    * integers, so the result is the true distance for every node whose
    * shortest path uses <= rounds edges and an upper bound otherwise —
    * bounded-round semantics is the contract (the connectedComponents
    * discipline; both engines run identical rounds).
    *
    * 100 TB shape: per round ONE equi-join of the (persisted,
    * checkpoint-fed) edge list with the node-sized distance frame —
    * broadcast for the same stats-blindness reason as the pagerank
    * rounds — plus a map-side-combined min; the union arm keeps settled
    * distances without re-walking them. Top-K exits via
    * TakeOrderedAndProject. Past the ~1e8-node broadcast ceiling, pass
    * [[CoPartitionedRanks]]: edges hash-partition on src once at build
    * and every relaxation becomes a node-sized shuffled-hash round with
    * the edge side exchange-free (the [[rankRound]] escape hatch;
    * outputs bit-identical, MiningSpec pins it).
    */
  def shortestPaths(s: SparkSession, dir: String, maxItems: Int,
                    rounds: Int, topN: Int,
                    mode: RankJoinMode = BroadcastRanks): DataFrame = {
    // co-partitioned mode pays ONE edge shuffle on the probe key here so
    // no relaxation round moves edges again ([[modePartition]]); the
    // distance frame is node-sized — [[frontierJoin]]'s crossover note
    val edges = modePartition(
        copurchaseEdges(s, dir, maxItems)
          .select(col("src"), col("dst"), expr("1000000 DIV w").as("len")),
        col("src"), mode)
      .persist()
    val src = edges.agg(min(col("src"))).head().getLong(0)
    // r16 frontier-only relaxation (§2.4 shuffle fewer bytes): the former
    // spelling joined the FULL settled-distance frame with the edge list
    // every round, so the per-round fanout grew monotonically with the
    // reach set even when almost nothing improved. Relaxing only the
    // nodes whose distance improved last round is round-for-round
    // IDENTICAL (any offer dist_{i-1}(u)+len the full relaxation makes at
    // round i was already made at round j+1 <= i where j is u's last
    // improvement, and distances are monotone — the textbook SPFA =
    // synchronous-Bellman-Ford equality; MiningSpec pins it against the
    // unrolled-SQL twin and both modes). The carried frame holds the
    // previous distance `od` alongside `d`, so the frontier is a FILTER
    // (d < od, or od null = newly reached) and the candidate arm joins
    // frontier-sized, not reach-sized; late rounds offer ~nothing.
    var agg = s.range(1)
      .select(lit(src).as("node"), lit(0L).as("d"),
        lit(null).cast("long").as("od"))
      .localCheckpoint(true)
    (1 to rounds).foreach { i =>
      val frontier = agg.filter(col("od").isNull || col("d") < col("od"))
        .select(col("node"), col("d"))
      val cand = frontierJoin(edges, frontier,
          edges("src") === frontier("node"), mode)
        .select(col("dst").as("node"), (col("d") + col("len")).as("d"),
          lit(null).cast("long").as("old"))
      agg = cand
        .unionByName(agg.select(col("node"), col("d"), col("d").as("old")))
        .groupBy(col("node"))
        .agg(min(col("d")).as("d"), min(col("old")).as("od"))
      if (i % 2 == 0 || i == rounds) agg = agg.localCheckpoint(true)
    }
    val out = agg
      .select(col("node").as("p_partkey"), col("d").as("dist"))
      .orderBy(col("dist"), col("p_partkey"))
      .limit(topN)
    edges.unpersist()
    out
  }

  /** [[shortestPaths]] as one SQL statement with the relaxations unrolled
    * (the pagerank pattern).
    */
  private[graft] def shortestPathsSql(maxItems: Int, rounds: Int, topN: Int): String = {
    val header =
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                      FROM lineitem),
         ok AS (SELECT basket FROM inc GROUP BY basket
                HAVING count(*) <= $maxItems),
         kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok USING (basket)),
         e AS (SELECT a.item AS src, b.item AS dst,
                      1000000 // CAST(count(*) AS BIGINT) AS len
               FROM kept a JOIN kept b
                 ON a.basket = b.basket AND a.item <> b.item
               GROUP BY a.item, b.item),
         s0 AS (SELECT min(src) AS src FROM e),
         it0 AS (SELECT src AS node, CAST(0 AS BIGINT) AS d FROM s0)"""
    val steps = (1 to rounds).map { k =>
      s"""it$k AS (SELECT node, min(d) AS d FROM (
             SELECT e.dst AS node, r.d + e.len AS d
             FROM e JOIN it${k - 1} r ON e.src = r.node
             UNION ALL
             SELECT node, d FROM it${k - 1}) u
           GROUP BY node)"""
    }
    (header +: steps).mkString(",\n") +
      s"""
         SELECT node AS p_partkey, CAST(d AS BIGINT) AS dist FROM it$rounds
         ORDER BY dist, p_partkey LIMIT $topN"""
  }

  /** Association rules over the basket incidence — [[marketBasket]] emits
    * raw pair support; this prices each DIRECTED rule a -> b with the
    * classic triple (support, confidence, lift), exact half-up 1e-4
    * fixed point:
    *   confidence(a -> b) = P(b | a) = n_pair / n_a
    *   lift(a, b)         = P(a, b) / (P(a)·P(b))
    *                      = n_pair · n_baskets / (n_a · n_b)
    * Lift > 1e4 means the pair co-occurs more than independence predicts
    * — the actual recommendation signal (confidence alone just rediscovers
    * popular items). minCount floors support so one-off coincidences
    * can't post infinite-looking lifts.
    *
    * 100 TB shape: everything derives from the SAME whale-guarded
    * distinct incidence as marketBasket — per-item basket counts are one
    * map-side-combined aggregate (item-count frame broadcasts back), pair
    * counts come from the bounded equi self-join, and the top-K exits via
    * TakeOrderedAndProject on (lift, a, b). n_pair·n_baskets stays in
    * BIGINT to ~9e18 (1e6-basket fixture: fine; at 1e12 baskets lift the
    * product to DECIMAL(38,0) — documented hatch).
    */
  def assocRules(s: SparkSession, dir: String, maxItems: Int = 8,
                 minCount: Long = 5, topK: Int = 25): DataFrame = {
    val incidence = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val ok = incidence.groupBy(col("basket"))
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") <= maxItems)
      .select("basket")
    // three consumers (basket total, item counts, pair join x2) — pin the
    // guarded incidence once instead of re-scanning the fact table per
    // branch (same materialization discipline as triangleCount's edges)
    val kept = incidence.join(ok, Seq("basket")).localCheckpoint(true)
    val nBaskets = kept.select(col("basket")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val itemCnt = kept.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.basket") === col("b.basket") && col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    pairs
      .join(broadcast(itemCnt.toDF("item_a", "n_a")), Seq("item_a"))
      .join(broadcast(itemCnt.toDF("item_b", "n_b")), Seq("item_b"))
      .crossJoin(broadcast(nBaskets))
      .withColumn("conf_1e4", expr("(20000 * n_pair + n_a) DIV (2 * n_a)"))
      .withColumn("lift_1e4",
        expr("(20000 * n_pair * n_baskets + n_a * n_b) DIV (2 * n_a * n_b)"))
      .select(col("item_a"), col("item_b"), col("n_pair"), col("n_a"),
        col("n_b"), col("conf_1e4"), col("lift_1e4"))
      .orderBy(col("lift_1e4").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** The rule pricing as one DuckDB SQL statement. */
  private[graft] def assocRulesSql(maxItems: Int = 8, minCount: Long = 5, topK: Int = 25): String =
    s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                     FROM lineitem),
        ok AS (SELECT basket FROM inc GROUP BY basket
               HAVING count(*) <= $maxItems),
        kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok USING (basket)),
        nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets
               FROM kept),
        ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
               FROM kept GROUP BY item),
        p AS (SELECT a.item AS item_a, b.item AS item_b,
                     CAST(count(*) AS BIGINT) AS n_pair
              FROM kept a JOIN kept b
                ON a.basket = b.basket AND a.item <> b.item
              GROUP BY a.item, b.item
              HAVING count(*) >= $minCount)
        SELECT p.item_a, p.item_b, p.n_pair,
               ia.n_item AS n_a, ib.n_item AS n_b,
               (20000 * p.n_pair + ia.n_item) // (2 * ia.n_item)
                 AS conf_1e4,
               (20000 * p.n_pair * nb.n_baskets + ia.n_item * ib.n_item)
                 // (2 * ia.n_item * ib.n_item) AS lift_1e4
        FROM p
        JOIN ic ia ON ia.item = p.item_a
        JOIN ic ib ON ib.item = p.item_b
        CROSS JOIN nb
        ORDER BY lift_1e4 DESC, p.item_a, p.item_b LIMIT $topK"""

  /** Exact triangle counting over the co-purchase graph via DEGREE-ORDERED
    * edge orientation (Cohen 2009 / the Schank-Wagner node-iterator
    * refinement) — the clustering/community-density primitive ("how
    * tightly do items that sell together ALSO sell with each other").
    *
    * Each undirected edge is directed from its (degree, id)-smaller
    * endpoint to the larger; every triangle then has exactly ONE vertex
    * whose two incident edges both point away from it (the triangle's
    * minimum in the total order), so one wedge self-join on that apex +
    * one closing-edge equi-join counts each triangle exactly once. The
    * orientation is the whole scale story: wedge fan-out per node is
    * bounded by its OUT-degree, which degree-ordering caps at O(sqrt(m))
    * even for celebrity nodes — the naive a<b<c id-ordered join puts a
    * hub's full degree^2 on one task whenever the hub has a small id.
    *
    * 100 TB shape: whale-basket guard before anything quadratic (the
    * marketBasket guard), distinct canonical edges, one map-side-combined
    * degree aggregate joined back (degree frame is node-sized, broadcast
    * when it fits — AQE decides), wedge join + closing-edge join both
    * plain equi-joins on key columns, then three cheap projections union
    * into the per-node participation count and TakeOrderedAndProject cuts
    * the top K. No global sort, no driver collect.
    *
    * The oracle states the NAIVE id-ordered formulation (e1 join e2 join
    * e3 on a<b<c) — a deliberately different algorithm, so equality is an
    * algorithmic cross-check, not a restatement.
    */
  /** Canonical undirected co-purchase edges (u < v by id) from
    * per-basket sorted item arrays: ONE shuffle (groupBy basket, with
    * collect_set absorbing line-level duplicates) + a map-side
    * ordered-pair explode — no incidence distinct, no whale-filter
    * join, no basket self-join. MATERIALIZED (eager localCheckpoint):
    * every graph operator's consumers would otherwise re-derive the
    * whole incidence subtree per branch (the audit measured 134 fact
    * scans before the pin). Shared by [[triangleCount]] and
    * [[bfsLevels]].
    */
  private[graft] def basketEdges(s: SparkSession, dir: String,
                          maxItems: Int): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      // r16: user repartition on basket replaces the AQE-coalescible
      // ENSURE_REQUIREMENTS exchange so the CPU-bound pair explode below
      // runs at cluster width, not the ~4 byte-coalesced partitions the
      // stage probe measured (the copurchaseEdges fix, same §2.5 lesson)
      .repartition(s.sparkContext.defaultParallelism, col("basket"))
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("its"))
      .filter(size(col("its")) <= maxItems) // whale-basket guard
      .select(explode(expr(
        """flatten(transform(its, (x, i) ->
             transform(slice(its, i + 2, size(its) - i - 1),
                       y -> struct(x AS u, y AS v))))""")).as("e"))
      .select(col("e.u"), col("e.v"))
      // r15 (guide §2.5/§2.6 — scale-adaptive width, not a constant): the
      // distinct's exchange is AQE-coalesced by BYTE size, and two long
      // columns compress a multi-million-edge frame under one advisory
      // partition — the checkpoint then materializes 2-8 partitions and
      // every downstream consumer (degree census, orient join, adjacency
      // aggs, the intersect stage) inherits that width for CPU-bound
      // array work. The user repartition on the SAME keys REPLACES the
      // coalescible exchange (the distinct aggregates in-stage on it), so
      // the checkpoint materializes at cluster width with no extra
      // shuffle; defaultParallelism scales with the cluster.
      .repartition(s.sparkContext.defaultParallelism, col("u"), col("v"))
      .distinct()
      .localCheckpoint(true)

  def triangleCount(s: SparkSession, dir: String,
                    maxItems: Int = 40, k: Int = 20): DataFrame = {
    val edges = basketEdges(s, dir, maxItems)
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient each edge from the (deg, id)-smaller endpoint
    val oriented = edges
      .join(deg.toDF("u", "deg_u"), Seq("u"))
      .join(deg.toDF("v", "deg_v"), Seq("v"))
      .select(
        when(col("deg_u") < col("deg_v") ||
             (col("deg_u") === col("deg_v") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(col("deg_u") < col("deg_v") ||
             (col("deg_u") === col("deg_v") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("dst"))
      // r15: same width pinning as basketEdges — the r15 stage probe
      // measured this checkpoint materializing at TWO partitions (AQE
      // byte-coalesced), putting the whole 4s-CPU intersect stage on two
      // cores (2.45s wall); keyed by src so the adjacency aggregates and
      // the wedge join consume a balanced, cluster-wide layout
      .repartition(edges.sparkSession.sparkContext.defaultParallelism,
        col("src"))
      .localCheckpoint(true) // the edge stream and both adjacency sides
    // edge-iterator enumeration over oriented adjacency lists: for each
    // oriented edge (u -> v) the triangles through it are N+(u) ∩ N+(v)
    // (each triangle's unique 3-node-DAG source finds it exactly once).
    // This replaces the wedge materialization — at sf0.1 the wedge join
    // emitted 41M rows into the closing-edge shuffle (9s); here the
    // intersection runs in-task on two arrays whose size the degree
    // orientation bounds (~sqrt of edge count), and only the actual
    // triangles (1.9M) are ever rows. Inner joins drop dst nodes with no
    // out-list — an empty intersection closes nothing.
    // r15: nbrs is a SHARED frame (both wedge-join build sides) — without
    // a pin each BroadcastExchange re-ran the whole collect_list aggregate
    // from the oriented checkpoint (the r9 materialization discipline).
    // Node-sized (one row per src with its orientation-bounded out-list),
    // so the eager pin is cheap and both broadcasts build from it.
    val nbrs = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbr"))
      .localCheckpoint(true)
    // ONE pass credits all three corners: the union-of-three-projections
    // spelling recomputes the intersection join per branch (Catalyst does
    // not common it up); a nested explode keeps the join single-shot and
    // emits exactly 3 rows per triangle. (Broadcasting the adjacency was
    // measured SLOWER here — the array payload makes the broadcast build
    // cost more than the coalesced exchange it removes.)
    oriented
      .join(nbrs.toDF("src", "nu"), Seq("src"))
      .join(nbrs.toDF("dst", "nv"), Seq("dst"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("nu"), col("nv"))).as("c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("n_triangles").desc, col("p_partkey"))
      .limit(k)
  }

  /** The naive id-ordered triangle count as one portable SQL statement —
    * valid verbatim in DuckDB (the oracle) and Spark (the front door).
    */
  private[graft] def triangleSql(maxItems: Int = 40, k: Int = 20): String =
    s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                     FROM lineitem),
        ok AS (SELECT basket FROM inc GROUP BY basket
               HAVING count(*) <= $maxItems),
        kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok USING (basket)),
        e AS (SELECT DISTINCT a.item AS u, b.item AS v
              FROM kept a JOIN kept b
                ON a.basket = b.basket AND a.item < b.item),
        t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        p AS (SELECT a AS p_partkey FROM t
              UNION ALL SELECT b FROM t
              UNION ALL SELECT c FROM t)
        SELECT p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
        FROM p GROUP BY p_partkey
        ORDER BY n_triangles DESC, p_partkey LIMIT $k"""

  /** Multi-hop reachability (BFS level distribution) over the
    * co-purchase graph: how many items sit 0, 1, 2, … hops from the
    * minimum-id item (the deterministic source), plus the count still
    * unreached inside the horizon — the connectivity profile a graph
    * recommendation or link-analysis pipeline reads before trusting
    * random-walk features.
    *
    * Per round the frontier joins the (checkpointed) edge list in BOTH
    * directions and anti-joins everything already levelled — frontier
    * and visited frames are node-sized (never path-sized, which is what
    * kills naive recursive-CTE BFS on cyclic graphs: without per-round
    * dedup the row count follows path multiplicity). The loop's only
    * driver action is the per-round frontier emptiness check — a count
    * on a node-bounded frame. Output is the catalog-sized level
    * histogram; `-1` rows are the unreached remainder.
    */
  def bfsLevels(s: SparkSession, dir: String, maxItems: Int = 40,
                maxHops: Int = 4,
                mode: RankJoinMode = BroadcastRanks): DataFrame = {
    val edges = basketEdges(s, dir, maxItems)
    // undirected adjacency: each edge probes both ways; co-partitioned
    // mode hash-partitions it ONCE on the probe key so no hop moves the
    // adjacency again ([[pinAdjacency]] on why the pinning differs)
    val adj = pinAdjacency(
      edges.unionByName(edges.select(col("v").as("u"), col("u").as("v"))),
      col("u"), mode)
    val src = edges.agg(least(min(col("u")), min(col("v")))).head().getLong(0)
    var levels = adj.sparkSession.range(1)
      .select(lit(src).as("node"), lit(0L).as("lvl"))
      .localCheckpoint(true)
    var frontier = levels
    var hop = 0L
    while (hop < maxHops && frontier.limit(1).count() > 0) {
      hop += 1
      // frontier and visited set are node-bounded, stats-less after
      // checkpoint — broadcast both (default mode) so the adjacency
      // never shuffles; past the broadcast ceiling both become
      // node-sized shuffled-hash rounds ([[frontierJoin]]/[[visitedAnti]])
      frontier = visitedAnti(
          frontierJoin(adj, frontier, frontier("node") === adj("u"), mode)
            .select(col("v").as("node")).distinct(),
          levels, Seq("node"), mode)
        .select(col("node"), lit(hop).as("lvl"))
        .localCheckpoint(true)
      levels = levels.unionByName(frontier).localCheckpoint(true)
    }
    val allNodes = adj.select(col("u").as("node")).distinct()
    allNodes.join(levels, Seq("node"), "left")
      .select(coalesce(col("lvl"), lit(-1L)).as("level"))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("level"))
  }

  /** The BFS as one SQL statement with the hops unrolled (the pagerank
    * pattern): reach sets r0 ⊆ r1 ⊆ … as DISTINCT CTEs (set-sized, the
    * same dedup-per-round discipline as the operator), node level = the
    * first containing reach set via chained left joins. Valid verbatim
    * in DuckDB and Spark (portable).
    */
  private[graft] def bfsLevelsSql(maxItems: Int, maxHops: Int): String = {
    val header =
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                      FROM lineitem),
         ok AS (SELECT basket FROM inc GROUP BY basket
                HAVING count(*) <= $maxItems),
         kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok
                  ON ok.basket = inc.basket),
         e AS (SELECT DISTINCT a.item AS u, b.item AS v
               FROM kept a JOIN kept b
                 ON a.basket = b.basket AND a.item <> b.item),
         r0 AS (SELECT min(u) AS node FROM e)"""
    val steps = (1 to maxHops).map { i =>
      s"""r$i AS (SELECT node FROM r${i - 1}
                  UNION
                  SELECT e.v AS node FROM e
                  JOIN r${i - 1} f ON f.node = e.u)"""
    }
    // level = first containing reach set, resolved via chained LEFT
    // JOINs (the r_i are DISTINCT sets, so no fan-out; IN-subqueries
    // inside a projection are not portable to Spark)
    val lvlJoins = (0 to maxHops).map { i =>
      s"LEFT JOIN r$i x$i ON x$i.node = n.node"
    }.mkString("\n                ")
    val lvlCase = (0 to maxHops).map { i =>
      s"WHEN x$i.node IS NOT NULL THEN CAST($i AS BIGINT)"
    }.mkString("\n                 ")
    (header +: steps).mkString(",\n") +
      s""",
         nodes AS (SELECT DISTINCT u AS node FROM e),
         lv AS (SELECT CASE $lvlCase
                       ELSE CAST(-1 AS BIGINT) END AS level
                FROM nodes n
                $lvlJoins)
         SELECT level, CAST(count(*) AS BIGINT) AS n_nodes
         FROM lv GROUP BY level ORDER BY level"""
  }

  /** Closeness (and truncated-harmonic) centrality on the co-purchase
    * graph from a deterministic panel of sources — the "which items sit
    * in the MIDDLE of the catalog's purchase structure?" reading that
    * [[pagerankCopurchase]] (influence flow) and [[bfsLevels]]
    * (reachability profile) don't give. Exact all-pairs closeness is
    * O(V·E) and pointless at catalog scale; the standard estimator runs
    * BFS from a source PANEL (here: the nSources smallest node ids —
    * deterministic, oracle-reproducible; a production caller passes its
    * own panel) bounded at maxHops (the bounded-round contract every
    * iterative op here documents: distances are exact for paths ≤
    * maxHops, unreached nodes simply don't vote).
    *
    * Readouts, pure integers: closeness_1e6 = reached·1e6 DIV Σdist
    * (Wasserman-Faust without the float normalizer — comparable across
    * sources at fixed panel), and harmonic_1e6 = Σ (1e6 DIV dist) — the
    * centrality that stays well-defined on disconnected graphs
    * (Boldi & Vigna 2014), each term an exact truncated quotient.
    *
    * 100 TB shape: the bfsLevels discipline per round — frontier and
    * visited sets are (panel × node)-bounded and BROADCAST so the edge
    * list never reshuffles; per-round distinct keeps reach sets
    * set-sized; lineage pinned per hop. The readout is |panel| rows.
    */
  def closenessCentrality(s: SparkSession, dir: String, maxItems: Int = 40,
                          nSources: Int = 8, maxHops: Int = 4,
                          mode: RankJoinMode = BroadcastRanks): DataFrame = {
    val edges = basketEdges(s, dir, maxItems)
    val adj = pinAdjacency(
      edges.unionByName(edges.select(col("v").as("u"), col("u").as("v"))),
      col("u"), mode)
    val srcs = adj.select(col("u")).distinct()
      .orderBy(col("u")).limit(nSources)
      .select(col("u").as("src"))
      .localCheckpoint(true)
    var levels = srcs.select(col("src"), col("src").as("node"),
      lit(0L).as("lvl")).localCheckpoint(true)
    var frontier = levels
    var hop = 0L
    while (hop < maxHops && frontier.limit(1).count() > 0) {
      hop += 1
      // (panel × node)-bounded frames under the shared mode discipline:
      // broadcast by default, node-sized shuffled-hash rounds past the
      // ceiling — the adjacency never reshuffles either way
      frontier = visitedAnti(
          frontierJoin(adj, frontier, frontier("node") === adj("u"), mode)
            .select(col("src"), col("v").as("node")).distinct(),
          levels.select(col("src"), col("node")), Seq("src", "node"), mode)
        .select(col("src"), col("node"), lit(hop).as("lvl"))
        .localCheckpoint(true)
      levels = levels.unionByName(frontier).localCheckpoint(true)
    }
    srcs.join(
        levels.filter(col("lvl") > 0)
          .groupBy(col("src"))
          .agg(count(lit(1)).as("n_reached"),
            sum(col("lvl")).as("sum_dist"),
            sum(expr("1000000 DIV lvl")).as("harmonic_1e6")),
        Seq("src"), "left")
      .select(col("src"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("sum_dist"), lit(0L)).as("sum_dist"),
        expr("""CASE WHEN coalesce(sum_dist, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE (n_reached * 1000000) DIV sum_dist END""")
          .as("closeness_1e6"),
        coalesce(col("harmonic_1e6"), lit(0L)).as("harmonic_1e6"))
      .orderBy(col("src"))
  }

  /** The panel BFS as one SQL statement with hops unrolled — the
    * bfsLevelsSql pattern carrying a src column through every reach set.
    */
  private[graft] def closenessCentralitySql(maxItems: Int = 40, nSources: Int = 8,
                                            maxHops: Int = 4): String = {
    val header =
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                      FROM lineitem),
         ok AS (SELECT basket FROM inc GROUP BY basket
                HAVING count(*) <= $maxItems),
         kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok
                  ON ok.basket = inc.basket),
         e AS (SELECT DISTINCT a.item AS u, b.item AS v
               FROM kept a JOIN kept b
                 ON a.basket = b.basket AND a.item <> b.item),
         srcs AS (SELECT u AS src FROM (
                    SELECT DISTINCT u FROM e ORDER BY u LIMIT $nSources) s0),
         r0 AS (SELECT src, src AS node FROM srcs)"""
    val steps = (1 to maxHops).map { i =>
      s"""r$i AS (SELECT src, node FROM r${i - 1}
                  UNION
                  SELECT f.src, e.v AS node FROM e
                  JOIN r${i - 1} f ON f.node = e.u)"""
    }
    val lvlJoins = (0 to maxHops).map { i =>
      s"LEFT JOIN r$i x$i ON x$i.src = p.src AND x$i.node = p.node"
    }.mkString("\n                ")
    val lvlCase = (0 to maxHops).map { i =>
      s"WHEN x$i.node IS NOT NULL THEN CAST($i AS BIGINT)"
    }.mkString("\n                 ")
    (header +: steps).mkString(",\n") +
      s""",
         pairs AS (SELECT s.src, n.node
                   FROM srcs s CROSS JOIN (SELECT DISTINCT u AS node FROM e) n),
         lv AS (SELECT p.src, CASE $lvlCase
                       ELSE CAST(-1 AS BIGINT) END AS level
                FROM pairs p
                $lvlJoins),
         agg AS (SELECT src,
                   CAST(coalesce(sum(CASE WHEN level > 0 THEN 1 ELSE 0 END), 0)
                     AS BIGINT) AS n_reached,
                   CAST(coalesce(sum(CASE WHEN level > 0 THEN level ELSE 0 END), 0)
                     AS BIGINT) AS sum_dist,
                   CAST(coalesce(sum(CASE WHEN level > 0
                     THEN CAST(1000000 // level AS BIGINT) ELSE 0 END), 0)
                     AS BIGINT) AS harmonic_1e6
                 FROM lv GROUP BY src)
         SELECT src, n_reached, sum_dist,
                CASE WHEN sum_dist = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST((n_reached * 1000000) // sum_dist AS BIGINT)
                END AS closeness_1e6,
                harmonic_1e6
         FROM agg ORDER BY src"""
  }

  /** Item-item NEIGHBOR SIMILARITY on the co-purchase graph: for every
    * canonical item pair sharing at least [[minCo]] baskets, the Jaccard
    * of their basket sets — |baskets with both| / |baskets with either| —
    * the classic "customers who bought X also bought Y" co-occurrence
    * score (item-based collaborative filtering, Sarwar et al. WWW'01),
    * normalized so whale items don't dominate raw co-counts. Top-[[topN]]
    * pairs by score.
    *
    * Shape, built for 100 TB: co-counts come from the same per-basket
    * sorted-array canonical-pair explode as [[pagerankCopurchase]]'s edge
    * build (one shuffle, whale-basket guard BEFORE the quadratic step);
    * per-item basket degrees are one map-side-combined count on the
    * incidence frame; the pair frame joins degrees twice on its own keys
    * (pair-sized, i.e. O(co-occurring pairs), never all-pairs); top-K is
    * TakeOrderedAndProject. jaccard_1e6 = co/(du+dv-co) as half-up
    * integer fixed-point so the oracle compare stays exact.
    */
  def itemNeighborJaccard(s: SparkSession, dir: String, maxItems: Int = 40,
                          minCo: Int = 2, topN: Int = 100): DataFrame = {
    val inc = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val ok = inc.groupBy(col("basket")).agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") <= maxItems)
      .select("basket")
    val kept = inc.join(ok, Seq("basket"))
    val co = kept
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("its"))
      .select(explode(expr(
        """flatten(transform(its, (x, i) ->
             transform(slice(its, i + 2, size(its) - i - 1),
                       y -> struct(x AS u, y AS v))))""")).as("e"))
      .groupBy(col("e.u").as("item_a"), col("e.v").as("item_b"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
    val deg = kept.groupBy(col("item")).agg(count(lit(1)).as("deg"))
    co.join(deg.select(col("item").as("item_a"), col("deg").as("deg_a")),
        Seq("item_a"))
      .join(deg.select(col("item").as("item_b"), col("deg").as("deg_b")),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co"),
        col("deg_a"), col("deg_b"),
        expr("""(2000000 * co + (deg_a + deg_b - co))
                DIV (2 * (deg_a + deg_b - co))""").as("jaccard_1e6"))
      .orderBy(col("jaccard_1e6").desc, col("item_a"), col("item_b"))
      .limit(topN)
  }

  /** The neighbor-similarity query as portable SQL (valid verbatim in
    * DuckDB and Spark modulo the integer-division spelling).
    */
  private[graft] def itemNeighborJaccardSql(maxItems: Int, minCo: Int, topN: Int): String =
    s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                    FROM lineitem),
       ok AS (SELECT basket FROM inc GROUP BY basket
              HAVING count(*) <= $maxItems),
       kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok
                ON ok.basket = inc.basket),
       co AS (SELECT a.item AS item_a, b.item AS item_b,
                     CAST(count(*) AS BIGINT) AS co
              FROM kept a JOIN kept b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2
              HAVING count(*) >= $minCo),
       deg AS (SELECT item, CAST(count(*) AS BIGINT) AS deg
               FROM kept GROUP BY item)
       SELECT item_a, item_b, co, da.deg AS deg_a, db.deg AS deg_b,
              CAST((2000000 * co + (da.deg + db.deg - co))
                   // (2 * (da.deg + db.deg - co)) AS BIGINT) AS jaccard_1e6
       FROM co
       JOIN deg da ON da.item = co.item_a
       JOIN deg db ON db.item = co.item_b
       ORDER BY jaccard_1e6 DESC, item_a, item_b
       LIMIT $topN"""

  /** Connected components of the co-purchase graph by synchronous
    * min-label propagation: every node starts labelled with its own id,
    * and each round takes the minimum label over itself and its
    * neighbors (the self-loop makes the min monotone non-increasing).
    * After [[rounds]] rounds a component's label has flooded [[rounds]]
    * hops from its minimum-id node, so components whose radius from that
    * node is <= rounds are exact; the bounded-round semantics is the
    * CONTRACT (both engines run the identical rounds, so parity holds
    * converged or not), and the q_bfs_levels histogram is the tool that
    * sizes `rounds` against the graph's actual radius. Output is the
    * component-size census — the "is my item graph one giant blob or
    * many islands" readout a graph-feature pipeline checks before
    * trusting random-walk or neighbor statistics.
    *
    * No reference analog (the reference has no graph surface at all).
    *
    * 100 TB shape: per round one equi-join of the adjacency list (edge
    * partitioning, both directions + self-loops, checkpointed once) with
    * the node-sized label frame, then a map-side-combinable min — the
    * same join-per-superstep shape Pregel/GraphX use, with no
    * path-multiplicity blowup because the state is one row per node.
    * `localCheckpoint` every second round bounds lineage depth exactly
    * like [[pagerankCopurchase]]. The census itself is
    * component-count-sized; top-K via TakeOrderedAndProject.
    */
  def connectedComponents(s: SparkSession, dir: String, maxItems: Int = 40,
                          minCo: Int = 2, rounds: Int = 12,
                          topN: Int = 25): DataFrame = {
    // minCo >= 2 keeps only REPEATED co-purchases as edges — single
    // co-occurrences wire the whole catalog into one blob (verified: the
    // raw graph is a single giant component at every SF), while the
    // repeat-support graph fragments into the actual product communities
    // this census exists to count.
    val inc = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val ok = inc.groupBy(col("basket")).agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") <= maxItems)
      .select("basket")
    val edges = inc.join(ok, Seq("basket")).as("a")
      .join(inc.join(ok, Seq("basket")).as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("u"), col("b.item").as("v"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
      .select(col("u"), col("v"))
      .localCheckpoint(true)
    val nodes = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .distinct()
    val adj = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .union(nodes.select(col("node").as("u"), col("node").as("v")))
      .localCheckpoint(true)
    var lab = nodes.withColumn("lab", col("node"))
    for (i <- 1 to rounds) {
      // lab is node-sized and, as a checkpoint/agg frame, stats-less to
      // AQE — broadcast so the adjacency never shuffles
      lab = adj.join(broadcast(lab), adj("v") === lab("node"))
        .groupBy(adj("u").as("node"))
        .agg(min(col("lab")).as("lab"))
      if (i % 2 == 0 || i == rounds) lab = lab.localCheckpoint(true)
    }
    lab.groupBy(col("lab").as("component"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("n_nodes").desc, col("component"))
      .limit(topN)
  }

  /** The same bounded min-label propagation as one portable SQL
    * statement with the rounds unrolled — identical text runs in DuckDB
    * (oracle) and Spark (front door), so the three surfaces cannot
    * drift.
    */
  private[graft] def connectedComponentsSql(maxItems: Int, minCo: Int,
                                            rounds: Int, topN: Int): String = {
    val header =
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                      FROM lineitem),
         ok AS (SELECT basket FROM inc GROUP BY basket
                HAVING count(*) <= $maxItems),
         kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok
                  ON ok.basket = inc.basket),
         e AS (SELECT a.item AS u, b.item AS v
               FROM kept a JOIN kept b
                 ON a.basket = b.basket AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= $minCo),
         nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         adj AS (SELECT u, v FROM e
                 UNION ALL SELECT v AS u, u AS v FROM e
                 UNION ALL SELECT node AS u, node AS v FROM nodes),
         lab0 AS (SELECT node, node AS lab FROM nodes)"""
    val steps = (1 to rounds).map { i =>
      s"""lab$i AS (SELECT adj.u AS node, min(l.lab) AS lab
             FROM adj JOIN lab${i - 1} l ON adj.v = l.node
             GROUP BY adj.u)"""
    }
    (header +: steps).mkString(",\n") +
      s"""
         SELECT lab AS component, CAST(count(*) AS BIGINT) AS n_nodes
         FROM lab$rounds GROUP BY lab
         ORDER BY n_nodes DESC, component LIMIT $topN"""
  }

  /** Per-node local clustering coefficient over the co-purchase graph:
    * how many of a node's neighbor pairs are themselves connected —
    * coeff = 2*triangles(v) / (deg(v) * (deg(v)-1)), the standard
    * "is this node's neighborhood a clique or a star" signal that
    * separates catalog hub items from genuine bundles. Emitted as
    * half-up 1e-6 BIGINT fixed-point so the oracle compare is exact;
    * top-[[topN]] by (coeff desc, node) with a minimum-degree floor so
    * the degenerate deg-1 nodes (coefficient undefined) never rank.
    *
    * 100 TB shape: reuses the degree-oriented edge-iterator from
    * [[triangleCount]] — per-node triangle counts come from the SAME
    * array-intersection stream (each triangle credits its three
    * corners), so the work is O(triangles) past the oriented adjacency
    * build, never wedge-materialized. Degree is a map-side-combined
    * count on the undirected edge list. The join of the two per-node
    * frames is node-sized.
    */
  def clusteringCoeff(s: SparkSession, dir: String, maxItems: Int = 40,
                      minDeg: Int = 2, topN: Int = 25): DataFrame = {
    val edges = basketEdges(s, dir, maxItems)
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val oriented = edges
      .join(deg.toDF("u", "deg_u"), Seq("u"))
      .join(deg.toDF("v", "deg_v"), Seq("v"))
      .select(
        when(col("deg_u") < col("deg_v") ||
             (col("deg_u") === col("deg_v") && col("u") < col("v")),
          col("u")).otherwise(col("v")).as("src"),
        when(col("deg_u") < col("deg_v") ||
             (col("deg_u") === col("deg_v") && col("u") < col("v")),
          col("v")).otherwise(col("u")).as("dst"))
      // r15: same cluster-width pin as triangleCount — the AQE
      // byte-coalesced checkpoint otherwise feeds the CPU-bound
      // intersect stage a 2-partition layout
      .repartition(s.sparkContext.defaultParallelism, col("src"))
      .localCheckpoint(true)
    // r15: nbrs is a SHARED frame (both wedge-join build sides) — without
    // a pin each BroadcastExchange re-ran the whole collect_list aggregate
    // from the oriented checkpoint (the r9 materialization discipline).
    // Node-sized (one row per src with its orientation-bounded out-list),
    // so the eager pin is cheap and both broadcasts build from it.
    val nbrs = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbr"))
      .localCheckpoint(true)
    val tri = oriented
      .join(nbrs.toDF("src", "nu"), Seq("src"))
      .join(nbrs.toDF("dst", "nv"), Seq("dst"))
      .select(col("src").as("a"), col("dst").as("b"),
        explode(array_intersect(col("nu"), col("nv"))).as("c"))
    // one nested explode credits all three corners without recomputing
    // the intersection join per branch (the triangleCount fix)
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.filter(col("deg") >= minDeg)
      .join(triPerNode, Seq("node"), "left")
      .select(col("node").as("p_partkey"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coeff_1e6", expr(
        """CAST((4000000 * n_tri + deg * (deg - 1))
                DIV (2 * deg * (deg - 1)) AS BIGINT)"""))
      .orderBy(col("coeff_1e6").desc, col("p_partkey"))
      .limit(topN)
  }

  /** The clustering coefficient as portable SQL (naive id-ordered
    * triangle enumeration — the oracle pays the wedge cost the Spark
    * side's degree orientation avoids; identical output).
    */
  private[graft] def clusteringCoeffSql(maxItems: Int, minDeg: Int, topN: Int): String =
    s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                     FROM lineitem),
        ok AS (SELECT basket FROM inc GROUP BY basket
               HAVING count(*) <= $maxItems),
        kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok
                 ON ok.basket = inc.basket),
        e AS (SELECT DISTINCT a.item AS u, b.item AS v
              FROM kept a JOIN kept b
                ON a.basket = b.basket AND a.item < b.item),
        t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
               FROM (SELECT a AS node FROM t
                     UNION ALL SELECT b FROM t
                     UNION ALL SELECT c FROM t) p
               GROUP BY node),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT u AS node FROM e
                      UNION ALL SELECT v FROM e) d
                GROUP BY node)
        SELECT deg.node AS p_partkey, deg.deg,
               CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
               CAST((4000000 * coalesce(tn.n_tri, 0) + deg.deg * (deg.deg - 1))
                    // (2 * deg.deg * (deg.deg - 1)) AS BIGINT) AS coeff_1e6
        FROM deg LEFT JOIN tn ON tn.node = deg.node
        WHERE deg.deg >= $minDeg
        ORDER BY coeff_1e6 DESC, p_partkey LIMIT $topN"""

  /** Degree distribution of the co-purchase graph in log2 buckets — the
    * one-page readout that says whether the graph is hub-dominated
    * (heavy tail) before any algorithm that is quadratic in degree runs
    * on it, and the graph-side sibling of the token-length histogram.
    * Bucket b covers degrees [2^b, 2^(b+1)); bit-length (length(bin(d))
    * − 1) stands in for floor(log2 d), so no floating log enters the
    * compare.
    *
    * 100 TB shape: degree is one map-side-combined count over the
    * checkpointed edge list; the histogram is a ≤64-row aggregate.
    */
  def degreeHistogram(s: SparkSession, dir: String,
                      maxItems: Int = 8): DataFrame = {
    val edges = basketEdges(s, dir, maxItems)
    edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .select(expr("CAST(length(bin(deg)) - 1 AS BIGINT)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_nodes"))
      .select(col("bucket"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))").as("lo"),
        col("n_nodes"))
      .orderBy(col("bucket"))
  }

  /** [[degreeHistogram]] as DuckDB SQL. */
  private[graft] def degreeHistogramSql(maxItems: Int): String =
    s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                     FROM lineitem),
        ok AS (SELECT basket FROM inc GROUP BY basket
               HAVING count(*) <= $maxItems),
        kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok
                 ON ok.basket = inc.basket),
        e AS (SELECT DISTINCT a.item AS u, b.item AS v
              FROM kept a JOIN kept b
                ON a.basket = b.basket AND a.item < b.item),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
                FROM (SELECT u AS node FROM e
                      UNION ALL SELECT v FROM e) d
                GROUP BY node),
        b AS (SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket FROM deg)
        SELECT bucket, CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS lo, CAST(count(*) AS BIGINT) AS n_nodes
        FROM b GROUP BY bucket ORDER BY bucket"""

  /** k-core of the repeat-support co-purchase graph (same minCo >= 2
    * edge rule as [[connectedComponents]] — the raw graph is one blob):
    * iteratively peel nodes of degree < k for a FIXED number of rounds,
    * then report the degree of every node still incident to an edge.
    * Fixed rounds (not convergence-polled) keep the schedule free of
    * driver-side collects, the same contract as [[pagerankCopurchase]];
    * at the fixture scale the peel reaches its fixed point well inside
    * the budget, and at any scale the output is a well-defined
    * deterministic function (degrees after exactly `rounds` peels).
    *
    * 100 TB shape: each round is one map-side-combined degree count over
    * the surviving edge list + two semi-join-shaped equi-joins back onto
    * it — no all-pairs step anywhere, and the edge list only ever
    * shrinks. localCheckpoint every second round bounds lineage depth.
    */
  def kcoreMembership(s: SparkSession, dir: String, maxItems: Int = 40,
                      minCo: Int = 2, k: Int = 3, rounds: Int = 8): DataFrame = {
    val inc = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      .distinct()
    val ok = inc.groupBy(col("basket")).agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") <= maxItems)
      .select("basket")
    var edges = inc.join(ok, Seq("basket")).as("a")
      .join(inc.join(ok, Seq("basket")).as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("u"), col("b.item").as("v"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)
      .select(col("u"), col("v"))
      .localCheckpoint(true)
    for (i <- 1 to rounds) {
      val alive = edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      // the survivor set is node-sized and stats-less mid-peel —
      // broadcast both semi-join probes so the edge list never shuffles
      edges = edges
        .join(broadcast(alive.toDF("u")), Seq("u"))
        .join(broadcast(alive.toDF("v")), Seq("v"))
      if (i % 2 == 0 || i == rounds) edges = edges.localCheckpoint(true)
    }
    edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("node"))
  }

  /** The same fixed-round peel as one PORTABLE statement (identical text
    * in DuckDB and Spark) with the rounds unrolled as a SINGLE-REFERENCE
    * chain. The naive unrolling (per round: an alive census referencing
    * the edge CTE twice + a survivor join referencing it once) explodes
    * under per-reference CTE inlining — BOTH engines inline (DuckDB 1.x
    * by default, Catalyst's InlineCTE for deterministic CTEs), so the
    * base scan expands ~5^rounds times: DuckDB exhausts file handles,
    * Spark exhausts driver heap just PLANNING it. Instead edges are kept
    * BIDIRECTIONAL and each round is two window layers over its
    * predecessor alone: deg(src) is a count() window per src, and the
    * mirror row's degree — deg(dst) — is recovered as (pair-partition
    * sum of deg(src)) - own, since exactly the two mirror rows share the
    * unordered-pair partition. One reference per round, linear chain,
    * linear plan.
    */
  private[graft] def kcoreMembershipSql(maxItems: Int, minCo: Int, k: Int,
                                        rounds: Int): String = {
    val header =
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                      FROM lineitem),
         ok AS (SELECT basket FROM inc GROUP BY basket
                HAVING count(*) <= $maxItems),
         kept AS (SELECT inc.basket, inc.item FROM inc JOIN ok
                  ON ok.basket = inc.basket),
         e AS (SELECT a.item AS u, b.item AS v
               FROM kept a JOIN kept b
                 ON a.basket = b.basket AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= $minCo),
         g0 AS (SELECT u AS src, v AS dst FROM e
                UNION ALL SELECT v, u FROM e)"""
    val steps = (1 to rounds).map { i =>
      s"""g$i AS (
           SELECT src, dst FROM (
             SELECT src, dst, ds,
                    CAST(sum(ds) OVER (PARTITION BY least(src, dst),
                                       greatest(src, dst)) AS BIGINT) AS pair_ds
             FROM (SELECT src, dst,
                          CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS ds
                   FROM g${i - 1}) d$i) w$i
           WHERE ds >= $k AND pair_ds - ds >= $k)"""
    }
    (header +: steps).mkString(",\n") +
      s"""
         SELECT src AS node, CAST(count(*) AS BIGINT) AS core_deg
         FROM g$rounds GROUP BY src ORDER BY node"""
  }

  /** Gapped sequential-pattern support (PrefixSpan's length-2 layer): for
    * every ordered event-type pair (e1, e2), the number of users whose
    * timeline contains some e1 occurrence strictly before some e2
    * occurrence — gaps allowed, which is what separates sequence mining
    * from [[graft.operators.Analytics]]'s contiguous journey trigrams: "a
    * signup eventually followed by a purchase" matches regardless of the
    * browsing in between.
    *
    * The whole subsequence test collapses to two order statistics:
    * a timeline contains e1-before-e2 iff FIRST(e1) < LAST(e2) in the
    * per-user (ts, event_id) order — strict inequality also makes the
    * diagonal (e, e) mean "e occurs at least twice", so one condition
    * serves every pair. No per-user sequence scan, no subsequence
    * enumeration.
    *
    * 100 TB shape: ONE shuffle keyed user_id (the sessionize shape) pays
    * for everything — the position window, the (user, type) min/max
    * aggregate (catalyst reuses the user_id partitioning: at most |types|
    * rows per user survive), and the co-partitioned self-join whose
    * fan-out is bounded by |types|² per user. The final aggregate is
    * |types|²-row catalog output. The oracle states the naive
    * EXISTS-pair-of-rows SQL, proving the order-statistic collapse
    * result-invisible.
    */
  def seqPairSupport(s: SparkSession, dir: String,
                     minSupport: Long = 2): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    seqPairsFromSpans(
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          row_number().over(w).cast("long").as("pos"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos")),
      minSupport)
  }

  /** The pair-support epilogue over an already-reduced
    * (user_id, event_type, first_pos, last_pos) spans frame — shared by
    * the batch operator and the streaming face (the cusumFromDaily
    * split: per-(user, type) min/max cells are plain streaming aggregate
    * state; the self-join readout runs downstream of the sink). The
    * position columns may be ANY mutually orderable type — the batch
    * side uses window row numbers, the streaming side (ts, event_id)
    * structs; both encode the same per-user total order, so the strict
    * first < last comparison agrees (StreamingSpec pins the equality).
    */
  def seqPairsFromSpans(spansIn: DataFrame, minSupport: Long = 2): DataFrame = {
    val spans = spansIn.localCheckpoint(true) // total + both join sides
    val total = spans.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_total"))
    spans.as("a")
      .join(spans.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.first_pos") < col("b.last_pos"))
      .groupBy(col("a.event_type").as("e1"), col("b.event_type").as("e2"))
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") >= minSupport)
      .crossJoin(broadcast(total))
      .select(col("e1"), col("e2"), col("n_users"),
        expr("(20000 * n_users + n_total) DIV (2 * n_total)").as("supp_1e4"))
      .orderBy(col("e1"), col("e2"))
  }

  /** The naive statement of the same support counts — an EXISTS over raw
    * row pairs, no order-statistic collapse — so oracle equality is an
    * algorithmic cross-check, not a restatement.
    */
  private[graft] def seqPairSupportSql(minSupport: Long): String =
    s"""WITH t AS (SELECT user_id, event_type, ts, event_id FROM events),
       pairs AS (
         SELECT DISTINCT a.user_id, a.event_type AS e1, b.event_type AS e2
         FROM t a JOIN t b
           ON a.user_id = b.user_id
          AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))),
       sup AS (SELECT e1, e2, CAST(count(*) AS BIGINT) AS n_users
               FROM pairs GROUP BY e1, e2),
       tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_total
               FROM t)
       SELECT e1, e2, n_users,
              (20000 * n_users + n_total) // (2 * n_total) AS supp_1e4
       FROM sup CROSS JOIN tot
       WHERE n_users >= $minSupport
       ORDER BY e1, e2"""
}
