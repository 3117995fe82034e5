package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkEntry.cosMicrosSql
import graft.sources.Tables

/** Similarity search over the `embeddings` table (vec_id, embedding
  * ARRAY<FLOAT> [64-dim unit-norm], label).
  *
  * Vector math is pure higher-order-function Catalyst (zip_with +
  * aggregate in double precision — codegen'd, no UDF). Two search paths:
  *  - brute-force cosine top-k: exact baseline. The query set is broadcast,
  *    so the corpus scan is embarrassingly parallel with NO shuffle of the
  *    corpus — at 100 TB this is one pass, k results per query via
  *    per-partition top-k then a tiny final merge.
  *  - LSH-bucketed ANN: 16 deterministic hyperplane bits, banded 2×8;
  *    candidates share a band with the query, ~1/256 of the corpus per
  *    band — the scale path when the query set is itself large.
  */
object Similarity {

  /** Sentinel default for nLists parameters: derive from the corpus size
    * at call time ([[deriveNLists]]) instead of pinning a constant.
    */
  val AutoNLists: Int = -1

  /** The nLists ∝ corpus rule, wired (r11 verdict task 3): target ~320
    * vectors per inverted list, floored at 16 (so every driver fixture —
    * 500/500/2000 vectors at the oracle-checked SFs — resolves to the
    * historical 16 and no DuckDB oracle moves), capped at the packed
    * centroid-id ceiling. The sf1 empirical probe
    * (SemDedupLeverProbe, recorded in SCALE.md) measured the U-shape minimum
    * near 64 at 20k vectors; n/320 lands 62 there and keeps the expected
    * cluster size — hence the O(Σ cluster²) within-cluster pair term —
    * constant as the corpus grows.
    */
  private[graft] def deriveNLists(n: Long): Int =
    math.min(65536L, math.max(16L, n / 320L)).toInt

  /** Resolve an nLists argument: explicit values pass through; the
    * [[AutoNLists]] sentinel derives from a count of the comparison
    * universe (one cheap parquet-metadata-driven aggregate, driver-side
    * by design — a single long, recorded in the collect()-audit ledger).
    */
  private def resolveNLists(nLists: Int, universe: DataFrame): Int =
    if (nLists == AutoNLists) deriveNLists(universe.count()) else nLists

  /** Cosine similarity between two ARRAY<FLOAT> columns, computed in
    * double, left-to-right (parity with DuckDB's list_dot_product on
    * DOUBLE[]). Uses the native codegen'd dot_f expression
    * (graft.functions.DotProductFloat) — bit-identical to the HOF
    * `aggregate(zip_with(...))` form, ~10x faster in the inner loop.
    * The session must carry graft's functions (`GraftSession.builder`).
    */
  def cosineExpr(a: String, b: String): String =
    s"dot_f($a, $b) / (sqrt(dot_f($a, $a)) * sqrt(dot_f($b, $b)))"

  /** Cosine as integer micro-units (floor(cos*1e6 + 0.5) as BIGINT). All
    * ranking, thresholds, and the emitted score derive from this integer
    * via exact arithmetic — engines disagree on rounding doubles that sit
    * exactly on `.xxxx5`, and round()'s tie-breaking and result TYPE have
    * both changed between DuckDB releases. floor on an explicit DOUBLE is
    * a single IEEE-754 op: bit-identical on every engine given identical
    * cosine bits (which the oracle's pinned-order fold guarantees).
    */
  def scoreMicrosExpr(a: String, b: String): String =
    s"CAST(floor((${cosineExpr(a, b)}) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** Same micro-unit score, but from a precomputed dot and norms. The norm
    * of each vector is computed ONCE per row (not once per pair — a 3x cut
    * of the inner-loop flops that compounds at corpus x query scale). The
    * doubles are identical wherever they're computed, so oracle bit-parity
    * is untouched; na/nb must keep the same operand order the oracle's
    * `sqrt(dot(a,a)) * sqrt(dot(b,b))` uses.
    */
  def scoreMicrosFromNorms(dot: String, na: String, nb: String): String =
    s"CAST(floor(($dot / ($na * $nb)) * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** Corpus with a per-row L2 norm column. Spread across cores first: the
    * vector math downstream is compute-bound, so its parallelism must not
    * inherit the scan's split count (see Tables.spreadForCompute).
    */
  private def embWithNorm(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "embeddings")
      .withColumn("vnorm", expr("sqrt(dot_f(embedding, embedding))"))

  /** Half-up 4-decimal score from micro-units, emitted as BIGINT
    * ten-thousandths (score 0.8123 -> 8123). Kept integer end-to-end:
    * an int hashes identically under every engine/driver comparison,
    * while int/10000.0 is hostage to the engine's decimal-vs-double
    * division typing.
    */
  val Micro4: String =
    "CAST(CASE WHEN m >= 0 THEN (m + 50) div 100 ELSE -((-m + 50) div 100) END AS BIGINT)"

  /** Exact brute-force top-k neighbors for query vectors (vec_id < nQueries).
    * Rank on the 6-decimal-rounded score with vec_id tiebreak so ordering
    * is engine-stable.
    */
  /** Top-k per query via the map-side-combining TopKNeighbors Aggregator
    * (graft.functions) — NOT a window: a window over query_id would
    * shuffle every scored row into #queries partitions (max volume, max
    * skew), while the aggregator's partial aggregation ships at most k
    * rows per upstream partition. Selection order (m DESC, vec_id ASC) is
    * identical, so results — and the DuckDB oracle, which uses
    * row_number — are unchanged.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKNeighbors(k),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredNeighbor])
    scored
      .filter(col("m").isNotNull) // a malformed (null-score) vector never ranks
      .groupBy(col("query_id"))
      .agg(topk(col("m"), col("vec_id")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "sn")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("sn.vecId").as("neighbor_id"), col("sn.m").as("m"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        expr(Micro4).as("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  def bruteForceTopK(s: SparkSession, dir: String,
                     nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = embWithNorm(s, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("vnorm").as("qnorm"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("m",
        expr(scoreMicrosFromNorms("dot_f(qv, embedding)", "qnorm", "vnorm")))
    topKPerQuery(scored, k)
  }

  /** Deterministic hyperplanes for LSH (seeded java.util.Random — the LCG
    * + nextGaussian algorithms are spec-fixed, so signatures are stable
    * across runs and JVMs). Exposed so the DuckDB oracle can embed the
    * identical plane values as SQL literals (Double.toString shortest-repr
    * round-trips exactly).
    */
  private[graft] def planeData(dim: Int = 64, nPlanes: Int = 16): Seq[(Int, Array[Double])] =
    (0 until nPlanes).map { p =>
      val rnd = new java.util.Random(1000L + p)
      (p, Array.fill(dim)(rnd.nextGaussian()))
    }

  private def planes(s: SparkSession, dim: Int = 64, nPlanes: Int = 16): DataFrame =
    s.createDataFrame(planeData(dim, nPlanes)).toDF("plane_id", "plane")

  /** 16-bit hyperplane signature per vector: bit p = sign(v . h_p).
    * Computed via a broadcast join against the 16 planes + pivot-free
    * groupBy sum — one corpus pass, no corpus shuffle before the final
    * tiny aggregate on vec_id.
    */
  def lshSignatures(s: SparkSession, dir: String): DataFrame = {
    lshSignaturesOf(Tables.spread(s, dir, "embeddings"))
  }

  /** [[lshSignatures]] over an arbitrary (vec_id, embedding) frame — the
    * building block streaming ingestion shares with the batch path.
    */
  private[graft] def lshSignaturesOf(emb: DataFrame): DataFrame =
    emb.crossJoin(broadcast(planes(emb.sparkSession)))
      .withColumn("dot", expr(
        """aggregate(zip_with(embedding, plane, (p, q) -> CAST(p AS DOUBLE) * q),
           CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"""))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("dot") >= 0, expr("CAST(1 AS BIGINT) << plane_id"))
        .otherwise(lit(0L))).as("sig"))


  /** Shared exact re-rank: score candidate (query_id, vec_id) pairs with
    * micro-unit cosine and keep each query's top-k. One definition so the
    * score/tie-break/output contract (and its oracle parity) lives in one
    * place for both ANN paths.
    */
  private def rerankTopK(candidates: DataFrame, emb: DataFrame, k: Int): DataFrame = {
    val withVecs = candidates
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("vnorm").as("qnorm")), "query_id")
      .join(emb.select(col("vec_id"), col("embedding"), col("vnorm")), "vec_id")
      .withColumn("m",
        expr(scoreMicrosFromNorms("dot_f(qv, embedding)", "qnorm", "vnorm")))
    topKPerQuery(withVecs, k)
  }

  /** ANN top-k via LSH banding (2 bands x 8 bits): candidates = corpus
    * vectors sharing >= 1 band with the query; exact cosine re-rank on
    * candidates only. Oracle'd (hyperplanes embedded as SQL literals) AND
    * recall-vs-brute-force spec'd on a clustered fixture.
    */
  def annLshTopK(s: SparkSession, dir: String,
                 nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = embWithNorm(s, dir)
    val sigs = lshSignatures(s, dir)
      .selectExpr("vec_id",
        "stack(2, 0, sig & 255, 1, (sig >> 8) & 255) AS (band_idx, band_val)")
    val queryBands = sigs.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band_idx"), col("band_val"))
    val candidates = sigs.join(broadcast(queryBands), Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    rerankTopK(candidates, emb, k)
  }

  /** Corpus-wide embedding near-dup PAIRS without a blocking label — the
    * embedding sibling of Dedup.minHashLsh, for corpora where no natural
    * label/shard key exists: candidates are vectors sharing an LSH
    * signature band (2 bands of 8 hyperplane bits — ~1/256 of the corpus
    * per bucket), verification is the exact micro-cosine on candidates
    * only, and pairs emit once (vec_a < vec_b). Same scale shape as the
    * text LSH path: the band equi-join shuffles (vector, band) rows,
    * never vector pairs; only bucket collisions reach the dot product.
    * Recall follows the LSH collision curve — raise bands / lower bits
    * per band for lower thresholds, exactly the MinHash bands/rows trade.
    */
  def embeddingLshPairs(s: SparkSession, dir: String,
                        minScoreMicros: Long = 300000L): DataFrame = {
    val emb = embWithNorm(s, dir)
    val bands = lshSignatures(s, dir).selectExpr("vec_id",
      "stack(2, 0, sig & 255, 1, (sig >> 8) & 255) AS (band_idx, band_val)")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("vnorm").as("na")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("vnorm").as("nb")), "vec_b")
      .withColumn("m", expr(scoreMicrosFromNorms("dot_f(ea, eb)", "na", "nb")))
      .filter(col("m") >= minScoreMicros)
      .select(col("vec_a"), col("vec_b"), expr(Micro4).as("score"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** IVF-flat ANN: coarse-quantize the corpus into `nLists` inverted lists
    * (deterministic quantizer: the first `nLists` vectors serve as
    * centroids), then search only the query's `nProbe` nearest lists and
    * re-rank candidates exactly.
    *
    * Scale shape: assignment is ONE corpus pass against a broadcast
    * centroid table (no corpus shuffle); a query then touches ~nProbe/nLists
    * of the corpus. With a trained quantizer (k-means offline) the same
    * plan applies — the quantizer here is deterministic so the DuckDB
    * oracle can recompute it exactly.
    */
  /** Nearest-centroid assignment over scored (vec_id, centroid_id, cm)
    * rows — a map-side-combining max_by aggregate, NOT a window. The old
    * window shuffled AND SORTED all corpus×nLists scored rows (full
    * embedding payload included); max_by ships one partial row of three
    * BIGINTs per (vec_id, upstream partition) and never sorts. The
    * tie-break (cm desc, then smallest centroid_id — identical to the old
    * window's row_number ordering) is packed into ONE BIGINT,
    * `cm * 65536 - centroid_id`: larger cm wins, equal cm falls to the
    * smaller id. Packed rather than a struct ordering because a struct
    * aggregation buffer is not hash-aggregable — Spark would demote the
    * agg to SortAggregateExec, reintroducing the very sort this removes
    * (IvfPlanSpec pins HashAggregate + zero SortExec).
    * cm ∈ [-1e6, 1e6] micros and centroid_id < 65536, so the packed key
    * fits a BIGINT with no overlap between cm steps.
    */
  private[graft] def nearestCentroid(scoredC: DataFrame): DataFrame =
    scoredC.groupBy(col("vec_id"))
      .agg(max_by(col("centroid_id"),
        expr("cm * CAST(65536 AS BIGINT) - centroid_id")).as("centroid_id"))

  /** Corpus assignment and query probes both go through [[selectLists]]:
    * the codegen'd [[graft.functions.TopCentroidsFloat]] twin of the
    * crossJoin + [[nearestCentroid]] spelling, bit-identical to it (same
    * dot_f fold, floor and (cm DESC, centroid_id) order), so the DuckDB
    * oracle's row_number text is unchanged.
    */
  def ivfTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
              nLists: Int = 16, nProbe: Int = 3): DataFrame = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir)
    val q = FloatCentroids(firstNCentroids(emb, nLists))
    rerankTopK(probeCandidates(selectLists(emb, q, 1), emb, q, nQueries, nProbe), emb, k)
  }

  /** The IVF candidate screen shared by every top-k path, inline or from
    * an index: each query (vec_id < nQueries of `emb`) selects its nProbe
    * lists of `q`, and every other vector those lists hold in `lists`
    * (centroid_id, vec_id) is a distinct (query_id, vec_id) candidate.
    */
  private def probeCandidates(lists: DataFrame, emb: DataFrame, q: Centroids,
                              nQueries: Int, nProbe: Int): DataFrame = {
    val probes = selectLists(emb.filter(col("vec_id") < nQueries), q, nProbe)
      .select(col("vec_id").as("query_id"), col("centroid_id"))
    lists.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
  }

  /** BIGINT quantization codes of the embedding: floor(x·2^20 + 0.5) per
    * component — one IEEE-754 op, bit-identical on every engine (the
    * labelCentroidAffinity discipline). The trained quantizer aggregates
    * CODES, not floats: component sums of integers are exact and
    * order-free, so k-means centroids are independent of partitioning and
    * recomputable by the DuckDB oracle.
    */
  private val CodeExpr: String =
    """transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * CAST(1048576 AS DOUBLE)
       + CAST(0.5 AS DOUBLE)) AS BIGINT))"""

  /** Left-to-right double dot of two BIGINT-array columns. Every product
    * is CAST(int AS DOUBLE) — exact below 2^53 — and the fold order is
    * pinned, so the oracle's indexed list_reduce reproduces identical
    * bits.
    */
  private def dotCodesExpr(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
        CAST(0 AS DOUBLE), (acc, v) -> acc + v)"""

  /** (vec_id, code, vqn): integer codes + the code-space norm, computed
    * once per vector (not once per centroid pair).
    */
  private[graft] def vectorCodes(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), expr(CodeExpr).as("code"))
      .withColumn("vqn", expr(s"sqrt(${dotCodesExpr("code", "code")})"))

  /** Code-space micro-cosine of every vector against every centroid.
    * Centroids stay unnormalized component SUMS — cosine is invariant to
    * positive scaling, so dividing by the member count (and its
    * engine-dependent rounding) is never needed.
    */
  private[graft] def scoreAgainstCentroids(codes: DataFrame, centroids: DataFrame): DataFrame = {
    val withNorm = centroids
      .withColumn("cqn", expr(s"sqrt(${dotCodesExpr("csum", "csum")})"))
    codes.crossJoin(broadcast(withNorm))
      .withColumn("cm", expr(
        s"""CAST(floor((${dotCodesExpr("code", "csum")} / (vqn * cqn))
            * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"""))
  }

  /** Corpus-sized nearest-centroid assignment through the codegen'd
    * [[graft.functions.NearestCentroidPacked]] expression: the centroid
    * table (catalog-sized by the nLists <= 65536 contract) collects to
    * the driver ONCE — a ledgered driver action, <= 65536 × dim longs,
    * the same boundary the broadcast crossJoin shipped — and rides into
    * the expression as literals; each corpus row then computes its
    * argmax in ONE JIT-compiled loop. Replaces the crossJoin +
    * hash-aggregate spelling, whose n × nLists materialized rows turned
    * the AutoNLists lever quadratic in ROWS (sf10: 125M rows, 770s; this
    * path: 14s). Arithmetic bit-identical (same left-to-right double
    * fold, same floor/packing — the DuckDB oracle is unchanged); the
    * packed key unpacks exactly because ids are < 65536.
    *
    * Returns (vec_id, centroid_id, best_cm): the winning score rides in
    * the packed key (packed = cm·65536 − centroid_id, so
    * cm = (packed + centroid_id) / 65536 exactly); consumers that drop
    * best_cm have it pruned from the plan. Query-sized probe scoring
    * (top-nProbe per query, needs ALL centroid scores) stays on
    * [[scoreAgainstCentroids]] — bounded by the query set there.
    */
  private[graft] def assignNearest(codes: DataFrame, centroids: DataFrame): DataFrame = {
    val rows = centroids.select(col("centroid_id"), col("csum")).collect()
    val ids = rows.map(_.getLong(0))
    require(ids.forall(id => id >= 0 && id < 65536),
      "packed assignment requires 0 <= centroid_id < 65536")
    val mats = rows.map(_.getSeq[Long](1).toSeq)
    // cqn replicated from the dataflow spelling: left-to-right double
    // fold of CAST(c)*CAST(c), then sqrt — identical IEEE sequence
    val cqns = mats.map { m =>
      var acc = 0.0; val it = m.iterator
      while (it.hasNext) { val v = it.next().toDouble; acc += v * v }
      math.sqrt(acc)
    }
    codes.withColumn("packed", call_function("nearest_centroid",
        col("code"), col("vqn"),
        typedlit(mats.toSeq), typedlit(cqns.toSeq), typedlit(ids.toSeq)))
      .withColumn("centroid_id", expr("pmod(-packed, CAST(65536 AS BIGINT))"))
      .select(col("vec_id"), col("centroid_id"),
        expr("(packed + centroid_id) DIV CAST(65536 AS BIGINT)").as("best_cm"))
  }

  /** Fixed-iteration spherical Lloyd's k-means over the integer codes —
    * the trained coarse quantizer. Init is the deterministic first-N
    * codes (the existing fallback quantizer); each iteration assigns every
    * vector to its max-cosine centroid (packed max_by — the sort-free
    * nearestCentroid shape) and replaces each centroid with the exact
    * component-wise integer SUM of its members. Everything is either
    * exact integer arithmetic or pinned-order double folds, so a fixed
    * `iters` yields centroids the DuckDB oracle recomputes bit-for-bit.
    * Clusters that lose all members drop out (both engines agree).
    *
    * Scale shape: per iteration, ONE corpus pass against a broadcast
    * centroid table (crossJoin + hash-agg assignment, posexplode +
    * two-level hash-agg update — rows×dim, never a per-label vector
    * list); the O(nLists·dim) centroid table is localCheckpoint'd
    * between iterations so the lazy plan doesn't double per round.
    */
  private[graft] def trainCentroids(codes: DataFrame, nLists: Int, iters: Int): DataFrame = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    require(iters >= 0, "iters must be non-negative")
    var centroids = codes.filter(col("vec_id") < nLists)
      .select(col("vec_id").as("centroid_id"), col("code").as("csum"))
    for (_ <- 1 to iters) {
      // assignNearest COLLECTS the incoming centroid table into expression
      // literals, breaking lineage each iteration — the intermediate
      // centroid frames have exactly one consumer (that collect), so the
      // old per-iteration localCheckpoint is pure overhead now
      val assign = assignNearest(codes, centroids)
      centroids = codes.join(assign, Seq("vec_id"))
        .select(col("centroid_id"), posexplode(col("code")).as(Seq("pos", "c")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(sum(col("c")).as("s"))
        .groupBy(col("centroid_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, s))), x -> x.s)")
          .as("csum"))
    }
    // the RETURNED frame does fan out (stage writes, probe scoring, the
    // final assignNearest collect) — pin once for its consumers
    if (iters > 0) centroids.localCheckpoint() else centroids
  }

  /** IVF-flat ANN with the TRAINED quantizer: Lloyd's k-means centroids
    * (trainCentroids) instead of the raw first-N vectors, same probe
    * mechanics, same exact float re-rank and output contract as ivfTopK.
    * On clustered data the trained centroids track the true clusters, so
    * recall at equal nProbe dominates the first-N quantizer
    * (OperatorSpec pins trained >= first-N on the clustered fixture).
    */
  def ivfTopKTrained(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
                     nLists: Int = 16, nProbe: Int = 3, iters: Int = 2): DataFrame = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir)
    val q = CodeCentroids(trainCentroids(vectorCodes(emb), nLists, iters))
    rerankTopK(probeCandidates(selectLists(emb, q, 1), emb, q, nQueries, nProbe), emb, k)
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most SIMILAR vectors carrying a DIFFERENT label —
    * the near-but-wrong examples a contrastive loss learns the most from
    * (random negatives are trivially far; hard negatives trace the
    * decision boundary). Identical scan shape to [[bruteForceTopK]]:
    * broadcast queries, zero corpus shuffle, map-side TopKNeighbors
    * aggregation; the label-mismatch filter runs inside the scan stage
    * before anything shuffles.
    */
  def hardNegatives(s: SparkSession, dir: String,
                    nQueries: Int = 10, k: Int = 5): DataFrame = {
    val emb = embWithNorm(s, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv"), col("vnorm").as("qnorm"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .withColumn("m",
        expr(scoreMicrosFromNorms("dot_f(qv, embedding)", "qnorm", "vnorm")))
    topKPerQuery(scored, k)
  }

  /** Quantizer quality report: per-cluster population and mean cosine
    * (micro units, truncated) of members to their assigned centroid —
    * the balance/cohesion readout for choosing nLists/iters. IVF probe
    * cost at scale is driven by exactly the population skew this
    * surfaces (a whale list re-creates the skew the index exists to
    * avoid), and falling cohesion says the quantizer needs retraining
    * before the next compaction.
    *
    * The winning score rides INSIDE the same packed max the sort-free
    * assignment uses (packed = cm*65536 - centroid_id, so
    * cm = (packed + centroid_id) / 65536 exactly) — still one
    * HashAggregate, zero sorts, no second scoredC pass. Truncated mean
    * via the (x - x % n) / n identity, which both engines evaluate
    * identically for either sign.
    *
    * 100 TB shape: one corpus pass vs broadcast centroids (the existing
    * scoring join), one per-vector hash aggregate, then an nLists-row
    * aggregate — nothing new shuffles.
    */
  def clusterReport(s: SparkSession, dir: String, nLists: Int = 16,
                    iters: Int = 2): DataFrame = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir)
    val codes = vectorCodes(emb)
    val centroids = trainCentroids(codes, nLists, iters)
    assignNearest(codes, centroids)
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("best_cm")).as("cm_sum"))
      .withColumn("mean_sim_micro", expr("(cm_sum - cm_sum % n_vecs) DIV n_vecs"))
      .select(col("centroid_id"), col("n_vecs"), col("mean_sim_micro"))
      .orderBy(col("centroid_id"))
  }

  /** ANN quality evaluation: recall@k of the trained-IVF search against
    * the exhaustive scan, per query — the readout an operator reads to
    * tune nProbe/nLists before committing an index layout. Exact
    * integers end-to-end: n_match is a set-overlap count, recall the
    * half-up fixed-point fraction; probing every list makes the
    * candidate set exhaustive, so recall is then 10000 by construction
    * (spec-pinned).
    *
    * Scale shape: both inputs are the existing broadcast-query corpus
    * scans; the comparison itself joins two (nQueries x k)-row frames —
    * driver-trivial forever. At warehouse scale the query set is a
    * sample; the shape is unchanged.
    */
  def recallReport(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
                   nLists: Int = 16, nProbe: Int = 3, iters: Int = 2): DataFrame = {
    val exact = bruteForceTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopKTrained(s, dir, nQueries, k, nLists, nProbe, iters)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_match"))
      .withColumn("recall_1e4", expr(s"(20000 * n_match + $k) DIV (2 * $k)"))
      .orderBy(col("query_id"))
  }

  /** Matryoshka-style dimension ablation: brute-force top-k retrieval
    * using only the first `d` embedding dimensions, for each d in `dims`,
    * scored by recall against the full-dimension top-k — the measurement
    * behind "can we search on a 8/16/32-dim prefix and re-rank with the
    * full vector", which cuts ANN index bytes (and shuffle bytes) by
    * 8-2x when the embedding model front-loads information (Kusupati et
    * al., Matryoshka Representation Learning, NeurIPS 2022).
    *
    * All scoring is the pinned micro-cosine over DOUBLE math on the
    * PREFIX (slice keeps element bits; prefix norms are recomputed, not
    * sliced from the full norm), so the DuckDB oracle reproduces every
    * candidate set bit-for-bit; recall is exact integer fixed point.
    *
    * Scale shape: one broadcast-query corpus scan per ablated dimension
    * (corpus never shuffles; top-k via the map-side-combining
    * aggregator), and the truth join compares (|dims| x nQueries x k)-row
    * frames — driver-trivial. The prefix scan reads the SAME parquet
    * column; a production layout would store the prefix as its own
    * column (or PARQUET-2161 float-split encoding) so the 8-dim pass
    * reads 1/8th the bytes.
    */
  def dimAblation(s: SparkSession, dir: String, dims: Seq[Int] = Seq(8, 16, 32),
                  nQueries: Int = 10, k: Int = 5): DataFrame = {
    val truth = bruteForceTopK(s, dir, nQueries, k)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    val perDim = dims.map { d =>
      val emb = Tables.spread(s, dir, "embeddings")
        .withColumn("pv", expr(s"slice(embedding, 1, $d)"))
        .withColumn("vnorm", expr("sqrt(dot_f(pv, pv))"))
      val queries = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("pv").as("qv"),
          col("vnorm").as("qnorm"))
      val scored = emb.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("m",
          expr(scoreMicrosFromNorms("dot_f(qv, pv)", "qnorm", "vnorm")))
      topKPerQuery(scored, k)
        .select(lit(d.toLong).as("dim"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    perDim
      .join(broadcast(truth), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_retrieved"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_1e4",
        expr("(20000 * n_hits + n_retrieved) DIV (2 * n_retrieved)"))
      .orderBy(col("dim"))
  }

  // ------------------------------------------------------ product quantization

  /** Per-subspace integer sub-codes: the 64-dim code vector split into
    * `m` contiguous `subDim`-dim subvectors — (vec_id, sub_id, scode,
    * sqn). One posexplode, no joins; sub_id ordering is positional so
    * every engine agrees on which dimensions belong to which subspace.
    */
  private def subCodes(codes: DataFrame, m: Int, subDim: Int): DataFrame =
    codes.select(col("vec_id"),
      posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(code, s * $subDim + 1, $subDim))"))
        .as(Seq("sub_id", "scode")))
      .withColumn("sqn", expr(s"sqrt(${dotCodesExpr("scode", "scode")})"))

  /** Code-space micro-cosine of every subvector against every centroid of
    * ITS OWN subspace (equi-join on sub_id, centroids broadcast): the
    * scoreAgainstCentroids shape with the subspace as an extra key.
    */
  private def scoreSubCentroids(sub: DataFrame, cents: DataFrame): DataFrame = {
    val withNorm = cents
      .withColumn("cqn", expr(s"sqrt(${dotCodesExpr("csum", "csum")})"))
    sub.join(broadcast(withNorm), Seq("sub_id"))
      .withColumn("cm", expr(
        s"""CAST(floor((${dotCodesExpr("scode", "csum")} / (sqn * cqn))
            * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"""))
  }

  /** Per-subspace nearest centroid — the packed sort-free max_by
    * (see nearestCentroid) grouped by (vec_id, sub_id).
    */
  private def nearestSubCentroid(scored: DataFrame): DataFrame =
    scored.groupBy(col("vec_id"), col("sub_id"))
      .agg(max_by(col("centroid_id"),
        expr("cm * CAST(65536 AS BIGINT) - centroid_id")).as("centroid_id"))

  /** Fixed-iteration spherical k-means per SUBSPACE — all m codebooks
    * train in the same Spark jobs (sub_id is just another grouping key,
    * so one corpus pass per iteration covers every subspace). Centroids
    * are exact integer component sums plus the member count (the count
    * feeds the PQ reconstruction mean; training itself never divides —
    * cosine is scale-invariant). Seeds: the first ksub vectors'
    * subvectors, cnt=1. Deterministic end to end, so the DuckDB oracle
    * recomputes every codebook bit-for-bit.
    */
  private[graft] def trainPqCodebooks(sub: DataFrame, ksub: Int, iters: Int): DataFrame = {
    require(ksub <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    require(iters >= 0, "iters must be non-negative")
    var cents = sub.filter(col("vec_id") < ksub)
      .select(col("sub_id"), col("vec_id").as("centroid_id"),
        col("scode").as("csum"), lit(1L).as("cnt"))
    for (_ <- 1 to iters) {
      val assign = nearestSubCentroid(scoreSubCentroids(sub, cents))
      cents = sub.join(assign, Seq("vec_id", "sub_id"))
        .select(col("sub_id"), col("centroid_id"),
          posexplode(col("scode")).as(Seq("pos", "c")))
        .groupBy(col("sub_id"), col("centroid_id"), col("pos"))
        .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
        .groupBy(col("sub_id"), col("centroid_id"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, s))), x -> x.s)")
          .as("csum"),
          // every pos of a centroid has the same member count; max is a
          // deterministic way to take it along without a second job
          max(col("n")).as("cnt"))
        .localCheckpoint()
    }
    cents
  }

  /** Product-quantization ANN top-k (the FAISS PQ/ADC shape): train m
    * per-subspace codebooks, encode every vector as m small centroid ids,
    * then answer queries with asymmetric-distance lookup tables — the
    * query stays in code space, each corpus vector is approximated by its
    * per-subspace centroid means, and the approximate cosine is
    * Σ_sub lut[sub][code] / (|q|·|x̂|), folded in pinned sub order.
    *
    * Scale shape — the reason PQ exists at 100 TB: the corpus is touched
    * exactly twice (one pass to encode, one grouped pass to pack codes),
    * and every per-query cost after that is MAP-ONLY — the packed-code
    * table (m small ints per vector, ~64 bytes/vec instead of 256+) cross
    * joins a broadcast (nQueries × m × ksub)-double LUT, scores with a
    * codegen'd zip_with fold, and top-k rides the map-side-combining
    * TopKNeighbors aggregator. No corpus shuffle per query, no float
    * vectors read at query time: the packed-code DataFrame is exactly
    * what a materialized PQ index would persist.
    *
    * Determinism: codebooks are exact-integer k-means (trainPqCodebooks);
    * lut values and reconstruction norms divide exact integer dots by the
    * member count once, in a pinned order, so the DuckDB oracle — which
    * rebuilds the same codebooks and folds the same 8 doubles in the same
    * order — matches bit for bit.
    */
  /** ADC fold over a packed-code row joined with a per-query lut — pinned
    * left-to-right sub order, identical on both engines.
    */
  private val AdcExpr: String =
    """aggregate(zip_with(pcode, lut,
         (c, l) -> element_at(l, CAST(c AS INT) + 1)),
       CAST(0 AS DOUBLE), (a, b) -> a + b)"""
  private val AdcScoreExpr: String =
    """CAST(floor((adc / (qn * xn)) * CAST(1000000 AS DOUBLE)
       + CAST(0.5 AS DOUBLE)) AS BIGINT)"""

  /** PQ-encode subcoded vectors against a codebook table: the packed code
    * (m centroid ids in sub order) plus the reconstruction norm — the PQ
    * index payload (what a 100 TB deployment persists: ~8 bytes + one
    * double per vector instead of the float array).
    */
  private def pqEncode(sub: DataFrame, cents: DataFrame, ksub: Int): DataFrame = {
    val assignF = nearestSubCentroid(scoreSubCentroids(sub, cents))
    // reconstruction norm² of each codebook entry: |csum/cnt|²
    val nsq = cents.withColumn("nsq", expr(
      s"${dotCodesExpr("csum", "csum")} / (CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE))"))
      .select(col("sub_id"), col("centroid_id"), col("nsq"))
    val pcodes = assignF.groupBy(col("vec_id"))
      .agg(expr(
        "transform(array_sort(collect_list(struct(sub_id, centroid_id))), x -> x.centroid_id)")
        .as("pcode"))
    // one-row (m × ksub) reconstruction-norm table, dense-indexed by
    // centroid id (ids are seed ids 0..ksub-1; dropped ids yield nulls
    // that no surviving code ever references)
    val nsqArrDf = nsq.groupBy(col("sub_id"))
      .agg(map_from_entries(collect_list(struct(col("centroid_id"), col("nsq")))).as("mp"))
      .select(col("sub_id"), expr(
        s"transform(sequence(0, ${ksub - 1}), i -> element_at(mp, CAST(i AS BIGINT)))")
        .as("arr"))
      .agg(expr("transform(array_sort(collect_list(struct(sub_id, arr))), x -> x.arr)")
        .as("nsq_arr"))
    pcodes.crossJoin(broadcast(nsqArrDf))
      .withColumn("xn", expr(
        """sqrt(aggregate(zip_with(pcode, nsq_arr,
             (c, ns) -> element_at(ns, CAST(c AS INT) + 1)),
           CAST(0 AS DOUBLE), (a, b) -> a + b))"""))
      .select(col("vec_id"), col("pcode"), col("xn"))
  }

  /** Per-query ADC lookup tables from query subcodes + codebooks:
    * dot(q_sub, csum)/cnt for every (sub, centroid) — nQueries × m × ksub
    * doubles, built to be broadcast.
    */
  private def pqLuts(codes: DataFrame, sub: DataFrame, cents: DataFrame,
                     nQueries: Int, ksub: Int): DataFrame = {
    val lut = sub.filter(col("vec_id") < nQueries)
      .join(broadcast(cents), Seq("sub_id"))
      .withColumn("lv", expr(s"${dotCodesExpr("scode", "csum")} / CAST(cnt AS DOUBLE)"))
      .select(col("vec_id").as("query_id"), col("sub_id"), col("centroid_id"), col("lv"))
    lut.groupBy(col("query_id"), col("sub_id"))
      .agg(map_from_entries(collect_list(struct(col("centroid_id"), col("lv")))).as("mp"))
      .select(col("query_id"), col("sub_id"), expr(
        s"transform(sequence(0, ${ksub - 1}), i -> element_at(mp, CAST(i AS BIGINT)))")
        .as("arr"))
      .groupBy(col("query_id"))
      .agg(expr("transform(array_sort(collect_list(struct(sub_id, arr))), x -> x.arr)")
        .as("lut"))
      .join(codes.select(col("vec_id").as("query_id"), col("vqn").as("qn")), Seq("query_id"))
  }

  /** The PQ artifacts shared by pqTopK and ivfPqTopK:
    * (corpus side: vec_id, pcode, xn) and (query side: query_id, lut, qn).
    */
  private def pqArtifacts(codes: DataFrame, nQueries: Int, m: Int, subDim: Int,
                          ksub: Int, iters: Int): (DataFrame, DataFrame) = {
    val sub = subCodes(codes, m, subDim)
    val cents = trainPqCodebooks(sub, ksub, iters)
    (pqEncode(sub, cents, ksub), pqLuts(codes, sub, cents, nQueries, ksub))
  }

  def pqTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
             m: Int = 8, subDim: Int = 8, ksub: Int = 16, iters: Int = 2): DataFrame = {
    val emb = embWithNorm(s, dir)
    val codes = vectorCodes(emb)
    val (withNorm, lutArr) = pqArtifacts(codes, nQueries, m, subDim, ksub, iters)
    val scored = withNorm.crossJoin(broadcast(lutArr))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", expr(AdcExpr))
      .withColumn("m", expr(AdcScoreExpr))
    topKPerQuery(scored, k)
  }

  /** IVF-PQ ANN (the FAISS IVFPQ composition): the trained coarse
    * quantizer routes each query to its nProbe nearest inverted lists,
    * and ONLY the vectors in those lists are ADC-scored against the PQ
    * codebooks. The two quantizers are independent — coarse for routing
    * (which corpus fraction is touched), product for compression (how
    * cheap each touched vector is).
    *
    * Scale shape: per query ~nProbe/nLists of the packed-code table is
    * scored, each candidate costing m array lookups on an 8-byte code —
    * against a materialized index (the IVF layout partitioned by list,
    * payload = packed codes instead of float vectors) the probed lists
    * prune at the scan and the float embeddings are never read at query
    * time. Candidate generation goes through [[selectLists]]: the corpus
    * assignment is the codegen'd [[graft.functions.NearestCentroidPacked]]
    * twin of the crossJoin + [[nearestCentroid]] spelling, bit-identical
    * to it, so the DuckDB oracle is unchanged; scoring joins candidates
    * to packed codes by vec_id (shuffle-hash — no sort) and broadcasts
    * the per-query luts.
    */
  def ivfPqTopK(s: SparkSession, dir: String, nQueries: Int = 10, k: Int = 5,
                nLists: Int = 16, nProbe: Int = 3, coarseIters: Int = 2,
                m: Int = 8, subDim: Int = 8, ksub: Int = 16,
                pqIters: Int = 2): DataFrame = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir)
    val codes = vectorCodes(emb)
    // coarse routing: trained centroids, probe the nProbe nearest lists
    val q = CodeCentroids(trainCentroids(codes, nLists, coarseIters))
    val candidates = probeCandidates(selectLists(emb, q, 1), emb, q, nQueries, nProbe)
    // fine scoring: ADC over the candidates only
    val (withNorm, lutArr) = pqArtifacts(codes, nQueries, m, subDim, ksub, pqIters)
    val scored = candidates.join(withNorm.hint("shuffle_hash"), Seq("vec_id"))
      .join(broadcast(lutArr), Seq("query_id"))
      .withColumn("adc", expr(AdcExpr))
      .withColumn("m", expr(AdcScoreExpr))
    topKPerQuery(scored, k)
  }

  // ----------------------------------------------------- materialized PQ index

  private def codebooksPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(indexDir, "_codebooks")

  /** A codebook table (sub_id, centroid_id, csum, cnt) with the shape
    * read back from its rows: m = the sub_id count, subDim = the csum
    * length, ksub = the largest centroid_id + 1. Training drops ids and
    * never adds one, so the dense ksub-wide arrays still cover every
    * code. Queries and appends take the shape from here, never from a
    * caller, so they cannot disagree with the build.
    */
  private[graft] final case class PqCodebooks(table: DataFrame, m: Int, subDim: Int,
                                              ksub: Int) {
    /** `codes` (vec_id, code, ...) as (vec_id, pcode, xn) rows. */
    def encode(codes: DataFrame): DataFrame = pqEncode(subCodes(codes, m, subDim), table, ksub)

    /** Per-query ADC luts for the first `nQueries` rows of `qCodes`. */
    def luts(qCodes: DataFrame, nQueries: Int): DataFrame =
      pqLuts(qCodes, subCodes(qCodes, m, subDim), table, nQueries, ksub)
  }

  private[graft] object PqCodebooks {
    def apply(table: DataFrame): PqCodebooks = {
      val shape = table.agg(countDistinct(col("sub_id")), max(size(col("csum"))),
        max(col("centroid_id"))).head()
      require(!shape.isNullAt(2), "empty PQ codebooks")
      PqCodebooks(table, shape.getLong(0).toInt, shape.getInt(1), shape.getLong(2).toInt + 1)
    }
  }

  private[graft] def storedCodebooks(s: SparkSession, indexDir: String): PqCodebooks =
    PqCodebooks(Tables.parquet(s, codebooksPath(indexDir).toString))

  /** Train the PQ codebooks and persist ONLY the `_codebooks` artifact —
    * the staging step graft.streaming.PqStream needs before its first
    * batch, symmetric with stageIvfQuantizer. Deterministic: the same
    * corpus slice + params always yield bit-identical codebooks.
    */
  def stagePqCodebooks(s: SparkSession, dir: String, indexDir: String,
                       m: Int = 8, subDim: Int = 8, ksub: Int = 16,
                       iters: Int = 2,
                       trainMaxVecIdExclusive: Long = Long.MaxValue): String = {
    require(ksub <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir).filter(col("vec_id") < trainMaxVecIdExclusive)
    trainPqCodebooks(subCodes(vectorCodes(emb), m, subDim), ksub, iters)
      .write.mode("overwrite").parquet(codebooksPath(indexDir).toString)
    indexDir
  }

  /** Materialized PQ index: the packed-code table persisted as parquet
    * (vec_id, pcode — m small ints, xn — one double) with the codebooks
    * frozen alongside as `_codebooks` (underscore-prefixed: invisible to
    * the code scan, same convention as the IVF `_centroids`). Training is
    * bounded by trainMaxVecIdExclusive so an index can train on a stable
    * prefix and still index everything — the train-once-append-forever
    * contract under which build(prefix) + append(rest) == build(all)
    * (OperatorSpec pins it). At 100 TB this table is ~30× smaller than
    * the float vectors, and queries never read the embeddings at all.
    */
  def buildPqIndex(s: SparkSession, dir: String, indexDir: String,
                   m: Int = 8, subDim: Int = 8, ksub: Int = 16,
                   iters: Int = 2,
                   maxVecIdExclusive: Long = Long.MaxValue,
                   trainMaxVecIdExclusive: Long = Long.MaxValue): String = {
    require(ksub <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir).filter(col("vec_id") < maxVecIdExclusive)
    val codes = vectorCodes(emb)
    val trainSub = subCodes(
      codes.filter(col("vec_id") < trainMaxVecIdExclusive), m, subDim)
    val cents = trainPqCodebooks(trainSub, ksub, iters)
    pqEncode(subCodes(codes, m, subDim), cents, ksub)
      .write.mode("overwrite").parquet(indexDir)
    cents.write.mode("overwrite").parquet(codebooksPath(indexDir).toString)
    indexDir
  }

  /** Encode a vector delta (vec_id >= minVecId) with the index's FROZEN
    * codebooks and append the packed codes — O(delta) work, symmetric
    * with appendToIvfIndex. Re-training on append would re-code — and
    * therefore re-rank — the existing corpus; the frozen-codebook
    * contract is what keeps the index append-monotone.
    */
  def appendToPqIndex(s: SparkSession, dir: String, indexDir: String,
                      minVecId: Long): String = {
    val delta = embWithNorm(s, dir).filter(col("vec_id") >= minVecId)
    storedCodebooks(s, indexDir).encode(vectorCodes(delta))
      .write.mode("append").parquet(indexDir)
    indexDir
  }

  /** ANN top-k over a prebuilt PQ index: only the query vectors touch the
    * embeddings table (subcodes + luts); the corpus side is one map-only
    * pass over the packed-code parquet — broadcast luts, codegen'd ADC
    * fold, map-side-combining top-k. Same output contract as the inline
    * pqTopK with the build's shape (OperatorSpec pins equality); the
    * shape comes from `_codebooks`.
    */
  def pqTopKFromIndex(s: SparkSession, dir: String, indexDir: String,
                      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val queries = embWithNorm(s, dir).filter(col("vec_id") < nQueries)
    val lutArr = storedCodebooks(s, indexDir).luts(vectorCodes(queries), nQueries)
    val scored = screenTombstones(s, indexDir, Tables.parquet(s, indexDir))
      // stream-built indexes carry a batch=<id> partition level; a query
      // only ever needs the payload columns
      .select(col("vec_id"), col("pcode"), col("xn"))
      .crossJoin(broadcast(lutArr))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adc", expr(AdcExpr))
      .withColumn("m", expr(AdcScoreExpr))
    topKPerQuery(scored, k)
  }

  /** Cluster-balanced (diversity-preserving) subset selection: assign
    * every vector to a trained k-means cluster, then keep the
    * `perCluster` members with the smallest content hash — an equal
    * quota per region of embedding space, so the sample preserves
    * coverage instead of mirroring the corpus's density skew (the
    * cluster-balanced selection shape from the SemDeDup / DoReMi line
    * of work). The within-cluster pick is md5(vec_id)-ordered: no RNG
    * state, reproducible across engines, reruns, and repartitionings —
    * the Sampling-module discipline.
    *
    * Scale shape: one corpus pass per training iteration (broadcast
    * centroids), one assignment pass, then a single shuffle on
    * cluster_id for the quota window — whose per-partition sort is
    * bounded by cluster size, with nLists ∝ corpus the same lever that
    * bounds semanticDedup's clusters.
    */
  def clusterBalancedSample(s: SparkSession, dir: String, nLists: Int = 16,
                            iters: Int = 2, perCluster: Int = 12): DataFrame = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val codes = vectorCodes(embWithNorm(s, dir))
    val centroids = trainCentroids(codes, nLists, iters)
    assignNearest(codes, centroids)
      .select(col("vec_id"), col("centroid_id").as("cluster_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(expr("md5(CAST(vec_id AS STRING))"), col("vec_id"))))
      .filter(col("rn") <= perCluster)
      .select(col("vec_id"), col("cluster_id"),
        col("rn").cast("bigint").as("sample_rank"))
      .orderBy(col("vec_id"))
  }

  // -------------------------------------------------- materialized IVF-PQ index

  /** Materialized IVF-PQ index (the persisted FAISS IVFPQ artifact):
    * inverted lists partitioned by coarse centroid whose payload is the
    * PACKED PQ CODES (vec_id, pcode, xn) — never the float vectors —
    * with both frozen quantizers alongside (`_centroids` for routing,
    * `_codebooks` for compression). This combines the two materialized
    * layouts' strengths: a query prunes to its probed lists at the
    * parquet scan (IVF) AND each candidate read costs m byte-codes plus
    * one double (PQ). At 100 TB this is the only index shape whose
    * query-time I/O is small in BOTH dimensions — fraction of corpus
    * touched and bytes per vector touched.
    *
    * Training is bounded by trainMaxVecIdExclusive (both quantizers, so
    * a prefix-trained index covers later deltas under the
    * train-once-append-forever contract: build(prefix) + append(rest) ==
    * build(all), OperatorSpec pins it at the query level).
    */
  def buildIvfPqIndex(s: SparkSession, dir: String, indexDir: String,
                      nLists: Int = 16, coarseIters: Int = 2,
                      m: Int = 8, subDim: Int = 8, ksub: Int = 16,
                      pqIters: Int = 2,
                      maxVecIdExclusive: Long = Long.MaxValue,
                      trainMaxVecIdExclusive: Long = Long.MaxValue): String = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    require(ksub <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir).filter(col("vec_id") < maxVecIdExclusive)
    val codes = vectorCodes(emb)
    val trainCodes = codes.filter(col("vec_id") < trainMaxVecIdExclusive)
    val coarse = CodeCentroids(trainCentroids(trainCodes, nLists, coarseIters))
    val books = trainPqCodebooks(subCodes(trainCodes, m, subDim), ksub, pqIters)
    pqEncode(subCodes(codes, m, subDim), books, ksub)
      .join(selectLists(emb, coarse, 1).hint("shuffle_hash"), Seq("vec_id"))
      .select(col("centroid_id"), col("vec_id"), col("pcode"), col("xn"))
      .repartition(col("centroid_id")) // one file per list (see buildIvfIndex)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(indexDir)
    saveQuantizer(coarse, indexDir)
    books.write.mode("overwrite").parquet(codebooksPath(indexDir).toString)
    indexDir
  }

  /** Route + encode a vector delta (vec_id >= minVecId) with the index's
    * FROZEN quantizers and append into the list partitions — O(delta),
    * symmetric with appendToIvfIndex/appendToPqIndex. Re-training either
    * quantizer on append would scatter existing vectors' neighbors
    * across lists (coarse) or re-code the corpus (PQ).
    */
  def appendToIvfPqIndex(s: SparkSession, dir: String, indexDir: String,
                         minVecId: Long): String = {
    val delta = embWithNorm(s, dir).filter(col("vec_id") >= minVecId)
    val assign = selectLists(delta, loadQuantizer(s, indexDir), 1)
    storedCodebooks(s, indexDir).encode(vectorCodes(delta))
      .join(assign.hint("shuffle_hash"), Seq("vec_id"))
      .select(col("centroid_id"), col("vec_id"), col("pcode"), col("xn"))
      .repartition(col("centroid_id")) // one file per touched list (see buildIvfIndex)
      .write.mode("append").partitionBy("centroid_id").parquet(indexDir)
    indexDir
  }

  /** ANN top-k over a prebuilt IVF-PQ index: only the query vectors
    * touch the embeddings table (probe routing + luts, both bounded by
    * the query set); the corpus side reads ONLY the probed lists'
    * partitions, and only packed codes from them — broadcast probes,
    * broadcast luts, codegen'd ADC fold, map-side-combining top-k. No
    * corpus shuffle, no float vectors read, and most of the corpus not
    * read at all. Same output contract as the inline ivfPqTopK when the
    * index trained on the same slice (OperatorSpec pins equality).
    */
  def ivfPqTopKFromIndex(s: SparkSession, dir: String, indexDir: String,
                         nQueries: Int = 10, k: Int = 5, nProbe: Int = 3): DataFrame = {
    val queries = embWithNorm(s, dir).filter(col("vec_id") < nQueries)
    val probes = selectLists(queries, loadQuantizer(s, indexDir), nProbe)
      .select(col("vec_id").as("query_id"), col("centroid_id"))
    val lutArr = storedCodebooks(s, indexDir).luts(vectorCodes(queries), nQueries)
    // stream-built indexes carry a batch=<id> level; a candidate row is
    // its list key plus the packed payload either way
    val index = screenTombstones(s, indexDir,
      Tables.parquet(s, indexDir))
      .select(col("centroid_id"), col("vec_id"), col("pcode"), col("xn"))
    val scored = index.join(broadcast(probes), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(lutArr), Seq("query_id"))
      .withColumn("adc", expr(AdcExpr))
      .withColumn("m", expr(AdcScoreExpr))
    topKPerQuery(scored, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the trained coarse
    * quantizer, then WITHIN each cluster drop every vector that has an
    * earlier (smaller-id) neighbor above the cosine threshold — the
    * kept row is each near-dup group's smallest id, mirroring the exact
    * dedup keeper rule. Output: (vec_id, cluster_id, kept) for the whole
    * corpus.
    *
    * Scale shape: the O(n²) similarity search collapses to within-cluster
    * joins — O(Σ cluster²) — and nLists is the lever that keeps clusters
    * bounded as the corpus grows (nLists ∝ corpus size keeps the expected
    * cluster size constant). The default now WIRES that rule
    * ([[AutoNLists]] → [[deriveNLists]]: max(16, n/320), probed empirically
    * at sf1 — 16 → 5.09s, 64 → 4.81s, 160 → 5.83s at 20k vectors, and the
    * derivation lands 62 there); pass nLists explicitly only to pin a
    * build. The oracle queries pin 16, which the derivation EQUALS at
    * every oracle-checked SF (the 16 floor holds until n > 5120), so the
    * lever changes no checked answer. Frozen staged quantizers
    * (stageIvfQuantizer) keep their build-time nLists — the incremental
    * and streaming faces read `_centroids` and never re-derive.
    * The exact float re-check touches only same-cluster pairs. A skew-pathological whale cluster (one list
    * holding a corpus-scale fraction) is ENFORCED down to bounded work by
    * the nearestInLabel sub-block cap ([[semanticDropsCore]]): clusters
    * over `maxBlock` members split into hash sub-blocks with adjacent
    * multi-probe, so per-cluster candidate work is O(n · 2·maxBlock)
    * instead of O(n²). Under the cap (every driver fixture, by orders of
    * magnitude) n_sub = 1 and the search is bit-identical to the exact
    * within-cluster join — the DuckDB oracle is unchanged. Over the cap
    * the drop set is SOUND but best-effort: a whale-cluster vector is
    * dropped only for a genuine earlier ≥-threshold neighbor, but its
    * neighbor can hash outside both probed sub-blocks (kept-when-exact-
    * would-drop; the nearestInLabel recall-floor contract, OperatorSpec
    * pins both properties on a whale-heavy fixture).
    */
  def semanticDedup(s: SparkSession, dir: String, nLists: Int = AutoNLists,
                    iters: Int = 2, thresholdMicros: Long = 400000L,
                    maxVecIdExclusive: Long = Long.MaxValue,
                    trainMaxVecIdExclusive: Long = Long.MaxValue,
                    maxBlock: Int = 1 << 16): DataFrame = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir).filter(col("vec_id") < maxVecIdExclusive)
    val codes = vectorCodes(emb)
    val lists = resolveNLists(nLists, emb)
    val centroids = trainCentroids(
      codes.filter(col("vec_id") < trainMaxVecIdExclusive), lists, iters)
    val assign = assignNearest(codes, centroids)
    // pinned once (r9 materialize-once discipline): the clustered frame
    // is the product of the expensive step (training + assignment) and
    // now has FOUR consumers (whale census, later, earlier, final join) —
    // unpinned, Spark re-runs the scoring subtree per consumer
    val withCluster = emb.join(assign.hint("shuffle_hash"), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("vnorm"),
        col("centroid_id").as("cluster_id"))
      .localCheckpoint(true)
    val drops = semanticDropsCore(withCluster, thresholdMicros, maxBlock,
      Long.MinValue)
    withCluster.join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        not(coalesce(col("dropped"), lit(false))).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** The whale-capped within-cluster drop search shared by
    * [[semanticDedup]] and [[semanticDedupIncremental]]. Input: a
    * (vec_id, embedding, vnorm, cluster_id) frame covering the FULL
    * comparison universe; rows with vec_id >= laterMinId act as the
    * "later" (drop-candidate) side, every row acts as a potential earlier
    * neighbor. Returns the distinct vec_ids with at least one probed
    * earlier same-cluster neighbor at or above the threshold.
    *
    * Whale-cluster cap — the nearestInLabel sub-block discipline: a
    * cluster over `maxBlock` members splits into ceil(n / maxBlock)
    * deterministic xxhash64 sub-blocks; each later vector probes its own
    * sub-block plus the adjacent one, bounding candidate work at
    * O(n · 2·maxBlock) per cluster. n_sub = 1 (every cluster at or under
    * the cap) makes the probe set collapse to the single block —
    * bit-identical to the exact within-cluster join, so the oracle is
    * unchanged wherever the cap doesn't bite. Soundness is unconditional:
    * every returned vec_id has a GENUINE earlier ≥-threshold neighbor
    * (sub-blocking only prunes candidate pairs, never fabricates them).
    */
  private[graft] def semanticDropsCore(withCluster: DataFrame,
                                       thresholdMicros: Long, maxBlock: Int,
                                       laterMinId: Long): DataFrame = {
    require(maxBlock > 0, "maxBlock must be positive")
    val nSub = withCluster.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("block_n"))
      .select(col("cluster_id"),
        expr(s"CAST((block_n + ${maxBlock - 1}) DIV $maxBlock AS INT)").as("n_sub"))
    val withSub = withCluster.join(nSub, Seq("cluster_id"))
      .withColumn("sub", pmod(xxhash64(col("vec_id")), col("n_sub")).cast("int"))
    val later = withSub.filter(col("vec_id") >= laterMinId)
      .select(col("cluster_id"),
        explode(array_distinct(array(col("sub"),
          pmod(col("sub") + 1, col("n_sub")).cast("int")))).as("sub"),
        col("vec_id"), col("embedding").as("ea"), col("vnorm").as("na"))
    val earlier = withSub.select(col("cluster_id"), col("sub"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"), col("vnorm").as("nb"))
    later.join(earlier, Seq("cluster_id", "sub"))
      .filter(col("vec_b") < col("vec_id"))
      .withColumn("m", expr(scoreMicrosFromNorms("dot_f(ea, eb)", "na", "nb")))
      .filter(col("m") >= thresholdMicros)
      .select(col("vec_id")).distinct()
  }

  /** INCREMENTAL semantic dedup — O(delta · cluster) steady state: fold a
    * delta batch (vec_id >= minDeltaId) into a PERSISTED prior labeling
    * using the FROZEN quantizer staged at `quantizerDir` (`_centroids`
    * from stageIvfQuantizer, trained on a stable prefix). Exact, not
    * approximate, for the same reason the other incremental paths are:
    * ids are append-monotone, so (1) a prior row's kept flag can never
    * change — its smaller-id cluster neighbors all predate the delta —
    * and (2) a delta row needs comparing only against same-cluster rows
    * with smaller ids, all of which are in prior ∪ the delta itself.
    * Equals semanticDedup over the full corpus with the same frozen
    * training bound (OperatorSpec pins it). Only the delta is ever
    * quantized; only touched clusters' members are ever re-read.
    */
  def semanticDedupIncremental(s: SparkSession, dir: String,
                               quantizerDir: String, minDeltaId: Long,
                               prior: DataFrame,
                               thresholdMicros: Long = 400000L,
                               maxBlock: Int = 1 << 16): DataFrame = {
    val emb = embWithNorm(s, dir)
    val delta = emb.filter(col("vec_id") >= minDeltaId)
    val deltaAssign = selectLists(delta, loadQuantizer(s, quantizerDir), 1)
      .select(col("vec_id"), col("centroid_id").as("cluster_id"))
    // every (vec, cluster) the delta can collide with: prior members plus
    // the delta's own smaller ids
    val allAssign = prior.select(col("vec_id"), col("cluster_id"))
      .unionByName(deltaAssign)
    // full comparison universe with cluster labels; the shared core takes
    // the delta rows (vec_id >= minDeltaId) as the later side. The whale
    // cap's sub-block count comes from the FULL current membership, so
    // increment == batch holds bit-for-bit wherever clusters stay at or
    // under maxBlock (n_sub pinned at 1); a cluster that crosses the cap
    // between increments re-shards its probe sets, and the frozen prior
    // labels make whale-cluster increments best-effort — the same
    // recall-floor contract as the batch face, stated here because only
    // whales can ever observe the difference.
    val universe = emb.join(allAssign.hint("shuffle_hash"), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("vnorm"), col("cluster_id"))
    val drops = semanticDropsCore(universe, thresholdMicros, maxBlock,
      minDeltaId)
    val deltaLabeled = deltaAssign
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        not(coalesce(col("dropped"), lit(false))).as("kept"))
    prior.select(col("vec_id"), col("cluster_id"), col("kept"))
      .unionByName(deltaLabeled)
      .orderBy(col("vec_id"))
  }

  /** Coarse-quantizer choice for the materialized IVF index lifecycle.
    * FirstN is the deterministic baseline (centroids = the first nLists
    * vectors, scored in exact float space). Trained runs the fixed-
    * iteration spherical k-means ([[trainCentroids]]) at build time.
    * Either way the build PERSISTS the quantizer inside the index
    * (`_centroids_f/` or `_centroids/`, invisible to the posting-list
    * scan — Spark ignores underscore-prefixed paths), so append and query
    * reuse the frozen quantizer, and its width, instead of rebuilding it:
    * train once, append forever — the standard IVF contract, and the only
    * one under which build(prefix) + append(rest) == build(all).
    * trainMaxVecIdExclusive bounds the TRAINING corpus (not the indexed
    * corpus), so an index can be trained on a stable prefix and still
    * cover later deltas.
    */
  sealed trait IvfQuantizer
  case object FirstNQuantizer extends IvfQuantizer
  final case class TrainedQuantizer(iters: Int = 2,
      trainMaxVecIdExclusive: Long = Long.MaxValue) extends IvfQuantizer

  /** A built coarse quantizer: the centroid table list selection scores
    * against, and the artifact name it persists under.
    *  - [[FloatCentroids]]: (centroid_id, cv, cnorm), exact float space —
    *    the first-N table ([[firstNCentroids]]), stored as `_centroids_f`;
    *  - [[CodeCentroids]]: (centroid_id, csum), integer code space — the
    *    k-means sums ([[trainCentroids]]), stored as `_centroids`.
    */
  private[graft] sealed trait Centroids {
    def table: DataFrame
    def artifact: String
  }
  private[graft] final case class FloatCentroids(table: DataFrame) extends Centroids {
    def artifact: String = "_centroids_f"
  }
  private[graft] final case class CodeCentroids(table: DataFrame) extends Centroids {
    def artifact: String = "_centroids"
  }

  /** The first-N float quantizer table: the first nLists vectors of
    * `emb` (vec_id, embedding, vnorm) as (centroid_id, cv, cnorm).
    */
  private def firstNCentroids(emb: DataFrame, nLists: Int): DataFrame =
    emb.filter(col("vec_id") < nLists)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"),
        col("vnorm").as("cnorm"))

  /** THE IVF list selector: the k lists of `q` each (vec_id, embedding,
    * vnorm) row of `vecs` routes to, as (vec_id, centroid_id) rows —
    * k = 1 is assignment, k = nProbe is the probe fan-out. Every build,
    * append, probe and stream in the IVF family selects through here, so
    * they all rank lists by the same (cm DESC, centroid_id) order:
    *  - float centroids: the codegen'd top-k expression
    *    ([[selectListsFloat]]), any k;
    *  - code centroids, k = 1: the codegen'd argmax ([[assignNearest]]);
    *  - code centroids, k > 1: all-centroid scoring plus a row_number
    *    window — nLists rows per vector, used where `vecs` is query-sized.
    */
  private[graft] def selectLists(vecs: DataFrame, q: Centroids, k: Int): DataFrame =
    q match {
      case FloatCentroids(t) => selectListsFloat(vecs, t, k)
      case CodeCentroids(t) if k == 1 =>
        assignNearest(vectorCodes(vecs), t).select(col("vec_id"), col("centroid_id"))
      case CodeCentroids(t) =>
        scoreAgainstCentroids(vectorCodes(vecs), t)
          .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
            .orderBy(col("cm").desc, col("centroid_id"))))
          .filter(col("rn") <= k)
          .select(col("vec_id"), col("centroid_id"))
    }

  /** Persist `q` into `dir` as its artifact (overwriting). */
  private def saveQuantizer(q: Centroids, dir: String): Unit =
    q.table.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(dir, q.artifact).toString)

  /** The quantizer an index or stage directory holds — `_centroids`
    * (trained) or `_centroids_f` (first-N) — so append, query and stream
    * can never disagree with the build about the quantizer or its width.
    * A directory holding neither, or both, is rejected.
    */
  private[graft] def loadQuantizer(s: SparkSession, dir: String): Centroids = {
    val conf = s.sparkContext.hadoopConfiguration
    def open(artifact: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(dir, artifact)
      if (p.getFileSystem(conf).exists(p)) Some(Tables.parquet(s, p.toString)) else None
    }
    (open("_centroids"), open("_centroids_f")) match {
      case (Some(t), None) => CodeCentroids(t)
      case (None, Some(t)) => FloatCentroids(t)
      case (None, None) => throw new IllegalArgumentException(
        s"no IVF quantizer in $dir (neither _centroids nor _centroids_f): build " +
          "the index with Similarity.buildIvfIndex, or stage a quantizer with " +
          "Similarity.stageIvfQuantizer (or stageEvalScreen) first")
      case _ => throw new IllegalArgumentException(
        s"$dir holds both _centroids and _centroids_f; an index has one quantizer")
    }
  }

  /** Train the coarse quantizer and persist ONLY the `_centroids`
    * artifact into indexDir — the staging step a streaming ingester
    * (graft.streaming.IvfStream) needs before its first batch, when no
    * posting lists exist yet. Deterministic: same corpus slice + params
    * always yield bit-identical centroids, so a batch-built index with
    * the same training bounds agrees with a streamed one.
    */
  def stageIvfQuantizer(s: SparkSession, dir: String, indexDir: String,
                        nLists: Int = 16, iters: Int = 2,
                        trainMaxVecIdExclusive: Long = Long.MaxValue): String = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    val emb = embWithNorm(s, dir).filter(col("vec_id") < trainMaxVecIdExclusive)
    // AutoNLists derives from the TRAINING slice: the staged quantizer is
    // frozen at build time, and downstream incremental/streaming faces
    // inherit its width from `_centroids` — they never re-derive
    val lists = resolveNLists(nLists, emb)
    saveQuantizer(CodeCentroids(trainCentroids(vectorCodes(emb), lists, iters)), indexDir)
    indexDir
  }

  /** Corpus-sized FLOAT-space top-k list selection through the codegen'd
    * [[graft.functions.TopCentroidsFloat]] expression — the
    * [[assignNearest]] discipline applied to the first-N quantizer
    * (r13, after the sf10 bitext probe measured the crossJoin spelling
    * at 14x/decade): the centroid table (catalog-sized by the
    * nLists <= 65536 contract) collects to the driver ONCE — a ledgered
    * driver action, <= 65536 × dim floats, the same boundary the
    * broadcast crossJoin shipped — and rides into the expression as
    * literals; each corpus row computes its top-k lists in ONE
    * JIT-compiled loop. Replaces n × nLists materialized rows (each
    * carrying the float payload) AND, for k > 1, the corpus-wide
    * row_number window. Arithmetic bit-identical to the dataflow
    * spelling (dot_f's left-to-right double fold, same floor/packing,
    * same (cm DESC, id ASC) ordering) — the DuckDB oracle is unchanged.
    *
    * Returns (vec_id, centroid_id), one row per (vector, selected list):
    * k=1 is assignment, k=nProbe is the probe fan-out.
    */
  private def selectListsFloat(emb: DataFrame, centroids: DataFrame,
                               k: Int): DataFrame = {
    val rows = centroids.select(col("centroid_id"), col("cv"), col("cnorm")).collect()
    val ids = rows.map(_.getLong(0))
    require(ids.forall(id => id >= 0 && id < 65536),
      "packed list selection requires 0 <= centroid_id < 65536")
    val mats = rows.map(_.getSeq[Float](1).toSeq)
    val cnorms = rows.map(_.getDouble(2))
    emb.select(col("vec_id"),
      explode(call_function("top_centroids_f",
        col("embedding"), col("vnorm"),
        typedlit(mats.toSeq), typedlit(cnorms.toSeq), typedlit(ids.toSeq),
        lit(k))).as("centroid_id"))
  }

  /** Materialized IVF index — the pay-at-load path SCALE.md describes:
    * assignment runs ONCE (one corpus pass against broadcast centroids),
    * lands as parquet partitioned by centroid list, and every subsequent
    * query prunes to its probed lists' partitions instead of recomputing
    * the quantizer. The quantizer — first-N table or trained k-means
    * centroids — is persisted alongside the lists. Returns the index
    * directory.
    */
  def buildIvfIndex(s: SparkSession, dir: String, indexDir: String,
                    nLists: Int = 16,
                    maxVecIdExclusive: Long = Long.MaxValue,
                    quantizer: IvfQuantizer = FirstNQuantizer): String = {
    require(nLists <= 65536, "packed assignment ordering assumes centroid_id < 65536")
    require(maxVecIdExclusive > nLists,
      "the index must at least cover the centroid vectors")
    val emb = embWithNorm(s, dir)
      .filter(col("vec_id") < maxVecIdExclusive)
    val q = quantizer match {
      case TrainedQuantizer(iters, trainMax) =>
        CodeCentroids(trainCentroids(
          vectorCodes(emb.filter(col("vec_id") < trainMax)), nLists, iters))
      case FirstNQuantizer => FloatCentroids(firstNCentroids(emb, nLists))
    }
    // sort-free assignment; the embedding payload is re-attached by a
    // shuffled-hash join on vec_id (shuffle_hash hint keeps AQE from
    // planning a sort-merge join at scale)
    // repartition ON the partition column before the partitioned write:
    // without it every one of the ~32 upstream tasks opens a file in
    // every centroid directory — nLists × tasks files (sf10 at
    // AutoNLists=625: ~20k ~7 KB files; the r13 probe measured the
    // write+relist at 145s, dwarfing the mining itself). One skinny
    // shuffle co-locates each list into a single task => one file per
    // list, and every later probe read plans against nLists files.
    emb.join(selectLists(emb, q, 1).hint("shuffle_hash"), Seq("vec_id"))
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("vnorm"))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id").parquet(indexDir)
    saveQuantizer(q, indexDir)
    indexDir
  }

  /** Append a vector delta (vec_id >= minVecId) to a prebuilt IVF index:
    * assignment runs over the DELTA ONLY against the index's stored
    * quantizer, and the new rows land inside the existing list partitions
    * (parquet append) without touching prior rows — the incremental path
    * a continuously-embedded corpus needs, symmetric with
    * Dedup.minHashLshIncremental. OperatorSpec pins build(all) ==
    * build(prefix) + append(rest) at the query level.
    */
  def appendToIvfIndex(s: SparkSession, dir: String, indexDir: String,
                       minVecId: Long): String = {
    // Uniqueness guard at the APPEND BOUNDARY: every from-index consumer
    // (bitextMarginFromIndex dropped its defensive dropDuplicates on this
    // contract) relies on a vector living in exactly ONE index row — an
    // overlapping delta would silently double-count candidate pairs and
    // inflate CSLS k-NN sums. The check is a pushed-down vec_id >= min
    // scan with limit 1 (bounded driver readout), so a violated contract
    // fails loudly here instead of corrupting downstream arithmetic.
    val clash = Tables.parquet(s, indexDir)
      .filter(col("vec_id") >= minVecId).select(col("vec_id")).limit(1).collect()
    require(clash.isEmpty,
      s"appendToIvfIndex: index at $indexDir already contains vec_id " +
        s"${clash.head.getLong(0)} >= minVecId=$minVecId — appending would " +
        "duplicate index rows; rebuild the index or append a disjoint delta")
    val delta = embWithNorm(s, dir).filter(col("vec_id") >= minVecId)
    delta.join(selectLists(delta, loadQuantizer(s, indexDir), 1).hint("shuffle_hash"),
        Seq("vec_id"))
      .select(col("centroid_id"), col("vec_id"), col("embedding"), col("vnorm"))
      .repartition(col("centroid_id")) // one file per touched list (see buildIvfIndex)
      .write.mode("append").partitionBy("centroid_id").parquet(indexDir)
    indexDir
  }

  /** Consolidate an IVF index back to the canonical flat
    * centroid_id-partitioned layout with few files per list. Streamed
    * ingestion (graft.streaming.IvfStream) leaves one file set per
    * (batch, list) and repeated appendToIvfIndex calls stack files inside
    * lists; every probed list opens all its files at query time, so this
    * is the maintenance step that keeps probe I/O flat as batches
    * accumulate — the Sinks.compact temp-dir + swap discipline, with the
    * frozen `_centroids` carried across. Safe under the frozen-quantizer
    * contract: rows only move between files, never between lists, so
    * query results are identical before and after (OperatorSpec pins it).
    *
    * Concurrency contract: SINGLE WRITER, and no concurrent readers
    * during the final swap — between rename(index, .compact-old) and
    * rename(.compact-tmp, index) the index path briefly does not exist,
    * so a reader racing the swap can fail. Crash safety: a JVM death
    * inside that window strands the data at `.compact-old`;
    * recoverIvfIndex (run automatically at the start of every compaction)
    * restores it, so a crashed compaction self-heals on the next call.
    */
  def compactIvfIndex(s: SparkSession, indexDir: String,
                      targetFileBytes: Long = 128L * 1024 * 1024): String =
    compactIndexDir(s, indexDir, targetFileBytes,
      Seq("centroid_id", "vec_id", "embedding", "vnorm"),
      partitionCol = Some("centroid_id"), artifacts = Seq("_centroids", "_centroids_f"))

  /** compactIvfIndex's sibling for the PQ index layout (flat packed-code
    * table, `_codebooks` carried across) — the maintenance step after
    * PqStream batches or repeated appendToPqIndex calls stack files.
    * Same swap discipline, single-writer contract, and crash recovery.
    */
  def compactPqIndex(s: SparkSession, indexDir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): String =
    compactIndexDir(s, indexDir, targetFileBytes,
      Seq("vec_id", "pcode", "xn"),
      partitionCol = None, artifacts = Seq("_codebooks"))

  /** compactIvfIndex's sibling for the IVF-PQ layout (packed codes inside
    * centroid_id-partitioned lists, BOTH frozen artifacts carried across).
    */
  def compactIvfPqIndex(s: SparkSession, indexDir: String,
                        targetFileBytes: Long = 128L * 1024 * 1024): String =
    compactIndexDir(s, indexDir, targetFileBytes,
      Seq("centroid_id", "vec_id", "pcode", "xn"),
      partitionCol = Some("centroid_id"),
      artifacts = Seq("_centroids", "_codebooks"))

  /** Shared compaction engine for every materialized index layout:
    * rewrite the data files at ~targetFileBytes (keeping the partition
    * layout when the index has one), carry the underscore-prefixed
    * frozen artifacts across, then swap via the temp-dir + rename
    * discipline. Rows only move between files, never between lists, so
    * query results are identical before and after. Single WRITER, no
    * concurrent readers during the final swap; a crash mid-swap strands
    * the index at `.compact-old` and recoverIndexDir (run first on every
    * call) restores it — self-healing on the next compaction.
    */
  private def compactIndexDir(s: SparkSession, indexDir: String,
                              targetFileBytes: Long, cols: Seq[String],
                              partitionCol: Option[String],
                              artifacts: Seq[String]): String = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val conf = s.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    recoverIndexDir(s, indexDir)
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(indexDir + ".compact-tmp")
    // compaction APPLIES pending tombstones (and, by not listing
    // `_tombstones` in `artifacts`, clears them) — deletes become
    // physical here, so query-time screening never accumulates cost
    val data = screenTombstones(s, indexDir,
      Tables.parquet(s, indexDir).select(cols.map(col): _*))
    (partitionCol match {
      case Some(pc) => data.repartition(nFiles, col(pc))
        .write.mode("overwrite").partitionBy(pc)
      case None => data.repartition(nFiles).write.mode("overwrite")
    }).parquet(tmp.toString)
    for (a <- artifacts) {
      val ap = new org.apache.hadoop.fs.Path(p, a)
      if (fs.exists(ap))
        org.apache.hadoop.fs.FileUtil.copy(fs, ap, fs,
          new org.apache.hadoop.fs.Path(tmp, a), false, conf)
    }
    val old = new org.apache.hadoop.fs.Path(indexDir + ".compact-old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(p, old))
      sys.error(s"compactIndexDir: could not move $indexDir aside; index untouched")
    if (!fs.rename(tmp, p)) {
      fs.rename(old, p) // never leave the index path nonexistent
      sys.error(s"compactIndexDir: swap failed for $indexDir; original restored")
    }
    fs.delete(old, true)
    indexDir
  }

  /** Startup-recovery for a compaction that died mid-swap: if
    * `.compact-old` exists while the index path does not, the crash
    * happened between the two renames — restore the original index.
    * A leftover `.compact-tmp` (crash before the swap started, or after
    * a successful restore) is deleted; the next compaction rebuilds it.
    * Idempotent and a no-op on a healthy index.
    */
  def recoverIvfIndex(s: SparkSession, indexDir: String): Unit =
    recoverIndexDir(s, indexDir)

  /** Layout-agnostic form of [[recoverIvfIndex]] (the recovery rules
    * never look inside the data files, so one implementation serves the
    * IVF, PQ, and IVF-PQ layouts).
    */
  def recoverIndexDir(s: SparkSession, indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(indexDir + ".compact-old")
    if (fs.exists(old) && !fs.exists(p)) {
      if (!fs.rename(old, p))
        sys.error(s"recoverIndexDir: found stranded $old but could not restore it to $indexDir")
    }
    val tmp = new org.apache.hadoop.fs.Path(indexDir + ".compact-tmp")
    if (fs.exists(p) && fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(p) && fs.exists(old)) fs.delete(old, true)
  }

  private def tombstonesPath(indexDir: String) =
    new org.apache.hadoop.fs.Path(indexDir, "_tombstones")

  /** Logical DELETE from a materialized IVF index — the GDPR/right-to-be-
    * forgotten maintenance path a production vector store cannot skip:
    * deleted ids append to the `_tombstones` artifact (underscore prefix
    * keeps it invisible to data reads, the `_centroids` trick), queries
    * screen them with a broadcast anti-join (deletes-sized, tiny between
    * compactions), and the next [[compactIvfIndex]] applies them
    * PHYSICALLY — rewrites the lists without the dead rows and clears
    * the artifact, so the screening cost never accumulates.
    *
    * Append-only tombstones make the delete itself O(deletes) with no
    * index rewrite, idempotent (re-deleting an id is a no-op at screen
    * time — the anti-join is a set operation), and crash-safe under the
    * same single-writer contract as compaction.
    */
  def tombstoneIvfIndex(s: SparkSession, indexDir: String,
                        ids: Seq[Long]): String = {
    import s.implicits._
    ids.toDF("vec_id").write.mode("append")
      .parquet(tombstonesPath(indexDir).toString)
    indexDir
  }

  /** Drop tombstoned rows from an index-data frame (no-op when the index
    * carries no `_tombstones`). Broadcast anti-join: the tombstone set is
    * bounded by deletes since the last compaction.
    */
  private def screenTombstones(s: SparkSession, indexDir: String,
                               df: DataFrame): DataFrame = {
    val tp = tombstonesPath(indexDir)
    val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(tp)) df
    else df.join(
      broadcast(Tables.parquet(s, tp.toString)
        .select(col("vec_id").as("__dead")).distinct()),
      df("vec_id") === col("__dead"), "left_anti")
  }

  /** ANN top-k over a prebuilt IVF index: probe assignment happens only
    * for the query vectors; candidate fetch reads ONLY the probed lists'
    * partitions (partition pruning on centroid_id), then the exact re-rank
    * runs on candidates (tombstoned rows screened out — see
    * [[tombstoneIvfIndex]]). Same output contract as the inline ivfTopK.
    */
  def ivfTopKFromIndex(s: SparkSession, dir: String, indexDir: String,
                       nQueries: Int = 10, k: Int = 5,
                       nProbe: Int = 3): DataFrame = {
    val emb = embWithNorm(s, dir)
    val index = screenTombstones(s, indexDir, Tables.parquet(s, indexDir))
    rerankTopK(probeCandidates(index, emb, loadQuantizer(s, indexDir), nQueries, nProbe),
      emb, k)
  }

  /** Per-label centroid affinity in EXACT integer arithmetic: components
    * quantize to 2^20-scale codes (floor(x*2^20 + 0.5) — one IEEE op,
    * bit-identical everywhere), the label centroid is the component-wise
    * code SUM (kept unnormalized: dividing by n would reintroduce
    * engine-dependent rounding, and affinity ranking within a label is
    * invariant to the scale), and each vector's affinity is its code
    * dot-product with the centroid sums — all BIGINT, order-free, so the
    * result is independent of partitioning on both engines.
    *
    * Shape: posexplode to (label, pos, code) — the component-wise shuffle
    * pattern for vector aggregation, which scales as rows x dim without
    * ever holding a per-label vector list — then one groupBy for
    * centroids, a broadcast-joinable (label, pos) lookup, and a per-vector
    * sum for the dot.
    */
  def labelCentroidAffinity(s: SparkSession, dir: String): DataFrame = {
    val codes = Tables.spread(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        posexplode(expr(
          """transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * CAST(1048576 AS DOUBLE)
                             + CAST(0.5 AS DOUBLE)) AS BIGINT))"""))
          .as(Seq("pos", "code")))
    val centroids = codes.groupBy(col("label"), col("pos"))
      .agg(sum(col("code")).as("csum"), count(lit(1)).as("n_label"))
    codes.join(broadcast(centroids), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(expr("code * csum")).as("affinity_q"),
        max(col("n_label")).as("n_label"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("n_label"), col("affinity_q"))
      .orderBy(col("vec_id"))
  }

  /** Packing constant for (m DESC, vec_id ASC) orderings: 2^41. |m| is at
    * most 2^20 micro-units, so m * 2^41 stays under 2^61; vec_id must stay
    * below 2^41 (~2.2e12 vectors — beyond a 100 TB corpus of 64-dim
    * float32, which tops out near 4e11 rows).
    */
  private val PackShift: Long = 1L << 41

  /** Embedding near-dup detection: nearest neighbor within each label
    * block (label = the blocking key), flagged when cosine >= 0.95.
    * Blocked pairwise: O(sum of block²), never corpus² — with two guards
    * the naive blocked self-join lacks:
    *
    *  - **Whale-label sub-blocking with multi-probe.** One label holding
    *    ~1% of a 100 TB corpus would make its block quadratically
    *    dominant (the failure the n-gram dedup path caps with `df <= 100`
    *    stop-shingles). A label whose member count exceeds `maxBlock` is
    *    split into ceil(n / maxBlock) deterministic hash sub-blocks and
    *    each vector searches its own sub-block plus the adjacent one:
    *    candidate work is bounded by O(n · 2·maxBlock) per label instead
    *    of O(n²), at the cost of the NN being probe-local for whale
    *    labels (the stop-shingle trade: bounded work beats exhaustive
    *    pairs on degenerate blocks). Labels at or under the cap get
    *    n_sub = 1 — the probe set collapses to the single block,
    *    bit-identical to the exact blocked search, so the DuckDB oracle
    *    is unchanged wherever blocks fit the cap (all driver fixtures
    *    do).
    *
    *  - **Top-1 via packed max_by, not a window.** row_number() over
    *    Window.partitionBy(vec_id) shuffles AND SORTS every scored pair;
    *    the packed max_by (the nearestCentroid shape) is a
    *    map-side-combining HashAggregate over three BIGINTs — at most one
    *    partial row per (vec_id, upstream partition), zero sorts.
    *    packed = m·2^41 − b_vec_id encodes (m DESC, b_vec_id ASC) in one
    *    BIGINT; m is recovered exactly as (max(packed) + nn_vec_id)/2^41
    *    since the sum is an exact multiple.
    */
  /** QUERY-LEVEL CONTRACT (q_embed_nearest_in_label): for labels with at
    * most `maxBlock` members the result is the EXACT blocked nearest
    * neighbor. For whale labels (> maxBlock members) each vector
    * multi-probes its own hash sub-block plus the adjacent one, so the
    * neighbor is best-effort: a vector's true >= 0.95 neighbor can hash
    * outside both probed sub-blocks (false-negative is_near_dup), and a
    * vector emits no row only when BOTH probed sub-blocks hold no other
    * member. Downstream dedup consumers must treat whale-label rows as a
    * recall floor, not ground truth — raise maxBlock (cost
    * O(n·2·maxBlock) per whale) or pre-split such labels when exactness
    * matters.
    */
  def nearestInLabel(s: SparkSession, dir: String,
                     maxBlock: Int = 1 << 16): DataFrame = {
    nearestInLabelCore(embWithNorm(s, dir), maxBlock).orderBy(col("vec_id"))
  }

  /** Unsorted core of [[nearestInLabel]] over a (vec_id, label, embedding,
    * vnorm) frame — exposed so specs can pin plan shape and sub-blocking
    * behavior on synthetic skewed fixtures.
    */
  private[graft] def nearestInLabelCore(emb: DataFrame, maxBlock: Int): DataFrame = {
    require(maxBlock > 0, "maxBlock must be positive")
    // one row per label; left unhinted — AQE broadcasts it from runtime
    // stats when small, and a genuinely huge label dimension still joins
    val nSub = emb.groupBy(col("label"))
      .agg(count(lit(1)).as("block_n"))
      .select(col("label"),
        expr(s"CAST((block_n + ${maxBlock - 1}) DIV $maxBlock AS INT)").as("n_sub"))
    val withSub = emb.join(nSub, Seq("label"))
      .withColumn("sub", pmod(xxhash64(col("vec_id")), col("n_sub")).cast("int"))
    // multi-probe for whale labels: each vector searches its own hash
    // sub-block AND the adjacent one (distinct, so n_sub = 1 — every
    // label under the cap — stays a single probe with zero extra rows).
    // Halves the sub-block-local false-negative rate and guarantees a
    // result row whenever either probed sub-block has another member, at
    // a still-bounded O(n · 2·maxBlock) per whale label. A pair is seen
    // at most once: the probe values are distinct and b carries one sub.
    val a = withSub.select(col("vec_id"), col("label"),
      explode(array_distinct(array(col("sub"),
        pmod(col("sub") + 1, col("n_sub")).cast("int")))).as("sub"),
      col("embedding"), col("vnorm"))
    val b = withSub.select(col("vec_id").as("b_vec_id"), col("label"), col("sub"),
      col("embedding").as("b_embedding"), col("vnorm").as("b_vnorm"))
    val pairs = a.join(b, Seq("label", "sub"))
      .filter(col("vec_id") =!= col("b_vec_id"))
      .withColumn("m",
        expr(scoreMicrosFromNorms("dot_f(embedding, b_embedding)", "vnorm", "b_vnorm")))
    pairs
      // packing is only order-correct for b_vec_id in [0, 2^41); out of
      // range would silently corrupt the (m DESC, vec_id ASC) recovery,
      // so fail loudly instead (one branch per pair row, codegen'd)
      .withColumn("packed", expr(
        s"""CASE WHEN b_vec_id >= 0 AND b_vec_id < CAST($PackShift AS BIGINT)
            THEN m * CAST($PackShift AS BIGINT) - b_vec_id
            ELSE CAST(raise_error('nearestInLabel: vec_id outside [0, 2^41) packing range') AS BIGINT)
            END"""))
      .groupBy(col("vec_id"), col("label"))
      .agg(max_by(col("b_vec_id"), col("packed")).as("nn_vec_id"),
        max(col("packed")).as("pk"))
      .withColumn("m", expr(s"(pk + nn_vec_id) DIV CAST($PackShift AS BIGINT)"))
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("nn_vec_id"),
        expr(Micro4).as("nn_score"),
        (col("m") >= 950000).as("is_near_dup"))
  }

  /** Per-dimension embedding health report: for each of the d coordinate
    * positions, the population count, positive/negative/zero split, exact
    * min/max code and component sum (labelCentroidAffinity's 2^20
    * integer-code discipline, so every figure is order-free and
    * oracle-exact). The embedding-QA readout that catches dead dimensions
    * (all zero), scale drift (one dim's |sum| dwarfing the rest), and
    * collapsed encoders (min == max) before an index gets built on bad
    * vectors.
    *
    * 100 TB shape: one corpus scan, posexplode to d rows per vector, one
    * map-side-combining hash aggregate down to exactly d rows — the
    * partial aggregate means the shuffle carries d rows per input
    * partition, never the exploded corpus.
    */
  def dimStats(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "embeddings")
      .select(posexplode(expr(CodeExpr)).as(Seq("dim", "code")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("code") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("code") < 0, 1L).otherwise(0L)).as("n_neg"),
        min(col("code")).as("min_code"),
        max(col("code")).as("max_code"),
        sum(col("code")).as("sum_code"))
      .orderBy(col("dim"))

  /** Per-dimension label separability: Welch's t² between two labels'
    * coordinate distributions, for every embedding dimension — the "do
    * these embeddings actually carry the label signal, and WHERE" audit
    * an embedding-QA pass runs before training a probe on them (a high
    * t² on a handful of dims says the signal is low-rank; flat ~0
    * everywhere says the labels are not linearly visible in this space).
    * All sums are exact BIGINTs over the 2^20 integer codes (the
    * dimStats discipline), pivoted into FIXED per-label slots by
    * conditional aggregation — so the readout is one fixed tree of
    * correctly-rounded IEEE ops per dim (no fold-order anywhere), half-up
    * micro units:
    *   t² = (m1 - m2)² / (d2_1/(n1²(n1-1)) + d2_2/(n2²(n2-1))),
    *   d2_l = n_l·s2_l - s1_l².
    * The d2 products ride DECIMAL(38,0) before the one DOUBLE cast: in
    * BIGINT, n·s2 wraps at ~3e3 vectors per label for codes near ±2^20
    * (s2 ≈ n·1.1e12), silently corrupting t². In DECIMAL the products
    * hold to ~9e12 vectors/label; the BIGINT sums s2 themselves bind
    * first at ~8e6 rows/label (Σcode² ≤ n·2^40) — past that lift the
    * aggregation to DECIMAL(38,0) too (the momentProfile hatch).
    *
    * 100 TB shape: one corpus scan (label-pruned at the parquet filter),
    * posexplode to d rows per vector, ONE map-side-combining aggregate to
    * d output rows.
    */
  def labelSeparability(s: SparkSession, dir: String, labelA: Int = 0,
                        labelB: Int = 1): DataFrame = {
    Tables.spread(s, dir, "embeddings")
      .filter(col("label").isin(labelA, labelB))
      .select(col("label"), posexplode(expr(CodeExpr)).as(Seq("dim", "code")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(
        sum(when(col("label") === labelA, 1L).otherwise(0L)).as("n1"),
        sum(when(col("label") === labelA, col("code")).otherwise(0L)).as("s11"),
        sum(when(col("label") === labelA, expr("code * code")).otherwise(0L)).as("s21"),
        sum(when(col("label") === labelB, 1L).otherwise(0L)).as("n2"),
        sum(when(col("label") === labelB, col("code")).otherwise(0L)).as("s12"),
        sum(when(col("label") === labelB, expr("code * code")).otherwise(0L)).as("s22"))
      .withColumn("num", expr(
        """(CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE))
           * (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE))"""))
      .withColumn("den", expr(
        """CAST(CAST(n1 AS DECIMAL(38,0)) * s21 - CAST(s11 AS DECIMAL(38,0)) * s11 AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
           + CAST(CAST(n2 AS DECIMAL(38,0)) * s22 - CAST(s12 AS DECIMAL(38,0)) * s12 AS DOUBLE)
             / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE))"""))
      .select(col("dim"), col("n1"), col("n2"),
        expr("""CASE WHEN n1 < 2 OR n2 < 2 OR den <= 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(floor(num / den * CAST(1000000 AS DOUBLE)
                  + CAST(0.5 AS DOUBLE)) AS BIGINT) END""").as("t2_micro"))
      .orderBy(col("dim"))
  }

  /** [[labelSeparability]] as DuckDB SQL. */
  private[graft] def labelSeparabilitySql(labelA: Int, labelB: Int): String =
    s"""WITH codes AS (SELECT label,
           unnest(range(0, len(embedding))) AS dim,
           unnest(list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * CAST(1048576 AS DOUBLE)
                             + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS code
         FROM embeddings),
       agg AS (SELECT CAST(dim AS BIGINT) AS dim,
           CAST(sum(CASE WHEN label = $labelA THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN label = $labelA THEN code ELSE 0 END) AS BIGINT) AS s11,
           CAST(sum(CASE WHEN label = $labelA THEN code * code ELSE 0 END) AS BIGINT) AS s21,
           CAST(sum(CASE WHEN label = $labelB THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN label = $labelB THEN code ELSE 0 END) AS BIGINT) AS s12,
           CAST(sum(CASE WHEN label = $labelB THEN code * code ELSE 0 END) AS BIGINT) AS s22
         FROM codes WHERE label IN ($labelA, $labelB) GROUP BY dim),
       fin AS (SELECT dim, n1, n2,
           (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE))
           * (CAST(s11 AS DOUBLE) / CAST(n1 AS DOUBLE)
            - CAST(s12 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS num,
           CAST(CAST(n1 AS DECIMAL(38,0)) * s21 - CAST(s11 AS DECIMAL(38,0)) * s11 AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE))
           + CAST(CAST(n2 AS DECIMAL(38,0)) * s22 - CAST(s12 AS DECIMAL(38,0)) * s12 AS DOUBLE)
             / (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE) * CAST(n2 - 1 AS DOUBLE)) AS den
         FROM agg)
       SELECT dim, n1, n2,
              CASE WHEN n1 < 2 OR n2 < 2 OR den <= 0 THEN CAST(0 AS BIGINT)
                   ELSE CAST(floor(num / den * CAST(1000000 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) AS BIGINT) END AS t2_micro
       FROM fin ORDER BY dim"""

  /** Exact Gram / second-moment matrix of the embedding corpus over the
    * 2^20 integer codes: for every dimension pair (i, j), n and
    * Σ code_i·code_j — the order-free, engine-exact input to covariance,
    * PCA, and whitening (covariance = (n·S_ij − S_i·S_j), with the S_i
    * coming from [[dimStats]]). Products are ≤ 2^40, so BIGINT sums hold
    * to ~2^23 vectors; past that the one-line swap is DECIMAL(38,0), the
    * regr-slope discipline.
    *
    * 100 TB shape: one corpus pass; each row expands to its d² products
    * inside codegen (flatten of a nested transform — no self-join of the
    * exploded frame) and the hash aggregate is map-side combined, so the
    * shuffle carries ≤ d² partial rows per partition. d² output rows.
    */
  def gramMatrix(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "embeddings")
      .select(expr(CodeExpr).as("c"))
      .select(size(col("c")).as("d"), posexplode(expr(
        "flatten(transform(c, x -> transform(c, y -> x * y)))")).as(Seq("k", "p")))
      .select(expr("CAST(k div d AS BIGINT)").as("dim_i"),
        expr("CAST(k % d AS BIGINT)").as("dim_j"), col("p"))
      .groupBy(col("dim_i"), col("dim_j"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_ij"))
      .orderBy(col("dim_i"), col("dim_j"))

  /** Cyclic Jacobi eigendecomposition of a small symmetric matrix —
    * driver-side (the d×d covariance is catalog-sized, never data-sized).
    * Returns (eigenvalues, eigenvectors as columns).
    */
  private[operators] def jacobiEigen(a0: Array[Array[Double]],
                                     sweeps: Int = 12): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          off += apq * apq
          if (math.abs(apq) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val sN = t * c
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - sN * akq
              a(k)(q) = sN * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - sN * aqk
              a(q)(k) = sN * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - sN * vkq
              v(k)(q) = sN * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** ZCA whitening of the embedding corpus: y = W (x − μ) with
    * W = U Λ^{-1/2} Uᵀ from the exact-code covariance — the
    * decorrelation step retrieval pipelines run before indexing when the
    * encoder's dimensions are correlated (whitened cosine ≈ Mahalanobis).
    * Eigenvalues below `eps` (degenerate/dead dimensions, cf.
    * [[dimStats]]) contribute zero rather than exploding 1/√λ.
    *
    * Spark shape: covariance derives from [[gramMatrix]] + [[dimStats]]
    * (two corpus passes, both map-side-combined aggregates to ≤ d² rows);
    * the d×d eigendecomposition is driver-side Jacobi (catalog-sized —
    * never distribute a 64×64 problem); the projection is one broadcast
    * matvec per row via mapPartitions (pure map, no shuffle — the
    * genuinely per-row imperative kernel the typed API exists for).
    */
  def whiten(s: SparkSession, dir: String, eps: Double = 1e-9): DataFrame = {
    import s.implicits._
    val scale = 1048576.0
    val stats = dimStats(s, dir).select("dim", "n", "sum_code").collect()
    val d = stats.length
    val n = stats.head.getAs[Long]("n").toDouble
    val mu = new Array[Double](d)
    stats.foreach(r => mu(r.getAs[Long]("dim").toInt) =
      r.getAs[Long]("sum_code") / scale / n)
    val gram = gramMatrix(s, dir).collect()
    val cov = Array.ofDim[Double](d, d)
    gram.foreach { r =>
      val i = r.getAs[Long]("dim_i").toInt; val j = r.getAs[Long]("dim_j").toInt
      cov(i)(j) = r.getAs[Long]("sum_ij") / (scale * scale) / n - mu(i) * mu(j)
    }
    val (lam, u) = jacobiEigen(cov)
    // W = U diag(λ^-1/2) Uᵀ (symmetric ZCA form)
    val w = Array.tabulate(d, d) { (i, j) =>
      var acc = 0.0
      var k = 0
      while (k < d) {
        if (lam(k) > eps) acc += u(i)(k) * u(j)(k) / math.sqrt(lam(k))
        k += 1
      }
      acc
    }
    val bc = s.sparkContext.broadcast((w, mu))
    Tables.spread(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val (wm, m) = bc.value
        val dd = m.length
        it.map { case (id, x) =>
          val cx = Array.tabulate(dd)(i => x(i).toDouble - m(i))
          val y = new Array[Double](dd)
          var i = 0
          while (i < dd) {
            var acc = 0.0; var k = 0
            while (k < dd) { acc += wm(i)(k) * cx(k); k += 1 }
            y(i) = acc; i += 1
          }
          (id, y)
        }
      }
      .toDF("vec_id", "whitened")
      .orderBy("vec_id")
  }

  /** Embedding DRIFT monitor: per label, how far has the mean embedding
    * of the "current" slice moved from the "reference" slice — the
    * encoder-rot / distribution-shift alarm that catches a retrained or
    * corrupted embedder before it poisons the index (the numeric sibling
    * of the categorical chi2 drift audits). Slices come from the
    * stratifiedSplit md5-threshold mechanics (rerun-stable, engine-
    * portable); the drift statistic is the per-dimension mean shift,
    * L1-averaged over dims, in EXACT integers: components quantize to
    * 2^20 codes (one IEEE op), per-(label, half, dim) code SUMS are
    * order-free BIGINTs, and the mean difference is compared by cross-
    * multiplication — |s_ref·n_cur - s_cur·n_ref| — so division never
    * happens until the final half-up 1e-4 readout. BIGINT holds to
    * ~2^22 vectors per label-half at 64 dims; beyond, lift the sums to
    * DECIMAL(38,0).
    *
    * 100 TB shape: ONE corpus pass posexplodes to (label, half, dim)
    * cells — a map-side-combined aggregate to |labels|·2·d rows; the
    * per-label counts broadcast back; everything after runs on the
    * catalog-sized cell table.
    */
  def embedDrift(s: SparkSession, dir: String, refFrac: Double = 0.8): DataFrame = {
    val thr = Sampling.hexThreshold(refFrac)
    val emb = Tables.spread(s, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        expr(CodeExpr).as("code"))
      .withColumn("is_ref",
        expr(s"substring(md5(CAST(vec_id AS STRING)), 1, 8) < '$thr'"))
    val cnts = emb.groupBy(col("label"))
      .agg(sum(when(col("is_ref"), lit(1L)).otherwise(lit(0L))).as("n_ref"),
        sum(when(!col("is_ref"), lit(1L)).otherwise(lit(0L))).as("n_cur"))
    val cells = emb
      .select(col("label"), col("is_ref"), posexplode(col("code")).as(Seq("dim", "c")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(when(col("is_ref"), col("c")).otherwise(lit(0L))).as("s_ref"),
        sum(when(!col("is_ref"), col("c")).otherwise(lit(0L))).as("s_cur"))
    cells.join(broadcast(cnts), Seq("label"))
      .groupBy(col("label"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        sum(abs(col("s_ref") * col("n_cur") - col("s_cur") * col("n_ref")))
          .as("l1_cross"),
        count(lit(1)).as("d"))
      .withColumn("drift_1e4", expr(
        """(20000 * l1_cross + greatest(1048576 * n_ref * n_cur * d, 1))
           DIV (2 * greatest(1048576 * n_ref * n_cur * d, 1))"""))
      .select(col("label"), col("n_ref"), col("n_cur"), col("l1_cross"),
        col("drift_1e4"))
      .orderBy(col("label"))
  }

  /** The drift statement as DuckDB SQL. */
  private[graft] def embedDriftSql(thr: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
              list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS code,
              substring(md5(CAST(vec_id AS STRING)), 1, 8) < '$thr' AS is_ref
            FROM embeddings),
         cnt AS (SELECT label,
                   CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_ref,
                   CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
                     AS n_cur
                 FROM e GROUP BY label),
         d AS (SELECT label, is_ref, CAST(i AS BIGINT) AS dim,
                  code[CAST(i AS INT)] AS c
           FROM (SELECT label, is_ref, code,
                        unnest(range(1, len(code) + 1)) AS i FROM e) t),
         cell AS (SELECT label, dim,
                    CAST(sum(CASE WHEN is_ref THEN c ELSE 0 END) AS BIGINT)
                      AS s_ref,
                    CAST(sum(CASE WHEN is_ref THEN 0 ELSE c END) AS BIGINT)
                      AS s_cur
                  FROM d GROUP BY label, dim),
         agg AS (SELECT cell.label,
                   max(cnt.n_ref) AS n_ref, max(cnt.n_cur) AS n_cur,
                   CAST(sum(abs(cell.s_ref * cnt.n_cur
                                - cell.s_cur * cnt.n_ref)) AS BIGINT)
                     AS l1_cross,
                   CAST(count(*) AS BIGINT) AS d
                 FROM cell JOIN cnt ON cnt.label = cell.label
                 GROUP BY cell.label)
         SELECT label, n_ref, n_cur, l1_cross,
                (20000 * l1_cross + greatest(1048576 * n_ref * n_cur * d, 1))
                  // (2 * greatest(1048576 * n_ref * n_cur * d, 1))
                  AS drift_1e4
         FROM agg ORDER BY label"""

  /** Public for Catalyst's codegen'd encoders. */
  final case class MmrCand(vec_id: Long, m: Long)
  final case class MmrSim(ca: Long, cb: Long, sim: Long)
  final case class MmrRow(query_id: Long, sel_rank: Long, vec_id: Long,
                          rel_1e4: Long, mmr_1e4: Long)

  /** MMR (Maximal Marginal Relevance, Carbonell & Goldstein SIGIR'98)
    * diversified top-k: re-rank each query's candidate pool so the
    * selected set trades relevance against redundancy — greedy
    * argmax of (relevance - max-similarity-to-already-selected), the
    * λ=0.5 form (order-equivalent to the classic λ·rel - (1-λ)·maxsim).
    * Pure relevance ranking returns near-duplicates of the top hit;
    * retrieval FOR TRAINING DATA (and any RAG surface) wants coverage —
    * this is the SemDeDup idea applied at query time.
    *
    * Everything ranks on integer micro-unit scores (the Micro4
    * discipline) with vec_id tiebreaks, so the greedy trajectory is
    * deterministic on every engine and partitioning; mmr can be negative
    * (a candidate more similar to the selected set than relevant to the
    * query), which the sign-aware micro4 handles.
    *
    * 100 TB shape: the pool is the brute-force top-C per query (broadcast
    * queries, map-side-combining TopK aggregator — the bruteForceTopK
    * plan); pairwise sims are computed only WITHIN each query's C-row
    * pool (C² = 100 pairs per query, never corpus-sized); the greedy
    * pass runs per query over collect_list'd pool+sims — O(C²) bounded
    * state per group, the throttle memory contract. The SQL surfaces
    * state the same greedy as k unrolled argmax steps (pagerank-style
    * template, shared by oracle and twin).
    */
  def mmrRerank(s: SparkSession, dir: String, nQueries: Int = 5,
                pool: Int = 10, k: Int = 5): DataFrame = {
    import s.implicits._
    val emb = embWithNorm(s, dir)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("vnorm").as("qnorm"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("m",
        expr(scoreMicrosFromNorms("dot_f(qv, embedding)", "qnorm", "vnorm")))
    val topk = udaf(new graft.functions.TopKNeighbors(pool),
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredNeighbor])
    val poolDf = scored.filter(col("m").isNotNull)
      .groupBy(col("query_id"))
      .agg(topk(col("m"), col("vec_id")).as("nn"))
      .select(col("query_id"), explode(col("nn")).as("sn"))
      .select(col("query_id"), col("sn.vecId").as("vec_id"), col("sn.m").as("m"))
      .localCheckpoint(true) // nQueries×C rows; two consumers — the pin
                             // stops each from re-running the corpus scan
    val poolEmb = poolDf.join(
      emb.select(col("vec_id"), col("embedding"), col("vnorm")), Seq("vec_id"))
      .localCheckpoint(true) // both sim-join sides read this tiny frame
    val sims = poolEmb.as("a").join(poolEmb.as("b"),
        col("a.query_id") === col("b.query_id") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.query_id").as("query_id"),
        col("a.vec_id").as("ca"), col("b.vec_id").as("cb"),
        expr(scoreMicrosFromNorms("dot_f(a.embedding, b.embedding)",
          "a.vnorm", "b.vnorm")).as("sim"))
    val cands = poolDf.groupBy(col("query_id"))
      .agg(collect_list(struct(col("vec_id"), col("m"))).as("cands"))
    val simAgg = sims.groupBy(col("query_id"))
      .agg(collect_list(struct(col("ca"), col("cb"), col("sim"))).as("sims"))
    def micro4Of(v: Long): Long =
      if (v >= 0) (v + 50) / 100 else -((-v + 50) / 100)
    cands.join(simAgg, Seq("query_id"))
      .as[(Long, Seq[MmrCand], Seq[MmrSim])]
      .flatMap { case (q, pool0, simRows) =>
        val sim = simRows.map(r => (r.ca, r.cb) -> r.sim).toMap
        val avail = scala.collection.mutable.Set(pool0.map(_.vec_id): _*)
        val rel = pool0.map(c => c.vec_id -> c.m).toMap
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        (1 to k).iterator.takeWhile(_ => avail.nonEmpty).map { rank =>
          val (best, mmr) = avail.iterator.map { c =>
            val penalty =
              if (selected.isEmpty) 0L
              else selected.iterator.map(sl => sim((c, sl))).max
            (c, rel(c) - penalty)
          }.minBy { case (c, v) => (-v, c) } // mmr DESC, vec_id ASC
          avail -= best
          selected += best
          MmrRow(q, rank.toLong, best, micro4Of(rel(best)), micro4Of(mmr))
        }.toSeq
      }
      .toDF()
      .orderBy(col("query_id"), col("sel_rank"))
  }

  /** The MMR greedy as one SQL statement with the k selection steps
    * UNROLLED (the pagerank template pattern): each step anti-joins the
    * pool against the selected set, prices mmr = m - max(sim to
    * selected), and takes the per-query argmax via row_number.
    */
  private[graft] def mmrSql(nQueries: Int = 5, pool: Int = 10, k: Int = 5): String = {
    def micro4(c: String) =
      s"CAST(CASE WHEN $c >= 0 THEN ($c + 50) // 100 " +
        s"ELSE -((-$c + 50) // 100) END AS BIGINT)"
    val header =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id < $nQueries),
         scored AS (SELECT query_id, vec_id, ${cosMicrosSql("qv", "v")} AS m
                    FROM e CROSS JOIN q WHERE vec_id <> query_id),
         pool AS (SELECT query_id, vec_id, m FROM (
                  SELECT query_id, vec_id, m,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY m DESC, vec_id) AS rk
                  FROM scored) p WHERE rk <= $pool),
         pe AS (SELECT p.query_id, p.vec_id, e.v
                FROM pool p JOIN e ON e.vec_id = p.vec_id),
         sims AS (SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
                         ${cosMicrosSql("a.v", "b.v")} AS sim
                  FROM pe a JOIN pe b
                    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
         s1 AS (SELECT query_id, vec_id, m, m AS mmr FROM (
                SELECT query_id, vec_id, m,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY m DESC, vec_id) AS rk
                FROM pool) p WHERE rk = 1),
         sel1 AS (SELECT query_id, vec_id FROM s1)"""
    val steps = (2 to k).map { i =>
      s"""cand$i AS (
           SELECT p.query_id, p.vec_id, p.m, p.m - max(s.sim) AS mmr
           FROM pool p
           LEFT JOIN sel${i - 1} x
             ON x.query_id = p.query_id AND x.vec_id = p.vec_id
           JOIN sims s ON s.query_id = p.query_id AND s.ca = p.vec_id
           JOIN sel${i - 1} sl
             ON sl.query_id = s.query_id AND sl.vec_id = s.cb
           WHERE x.vec_id IS NULL
           GROUP BY p.query_id, p.vec_id, p.m),
         s$i AS (SELECT query_id, vec_id, m, mmr FROM (
                 SELECT c.query_id, c.vec_id, c.m, c.mmr,
                        row_number() OVER (PARTITION BY c.query_id
                                           ORDER BY c.mmr DESC, c.vec_id) AS rn
                 FROM cand$i c) r WHERE rn = 1),
         sel$i AS (SELECT query_id, vec_id FROM sel${i - 1}
                   UNION ALL SELECT query_id, vec_id FROM s$i)"""
    }
    val unionAll = (1 to k).map(i =>
      s"""SELECT query_id, CAST($i AS BIGINT) AS sel_rank, vec_id, m, mmr
          FROM s$i""").mkString("\nUNION ALL\n")
    (header +: steps).mkString(",\n") +
      s""",
         sel_out AS ($unionAll)
         SELECT query_id, sel_rank, vec_id,
                ${micro4("m")} AS rel_1e4, ${micro4("mmr")} AS mmr_1e4
         FROM sel_out ORDER BY query_id, sel_rank"""
  }

  /** Margin-based cross-corpus alignment — BITEXT MINING (Artetxe &
    * Schwenk ACL'19, the LASER/CCMatrix recipe; the ratio margin is
    * CSLS by another name): for every document in corpus A, the best
    * corpus-B match scored not by raw cosine but by the cosine DIVIDED
    * by the mean of both endpoints' k-NN cosines — hubness-corrected,
    * so a vector that is "everyone's neighbor" stops winning every
    * alignment. This is THE operator that builds parallel training
    * corpora from two monolingual crawls.
    *
    * margin(a,b) = cos(a,b) / ((fwdAvg_a + bwdAvg_b) / 2), realized as
    * the exact integer rational 2·m·ka·kb / (fwdSum_a·kb + bwdSum_b·ka)
    * in micro-units: m is the shared micro-cosine, fwdSum/bwdSum are
    * exact BIGINT sums of each endpoint's top-k micro-cosines, and the
    * one division is integer DIV with an all-positive numerator and
    * denominator (mining considers only positive-cosine pairs, so
    * truncate-vs-floor cannot disagree). accepted = margin ≥ 1.06 (the
    * published mining threshold) as a 0/1 BIGINT.
    *
    * The registry entry splits the embeddings corpus by vec_id parity —
    * the even/odd shards stand in for the two crawls; real deployments
    * pass two frames to [[bitextMarginOf]].
    *
    * 100 TB shape: the brute scored frame is the oracle-able BASELINE
    * (and the exact re-rank kernel); at corpus×corpus scale candidate
    * pairs come from the existing ANN index paths (ivfTopKFromIndex /
    * annLshTopK) exactly as CCMatrix mines from FAISS shards, with the
    * k-NN sums taken over the candidate lists (index-approximated CSLS
    * — the production spelling). Both top-k passes here are map-side
    * combining TopKNeighbors aggregates (never a corpus-wide window),
    * and the scored frame is pinned once for its three consumers.
    */
  def bitextMarginMine(s: SparkSession, dir: String, k: Int = 4,
                       thresholdMicro: Long = 1060000L): DataFrame = {
    val emb = embWithNorm(s, dir)
    bitextMarginOf(
      emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1),
      k, thresholdMicro)
  }

  /** Positive-cosine (a_id, b_id, m) pairs between two renamed sides —
    * the shared scoring pass; pinned once because every caller consumes
    * it at least three times (fwd agg, margin join, winner's readout).
    */
  private[graft] def bitextScored(aSide: DataFrame, bSide: DataFrame): DataFrame =
    aSide.crossJoin(bSide)
      .withColumn("m",
        expr(scoreMicrosFromNorms("dot_f(av, bv)", "an", "bn")))
      .filter(col("m") > 0)
      .select(col("a_id"), col("b_id"), col("m"))
      .localCheckpoint(true)

  /** Per-key sum+count of the top-k micro-cosines — the CSLS k-NN
    * denominator halves, as one map-side-combining aggregate.
    */
  private[graft] def bitextKnnSums(scored: DataFrame, key: String,
                                   other: String, sumOut: String,
                                   kOut: String, k: Int): DataFrame = {
    val enc =
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredNeighbor]
    val topk = udaf(new graft.functions.TopKNeighbors(k), enc)
    scored.groupBy(col(key))
      .agg(topk(col("m"), col(other)).as("nn"))
      .select(col(key),
        expr("aggregate(nn, CAST(0 AS BIGINT), (acc, x) -> acc + x.m)")
          .as(sumOut),
        expr("CAST(size(nn) AS BIGINT)").as(kOut))
  }

  /** The margin + best-match tail shared by the batch operator and the
    * streaming screen: `bwd` carries (b_id, bwd_sum, bwd_k) — the batch
    * face derives it from `scored` itself; the stream merges its
    * persistent per-b top-k index first, so the two faces are equal by
    * construction.
    */
  private[graft] def bitextMarginCore(scored: DataFrame, bwd: DataFrame,
                                      k: Int, thresholdMicro: Long): DataFrame = {
    val enc =
      org.apache.spark.sql.Encoders.product[graft.functions.ScoredNeighbor]
    val margins = scored
      .join(bitextKnnSums(scored, "a_id", "b_id", "fwd_sum", "fwd_k", k),
        Seq("a_id"))
      .join(bwd, Seq("b_id"))
      .withColumn("margin_micro", expr(
        """(2 * m * fwd_k * bwd_k * CAST(1000000 AS BIGINT))
           DIV (fwd_sum * bwd_k + bwd_sum * fwd_k)"""))
    val top1 = udaf(new graft.functions.TopKNeighbors(1), enc)
    margins.groupBy(col("a_id"))
      .agg(top1(col("margin_micro"), col("b_id")).as("nn"))
      .select(col("a_id"), expr("nn[0].vecId").as("match_id"),
        expr("nn[0].m").as("margin_micro"))
      .join(scored.select(col("a_id"), col("b_id").as("match_id"),
        col("m").as("cos_micro")), Seq("a_id", "match_id"))
      .select(col("a_id"), col("match_id"), col("cos_micro"),
        col("margin_micro"),
        expr(s"""CASE WHEN margin_micro >= $thresholdMicro
                 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END""")
          .as("accepted"))
      .orderBy(col("a_id"))
  }

  /** [[bitextMarginMine]] over two explicit (vec_id, embedding, vnorm)
    * corpora — the building block a two-crawl deployment calls directly.
    */
  private[graft] def bitextMarginOf(aSide0: DataFrame, bSide0: DataFrame,
                                    k: Int, thresholdMicro: Long): DataFrame = {
    val aSide = aSide0.select(col("vec_id").as("a_id"),
      col("embedding").as("av"), col("vnorm").as("an"))
    val bSide = bSide0.select(col("vec_id").as("b_id"),
      col("embedding").as("bv"), col("vnorm").as("bn"))
    val scored = bitextScored(aSide, bSide)
    bitextMarginCore(scored,
      bitextKnnSums(scored, "b_id", "a_id", "bwd_sum", "bwd_k", k),
      k, thresholdMicro)
  }

  /** [[bitextMarginMine]] with candidate generation from a prebuilt IVF
    * index over the corpus — the scale path the batch scaladoc names
    * (CCMatrix's FAISS-shard recipe): each A doc probes its nProbe
    * nearest lists and every CSLS ingredient — forward sums, backward
    * sums, the margin itself — is computed over candidate pairs only
    * (index-approximated CSLS, the production spelling). At
    * nProbe = nLists the candidate set is exactly the positive-cosine
    * pair set, so the result equals the brute operator BIT-FOR-BIT
    * (OperatorSpec pins it); recall tuning moves nProbe, never the
    * arithmetic. The counter-corpus is the index's odd-parity shard
    * (the registry op's B side); tombstones are screened like every
    * other index consumer.
    */
  def bitextMarginFromIndex(s: SparkSession, dir: String, indexDir: String,
                            k: Int = 4, thresholdMicro: Long = 1060000L,
                            nProbe: Int = 3): DataFrame = {
    val aSide = embWithNorm(s, dir).filter(col("vec_id") % 2 === 0)
    // The A side is CORPUS-sized here (a whole crawl, not a bounded query
    // set): a first-N index selects through the codegen'd top-k
    // expression, never an |A| × nLists crossJoin + window
    val probes = selectLists(aSide, loadQuantizer(s, indexDir), nProbe)
      .select(col("vec_id").as("a_id"), col("centroid_id"))
    val index = screenTombstones(s, indexDir, Tables.parquet(s, indexDir))
      .filter(col("vec_id") % 2 === 1)
      .select(col("centroid_id"), col("vec_id").as("b_id"),
        col("embedding").as("bv"), col("vnorm").as("bn"))
    // Pair generation order matters at candidate volume: attach BOTH
    // payloads while the frames are still corpus-sized (|A|·nProbe probe
    // rows, |B| index rows), then let the centroid_id equi-join fan out
    // to candidate pairs INSIDE one codegen stage, pipelined straight
    // into scoring + the m>0 filter — only positive skinny (a_id, b_id,
    // m) rows ever materialize. The first spelling fanned out first and
    // attached av after: a candidates × payload sort-merge join (~13 GB
    // at sf10) that the r13 probe measured as the entire mining cost.
    // Both join inputs here shuffle by centroid_id as skinny-payload
    // corpus-sized frames (the index side is already list-partitioned on
    // disk); (a_id, b_id) is unique by construction — a vector lives in
    // exactly ONE list — so no dedup pass is needed (uniqueness is
    // pinned by the OperatorSpec recompute and build+append parity).
    val aProbes = probes.join(
      aSide.select(col("vec_id").as("a_id"),
        col("embedding").as("av"), col("vnorm").as("an")),
      Seq("a_id"))
      .select(col("centroid_id"), col("a_id"), col("av"), col("an"))
    val scored = index.join(aProbes, Seq("centroid_id"))
      .withColumn("m",
        expr(scoreMicrosFromNorms("dot_f(av, bv)", "an", "bn")))
      .filter(col("m") > 0)
      .select(col("a_id"), col("b_id"), col("m"))
      .localCheckpoint(true)
    bitextMarginCore(scored,
      bitextKnnSums(scored, "b_id", "a_id", "bwd_sum", "bwd_k", k),
      k, thresholdMicro)
  }

  /** The PRODUCTION bitext entry: [[bitextMarginFromIndex]] with the IVF
    * index built inline — one self-contained (session, sfDir) call, so
    * the registry/headline spelling is the index-approximated CSLS that
    * survives two-crawl scale, not the |A|×|B| crossJoin
    * ([[bitextMarginMine]] stays as the exact oracle-able baseline, the
    * triangle-count precedent where the naive join is the cross-check).
    *
    * The build is charged to the query deliberately: it is ONE corpus
    * pass against broadcast centroids (linear), so including it keeps
    * the benched number honest while the candidate screen stays
    * equi-join-shaped — total cost O(corpus·nLists + candidates), never
    * O(|A|·|B|). A real deployment amortizes the build across many
    * mining runs ([[buildIvfIndex]] directly); the index lands in a
    * per-corpus, per-application scratch dir under the configurable
    * `graft.scratch.dir` root and is rebuilt (overwritten) every call,
    * so a changed fixture can never serve stale lists and concurrent
    * applications never race.
    *
    * 100 TB shape: build = corpus-linear assignment + partitioned
    * write; probes = A-side × nLists broadcast scoring; candidates =
    * equi-join on centroid_id touching ~nProbe·|B|/nLists of B PER A
    * DOC — with the [[AutoNLists]] lever (default; nLists ∝ corpus,
    * the semanticDedup r12 precedent) per-A candidates stay CONSTANT
    * across decades, so total candidate work is ~linear per decade and
    * the sf1→sf10 slope rides the IVF ANN line, not the brute
    * quadratic. AutoNLists resolves to 16 at every oracle-checked SF
    * (≤ 2000 vectors → max(16, n/320) = 16), so the DuckDB oracle's
    * first-16 spelling is exact where the oracle runs — same posture
    * as q_semantic_dedup. The one resolve count is a ledgered driver
    * action (catalog-sized readout, the [[resolveNLists]] discipline).
    */
  def bitextMarginIndexed(s: SparkSession, dir: String, k: Int = 4,
                          thresholdMicro: Long = 1060000L,
                          nLists: Int = AutoNLists, nProbe: Int = 3): DataFrame = {
    val lists = resolveNLists(nLists, embWithNorm(s, dir))
    val scratch = appScratchDir(s, "graft_bitext_ivf", dir)
    buildIvfIndex(s, dir, scratch, lists)
    bitextMarginFromIndex(s, dir, scratch, k, thresholdMicro, nProbe)
  }

  /** [[bitextMarginIndexed]] as DuckDB SQL: the
    * first-N-quantizer IVF candidate screen (assignment + top-nProbe
    * probes, the q_ann_ivf_topk oracle's CTE shape — row_number over
    * (cm DESC, centroid_id) is exactly the operator's packed max_by
    * tie-break) feeding the same CSLS margin tail as
    * [[bitextMarginSql]], with every k-NN sum taken over candidate
    * pairs only (index-approximated CSLS — what the operator computes).
    */
  private[graft] def bitextMarginIndexSql(k: Int = 4,
                                          thresholdMicro: Long = 1060000L,
                                          nLists: Int = 16, nProbe: Int = 3): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < $nLists),
       scored_c AS (SELECT e.vec_id, c.centroid_id,
                    ${cosMicrosSql("e.v", "c.cv")} AS cm
                    FROM e CROSS JOIN c),
       assign AS (SELECT vec_id, centroid_id FROM (
                  SELECT vec_id, centroid_id,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cm DESC, centroid_id) AS rn
                  FROM scored_c) t WHERE rn = 1),
       probes AS (SELECT vec_id AS a_id, centroid_id FROM (
                  SELECT vec_id, centroid_id,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cm DESC, centroid_id) AS rn
                  FROM scored_c WHERE vec_id % 2 = 0) t WHERE rn <= $nProbe),
       cand AS (SELECT DISTINCT p.a_id, a.vec_id AS b_id
                FROM assign a JOIN probes p ON a.centroid_id = p.centroid_id
                WHERE a.vec_id % 2 = 1),
       aside AS (SELECT vec_id AS a_id, v AS av FROM e WHERE vec_id % 2 = 0),
       bside AS (SELECT vec_id AS b_id, v AS bv FROM e WHERE vec_id % 2 = 1),
       pos AS (SELECT a_id, b_id, m FROM (
                 SELECT cd.a_id, cd.b_id, ${cosMicrosSql("av", "bv")} AS m
                 FROM cand cd
                 JOIN aside ON aside.a_id = cd.a_id
                 JOIN bside ON bside.b_id = cd.b_id) s0
               WHERE m > 0),
       fr AS (SELECT a_id, b_id, m,
                row_number() OVER (PARTITION BY a_id
                                   ORDER BY m DESC, b_id) AS rk
              FROM pos),
       fwd AS (SELECT a_id, CAST(sum(m) AS BIGINT) AS fwd_sum,
                 CAST(count(*) AS BIGINT) AS fwd_k
               FROM fr WHERE rk <= $k GROUP BY a_id),
       br AS (SELECT a_id, b_id, m,
                row_number() OVER (PARTITION BY b_id
                                   ORDER BY m DESC, a_id) AS rk
              FROM pos),
       bwd AS (SELECT b_id, CAST(sum(m) AS BIGINT) AS bwd_sum,
                 CAST(count(*) AS BIGINT) AS bwd_k
               FROM br WHERE rk <= $k GROUP BY b_id),
       margins AS (SELECT p.a_id, p.b_id, p.m,
                     CAST((2 * p.m * f.fwd_k * w.bwd_k * 1000000)
                          // (f.fwd_sum * w.bwd_k + w.bwd_sum * f.fwd_k)
                          AS BIGINT) AS margin_micro
                   FROM pos p
                   JOIN fwd f ON p.a_id = f.a_id
                   JOIN bwd w ON p.b_id = w.b_id),
       best AS (SELECT a_id, b_id, m, margin_micro,
                  row_number() OVER (PARTITION BY a_id
                                     ORDER BY margin_micro DESC, b_id) AS rk
                FROM margins)
       SELECT a_id, b_id AS match_id, CAST(m AS BIGINT) AS cos_micro,
              margin_micro,
              CASE WHEN margin_micro >= $thresholdMicro
                   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS accepted
       FROM best WHERE rk = 1 ORDER BY a_id"""

  /** Per-corpus, per-application scratch dir for inline index builds.
    * The root is CONFIGURABLE (`graft.scratch.dir`) because the
    * driver-local java.io.tmpdir default is only executor-visible in
    * local mode — a multi-node deployment must point this at shared
    * storage (the warehouse's filesystem). The dir name carries the
    * applicationId so two concurrent applications working the same
    * corpus never race one overwrite against the other's mid-query read
    * (sessions WITHIN one application share a SparkContext and run the
    * build serially before reading, so per-app uniqueness is the race
    * boundary). Rebuilt (overwritten) every call, so a changed fixture
    * can never serve stale lists; the per-app dirs are small (index ≈
    * corpus embeddings) and live under the scratch root's normal
    * cleanup policy.
    */
  private[graft] def appScratchDir(s: SparkSession, tag: String, dir: String): String = {
    val root = s.conf.getOption("graft.scratch.dir")
      .getOrElse(sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    new org.apache.hadoop.fs.Path(root,
      tag + "_" + java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(16) + "_" + s.sparkContext.applicationId).toString
  }

  /** EMBEDDING-SPACE benchmark decontamination from a prebuilt IVF
    * index — the semantic sibling of [[Curation.decontaminate]]'s n-gram
    * pass: paraphrased eval contamination shares no 4-gram but sits next
    * to the eval doc in embedding space, so every serious training-data
    * pipeline runs this screen BESIDE the exact one (the GPT-3 appendix-C
    * lesson, embedding edition).
    *
    * The eval set is the deterministic `vec_id % evalMod == 0` slice
    * (same stand-in discipline as the n-gram operator); the corpus is
    * everything else. Eval queries probe their nProbe nearest lists and
    * every corpus vector in a probed list is scored once — a corpus
    * vector lives in exactly ONE list (the appendToIvfIndex boundary
    * guard enforces it), so (corpus, eval) candidate pairs are unique by
    * construction and the per-doc aggregate needs no dedup pass. Output:
    * one row per CONTAMINATED corpus vector — how many eval docs it
    * collides with and the worst cosine (micro units) — ordered by
    * vec_id; downstream drops these ids before training.
    *
    * 100 TB shape: eval suites are tiny but the CORPUS is the 100 TB
    * side, which rules the brute eval×corpus crossJoin out once nothing
    * is broadcastable end-to-end; here candidates ride the centroid_id
    * equi-join (probes × index lists), touching ~nProbe/nLists of the
    * corpus per eval doc, and with [[AutoNLists]] the per-query fan-out
    * stays constant per decade — the q_bitext_margin_index slope, not
    * the brute one. Threshold semantics follow [[semanticDedup]]'s
    * integer-micro discipline; the default is calibrated to the
    * synthetic fixture geometry (real deployments screen paraphrases
    * at ~950000).
    */
  def semanticDecontaminateFromIndex(s: SparkSession, dir: String,
                                     indexDir: String,
                                     thresholdMicro: Long = 350000L,
                                     evalMod: Int = 97,
                                     nProbe: Int = 3): DataFrame = {
    val evalQ = embWithNorm(s, dir).filter(pmod(col("vec_id"), lit(evalMod)) === 0)
    val probes = selectLists(evalQ, loadQuantizer(s, indexDir), nProbe)
      .select(col("vec_id").as("eval_id"), col("centroid_id"))
    val index = screenTombstones(s, indexDir, Tables.parquet(s, indexDir))
      .filter(pmod(col("vec_id"), lit(evalMod)) =!= 0)
      .select(col("centroid_id"), col("vec_id"), col("embedding").as("bv"),
        col("vnorm").as("bn"))
    // attach the eval payload at QUERY-SET size, then let the centroid_id
    // equi-join fan out to candidates inside one codegen stage straight
    // into scoring — the bitext payload-before-fanout fix, reused
    val eProbes = probes.join(
      evalQ.select(col("vec_id").as("eval_id"),
        col("embedding").as("ev"), col("vnorm").as("en")),
      Seq("eval_id"))
      .select(col("centroid_id"), col("eval_id"), col("ev"), col("en"))
    index.join(eProbes, Seq("centroid_id"))
      .withColumn("m",
        expr(scoreMicrosFromNorms("dot_f(ev, bv)", "en", "bn")))
      .filter(col("m") >= thresholdMicro)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_hits"), max(col("m")).as("max_cm"))
      .orderBy(col("vec_id"))
  }

  /** The registry entry: [[semanticDecontaminateFromIndex]] with the IVF
    * index built inline — one self-contained (session, sfDir) call, same
    * posture as [[bitextMarginIndexed]] (build charged to the query; a
    * real deployment amortizes it across screens via [[buildIvfIndex]]).
    * AutoNLists resolves to 16 at every oracle-checked SF, so the DuckDB
    * oracle's first-16 spelling is exact where the oracle runs.
    */
  def semanticDecontaminate(s: SparkSession, dir: String,
                            thresholdMicro: Long = 350000L,
                            evalMod: Int = 97, nLists: Int = AutoNLists,
                            nProbe: Int = 3): DataFrame = {
    val lists = resolveNLists(nLists, embWithNorm(s, dir))
    val scratch = appScratchDir(s, "graft_decon_ivf", dir)
    buildIvfIndex(s, dir, scratch, lists)
    semanticDecontaminateFromIndex(s, dir, scratch, thresholdMicro, evalMod,
      nProbe)
  }

  private def evalProbesDir(stageDir: String): String =
    new org.apache.hadoop.fs.Path(stageDir, "eval_probes").toString

  /** Stage the FROZEN eval-side artifact for the continuous semantic
    * decontamination screen ([[graft.streaming.DeconSemStream]]):
    *  - `_centroids_f` — the first-N float quantizer table
    *    (centroid_id, cv, cnorm), the same centroids the batch build
    *    derives, persisted so arriving corpus batches assign without
    *    ever seeing the staging corpus;
    *  - `eval_probes` — each eval doc's top-nProbe lists WITH its
    *    payload (centroid_id, vec_id, ev, en), computed through the
    *    identical [[selectListsFloat]] expression as the batch screen,
    *    so stream and batch candidate sets agree bit-for-bit.
    * Frozen for the life of the stream (the [[DecontaminateStream]]
    * discipline: a moving eval target would silently re-admit docs
    * screened before the target grew); eval-suite retirements go
    * through [[tombstoneEvalScreen]] instead. Eval suites are tiny, so
    * both artifacts stay broadcast-sized forever.
    */
  def stageEvalScreen(s: SparkSession, dir: String, stageDir: String,
                      evalMod: Int = 97, nLists: Int = AutoNLists,
                      nProbe: Int = 3): String = {
    val emb = embWithNorm(s, dir)
    val q = FloatCentroids(firstNCentroids(emb, resolveNLists(nLists, emb)))
    saveQuantizer(q, stageDir)
    val evalQ = emb.filter(pmod(col("vec_id"), lit(evalMod)) === 0)
    // the eval id is stored AS vec_id so the probe table shares the index
    // family's tombstone artifact verbatim (_tombstones keys on vec_id)
    selectLists(evalQ, q, nProbe)
      .join(evalQ.select(col("vec_id"), col("embedding").as("ev"),
        col("vnorm").as("en")), Seq("vec_id"))
      .select(col("centroid_id"), col("vec_id"), col("ev"), col("en"))
      .write.mode("overwrite").parquet(evalProbesDir(stageDir))
    stageDir
  }

  /** The staged eval-probe table, with pending `_tombstones` (retired
    * eval docs) screened out — read-time semantics identical to the
    * ANN index family's.
    */
  def stagedEvalProbes(s: SparkSession, stageDir: String): DataFrame =
    screenTombstones(s, evalProbesDir(stageDir),
      Tables.parquet(s, evalProbesDir(stageDir)))
      .select(col("centroid_id"), col("vec_id").as("eval_id"),
        col("ev"), col("en"))

  /** Logical retirement of eval docs from the staged screen (an eval
    * benchmark rotated out): ids append to `eval_probes/_tombstones`,
    * later batches stop matching them, prior verdicts are untouched —
    * the [[tombstoneIvfIndex]] contract applied to the eval side.
    */
  def tombstoneEvalScreen(s: SparkSession, stageDir: String,
                          ids: Seq[Long]): String = {
    tombstoneIvfIndex(s, evalProbesDir(stageDir), ids)
    stageDir
  }

  /** Fold pending eval tombstones into the probe table physically (and
    * clear them) — [[compactIvfIndex]]'s discipline; answers before and
    * after are identical.
    */
  def compactEvalScreen(s: SparkSession, stageDir: String,
                        targetFileBytes: Long = 128L * 1024 * 1024): String = {
    compactIndexDir(s, evalProbesDir(stageDir), targetFileBytes,
      Seq("centroid_id", "vec_id", "ev", "en"), None, Seq.empty)
    stageDir
  }

  /** [[semanticDecontaminate]] as DuckDB SQL: the same
    * first-N-quantizer IVF candidate screen as [[bitextMarginIndexSql]]
    * (assignment + top-nProbe probes via row_number over
    * (cm DESC, centroid_id) — exactly the operator's packed ordering),
    * with the eval/corpus split on vec_id % evalMod and the per-corpus-
    * vector contamination aggregate as the tail.
    */
  private[graft] def semanticDecontaminateSql(
      thresholdMicro: Long = 350000L, evalMod: Int = 97,
      nLists: Int = 16, nProbe: Int = 3): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < $nLists),
       scored_c AS (SELECT e.vec_id, c.centroid_id,
                    ${cosMicrosSql("e.v", "c.cv")} AS cm
                    FROM e CROSS JOIN c),
       assign AS (SELECT vec_id, centroid_id FROM (
                  SELECT vec_id, centroid_id,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cm DESC, centroid_id) AS rn
                  FROM scored_c) t WHERE rn = 1),
       probes AS (SELECT vec_id AS eval_id, centroid_id FROM (
                  SELECT vec_id, centroid_id,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY cm DESC, centroid_id) AS rn
                  FROM scored_c WHERE vec_id % $evalMod = 0) t WHERE rn <= $nProbe),
       cand AS (SELECT p.eval_id, a.vec_id
                FROM assign a JOIN probes p ON a.centroid_id = p.centroid_id
                WHERE a.vec_id % $evalMod <> 0),
       ev AS (SELECT vec_id AS eval_id, v AS evv FROM e WHERE vec_id % $evalMod = 0),
       co AS (SELECT vec_id, v AS cov FROM e WHERE vec_id % $evalMod <> 0),
       hits AS (SELECT vec_id, eval_id, m FROM (
                  SELECT cd.vec_id, cd.eval_id, ${cosMicrosSql("cov", "evv")} AS m
                  FROM cand cd
                  JOIN co ON co.vec_id = cd.vec_id
                  JOIN ev ON ev.eval_id = cd.eval_id) s0
                WHERE m >= $thresholdMicro)
       SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
              CAST(max(m) AS BIGINT) AS max_cm
       FROM hits GROUP BY vec_id ORDER BY vec_id"""

  /** [[bitextMarginMine]] as DuckDB SQL. */
  private[graft] def bitextMarginSql(k: Int = 4, thresholdMicro: Long = 1060000L): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       aside AS (SELECT vec_id AS a_id, v AS av FROM e WHERE vec_id % 2 = 0),
       bside AS (SELECT vec_id AS b_id, v AS bv FROM e WHERE vec_id % 2 = 1),
       pos AS (SELECT a_id, b_id, m FROM (
                 SELECT a_id, b_id, ${cosMicrosSql("av", "bv")} AS m
                 FROM aside CROSS JOIN bside) s0
               WHERE m > 0),
       fr AS (SELECT a_id, b_id, m,
                row_number() OVER (PARTITION BY a_id
                                   ORDER BY m DESC, b_id) AS rk
              FROM pos),
       fwd AS (SELECT a_id, CAST(sum(m) AS BIGINT) AS fwd_sum,
                 CAST(count(*) AS BIGINT) AS fwd_k
               FROM fr WHERE rk <= $k GROUP BY a_id),
       br AS (SELECT a_id, b_id, m,
                row_number() OVER (PARTITION BY b_id
                                   ORDER BY m DESC, a_id) AS rk
              FROM pos),
       bwd AS (SELECT b_id, CAST(sum(m) AS BIGINT) AS bwd_sum,
                 CAST(count(*) AS BIGINT) AS bwd_k
               FROM br WHERE rk <= $k GROUP BY b_id),
       margins AS (SELECT p.a_id, p.b_id, p.m,
                     CAST((2 * p.m * f.fwd_k * w.bwd_k * 1000000)
                          // (f.fwd_sum * w.bwd_k + w.bwd_sum * f.fwd_k)
                          AS BIGINT) AS margin_micro
                   FROM pos p
                   JOIN fwd f ON p.a_id = f.a_id
                   JOIN bwd w ON p.b_id = w.b_id),
       best AS (SELECT a_id, b_id, m, margin_micro,
                  row_number() OVER (PARTITION BY a_id
                                     ORDER BY margin_micro DESC, b_id) AS rk
                FROM margins)
       SELECT a_id, b_id AS match_id, CAST(m AS BIGINT) AS cos_micro,
              margin_micro,
              CASE WHEN margin_micro >= $thresholdMicro
                   THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS accepted
       FROM best WHERE rk = 1 ORDER BY a_id"""
}
