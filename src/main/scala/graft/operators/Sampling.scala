package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Deterministic content-hash sampling — the training-pipeline way to
  * subsample and mix datasets.
  *
  * `df.sample()` / `sampleBy()` use engine- and partitioning-dependent
  * RNG streams: reruns, engine swaps, or a repartition silently change
  * WHICH rows are kept, which poisons dataset reproducibility and any
  * cross-engine check. Hashing a stable key instead gives a sample that
  * is (a) exactly reproducible everywhere, (b) consistent across scale
  * (a row is in or out regardless of cluster layout), and (c) cheap —
  * one md5 per row, no shuffle, fully pushdown-friendly.
  *
  * Mechanics: keep a row iff the first 8 hex chars of md5(key) compare
  * lexicographically below the rate's threshold. Fixed-width lowercase
  * hex compares identically to the numeric value, and every engine agrees
  * on md5 — so the DuckDB oracle reproduces the sample cell-exactly.
  */
object Sampling {

  /** 8-hex-char threshold for a keep-rate in [0, 1]: rows with
    * hash-prefix < threshold survive. rate 1.0 maps past "ffffffff" so
    * everything survives.
    */
  def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val t = math.round(rate * 4294967296.0)
    // rates within 2^-33 of 1.0 round to 2^32, which %08x would render as
    // a NINE-char "100000000" — lexicographically that keeps only ~1/16 of
    // rows instead of ~all. Route anything that rounds to the top to the
    // keep-everything sentinel.
    if (t >= 4294967296L) "g" // lexicographically above every hex string
    else f"$t%08x"
  }

  /** The sampling predicate on an arbitrary key column. */
  def keepExpr(key: Column, rate: Double): Column =
    substring(md5(key.cast("string")), 1, 8) < lit(hexThreshold(rate))

  /** 25% deterministic sample of documents by doc_id. */
  def sampledDocs(s: SparkSession, dir: String, rate: Double = 0.25): DataFrame =
    Tables.documents(s, dir)
      .filter(keepExpr(col("doc_id"), rate))
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Weighted dataset mix: per-source keep-rates (the "30% web, all of
    * wikipedia" recipe). One pass, one md5 per row; the per-source
    * threshold is a broadcast map baked into a CASE expression.
    */
  def weightedMix(s: SparkSession, dir: String,
                  weights: Map[String, Double] = DefaultMixWeights,
                  defaultRate: Double = 0.0): DataFrame = {
    val cases = weights.toSeq.sortBy(_._1).map { case (src, r) =>
      s"WHEN '$src' THEN '${hexThreshold(r)}'"
    }.mkString(" ")
    val thresholdExpr = s"CASE source $cases ELSE '${hexThreshold(defaultRate)}' END"
    Tables.documents(s, dir)
      .filter(expr(s"substr(md5(CAST(doc_id AS STRING)), 1, 8) < $thresholdExpr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("source"))
  }

  /** Fixture mix: keep all of src0, half of src1, a quarter of src2,
    * 10% of src3..src5, drop the rest.
    */
  val DefaultMixWeights: Map[String, Double] = Map(
    "src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25,
    "src3" -> 0.1, "src4" -> 0.1, "src5" -> 0.1)

  /** Fixed-size deterministic sample: exactly the N smallest-hash docs
    * per source (or fewer if the source is smaller) — the "carve out a
    * 100-doc eval set, reproducibly" op. Same content-addressing as the
    * rate sample, so membership is stable under reruns, engine swaps, and
    * corpus appends that don't disturb the chosen hashes. One per-source
    * window shuffle.
    */
  def exactNPerSource(s: SparkSession, dir: String, n: Int = 20): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("hkey"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("md5(CAST(doc_id AS STRING))").as("hkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= n)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget mixing: fill each source's token budget with documents
    * in deterministic hash order — "give me ~N tokens per source,
    * reproducibly" (the mixture recipe is usually expressed in tokens,
    * not keep-rates). A doc is kept iff the running token total of its
    * source, taken in md5(doc_id) order, stays within budget — the
    * cumulative-sum window makes the cut content-addressed and identical
    * across engines/partitionings, unlike a quota filled in arrival
    * order. One shuffle (the per-source window).
    */
  def tokenBudgetMix(s: SparkSession, dir: String,
                     budgetTokens: Long = 2000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("hkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.spread(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr(s"CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT)").as("n_tokens"),
        expr("md5(CAST(doc_id AS STRING))").as("hkey"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("mixed_tokens"))
      .orderBy(col("source"))
  }

  /** Temperature-scaled source mixing at α = 1/2 — the multilingual
    * sampling recipe (mT5 / XLM-R): sampling mass ∝ n_s^α flattens the
    * source distribution so a giant web crawl cannot drown the tail,
    * without going all the way to uniform. α is PINNED at 1/2 because
    * n^0.5 = sqrt(n) is a single correctly-rounded IEEE op — identical
    * on every engine — where pow(n, 0.7) is libm-territory (the TF-IDF
    * integer-surrogate reasoning; other α values belong to a caller
    * willing to pass precomputed weights to [[weightedMix]]).
    *
    * Mass w_s = floor(sqrt(n_s)·1e6 + 0.5) exact BIGINT; a document
    * budget B apportions as target_s = B·w_s DIV Σw, CAPPED at n_s —
    * the emitted `target` column keeps the uncapped ask visible, so the
    * deficit (the amount a training loop would up-sample/repeat, a
    * loop-side policy this operator does not fabricate rows for) is
    * auditable. Selection inside each source is the exactNPerSource
    * hash-rank discipline: content-addressed, stable under engine swaps
    * and appends that don't disturb the chosen hashes.
    *
    * 100 TB shape: one map-side per-source count (catalog-sized), a
    * 1-row total broadcast, one per-source window for the rank (the
    * balancedDownsample skew note applies verbatim: tiny quota × whale
    * source → swap the window for the TopK aggregator), and a
    * catalog-sized summary readout.
    */
  def temperatureMix(s: SparkSession, dir: String,
                     budgetDocs: Long = 1000): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("md5(CAST(doc_id AS STRING))").as("hkey"))
    val weights = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_source"))
      .withColumn("w",
        expr("""CAST(floor(sqrt(CAST(n_source AS DOUBLE))
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"""))
    val total = weights.agg(sum(col("w")).as("w_total"))
    val targets = weights.crossJoin(broadcast(total))
      .withColumn("target", expr(s"($budgetDocs * w) DIV w_total"))
      .select(col("source"), col("n_source"), col("w").as("weight_1e6"),
        col("target"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("hkey"), col("doc_id"))
    val kept = docs
      .withColumn("rk", row_number().over(w).cast("long"))
      .join(broadcast(targets.select(col("source"), col("target"))),
        Seq("source"))
      .filter(col("rk") <= col("target"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("k_kept"), sum(col("n_chars")).as("k_chars"))
    // Left-join the kept aggregate back onto the full targets frame so a
    // source whose apportioned target rounds to 0 still emits a row with
    // n_kept = 0 — the deficit the scaladoc promises stays auditable
    // (the tail sources a small budget squeezes out are exactly the ones
    // this operator exists to protect).
    targets.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_source"), col("weight_1e6"),
        col("target"),
        coalesce(col("k_kept"), lit(0L)).as("n_kept"),
        coalesce(col("k_chars"), lit(0L)).as("kept_chars"))
      .orderBy(col("source"))
  }

  /** [[temperatureMix]] as DuckDB SQL. */
  private[graft] def temperatureMixSql(budgetDocs: Long = 1000): String =
    s"""WITH docs AS (SELECT doc_id, source, n_chars,
                md5(CAST(doc_id AS STRING)) AS hkey
              FROM documents),
       weights AS (SELECT source, CAST(count(*) AS BIGINT) AS n_source,
                CAST(floor(sqrt(CAST(count(*) AS DOUBLE))
                  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  AS w
              FROM docs GROUP BY source),
       total AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM weights),
       targets AS (SELECT source, n_source, w AS weight_1e6,
                CAST(($budgetDocs * w) // w_total AS BIGINT) AS target
              FROM weights CROSS JOIN total),
       ranked AS (SELECT d.source, d.n_chars,
                CAST(row_number() OVER (PARTITION BY d.source
                  ORDER BY d.hkey, d.doc_id) AS BIGINT) AS rk
              FROM docs d),
       kept AS (SELECT r.source,
                CAST(count(*) AS BIGINT) AS k_kept,
                CAST(sum(r.n_chars) AS BIGINT) AS k_chars
              FROM ranked r JOIN targets t ON r.source = t.source
              WHERE r.rk <= t.target
              GROUP BY r.source)
       SELECT t.source, t.n_source, t.weight_1e6, t.target,
              CAST(COALESCE(k.k_kept, 0) AS BIGINT) AS n_kept,
              CAST(COALESCE(k.k_chars, 0) AS BIGINT) AS kept_chars
       FROM targets t LEFT JOIN kept k ON t.source = k.source
       ORDER BY t.source"""

  /** Class-balanced downsample: every language keeps exactly
    * min-class-count documents, chosen in deterministic md5(doc_id)
    * order — the rebalancing pass a classifier-training pipeline runs so
    * the majority language cannot drown the tail (the per-CLASS
    * counterpart of [[exactNPerSource]]'s fixed quota: here the quota is
    * DERIVED from the rarest class, so the output is balanced by
    * construction under feed growth). Emits the per-language census plus
    * the kept-id checksum, so the selection itself — not just its size —
    * is oracle-pinned.
    *
    * 100 TB shape: the quota is a two-level aggregate (per-lang counts,
    * catalog-sized, then one min — broadcast back); the rank is one
    * per-lang window. Language partitions are skewed by nature — at
    * scale, when the quota is small relative to the majority class, the
    * rank pass should swap to the map-side-combining TopK aggregator
    * ([[graft.functions.TopKAggregator]]) keyed by lang, which bounds
    * per-task state at quota size instead of sorting whole classes; the
    * window form here keeps the registry face declarative.
    */
  def balancedDownsample(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("hkey"), col("doc_id"))
    val docs = Tables.spread(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        expr("md5(CAST(doc_id AS STRING))").as("hkey"))
    val quota = docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      .agg(min(col("cnt")).as("n_keep"))
    docs.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(quota))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rk") <= col("n_keep"), lit(1L)).otherwise(lit(0L)))
          .as("n_kept"),
        sum(when(col("rk") <= col("n_keep"), col("doc_id")).otherwise(lit(0L)))
          .as("kept_id_sum"))
      .orderBy(col("lang"))
  }

  /** [[balancedDownsample]] as portable SQL (CAST AS STRING and md5 agree
    * on both engines; sums cast BIGINT against DuckDB HUGEINT promotion).
    */
  private[graft] def balancedDownsampleSql: String =
    """WITH r AS (SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
             FROM documents),
       q AS (SELECT min(cnt) AS n_keep
             FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang) c)
       SELECT lang,
              CAST(count(*) AS BIGINT) AS n_total,
              CAST(sum(CASE WHEN rk <= n_keep THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              CAST(sum(CASE WHEN rk <= n_keep THEN doc_id ELSE 0 END)
                   AS BIGINT) AS kept_id_sum
       FROM r CROSS JOIN q GROUP BY lang ORDER BY lang"""

  /** Systematic probability-proportional-to-size (PPS) sampling: lay the
    * corpus out on its cumulative token line (doc_id order) and take one
    * sampling point every `total/m` tokens — a document is drawn with
    * probability proportional to its token mass, heavy docs can be drawn
    * multiple times (n_points is the multiplicity), and the draw count
    * is EXACTLY m by construction (Σ n_points == m, pinned in the spec).
    * This is the classic survey-sampling PPS scheme, deterministic here
    * (fixed grid offset) so reruns and the oracle agree bit-for-bit —
    * the token-mass-weighted complement of [[sampledDocs]]' uniform
    * hash-rate draw.
    *
    * Arithmetic note: point positions are the 1-based multiples of the
    * stride, and both interval endpoints stay non-negative, so the
    * integer divisions never touch the trunc-vs-floor divergence between
    * engines on negative operands (the EWMA lesson).
    *
    * 100 TB shape: the cumulative line is the DISTRIBUTED prefix sum —
    * repartitionByRange on doc_id, per-partition running sums, broadcast
    * per-partition offsets (the revenueLorenz build, summing weights
    * instead of counting rows) — so no single task ever windows the
    * corpus; the oracle states the naive global cumsum, proving the
    * strategy result-invisible.
    */
  def ppsSample(s: SparkSession, dir: String, m: Long = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.spread(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT)").as("w"))
      .filter(col("w") > 0)
    val cum = RankUtils.prefixSum(docs, "w", 32, col("doc_id"))
    val tot = cum.agg(sum(col("w")).as("total"))
    cum.crossJoin(broadcast(tot))
      .withColumn("stride", expr(s"greatest(total DIV $m, 1)"))
      .withColumn("n_points", expr(s"""least(cum_hi DIV stride, $m)
                                       - least((cum_hi - w) DIV stride, $m)"""))
      .filter(col("n_points") >= 1)
      .select(col("doc_id"), col("w"), col("cum_hi"), col("n_points"))
      .orderBy(col("doc_id"))
  }

  /** [[ppsSample]] as DuckDB SQL (the cumsum is the naive global
    * window).
    */
  private[graft] def ppsSampleSql(m: Long): String =
    s"""WITH d AS (SELECT doc_id, w FROM (
           SELECT doc_id,
                  CAST(len(regexp_extract_all(lower(coalesce(text, '')),
                       '[a-z0-9]+')) AS BIGINT) AS w
           FROM documents) x WHERE w > 0),
       c AS (SELECT doc_id, w,
                    CAST(sum(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum_hi
             FROM d),
       t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM d),
       p AS (SELECT doc_id, w, cum_hi,
                    greatest(total // $m, 1) AS stride
             FROM c CROSS JOIN t)
       SELECT doc_id, w, cum_hi,
              CAST(least(cum_hi // stride, $m)
                   - least((cum_hi - w) // stride, $m) AS BIGINT) AS n_points
       FROM p
       WHERE least(cum_hi // stride, $m)
             - least((cum_hi - w) // stride, $m) >= 1
       ORDER BY doc_id"""
}
