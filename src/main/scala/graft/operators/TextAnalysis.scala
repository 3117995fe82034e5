package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Text-analysis operators for LLM training-data pipelines, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * All logic is pure Catalyst expressions (higher-order functions on
  * arrays — codegen-friendly, no UDFs), so it runs distributed with
  * map-side-only cost: no shuffle in any per-document operator.
  *
  * Engine-parity conventions (these expressions have DuckDB twins in
  * SparkEntry.oracleSql — keep them in lockstep):
  *  - tokens = regexp_extract_all(lower(text), '[a-z0-9]+')
  *  - hashes via md5 (identical hex output in every engine)
  *  - left-fold aggregates (Spark `aggregate` == DuckDB list_reduce)
  */
object TextAnalysis {

  /** Tokenizer expression shared by every operator. coalesce: a NULL text
    * tokenizes to the empty list (so null documents flow through stats /
    * dedup / chunking as empty, instead of propagating NULL arrays whose
    * size() is -1) — real corpora have null bodies even though the
    * fixtures don't. Mirrored by SparkEntry.Toks on the oracle side.
    */
  val TokensExpr = "regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+', 0)"

  /** Per-document token statistics. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .withColumn("toks", expr(TokensExpr))
      .select(
        col("doc_id"),
        col("n_chars"),
        expr("CAST(size(toks) AS BIGINT)").as("n_tokens"),
        expr("CAST(size(array_distinct(toks)) AS BIGINT)").as("n_distinct"),
        // half-up 4-decimal mean token length as BIGINT ten-thousandths —
        // pure integer arithmetic (see Similarity.Micro4 for why ratios of
        // small ints must not go through engine round())
        expr("""CAST((20000 * aggregate(transform(toks, t -> CAST(length(t) AS BIGINT)),
                      CAST(0 AS BIGINT), (a, b) -> a + b)
                + CAST(size(toks) AS BIGINT))
               div (2 * CAST(size(toks) AS BIGINT)) AS BIGINT)""").as("avg_token_len_1e4"))
      .orderBy(col("doc_id"))

  /** GPT-2-style pre-tokenizer pieces (the BPE-ish regex a token-budget
    * estimator runs before any merge table exists): contraction
    * suffixes, optionally space-prefixed letter / digit / punctuation
    * runs, residual whitespace runs. The upstream pattern's trailing-
    * space lookahead is dropped — RE2 (the oracle engine) rejects
    * lookaround, and the count is lookahead-invariant for the piece
    * classes kept here. Double-quoted SQL literal: the pattern itself
    * contains a single quote.
    */
  val BpePiecesExpr: String =
    """regexp_extract_all(coalesce(text, ''),
       "'(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}']+|\\s+", 0)"""

  /** Token-COUNT estimation for budget planning: the naive whitespace
    * split next to the BPE-ish pre-tokenizer piece count, plus the
    * chars-per-piece compression rate (ten-thousandths, half-up — the
    * number a 100 TB token-budget plan divides corpus bytes by).
    * Map-side only: one regex pass per document, no shuffle beyond the
    * final presentation sort.
    */
  def tokenEstimate(s: SparkSession, dir: String): DataFrame =
    tokenEstimateOf(Tables.spread(s, dir, "documents"))

  /** [[tokenEstimate]] over an explicit (doc_id, text) frame — the form
    * specs pin exact piece counts on (the parquet fixture is bare
    * lowercase words, which never exercises the punctuation / digit /
    * contraction splits).
    */
  private[graft] def tokenEstimateOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("bpe", expr(BpePiecesExpr))
      .withColumn("n_bpe",
        expr("""CAST(size(filter(bpe, t -> NOT (t RLIKE '^\\s+$'))) AS BIGINT)"""))
      .select(
        col("doc_id"),
        expr("""CAST(size(regexp_extract_all(coalesce(text, ''), '\\S+', 0)) AS BIGINT)""")
          .as("n_ws_tokens"),
        col("n_bpe").as("n_bpe_tokens"),
        expr("""CASE WHEN n_bpe > 0 THEN
                  CAST((20000 * CAST(length(coalesce(text, '')) AS BIGINT)
                        + n_bpe) div (2 * n_bpe) AS BIGINT)
                ELSE NULL END""").as("chars_per_bpe_1e4"))
      .orderBy(col("doc_id"))

  /** Quality-score building blocks, shared by [[qualityScore]] and
    * [[calibrateQuality]] so the two can never drift. Each expects the
    * `toks` column from [[TokensExpr]] in scope.
    */
  val StopHitsExpr =
    "CAST(size(filter(toks, t -> array_contains(array('the','a','of','and','to','in','is','it'), t))) AS BIGINT)"
  val PunctCharsExpr =
    "CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) AS BIGINT)"

  /** Quality scoring: length/stopword/punctuation heuristics composited
    * into one [0,1] score (the standard cheap pre-filter before expensive
    * dedup/model-based scoring at 100 TB).
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .withColumn("toks", expr(TokensExpr))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("stop_hits", expr(StopHitsExpr))
      .withColumn("punct_chars", expr(PunctCharsExpr))
      .select(
        col("doc_id"),
        col("n_tokens"),
        // ratios and the composite score as BIGINT ten-thousandths: the
        // ratio ints are exact, the composite is floor(product*1e4 + 0.5)
        // of bit-identical double factors — no engine round() anywhere
        expr("CAST((20000 * stop_hits + n_tokens) div (2 * n_tokens) AS BIGINT)")
          .as("stop_ratio_1e4"),
        expr("""CAST((20000 * punct_chars + CAST(length(text) AS BIGINT))
               div (2 * CAST(length(text) AS BIGINT)) AS BIGINT)""").as("punct_ratio_1e4"),
        // zero guard: 0-token / empty docs get NULL, not a 0/0 whose
        // NaN handling differs BETWEEN DUCKDB VERSIONS (v1.0.0: NULL;
        // newer ieee_floating_point_ops default: NaN, and CAST(NaN AS
        // BIGINT) then errors) — the guard keeps both engines at NULL
        expr(QualityExpr).as("quality_1e4"))
      .orderBy(col("doc_id"))

  /** The composite score itself (see the zero-guard note above). */
  val QualityExpr =
    """CASE WHEN n_tokens = 0 OR length(text) = 0 THEN NULL ELSE
       CAST(floor(
         least(CAST(1 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(50 AS DOUBLE))
         * (CAST(1 AS DOUBLE) - CAST(punct_chars AS DOUBLE) / CAST(length(text) AS DOUBLE))
         * (CAST(0.5 AS DOUBLE) + CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE))
         * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END"""

  /** Per-source quality CALIBRATION: the exact percent-rank of each doc's
    * quality score within its source, as a half-up 4-decimal BIGINT.
    * Sources have incomparable raw score distributions (different
    * punctuation norms, lengths); mixing or thresholding them on the raw
    * score over-prunes some sources — rank-normalizing first is the
    * standard fix.
    *
    * 100 TB shape: a naive `percent_rank() OVER (PARTITION BY source
    * ORDER BY score)` puts an entire source — possibly 50 TB — into ONE
    * window task. Instead the ranks come from the score CDF: the score
    * domain is BOUNDED (integer ten-thousandths, <= 10001 values), so
    * per-(source, score) counts aggregate map-side, the cumulative pass
    * runs over <= |sources| x 10001 rows (driver-trivial forever), and
    * the result joins back as a BROADCAST — the corpus itself is never
    * sorted or shuffled.
    */
  def calibrateQuality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.spread(s, dir, "documents")
      .withColumn("toks", expr(TokensExpr))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("stop_hits", expr(StopHitsExpr))
      .withColumn("punct_chars", expr(PunctCharsExpr))
      .withColumn("quality_1e4", expr(QualityExpr))
      .filter(col("quality_1e4").isNotNull)
      .select(col("doc_id"), col("source"), col("quality_1e4"))
    val wCum = Window.partitionBy("source").orderBy("quality_1e4")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy("source")
    val cdf = scored.groupBy(col("source"), col("quality_1e4"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("below", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(wAll))
      // min-rank percent_rank: (rank-1)/(N-1) with rank-1 == count below,
      // half-up in integer ten-thousandths; single-doc sources pin to 0
      .withColumn("pct_rank_1e4", expr(
        "CASE WHEN n = 1 THEN CAST(0 AS BIGINT) ELSE (20000 * below + (n - 1)) DIV (2 * (n - 1)) END"))
      .select(col("source"), col("quality_1e4"), col("pct_rank_1e4"))
    scored.join(broadcast(cdf), Seq("source", "quality_1e4"))
      .select(col("doc_id"), col("source"), col("quality_1e4"), col("pct_rank_1e4"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source QUANTILE NORMALIZATION of the quality score — one step
    * past [[calibrateQuality]]'s per-source percent-rank: each doc's
    * score is replaced by the POOLED distribution's value at the doc's
    * within-source quantile, so every source's score histogram becomes
    * the same (the pooled) histogram and one global threshold means the
    * same selectivity in every source. Rank convention: max-rank on ties
    * (cum count of scores <= own), pooled target rank
    * ceil(cum_s * N / n_s), normalized value = the target-rank-th
    * smallest pooled score — all exact integers.
    *
    * 100 TB shape: the same bounded-score-domain CDF trick as
    * calibrateQuality — per-(source, score) counts aggregate map-side to
    * a catalog frame (<= |sources| x 10001 rows), the pooled rank
    * intervals come from a window over <= 10001 rows, and the
    * (source, score) -> pooled-score mapping is a MERGE, not an interval
    * join: pooled interval starts (anchors) and per-source target ranks
    * (probes) union into one rank-ordered catalog frame and a forward-
    * fill window assigns each probe the last anchor at-or-below it —
    * O((cells + scores) log) where a naive interval join is
    * cells x scores (measurably quadratic until the domain cap bites:
    * 75s at sf0.1 vs ~1s for the merge). The result joins back to docs
    * as a BROADCAST; the corpus is never sorted or shuffled. The oracle
    * states the naive per-doc window-rank + row_number-indexed pooled
    * lookup, proving the CDF build result-invisible.
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.spread(s, dir, "documents")
      .withColumn("toks", expr(TokensExpr))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("stop_hits", expr(StopHitsExpr))
      .withColumn("punct_chars", expr(PunctCharsExpr))
      .withColumn("quality_1e4", expr(QualityExpr))
      .filter(col("quality_1e4").isNotNull)
      .select(col("doc_id"), col("source"), col("quality_1e4"))
    val cells = scored.groupBy(col("source"), col("quality_1e4"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // per-source CDF + pooled CDF read one frame
    val wS = Window.partitionBy("source").orderBy("quality_1e4")
      .rowsBetween(Window.unboundedPreceding, 0)
    val perSrc = cells
      .withColumn("cum_s", sum(col("cnt")).over(wS))
      .withColumn("n_s", sum(col("cnt")).over(Window.partitionBy("source")))
    // pooled rank intervals: scores sorted, value v owns ranks [lo, hi]
    val pooled = cells.groupBy(col("quality_1e4").as("pq"))
      .agg(sum(col("cnt")).as("pc"))
      .withColumn("hi", sum(col("pc")).over(Window.orderBy(col("pq"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("lo", col("hi") - col("pc") + 1)
      .localCheckpoint(true) // anchors + total read one frame
    val total = pooled.agg(max(col("hi")).as("n_total"))
    // merge, not interval-join: anchors (interval starts) and probes
    // (target ranks) share one rank-ordered frame; at equal rank the
    // anchor sorts first (kind 0), so forward-filling the last non-null
    // anchor value assigns each probe the greatest lo <= its target —
    // exactly "the interval containing it", in one catalog-sized window
    val anchors = pooled.select(col("lo").as("rk"), lit(0L).as("kind"),
      col("pq"), lit(null).cast("string").as("source"),
      lit(null).cast("long").as("quality_1e4"))
    val probes = perSrc.crossJoin(broadcast(total))
      .select(expr("(cum_s * n_total + n_s - 1) DIV n_s").as("rk"),
        lit(1L).as("kind"), lit(null).cast("long").as("pq"),
        col("source"), col("quality_1e4"))
    val mapping = anchors.union(probes)
      .withColumn("pooled_1e4", last(col("pq"), ignoreNulls = true).over(
        Window.orderBy(col("rk"), col("kind"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("kind") === 1L)
      .select(col("source"), col("quality_1e4"), col("pooled_1e4"))
    scored.join(broadcast(mapping), Seq("source", "quality_1e4"))
      .select(col("doc_id"), col("source"), col("quality_1e4"), col("pooled_1e4"))
      .orderBy(col("doc_id"))
  }

  /** Text cleaning / normalization: strip markup-ish tags, drop control
    * characters, collapse whitespace, trim — the canonicalization pass
    * that runs before fingerprinting and dedup in a training pipeline.
    * Patterns are restricted to the regex subset Java regex and RE2
    * interpret identically (no backrefs, no lookaround), so the oracle
    * reproduces the cleaning byte-for-byte.
    */
  def cleanText(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .withColumn("cleaned", expr(
        """trim(regexp_replace(regexp_replace(regexp_replace(text,
           '<[^>]*>', ' '), '[\\x00-\\x1f]', ' '), '\\s+', ' '))"""))
      .select(
        col("doc_id"),
        expr("md5(cleaned)").as("clean_fp"),
        expr("CAST(length(cleaned) AS BIGINT)").as("clean_chars"),
        expr("CAST(length(text) - length(cleaned) AS BIGINT)").as("removed_chars"))
      .orderBy(col("doc_id"))

  /** Language identification by stopword-marker voting (n-gram-free
    * heuristic: count hits from per-language marker sets, argmax with a
    * fixed precedence for ties). Deterministic and engine-portable.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "en" -> Seq("the", "and", "of", "to", "in", "is"),
      "de" -> Seq("der", "die", "und", "ist", "nicht", "das"),
      "fr" -> Seq("le", "la", "et", "les", "des", "est"),
      "es" -> Seq("el", "los", "que", "una", "por", "como"))
    val scored = markers.foldLeft(
      Tables.spread(s, dir, "documents").withColumn("toks", expr(TokensExpr))) {
      case (df, (lang, words)) =>
        val arr = words.map(w => s"'$w'").mkString(",")
        df.withColumn(s"s_$lang", expr(
          s"CAST(size(filter(toks, t -> array_contains(array($arr), t))) AS BIGINT)"))
    }
    scored.select(
      col("doc_id"), col("s_en"), col("s_de"), col("s_fr"), col("s_es"),
      expr("""CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                   WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                   WHEN s_fr >= s_es THEN 'fr'
                   ELSE 'es' END""").as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Top-5 tokens per source (explode → count → rank): the
    * generator-then-aggregate shape. Shuffle volume is (source, token)
    * pairs after map-side combine, never the raw token stream.
    */
  def topTokensPerSource(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n").desc, col("token"))
    Tables.spread(s, dir, "documents")
      .select(col("source"), explode(expr(TokensExpr)).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("token"), col("n"))
      .orderBy(col("source"), col("rk"))
  }

  /** Document fingerprints: md5 of the token-normalized text (exact-dedup
    * key) + a 31-radix rolling hash over token codes (order-sensitive,
    * cheap to compare/shard on).
    */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .withColumn("toks", expr(TokensExpr))
      .select(
        col("doc_id"),
        expr("md5(array_join(toks, ' '))").as("fp_md5"),
        expr("""aggregate(
                  transform(toks, t -> CAST(length(t) * 131 + ascii(substr(t, 1, 1)) AS BIGINT)),
                  CAST(7 AS BIGINT),
                  (a, b) -> (a * 31 + b) % 1000000007)""").as("fp_rolling"))
      .orderBy(col("doc_id"))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS local fingerprinting algorithm, public literature): hash
    * every k-char gram of the token-normalized text, slide a w-gram
    * window over the hash sequence, and select each window's MINIMUM
    * hash, breaking ties by the RIGHTMOST position — the classic rule
    * under which selection depends only on window contents, so the same
    * substring always yields the same fingerprints wherever it appears.
    * The winnowing guarantee: any shared substring of length >=
    * w + k - 1 between two documents surfaces as at least one shared
    * fingerprint (no false negatives at that match length); expected
    * fingerprint density is 2/(w+1). [[fingerprints]] is the whole-doc
    * key; this is its LOCAL sibling — the primitive behind partial-copy
    * and quotation detection, where whole-doc hashes see nothing.
    *
    * Determinism/parity: gram hash = md5 (lexicographic min, the Dedup
    * discipline); the (hash asc, pos desc) tie rule packs into ONE
    * string as concat(h, lpad(999999 - pos)) so both engines take a
    * plain min(). Documents are fingerprintable to 1e6 - 1 grams; the
    * packing guard fails loudly past that (the nearestInLabel rule).
    *
    * 100 TB shape: one corpus scan, posexplode to ~len grams per doc,
    * ONE doc-keyed window pass (frame min + partition count ride the
    * same sort), distinct, and a per-doc hash aggregate — a single
    * shuffle on doc_id; nothing pairwise, nothing corpus-global.
    */
  def winnowFingerprints(s: SparkSession, dir: String,
                         k: Int = 8, w: Int = 4): DataFrame =
    winnowSelections(Tables.spread(s, dir, "documents"), k, w)
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_grams"),
        count(lit(1)).as("n_fps"),
        countDistinct(expr("substring(wmin, 1, 32)")).as("n_uniq_hashes"),
        min(expr("substring(wmin, 1, 32)")).as("min_fp"))
      .orderBy(col("doc_id"))

  /** The winnowing selection frame over a (doc_id, text) input: one
    * distinct (doc_id, n, wmin) row per selected fingerprint, where
    * wmin = 32-hex md5 || 6-digit reversed position (exposed so specs
    * can pin the shared-substring guarantee on synthetic frames).
    */
  private[graft] def winnowSelections(docs: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be positive")
    val txt = docs
      .withColumn("txt", expr(s"array_join($TokensExpr, ' ')"))
      .filter(length(col("txt")) >= k)
    val packed = txt.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, length(txt) - $k), i -> md5(substring(txt, i + 1, $k)))"))
          .as(Seq("pos", "h")))
      .withColumn("pk", expr(
        """CASE WHEN pos < 999999
            THEN concat(h, lpad(CAST(999999 - pos AS STRING), 6, '0'))
            ELSE raise_error('winnowFingerprints: document exceeds the 1e6-gram packing range')
            END"""))
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1)
    val whole = Window.partitionBy(col("doc_id"))
    packed
      .withColumn("wmin", min(col("pk")).over(frame))
      .withColumn("n", count(lit(1)).over(whole))
      // one selection per window START (positions 0 .. n-w); a doc
      // shorter than w grams still gets its single all-grams window
      .filter(col("pos") <= greatest(col("n") - w, lit(0)))
      .select(col("doc_id"), col("n"), col("wmin")).distinct()
  }

  /** Gopher-style repetition signals: the fraction of word-bigram
    * OCCURRENCES that are repeats, and the fraction taken by the single
    * most frequent bigram — the standard cheap filters for boilerplate /
    * generated text. Shape: explode to (doc, bigram) and aggregate with
    * map-side combine, so the shuffle carries per-doc-distinct bigrams,
    * never the raw token stream. Ratios are half-up 4-decimal BIGINT
    * fixed-point (integer-exact across engines).
    */
  def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.spread(s, dir, "documents")
      .withColumn("ws", expr(TokensExpr))
      .filter(expr("size(ws) >= 2"))
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
          .as("gram"))
    grams.groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("n")).as("top_n"))
      .select(
        col("doc_id"), col("n_grams"), col("n_distinct"),
        expr("CAST((20000 * (n_grams - n_distinct) + n_grams) div (2 * n_grams) AS BIGINT)")
          .as("dup_gram_ratio_1e4"),
        expr("CAST((20000 * top_n + n_grams) div (2 * n_grams) AS BIGINT)")
          .as("top_gram_frac_1e4"))
      .orderBy(col("doc_id"))
  }

  /** Rank-equivalent integer TF-IDF: per-document top-3 terms scored by
    * tf * 1e6 div df (df = number of docs containing the term). The true
    * tf*ln(N/df) ranking is monotone in tf/df for a fixed corpus, and the
    * integer surrogate sidesteps cross-engine libm log() last-bit skew —
    * the same exactness discipline as every ratio in this repo. df comes
    * from a window over the (doc, term) tf table: cost is one shuffle of
    * per-doc-distinct terms, never the raw token stream.
    */
  def tfidfTopTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val tf = Tables.spread(s, dir, "documents")
      .select(col("doc_id"), explode(expr(TokensExpr)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score_1e6").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .withColumn("score_1e6", expr("CAST((tf * 1000000) div df AS BIGINT)"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk").cast("long").as("rk"),
        col("term"), col("tf"), col("df"), col("score_1e6"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Fixed-size token chunking with overlap (size 40, stride 30): the
    * context-window prep step of a training pipeline. Pure per-row explode
    * — zero shuffles; chunk identity is the md5 of the joined tokens so
    * downstream chunk-level dedup can run exactly like doc-level dedup.
    */
  def chunkDocs(s: SparkSession, dir: String,
                size: Int = 40, stride: Int = 30): DataFrame = {
    require(stride > 0 && size > 0)
    Tables.spread(s, dir, "documents")
      .withColumn("ws", expr(TokensExpr))
      .filter(expr("size(ws) >= 1"))
      .select(col("doc_id"), col("ws"),
        posexplode(expr(s"sequence(0, size(ws) - 1, $stride)")).as(Seq("chunk_idx", "start")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"slice(ws, start + 1, $size)").as("chunk"))
      .select(
        col("doc_id"), col("chunk_idx"),
        expr("CAST(size(chunk) AS BIGINT)").as("chunk_tokens"),
        expr("md5(array_join(chunk, ' '))").as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Chunk-level cross-document dedup: identical 40-token chunks shared
    * by MULTIPLE documents (boilerplate / template detection — the
    * chunk-granularity twin of exact doc dedup, catching repeated passages
    * that whole-document hashing misses). One shuffle on the chunk hash
    * with map-side combine.
    */
  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    chunkDocs(s, dir)
      .groupBy(col("chunk_md5"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("keeper_doc_id"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("chunk_md5"))

  // PII regex patterns, Java-regex/RE2-portable (no lookaround, no
  // backrefs). The Spark constants are SQL-literal-escaped (\\ -> \);
  // keep them in lockstep with the single-backslash DuckDB twins in
  // SparkEntry.oracleSql.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}"
  val PhoneRe = "\\\\b\\\\d{3}-\\\\d{3}-\\\\d{4}\\\\b"
  val IpRe = "\\\\b\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\b"

  /** PII redaction: emails, phone numbers, IPv4 addresses -> typed
    * placeholder tokens, with per-kind match counts. Redaction order is
    * fixed (emails, then phones, then IPs) so overlapping matches resolve
    * identically everywhere. The fixture corpus carries no PII, so the
    * operator first augments each document with synthetic, doc_id-derived
    * PII — the oracle rebuilds the identical augmented text, making the
    * redaction itself (not just a no-op pass) hash-verified.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .withColumn("aug", expr(
        """concat(text, ' contact user', CAST(doc_id AS STRING),
           '@mail.example.com or call 555-',
           lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), '-',
           lpad(CAST(doc_id % 10000 AS STRING), 4, '0'),
           ' from 10.', CAST(doc_id % 256 AS STRING), '.0.1')"""))
      .select(
        col("doc_id"),
        expr(s"CAST(size(regexp_extract_all(aug, '$EmailRe', 0)) AS BIGINT)").as("n_emails"),
        expr(s"CAST(size(regexp_extract_all(aug, '$PhoneRe', 0)) AS BIGINT)").as("n_phones"),
        expr(s"CAST(size(regexp_extract_all(aug, '$IpRe', 0)) AS BIGINT)").as("n_ips"),
        expr(s"""md5(regexp_replace(regexp_replace(regexp_replace(aug,
                 '$EmailRe', '<EMAIL>'),
                 '$PhoneRe', '<PHONE>'),
                 '$IpRe', '<IP>'))""").as("redacted_md5"))
      .orderBy(col("doc_id"))

  /** Corpus filter FUNNEL: the canonical training-data pipeline
    * composition — quality gate, then language gate, then near-dup
    * removal — reported as cumulative per-stage survivor counts and
    * character volume (the numbers a data curation run logs).
    *
    * Shape at scale: the quality and language gates are per-row
    * expressions, so they FUSE into one projection over a single corpus
    * scan (joining the standalone qualityScore/langId outputs would
    * re-read the text column three times — the dominant cost at 100 TB);
    * only the tiny near-dup drop set joins. All four stage counters are
    * CONDITIONAL AGGREGATES of that flagged table — one scan, one final
    * single-row aggregate unstacked into stage rows. The flag expressions
    * are definitionally the qualityScore / langId formulas (their specs
    * and oracles pin the shared semantics).
    */
  /** Per-source corpus report card: the summary panel a curation run
    * prints per data source — document count, token volume, language mix,
    * and quality mass. One scan, one groupBy(source); every output is an
    * exact integer (sums, not means — a mean would drag engine division
    * semantics into the comparison; consumers divide at display time).
    */
  def corpusReport(s: SparkSession, dir: String): DataFrame =
    corpusReportOn(Tables.spread(s, dir, "documents"))

  /** The report over a doc_id slice [lo, hi) — the mergeable building
    * block of incremental curation: a batch run reports its own slice and
    * the running total is mergeCorpusReports of the batch reports, never a
    * corpus rescan. Exact because every output is a count or a sum.
    */
  def corpusReportSlice(s: SparkSession, dir: String,
                        lo: Long, hi: Long = Long.MaxValue): DataFrame =
    corpusReportOn(Tables.spread(s, dir, "documents")
      .filter(col("doc_id") >= lo && col("doc_id") < hi))

  /** Merge per-slice report cards: counts and sums re-aggregate exactly,
    * so merge(report(prefix), report(delta)) == report(all) (OperatorSpec
    * pins it; q_corpus_report_incremental proves it against the oracle's
    * from-scratch recompute).
    */
  def mergeCorpusReports(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_tokens")).as("total_tokens"),
        sum(col("en_docs")).as("en_docs"),
        sum(col("quality_sum_1e4")).as("quality_sum_1e4"))
      .orderBy(col("source"))

  private def corpusReportOn(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr(TokensExpr))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("stop_hits", expr(
        "CAST(size(filter(toks, t -> array_contains(array('the','a','of','and','to','in','is','it'), t))) AS BIGINT)"))
      .withColumn("punct_chars", expr(
        "CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) AS BIGINT)"))
      .withColumn("quality_1e4", expr(
        """CASE WHEN n_tokens = 0 OR length(text) = 0 THEN NULL ELSE
           CAST(floor(
             least(CAST(1 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(50 AS DOUBLE))
             * (CAST(1 AS DOUBLE) - CAST(punct_chars AS DOUBLE) / CAST(length(text) AS DOUBLE))
             * (CAST(0.5 AS DOUBLE) + CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END"""))
      .withColumn("is_en", expr(
        """CAST(size(filter(toks, t -> array_contains(array('the','and','of','to','in','is'), t))) AS BIGINT)
             >= CAST(size(filter(toks, t -> array_contains(array('der','die','und','ist','nicht','das'), t))) AS BIGINT)
           AND CAST(size(filter(toks, t -> array_contains(array('the','and','of','to','in','is'), t))) AS BIGINT)
             >= CAST(size(filter(toks, t -> array_contains(array('le','la','et','les','des','est'), t))) AS BIGINT)
           AND CAST(size(filter(toks, t -> array_contains(array('the','and','of','to','in','is'), t))) AS BIGINT)
             >= CAST(size(filter(toks, t -> array_contains(array('el','los','que','una','por','como'), t))) AS BIGINT)"""))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("is_en"), lit(1L)).otherwise(lit(0L))).as("en_docs"),
        sum(coalesce(col("quality_1e4"), lit(0L))).as("quality_sum_1e4"))
      .orderBy(col("source"))

  def corpusFunnel(s: SparkSession, dir: String): DataFrame =
    funnelCounts(s, dir, 0L, Long.MaxValue,
      Dedup.minHashLsh(s, dir).select(col("doc_b").as("doc_id")))

  /** The funnel a PAST curation run produced, when the corpus ended at
    * maxDocIdExclusive: gates and near-dup pairs both restricted to the
    * prefix. The keeper-is-smallest-doc-id drop policy makes curation
    * append-monotone — a prefix doc can never be dropped by a later
    * arrival — so this snapshot stays exact forever and merges with delta
    * funnels.
    */
  def corpusFunnelSlice(s: SparkSession, dir: String,
                        maxDocIdExclusive: Long): DataFrame =
    funnelCounts(s, dir, 0L, maxDocIdExclusive,
      Dedup.minHashLsh(s, dir, maxDocIdExclusive = maxDocIdExclusive)
        .select(col("doc_b").as("doc_id")))

  /** The funnel of a delta batch (doc_id >= minDeltaId) against an
    * already-indexed corpus: gates run over the delta only, and the dup
    * gate screens the delta against corpus+delta via the O(delta)
    * incremental LSH — no full-corpus rescan anywhere.
    * merge(corpusFunnelSlice(split), this) == corpusFunnel(all).
    */
  def corpusFunnelDelta(s: SparkSession, dir: String, indexDir: String,
                        minDeltaId: Long): DataFrame =
    funnelCounts(s, dir, minDeltaId, Long.MaxValue,
      Dedup.minHashLshIncremental(s, dir, indexDir, minDeltaId)
        .select(col("doc_b").as("doc_id")))

  /** Merge funnel snapshots stage-by-stage (counts and char sums add). */
  def mergeFunnels(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("stage"))
      .agg(sum(col("docs_kept")).as("docs_kept"),
        sum(col("chars_kept")).as("chars_kept"))
      .orderBy(col("stage"))

  private def funnelCounts(s: SparkSession, dir: String, lo: Long, hi: Long,
                           dropIds: DataFrame): DataFrame = {
    val drops = dropIds.distinct().withColumn("is_dup", lit(true))
    val flagged = Tables.spread(s, dir, "documents")
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .withColumn("toks", expr(TokensExpr))
      .withColumn("n_tokens", expr("CAST(size(toks) AS BIGINT)"))
      .withColumn("stop_hits", expr(
        "CAST(size(filter(toks, t -> array_contains(array('the','a','of','and','to','in','is','it'), t))) AS BIGINT)"))
      .withColumn("punct_chars", expr(
        "CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '')) AS BIGINT)"))
      .withColumn("quality_1e4", expr(
        """CASE WHEN n_tokens = 0 OR length(text) = 0 THEN NULL ELSE
           CAST(floor(
             least(CAST(1 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(50 AS DOUBLE))
             * (CAST(1 AS DOUBLE) - CAST(punct_chars AS DOUBLE) / CAST(length(text) AS DOUBLE))
             * (CAST(0.5 AS DOUBLE) + CAST(stop_hits AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) END"""))
      .withColumn("s_en", expr(
        "CAST(size(filter(toks, t -> array_contains(array('the','and','of','to','in','is'), t))) AS BIGINT)"))
      .withColumn("s_de", expr(
        "CAST(size(filter(toks, t -> array_contains(array('der','die','und','ist','nicht','das'), t))) AS BIGINT)"))
      .withColumn("s_fr", expr(
        "CAST(size(filter(toks, t -> array_contains(array('le','la','et','les','des','est'), t))) AS BIGINT)"))
      .withColumn("s_es", expr(
        "CAST(size(filter(toks, t -> array_contains(array('el','los','que','una','por','como'), t))) AS BIGINT)"))
      .join(drops, Seq("doc_id"), "left")
      .select(col("n_chars"),
        // empty docs have NULL quality (0-token division) -> fail the gate
        coalesce(col("quality_1e4") >= 5000, lit(false)).as("q_ok"),
        coalesce(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
          col("s_en") >= col("s_es"), lit(false)).as("l_ok"),
        coalesce(col("is_dup"), lit(false)).as("dup"))
    def cnt(cond: String) = s"sum(CASE WHEN $cond THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    def chars(cond: String) = s"sum(CASE WHEN $cond THEN n_chars ELSE CAST(0 AS BIGINT) END)"
    flagged.selectExpr(
      s"${cnt("true")} AS c0", s"${chars("true")} AS h0",
      s"${cnt("q_ok")} AS c1", s"${chars("q_ok")} AS h1",
      s"${cnt("q_ok AND l_ok")} AS c2", s"${chars("q_ok AND l_ok")} AS h2",
      s"${cnt("q_ok AND l_ok AND NOT dup")} AS c3",
      s"${chars("q_ok AND l_ok AND NOT dup")} AS h3")
      .selectExpr(
        """stack(4,
           '0_all', c0, h0,
           '1_quality', c1, h1,
           '2_lang_en', c2, h2,
           '3_dedup', c3, h3) AS (stage, docs_kept, chars_kept)""")
      .orderBy(col("stage"))
  }

  /** Length-filter impact curve: how many documents and tokens survive
    * each candidate minimum-token cutoff — the diagnostic read before
    * committing a length gate (too high silently deletes whole sources;
    * too low admits fragments). Same explode-to-grid shape as the dedup
    * threshold sweep: each doc contributes one row per cutoff it passes
    * (<= 5), so the whole curve is one scan + one tiny aggregate.
    */
  def lengthFilterImpact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens", expr(s"CAST(size($TokensExpr) AS BIGINT)"))
      .withColumn("min_tokens", explode(expr(
        "filter(array(CAST(1 AS BIGINT), 5, 10, 25, 50), t -> t <= n_tokens)")))
      .groupBy(col("min_tokens"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy(col("min_tokens"))

  /** Corpus-wide boilerplate detection (the C4/RefinedWeb "remove
    * template text" signal): a shingle is boilerplate when it appears in
    * at least `dfPctThreshold`% of documents; each document reports how
    * much of its distinct-shingle mass is boilerplate. The RELATIVE
    * threshold keeps the semantics scale-invariant — 1% means the same
    * thing on 500 docs and 5 billion.
    *
    * 100 TB shape: pass 1 aggregates shingle document-frequency
    * (map-side combined, shuffle carries doc-distinct shingles only) and
    * keeps the over-threshold set, whose size is PROVABLY bounded by
    * 100/dfPct x avg-shingles-per-doc regardless of corpus size (at most
    * total_occurrences / (n_docs x dfPct/100) distinct survivors) — so
    * it always broadcasts. Pass 2 re-streams the corpus against that
    * broadcast set: no corpus-sized shuffle anywhere.
    */
  def boilerplate(s: SparkSession, dir: String, dfPctThreshold: Int = 1): DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
      .withColumn("ws", expr(TokensExpr))
      .filter(expr("size(ws) >= 3"))
      .withColumn("sh", expr(Dedup.ShinglesExpr))
    val ex = docs.select(col("doc_id"),
      expr("CAST(size(sh) AS BIGINT)").as("n_sh"), explode(col("sh")).as("shingle"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val boiler = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(100) >= col("n_docs") * lit(dfPctThreshold))
      .select(col("shingle"), lit(1L).as("hit"))
    ex.join(broadcast(boiler), Seq("shingle"), "left")
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_boiler"))
      // half-up 4-decimal boilerplate fraction, pure integer arithmetic
      .withColumn("boiler_1e4", expr("(20000 * n_boiler + n_sh) DIV (2 * n_sh)"))
      .select(col("doc_id"), col("n_sh"), col("n_boiler"), col("boiler_1e4"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary-coverage report: per source, the fraction of token
    * OCCURRENCES covered by the global top-N vocabulary — the tokenizer
    * diagnostics that decide whether a vocab size is adequate per feed
    * (a low-coverage source will fragment into byte-level pieces and
    * inflate its effective sequence lengths). Top-N selection is totally
    * ordered (count desc, token) so the vocab set is deterministic.
    *
    * 100 TB shape: one map-side-combined (source, word) aggregate would
    * work but is unnecessary — the global vocab aggregate shuffles the
    * vocabulary once, the top-N is TakeOrderedAndProject, and the N-row
    * vocab BROADCASTS back onto a second corpus scan whose per-source
    * rollup is map-side combined. Nothing corpus-sized shuffles.
    */
  def vocabCoverage(s: SparkSession, dir: String, topN: Int = 10): DataFrame = {
    val toks = Tables.spread(s, dir, "documents")
      .select(col("source"), explode(expr(TokensExpr)).as("w"))
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(topN)
      .select(col("w"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("in_vocab"), lit(0L))).as("n_covered"))
      .withColumn("coverage_1e4", expr("(20000 * n_covered + n_tokens) DIV (2 * n_tokens)"))
      .orderBy(col("source"))
  }

  /** Token-ID ENCODING — the step that turns the curated corpus into
    * training-ready integer sequences: a frequency-ranked vocabulary
    * (top [[vocabSize]] tokens, id 1..V by (count desc, token); 0 is the
    * reserved OOV id — V defaults to 16 because the synthetic corpus has
    * ~31 distinct tokens, so both the covered and the OOV path carry
    * real traffic; production V is whatever the tokenizer contract
    * says), each document re-emitted as its id sequence IN
    * TOKEN ORDER, with token/OOV counts and an md5 of the sequence (the
    * digest makes the full ordered encoding oracle-comparable without
    * shipping engine-specific array types through the compare).
    *
    * Order discipline: collect_list gives NO ordering guarantee under
    * partitioned aggregation, so the sequence is reassembled as
    * sort_array(collect_list(struct(pos, id))) — deterministic on every
    * partitioning — and only then projected to ids.
    *
    * 100 TB shape: one token-count aggregate; top-V exits via
    * TakeOrderedAndProject and the V-row vocab (with ranks from a window
    * over V rows, never the full vocabulary) BROADCASTS onto the
    * posexploded corpus; reassembly is one doc-keyed aggregate whose
    * per-group payload is the doc's own token count — the same bound as
    * reading the document. Nothing vocabulary- or corpus-sized sorts
    * globally.
    */
  def encodeDocs(s: SparkSession, dir: String, vocabSize: Int = 16): DataFrame = {
    val toks = tokenPositions(s, dir)
    encodeWithVocab(toks, vocabOf(toks, vocabSize))
  }

  /** (doc_id, pos, w) token stream in document order; `pred` prunes the
    * scan BEFORE tokenization (a doc_id range predicate pushes down).
    */
  private def tokenPositions(s: SparkSession, dir: String,
                             pred: Column = lit(true)): DataFrame =
    Tables.spread(s, dir, "documents").filter(pred)
      .select(col("doc_id"), posexplode(expr(TokensExpr)).as(Seq("pos", "w")))

  /** Frequency-ranked top-V vocabulary of a token stream: (w, vid) with
    * vid 1..V by (count desc, token); 0 stays reserved for OOV.
    */
  private def vocabOf(toks: DataFrame, vocabSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("w"))
    toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize)
      .withColumn("vid", row_number().over(w).cast("long"))
      .select(col("w"), col("vid"))
  }

  private def encodeWithVocab(toks: DataFrame, vocab: DataFrame): DataFrame =
    toks.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("vid"), lit(0L)).as("id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("id") === 0L, lit(1L)).otherwise(lit(0L))).as("n_oov"),
        expr("""md5(array_join(transform(
                 sort_array(collect_list(struct(pos, id))),
                 x -> CAST(x.id AS STRING)), ','))""")
          .as("ids_md5"))
      .orderBy(col("doc_id"))

  /** Stage the frequency-ranked vocabulary of the REFERENCE corpus slice
    * (doc_id < maxDocIdExclusive) as a parquet artifact — the frozen
    * tokenizer of the incremental encode path. In production the
    * tokenizer NEVER retrains per batch (retraining would re-id every
    * historical sequence); this is that contract as a staged index, the
    * `_centroids` discipline applied to text.
    */
  def buildVocabIndex(s: SparkSession, dir: String, vocabDir: String,
                      vocabSize: Int = 16,
                      maxDocIdExclusive: Long = Long.MaxValue): String = {
    vocabOf(tokenPositions(s, dir, col("doc_id") < maxDocIdExclusive),
      vocabSize)
      .write.mode("overwrite").parquet(vocabDir)
    vocabDir
  }

  /** Incremental token-ID encoding: ONLY delta documents
    * (doc_id >= minDeltaId) are tokenized and encoded, against the
    * staged FROZEN vocabulary — O(delta) work per batch, and every
    * previously-emitted sequence stays valid (ids never re-map). OOV
    * drift is visible in the output's n_oov, which is exactly the signal
    * that schedules a tokenizer refresh.
    */
  def encodeDocsIncremental(s: SparkSession, dir: String, vocabDir: String,
                            minDeltaId: Long): DataFrame =
    encodeWithVocab(
      tokenPositions(s, dir, col("doc_id") >= minDeltaId),
      Tables.parquet(s, vocabDir))

  /** Domain-affinity scoring for data selection (the DSIR idea — rank
    * corpus documents by how much their features lean toward a target
    * domain — re-expressed in exact integer arithmetic): each shingle
    * gets a Laplace-smoothed document-frequency lift
    * `w = 1e4 * (t_df+1)(C+1) / ((c_df+1)(T+1))` (target-rate over
    * corpus-rate), and a document scores the floor-average of its
    * distinct shingles' weights. A ratio-of-smoothed-rates is the
    * monotone integer-exact stand-in for the log-likelihood-ratio sum —
    * floats never enter, so the DuckDB oracle matches bit-for-bit. The
    * `targetSource` feed stands in for the curated target domain.
    *
    * 100 TB shape: one pass builds the per-shingle (t_df, c_df) table
    * (map-side-combined; the shuffle carries doc-distinct shingles); the
    * weight table is vocabulary-sized so it joins on shingle (never
    * broadcast); per-doc averaging is one more hash aggregate. Products
    * run in DECIMAL(38,0) — df x corpus-count overflows BIGINT at
    * warehouse scale.
    */
  def domainAffinity(s: SparkSession, dir: String, targetSource: String): DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
      .withColumn("ws", expr(TokensExpr))
      .filter(expr("size(ws) >= 3"))
      .withColumn("sh", expr(Dedup.ShinglesExpr))
    val ex = docs.select(col("doc_id"), col("source"),
      expr("CAST(size(sh) AS BIGINT)").as("n_sh"), explode(col("sh")).as("shingle"))
    val isT = col("source") === targetSource
    val df = ex.groupBy(col("shingle")).agg(
      sum(when(isT, lit(1L)).otherwise(lit(0L))).as("t_df"),
      sum(when(isT, lit(0L)).otherwise(lit(1L))).as("c_df"))
    val tot = docs.agg(
      sum(when(isT, lit(1L)).otherwise(lit(0L))).as("t_docs"),
      sum(when(isT, lit(0L)).otherwise(lit(1L))).as("c_docs"))
    ex.filter(!isT)
      .join(df, Seq("shingle"))
      .crossJoin(broadcast(tot))
      .withColumn("wnum", expr(
        "CAST(10000 AS DECIMAL(38,0)) * CAST(t_df + 1 AS DECIMAL(38,0)) * CAST(c_docs + 1 AS DECIMAL(38,0))"))
      .withColumn("wden", expr(
        "CAST(c_df + 1 AS DECIMAL(38,0)) * CAST(t_docs + 1 AS DECIMAL(38,0))"))
      .withColumn("w", expr("CAST((wnum - wnum % wden) / wden AS BIGINT)"))
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(sum(col("w")).as("w_sum"))
      .withColumn("affinity_1e4", expr("w_sum DIV n_sh"))
      .select(col("doc_id"), col("n_sh"), col("affinity_1e4"))
      .orderBy(col("doc_id"))
  }

  /** BPE merge statistics: the adjacent-symbol pair counts that drive a
    * byte-pair-encoding tokenizer's first merge choice, computed over the
    * WORD HISTOGRAM rather than the token stream — the optimization real
    * trainers use: the corpus collapses into (distinct word, frequency)
    * first, then pair multiplicities inside each distinct word are
    * weighted by its frequency. Top-K pairs by weighted count.
    *
    * The merge LOOP itself (apply best pair, recount, repeat) is
    * bounded-vocabulary driver work and deliberately out of scope; this
    * operator is the corpus-scale step that loop re-invokes.
    *
    * 100 TB shape: one map-side-combined word-count aggregate (shuffle
    * carries the vocabulary, not the corpus), then pair explosion over
    * DISTINCT WORDS only — cost is vocabulary-bounded, independent of
    * how often each word repeats. Final top-K is TakeOrderedAndProject.
    */
  def bpePairCounts(s: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val words = Tables.spread(s, dir, "documents")
      .select(explode(expr(TokensExpr)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    words.filter(length(col("w")) >= 2)
      .select(col("freq"), explode(expr(
        """transform(sequence(1, length(w) - 1),
           i -> named_struct('l', substring(w, i, 1), 'r', substring(w, i + 1, 1)))""")).as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum(col("freq")).as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("left_sym"), col("right_sym"))
      .limit(topK)
  }

  /** Collocation mining: the corpus's top bigram collocations by PMI-style
    * lift — P(w1 w2) / (P(w1) P(w2)) in 4-decimal fixed point, which is
    * exp(PMI) and therefore rank-equivalent to PMI without ever touching
    * floating-point logs (cross-engine exactness). The classic first step
    * of phrase induction ("new york" style merges) over a training corpus.
    *
    * lift_1e4 = floor(1e4 * c_ab * N / (c_a * c_b)) computed as the exact
    * truncated DECIMAL(38,0) quotient (c_ab * N overflows BIGINT at
    * ~1e12-token corpora; same guard as the regression-moments operator).
    *
    * 100 TB shape: unigram and bigram counts are one map-side-combined
    * hash aggregate each; the count-threshold prunes the bigram table
    * BEFORE the two vocabulary joins (equi-joins on word — the vocabulary
    * scales with the corpus, so it is never broadcast); the final top-K is
    * TakeOrderedAndProject (per-partition heaps + one K-row reduce), never
    * a global sort.
    */
  def collocations(s: SparkSession, dir: String, minCount: Long = 5,
                   topK: Int = 25): DataFrame = {
    val toks = Tables.spread(s, dir, "documents").withColumn("ws", expr(TokensExpr))
    val uni = toks.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n_tokens"))
    val bi = toks.filter(expr("size(ws) >= 2"))
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi.join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("num", expr(
        "CAST(10000 AS DECIMAL(38,0)) * CAST(c_ab AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0))"))
      .withColumn("den", expr("CAST(c_a AS DECIMAL(38,0)) * CAST(c_b AS DECIMAL(38,0))"))
      .withColumn("lift_1e4", expr("CAST((num - num % den) / den AS BIGINT)"))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"), col("lift_1e4"))
      .orderBy(col("lift_1e4").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** N-gram language-model quality scoring (the CCNet/KenLM-style
    * perplexity filter, exact-integer form): a bigram model is counted
    * from a REFERENCE slice of the corpus (lang = refLang documents, the
    * "clean" distribution), and every document scores by the average
    * add-one-smoothed conditional frequency of its bigrams under that
    * model — in micro units, so the whole chain is integer-exact and
    * engine-portable (the monotone stand-in for mean log-prob; same
    * discipline as domainAffinity's lift, applied to ADJACENT-pair
    * conditionals rather than per-shingle df). Low scorers are the
    * perplexity outliers a curation pipeline drops or down-weights.
    *
    * term = (C(w1,w2) + 1) * 1e6 // (C(w1,·) + V): C from the reference
    * bigram table, V = the reference's distinct-head vocabulary size (the
    * add-one denominator), unseen pairs fall back to 1e6 // V-ish mass.
    * Products stay in BIGINT: C(w1,w2) * 1e6 overflows only past ~9e12
    * occurrences of ONE bigram in the reference slice.
    *
    * 100 TB shape: the corpus-sized bigram stream equi-joins the model
    * tables (reference-bounded: bigram table ≤ ref pair count, head table
    * vocabulary-sized — AQE broadcasts them when they fit, plain
    * hash-join when they don't; never a crossJoin of big sides), then one
    * hash-aggregate back to per-doc rows. V rides along as a broadcast
    * single-row frame.
    */
  def bigramLmScore(s: SparkSession, dir: String, refLang: String = "en"): DataFrame = {
    def bigramsOf(docs: DataFrame): DataFrame = docs
      .withColumn("ws", expr(TokensExpr))
      .filter(expr("size(ws) >= 2"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val corpus = bigramsOf(Tables.spread(s, dir, "documents"))
    // spread the ref slice too: documents is physically one file per SF, so
    // without it the reference tokenize+explode runs in ~1 task while the
    // corpus side fans out (identity at warehouse scale by construction)
    val ref = bigramsOf(Tables.spread(s, dir, "documents").filter(col("lang") === refLang))
    val model = ref.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val heads = ref.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vSize = heads.agg(count(lit(1)).as("v"))
    corpus
      .join(model, Seq("w1", "w2"), "left")
      .join(heads, Seq("w1"), "left")
      .crossJoin(broadcast(vSize))
      .withColumn("term", expr(
        """((coalesce(c12, CAST(0 AS BIGINT)) + 1) * 1000000)
           DIV (coalesce(c1, CAST(0 AS BIGINT)) + v)"""))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("term")).as("term_sum"))
      .withColumn("lm_score_1e6", expr("term_sum DIV n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"), col("lm_score_1e6"))
      .orderBy(col("doc_id"))
  }

  /** Corpus heavy-hitter tokens: every token whose exact frequency
    * exceeds n/k of the n-token corpus, found sketch-first — the
    * BigQuery-`APPROX_TOP_COUNT`-shaped surface the reference's warehouse
    * delegation would serve (/root/reference/src/etl/load.py:18-110 loads
    * into BigQuery; frequency questions are answered there).
    *
    * Two passes, both cheap at 100 TB:
    *  1. SCREEN: one [[graft.functions.HeavyHittersSketch]] pass (k-entry
    *     Misra-Gries buffers, map-side combined; the exchange moves ONE
    *     k-entry summary row per partition, never the token domain) plus
    *     the total count riding the same aggregate. The MG guarantee —
    *     every item with true frequency > n/k survives the sketch — makes
    *     the candidate set a PROVEN superset of the answer.
    *  2. EXACT REJOIN: count only tokens in the (≤ k, broadcast)
    *     candidate set, keep count*k > n. Sketch nondeterminism (the
    *     surviving tail depends on partitioning) is filtered out by the
    *     exact threshold, so the result is deterministic and
    *     oracle-exact — a plain GROUP BY ... HAVING in the SQL surfaces.
    *
    * vs an exact full-domain groupBy: the screen's shuffle is O(k x
    * partitions) rows regardless of token-domain size — the point of the
    * sketch when the domain is unbounded (URLs, n-grams, user agents).
    */
  def heavyTokens(s: SparkSession, dir: String, k: Int): DataFrame = {
    val toks = Tables.spread(s, dir, "documents")
      .select(explode(expr(TokensExpr)).as("tok"))
    val sketch = udaf(new graft.functions.HeavyHittersSketch(k),
      org.apache.spark.sql.Encoders.STRING)
    val screen = toks.agg(sketch(col("tok")).as("hh"), count(lit(1)).as("n"))
    val cands = screen
      .select(explode(col("hh")).as("h"), col("n"))
      .select(col("h.item").as("tok"), col("n"))
    toks
      .join(broadcast(cands), Seq("tok"), "inner")
      .groupBy(col("tok"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(k.toLong) > col("n"))
      .select(col("tok"), col("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Power-of-two document-length histogram — the packing planner's input:
    * how many docs (and how much token mass) sit in each
    * [2^b, 2^(b+1)) token-count bucket, with a running cumulative share.
    * Sequence packing, chunking, and truncation policies are all tuned off
    * exactly this table (what fraction of the corpus fits a 2^k context
    * untouched?).
    *
    * Exact-integer throughout: the bucket is floor(log2(n_tokens)) taken
    * as `length(bin(n)) - 1` — bit-length, not floating log2, so a
    * boundary count like 4096 can never land one bucket off to FP noise
    * (Spark `bin` == DuckDB `bin`, both minimal binary strings). Zero-token
    * docs get bucket -1 (their own row, lo = 0).
    *
    * Shape: one map-side-combined aggregate over docs, then a prefix
    * window across the ~60 possible buckets — catalog-sized by
    * construction (token counts are < 2^63), so the single-partition
    * window is free. Cumulative shares are fixed-point DIV: both engines
    * truncate toward zero.
    */
  def tokenLog2Histogram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
      .select(size(expr(TokensExpr)).cast("long").as("nt"))
      .withColumn("bucket",
        expr("CASE WHEN nt = 0 THEN CAST(-1 AS BIGINT) " +
          "ELSE CAST(length(bin(nt)) - 1 AS BIGINT) END"))
    val byBucket = docs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBucket
      .withColumn("lo", expr("CASE WHEN bucket < 0 THEN CAST(0 AS BIGINT) " +
        "ELSE shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) END"))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("tot_docs"),
        coalesce(sum(col("nt")), lit(0L)).as("tot_tokens"))))
      .withColumn("cum_docs_1e4", expr("(cum_docs * 10000) DIV tot_docs"))
      .withColumn("cum_tokens_1e4",
        expr("(cum_tokens * 10000) DIV greatest(tot_tokens, 1)"))
      .select(col("bucket"), col("lo"), col("n_docs"), col("n_tokens"),
        col("cum_docs_1e4"), col("cum_tokens_1e4"))
      .orderBy(col("bucket"))
  }

  /** Importance-weighted data selection (the DSIR shape — Xie et al.
    * 2023, arXiv:2302.03169): score every RAW-pool document by how much
    * more likely its tokens are under the TARGET domain's unigram LM
    * than under the raw pool's own, then keep the top-k — the standard
    * recipe for tilting a crawl toward a high-quality reference corpus.
    *
    * Integer-exact formulation (the house discipline — DSIR's
    * log-likelihood ratio is transcendental and libm-divergent across
    * engines): per token, the Laplace-smoothed probability ratio in
    * half-up 1e4 fixed point,
    *   ratio_1e4(w) = ((ct(w)+1)·(R+V)) / ((cr(w)+1)·(T+V)),
    * and per document the half-up mean of its token ratios. T/R are
    * target/raw token totals, V the union vocabulary (one shared
    * smoothing denominator for both LMs). The (score DESC, doc_id)
    * tie-break makes the selection a total order — deterministic across
    * engines and partitionings, where DSIR's sampled acceptance would
    * not be. At 100 TB the integer products overflow BIGINT
    * (ct·(R+V) ~ 1e23); the documented swap is the same arithmetic in
    * DECIMAL(38,0) — plan shape unchanged.
    *
    * Scale shape: the two unigram tables are VOCAB-sized (map-side
    * combined; broadcastable in practice), the scoring pass is one
    * token-keyed join over the exploded raw pool + one per-doc
    * aggregate, and the corpus is scanned twice (once per LM build is
    * shared — a single pass with conditional sums). Selection exits
    * through TakeOrderedAndProject.
    */
  def importanceWeights(s: SparkSession, dir: String,
                        target: String = "src0", k: Int = 50): DataFrame = {
    val tok = Tables.spread(s, dir, "documents")
      .select(col("doc_id"), col("source"), explode(expr(TokensExpr)).as("w"))
      .localCheckpoint(true) // LM build + scoring pass share the explode
    val lm = tok.groupBy(col("w")).agg(
      sum(when(col("source") === target, 1L).otherwise(0L)).as("ct"),
      sum(when(col("source") =!= target, 1L).otherwise(0L)).as("cr"))
    val tot = lm.agg(sum(col("ct")).as("t"), sum(col("cr")).as("r"),
      count(lit(1)).as("v"))
    tok.filter(col("source") =!= target)
      .join(lm.hint("broadcast"), Seq("w"))
      .crossJoin(broadcast(tot))
      .withColumn("ratio_1e4", expr(
        """(20000 * (ct + 1) * (r + v) + (cr + 1) * (t + v))
           DIV (2 * (cr + 1) * (t + v))"""))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("ratio_1e4")).as("sr"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr("(2 * sr + n_tokens) DIV (2 * n_tokens)").as("score_1e4"))
      .orderBy(col("score_1e4").desc, col("doc_id"))
      .limit(k)
  }

  /** The DSIR scoring as DuckDB SQL. */
  private[graft] def importanceWeightsSql(target: String, k: Int): String =
    s"""WITH tok AS (SELECT doc_id, source,
                  unnest(regexp_extract_all(lower(coalesce(text, '')),
                                            '[a-z0-9]+')) AS w
           FROM documents),
       lm AS (SELECT w,
                CAST(sum(CASE WHEN source = '$target' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ct,
                CAST(sum(CASE WHEN source <> '$target' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cr
              FROM tok GROUP BY w),
       tot AS (SELECT CAST(sum(ct) AS BIGINT) AS t,
                      CAST(sum(cr) AS BIGINT) AS r,
                      CAST(count(*) AS BIGINT) AS v FROM lm),
       scored AS (SELECT tok.doc_id, tok.source,
                    CAST(count(*) AS BIGINT) AS n_tokens,
                    CAST(sum((20000 * (ct + 1) * (r + v) + (cr + 1) * (t + v))
                             // (2 * (cr + 1) * (t + v))) AS BIGINT) AS sr
                  FROM tok JOIN lm ON lm.w = tok.w CROSS JOIN tot
                  WHERE tok.source <> '$target'
                  GROUP BY tok.doc_id, tok.source)
       SELECT doc_id, source, n_tokens,
              (2 * sr + n_tokens) // (2 * n_tokens) AS score_1e4
       FROM scored
       ORDER BY score_1e4 DESC, doc_id LIMIT $k"""

  /** Unit separator: bounds every symbol in the BPE work encoding; never
    * appears in `[a-z0-9]+` corpus words, so symbol boundaries are
    * unambiguous.
    */
  private val Us = "\u001F"

  /** DISTRIBUTED BPE merge learning (Sennrich et al. 2016; the algorithm
    * behind GPT-2/LLaMA-style tokenizers): learn the top-`nMerges` merge
    * rules over the corpus. Training runs on the WORD-FREQUENCY
    * DICTIONARY — the corpus is scanned exactly once to count words, and
    * every iteration after that touches only the |distinct words|-sized
    * dictionary (the classic formulation, and the whole scale story: at
    * 100 TB the dictionary is ~10^8 rows while the corpus is 10^12).
    *
    * Per iteration: adjacent symbol pairs (weighted by word count)
    * aggregate in one dictionary shuffle; the argmax pair — tie-broken
    * (count DESC, left, right), a total order, so the learned table is
    * deterministic across engines and partitionings — comes back via
    * TakeOrderedAndProject; the merge applies map-side. Words are
    * encoded as US-separated symbol strings (`␟a␟b␟c␟`), so applying a
    * merge is one `replace(seq, '␟l␟r␟', '␟lr␟')` — non-overlapping
    * left-to-right replace IS the leftmost-greedy BPE merge order. The
    * per-iteration localCheckpoint truncates lineage (the pagerank
    * discipline); the one driver action per round is the 1-row argmax.
    *
    * No end-of-word marker (each dictionary word merges independently;
    * documented simplification). Output: the merge table, rank-ordered.
    */
  def bpeTrain(s: SparkSession, dir: String, nMerges: Int = 8): DataFrame = {
    import s.implicits._
    bpeLoop(s, dir, nMerges)._1
      .toDF("rank", "left_sym", "right_sym", "pair_count")
      .orderBy(col("rank"))
  }

  /** The shared training loop: returns (learned merges, the word
    * dictionary with its post-merge symbol encoding) — bpeTrain reads
    * the table, [[bpeEncode]] reads the dictionary.
    */
  private def bpeLoop(s: SparkSession, dir: String, nMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    // each symbol carries its OWN sep wrapper (`␟a␟␟b␟`, not `␟a␟b␟`):
    // with a shared boundary separator, replace would consume it and
    // resume the scan mid-symbol, silently skipping one symbol after
    // every match on repeated runs ("aaaaa" → [aa,a,aa] instead of the
    // greedy [aa,aa,a]); with wrapped symbols a pair match consumes
    // exactly both wrappers and non-overlapping left-to-right replace IS
    // leftmost-greedy BPE
    var dict = Tables.spread(s, dir, "documents")
      .select(explode(expr(TokensExpr)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .select(col("w"),
        regexp_replace(col("w"), "(.)", Us + "$1" + Us).as("seq"),
        col("c"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val top = dict
        .select(col("c"),
          expr(s"filter(split(seq, '$Us'), x -> x <> '')").as("ls"))
        .filter(size(col("ls")) >= 2)
        .select(col("c"), explode(expr(
          """transform(sequence(1, size(ls) - 1),
               i -> struct(element_at(ls, i) AS l, element_at(ls, i + 1) AS r))"""))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("c")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((i + 1L, l, r, cnt))
        dict = dict
          .select(col("w"), call_function("replace", col("seq"),
            lit(s"$Us$l$Us$Us$r$Us"), lit(s"$Us$l$r$Us")).as("seq"), col("c"))
          .localCheckpoint(true)
        i += 1
      }
    }
    (merges.result(), dict)
  }

  /** BPE ENCODING with the learned merges — the apply face of
    * [[bpeTrain]], closing the tokenizer loop (train → encode): per
    * document, the token count under the learned segmentation plus the
    * tokens-per-word inflation in half-up 1e4 fixed point (1e4 = every
    * word became one token; higher = the vocab still splits words).
    *
    * The merges apply ONCE PER DISTINCT WORD (the training dictionary
    * already holds each word's post-merge encoding — symbol counting is
    * a projection of it), and documents join their words against that
    * vocab-sized table: per-occurrence work is one token-keyed join row,
    * never a re-segmentation. This dictionary-join shape is exactly how
    * a production tokenizer service encodes at corpus scale.
    */
  def bpeEncode(s: SparkSession, dir: String, nMerges: Int = 8): DataFrame = {
    val dict = bpeLoop(s, dir, nMerges)._2
      .select(col("w"),
        expr(s"CAST(size(filter(split(seq, '$Us'), x -> x <> '')) AS BIGINT)")
          .as("nsym"))
    Tables.spread(s, dir, "documents")
      .select(col("doc_id"), explode(expr(TokensExpr)).as("w"))
      .join(dict.hint("broadcast"), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("nsym")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"),
        expr("(20000 * n_bpe_tokens + n_words) DIV (2 * n_words)")
          .as("bpe_per_word_1e4"))
      .orderBy(col("doc_id"))
  }

  /** The BPE training loop as one SQL statement with the iteration
    * unrolled (the pagerank pattern) — per round: dictionary → weighted
    * pair counts → 1-row argmax CTE → replace-applied dictionary.
    */
  private[graft] def bpeTrainSql(nMerges: Int): String = {
    val readout = (1 to nMerges).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS left_sym, r AS right_sym,
                 cnt AS pair_count FROM t$i"""
    }.mkString("\nUNION ALL\n")
    bpeCtes(nMerges) + s"\n$readout\nORDER BY rank"
  }

  /** The encode readout over the same unrolled chain: post-merge symbol
    * counts from the final dictionary, joined onto each document's
    * words.
    */
  private[graft] def bpeEncodeSql(nMerges: Int): String =
    bpeCtes(nMerges) +
      s""",
       dict AS (SELECT w, CAST(len(list_filter(string_split(seq, chr(31)), x -> x <> '')) AS BIGINT) AS nsym
                FROM d$nMerges),
       tok AS (SELECT doc_id,
                  unnest(regexp_extract_all(lower(coalesce(text, '')),
                                            '[a-z0-9]+')) AS w
           FROM documents)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(nsym) AS BIGINT) AS n_bpe_tokens,
              (20000 * CAST(sum(nsym) AS BIGINT) + CAST(count(*) AS BIGINT))
                // (2 * CAST(count(*) AS BIGINT)) AS bpe_per_word_1e4
       FROM tok JOIN dict ON dict.w = tok.w
       GROUP BY doc_id ORDER BY doc_id"""

  /** Shared unrolled-iteration CTE chain (words → dictionary → K rounds
    * of argmax t_i + merged dictionary d_i).
    */
  private def bpeCtes(nMerges: Int): String = {
    val sep = "chr(31)"
    def pairs(d: String): String =
      s"""SELECT c, ls[i] AS l, ls[i + 1] AS r
          FROM (SELECT c, list_filter(string_split(seq, $sep),
                  x -> x <> '') AS ls FROM $d) dx,
               UNNEST(range(1, len(ls))) AS t(i)"""
    // wrapped-symbol encoding (`␟a␟␟b␟`): see bpeTrain — a shared
    // boundary separator would make replace skip a symbol after every
    // match on repeated runs
    val charSplit = s"regexp_replace(w, '(.)', $sep || '\\1' || $sep, 'g')"
    val header =
      s"""WITH words AS (SELECT unnest(regexp_extract_all(lower(coalesce(text, '')),
                                            '[a-z0-9]+')) AS w
           FROM documents),
         wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
                FROM words GROUP BY w),
         d0 AS (SELECT w, $charSplit AS seq, c FROM wc)"""
    val steps = (1 to nMerges).flatMap { i =>
      Seq(
        s"""t$i AS (SELECT l, r, CAST(sum(c) AS BIGINT) AS cnt
                    FROM (${pairs(s"d${i - 1}")}) p$i
                    GROUP BY l, r
                    ORDER BY cnt DESC, l, r LIMIT 1)""",
        s"""d$i AS (SELECT w,
                      replace(seq, $sep || l || $sep || $sep || r || $sep,
                              $sep || l || r || $sep) AS seq, c
                    FROM d${i - 1} CROSS JOIN t$i)""")
    }
    (header +: steps).mkString(",\n")
  }

  /** Vocabulary growth curve (Heaps' law): at each ingest checkpoint
    * (13/25/50/100% of the max doc_id), how many docs and token
    * occurrences have arrived and how many DISTINCT tokens the corpus has
    * seen — the curve that decides whether a tokenizer's vocab budget
    * saturates or keeps fragmenting as the corpus grows.
    *
    * The naive form re-scans the corpus once per checkpoint (distinct
    * tokens among docs with doc_id <= c). This is the one-pass form via
    * the FIRST-OCCURRENCE trick: the distinct-vocab count at checkpoint c
    * equals the number of tokens whose earliest doc_id is <= c, so one
    * (token -> min(doc_id)) aggregate serves every checkpoint. At 100 TB:
    * the corpus shuffles ONCE (by token, map-side combined to the
    * vocabulary size); checkpoints broadcast (4 rows) onto the vocab-sized
    * first-occurrence frame and the doc-level length frame, both rollups
    * map-side combined to 4 rows. Adding checkpoints costs fan-out in the
    * partial aggregate, never another corpus scan.
    */
  def vocabGrowth(s: SparkSession, dir: String,
                  pcts: Seq[Int] = Seq(13, 25, 50, 100)): DataFrame = {
    import s.implicits._
    val docs = Tables.spread(s, dir, "documents")
      .withColumn("ws", expr(TokensExpr))
      .select(col("doc_id"), col("ws"),
        expr("CAST(size(ws) AS BIGINT)").as("ntok"))
    val maxima = docs.agg(max(col("doc_id")).as("max_id"))
    val cps = pcts.toDF("pct").crossJoin(broadcast(maxima))
      .select(col("pct"), expr("(max_id * pct) DIV 100").as("thr"))
    val firstOcc = docs
      .select(col("doc_id"), explode(col("ws")).as("tok"))
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val vocabAt = firstOcc.crossJoin(broadcast(cps))
      .filter(col("first_doc") <= col("thr"))
      .groupBy(col("pct")).agg(count(lit(1)).as("distinct_tokens"))
    val volumeAt = docs.crossJoin(broadcast(cps))
      .filter(col("doc_id") <= col("thr"))
      .groupBy(col("pct"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"))
    volumeAt.join(vocabAt, Seq("pct"))
      .select(col("pct"), col("n_docs"), col("total_tokens"),
        col("distinct_tokens"))
      .orderBy(col("pct"))
  }

  /** Per-document NOVELTY: the fraction of a doc's distinct shingles
    * never seen in any earlier doc (smaller doc_id) — the marginal-value
    * signal of ingest-ordered curation ("how much of this crawl batch is
    * new text?"), and the per-doc complement of [[boilerplate]] (which
    * scores corpus-frequent shingles regardless of order). A freshly
    * duplicated doc scores 0; the first copy keeps its full score.
    *
    * Same first-occurrence trick as [[vocabGrowth]]: one (shingle ->
    * min(doc_id)) aggregate, joined back to the doc-shingle incidence on
    * the shingle key it is already shuffled by, then a per-doc rollup.
    * Two corpus-incidence shuffles total, both on keys the data is
    * already clustered by; nothing quadratic, no window over the corpus.
    * novelty_1e4 is half-up integer fixed-point (oracle-exact).
    */
  def noveltyScores(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
      .withColumn("ws", expr(TokensExpr))
      .filter(expr("size(ws) >= 3"))
      .withColumn("sh", expr(Dedup.ShinglesExpr))
    val ex = docs.select(col("doc_id"),
      expr("CAST(size(sh) AS BIGINT)").as("n_sh"), explode(col("sh")).as("shingle"))
    val firstOcc = ex.groupBy(col("shingle"))
      .agg(min(col("doc_id")).as("first_doc"))
    ex.join(firstOcc, Seq("shingle"))
      .groupBy(col("doc_id"), col("n_sh"))
      .agg(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
        .as("n_novel"))
      .select(col("doc_id"), col("n_sh"), col("n_novel"),
        expr("(20000 * n_novel + n_sh) DIV (2 * n_sh)").as("novelty_1e4"))
      .orderBy(col("doc_id"))
  }

  /** Per-source readability profile — Flesch-reading-ease shape over
    * corpus-level word/sentence/syllable tallies, entirely in portable
    * integer fixed point: syllables are vowel-run counts ([aeiouy]+
    * groups, the standard cheap estimator), sentences are terminal-
    * punctuation runs (min 1 per doc so headline-style docs do not
    * divide by zero), and the score is 206.835 - 1.015*(words/sentence)
    * - 84.6*(syllables/word) priced half-up at 1e-3 from half-up 1e-4
    * ratios. The readability gate sits next to [[textQuality]] in a
    * curation funnel: quality flags boilerplate and junk, readability
    * flags audience mismatch.
    *
    * 100 TB shape: all three tallies are codegen'd regexp projections
    * folded by ONE map-side-combined aggregate to |sources| cells; the
    * fixed-point division happens on the cell frame.
    */
  def readability(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .select(col("source"),
        expr(s"CAST(size($TokensExpr) AS BIGINT)").as("w"),
        expr("""CAST(greatest(size(regexp_extract_all(coalesce(text, ''),
               '[.!?]+', 0)), 1) AS BIGINT)""").as("sent"),
        expr("""CAST(size(regexp_extract_all(lower(coalesce(text, '')),
               '[aeiouy]+', 0)) AS BIGINT)""").as("syl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("sent")).as("sentences"), sum(col("syl")).as("syllables"))
      .withColumn("wps_1e4",
        expr("(20000 * words + sentences) DIV (2 * sentences)"))
      .withColumn("spw_1e4",
        expr("(20000 * syllables + greatest(words, 1)) DIV (2 * greatest(words, 1))"))
      .withColumn("flesch_1e3",
        expr("""206835 - (1015 * wps_1e4 + 5000) DIV 10000
               - (84600 * spw_1e4 + 5000) DIV 10000"""))
      .orderBy(col("source"))

  /** [[readability]] as DuckDB SQL. */
  private[graft] val readabilitySql: String =
    s"""WITH d AS (SELECT source,
             CAST(len(regexp_extract_all(lower(coalesce(text, '')),
                  '[a-z0-9]+')) AS BIGINT) AS w,
             CAST(greatest(len(regexp_extract_all(coalesce(text, ''),
                  '[.!?]+')), 1) AS BIGINT) AS sent,
             CAST(len(regexp_extract_all(lower(coalesce(text, '')),
                  '[aeiouy]+')) AS BIGINT) AS syl
           FROM documents),
       c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(w) AS BIGINT) AS words,
                    CAST(sum(sent) AS BIGINT) AS sentences,
                    CAST(sum(syl) AS BIGINT) AS syllables
             FROM d GROUP BY source)
       SELECT source, n_docs, words, sentences, syllables,
              CAST((20000 * words + sentences) // (2 * sentences)
                   AS BIGINT) AS wps_1e4,
              CAST((20000 * syllables + greatest(words, 1))
                   // (2 * greatest(words, 1)) AS BIGINT) AS spw_1e4,
              CAST(206835
                - (1015 * ((20000 * words + sentences) // (2 * sentences))
                   + 5000) // 10000
                - (84600 * ((20000 * syllables + greatest(words, 1))
                            // (2 * greatest(words, 1)))
                   + 5000) // 10000 AS BIGINT) AS flesch_1e3
       FROM c ORDER BY source"""

  /** Tokenizer round-trip integrity: encode every document against the
    * frequency-ranked top-V vocabulary ([[encodeDocs]]'s contract), then
    * DECODE the id stream back through the vocabulary (OOV id 0 ->
    * '<unk>') and compare the reassembly against the document's own token
    * string — the lossless-iff-no-OOV guarantee, checked end to end
    * rather than assumed. A mismatch on a zero-OOV doc means the id
    * mapping itself is broken (the failure mode this audit exists to
    * catch in a tokenizer rollout); OOV docs are tallied separately
    * because their loss is by design.
    *
    * 100 TB shape: encode and decode are both broadcast joins against the
    * V-row vocabulary; reassembly is the same per-doc sort_array
    * aggregate as [[encodeDocs]] (payload bounded by the doc's own token
    * count); the original string never leaves the row it came from. The
    * verdict aggregates to |sources| cells.
    */
  def decodeRoundtrip(s: SparkSession, dir: String, vocabSize: Int = 16): DataFrame = {
    val toks = tokenPositions(s, dir)
    val vocab = vocabOf(toks, vocabSize)
    val enc = toks.join(broadcast(vocab), Seq("w"), "left")
      .select(col("doc_id"), col("pos"),
        coalesce(col("vid"), lit(0L)).as("id"))
    val dec = enc
      .join(broadcast(vocab.select(col("vid").as("id"), col("w").as("tok"))),
        Seq("id"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("id") === 0L, lit(1L)).otherwise(lit(0L))).as("n_oov"),
        expr("""array_join(transform(sort_array(collect_list(struct(pos, tok))),
               x -> coalesce(x.tok, '<unk>')), ' ')""").as("decoded"))
    Tables.spread(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        expr(s"array_join($TokensExpr, ' ')").as("orig"))
      .join(dec, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(coalesce(col("n_oov"), lit(0L)) > 0, lit(1L))
          .otherwise(lit(0L))).as("n_oov_docs"),
        sum(when(coalesce(col("decoded"), lit("")) === col("orig"), lit(1L))
          .otherwise(lit(0L))).as("n_roundtrip_ok"))
      .orderBy(col("source"))
  }

  /** [[decodeRoundtrip]] as DuckDB SQL. The encode CTEs mirror the
    * q_encode_docs oracle; decode re-joins the vocabulary on vid.
    */
  private[graft] val decodeRoundtripSql: String =
    s"""WITH d AS (SELECT doc_id, source, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS ws FROM documents),
       tk AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM d),
         tok AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                        ws[CAST(pos AS INT)] AS w FROM tk),
       cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
       vocab AS (SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w)
                    AS BIGINT) AS vid
                 FROM (SELECT w, c FROM cnt ORDER BY c DESC, w LIMIT 16) t),
       enc AS (SELECT t.doc_id, t.pos, coalesce(v.vid, 0) AS id
               FROM tok t LEFT JOIN vocab v ON v.w = t.w),
       dec AS (SELECT e.doc_id,
                      CAST(sum(CASE WHEN e.id = 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_oov,
                      string_agg(coalesce(v.w, '<unk>'), ' ' ORDER BY e.pos) AS decoded
               FROM enc e LEFT JOIN vocab v ON v.vid = e.id
               GROUP BY e.doc_id),
       o AS (SELECT doc_id, source, array_to_string(ws, ' ') AS orig FROM d)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN coalesce(n_oov, 0) > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_oov_docs,
              CAST(sum(CASE WHEN coalesce(decoded, '') = orig THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_roundtrip_ok
       FROM o LEFT JOIN dec USING (doc_id)
       GROUP BY source ORDER BY source"""

  /** Zipf-shape audit of the per-source token distribution: at rank r
    * (1, 2, 4, ..., 64 by frequency, token-lexicographic tiebreak) the
    * normalized product rf_ratio_1e4 = 1e4 * r * freq(r) / freq(1) —
    * exactly 1e4 at every rank iff the source is perfectly Zipfian
    * (freq proportional to 1/rank). Synthetic, templated, or spam-heavy
    * sources bend this curve far from 1e4, which makes it the cheap
    * "does this feed look like natural language" screen a corpus intake
    * runs per source. Half-up integer fixed-point end to end — no libm
    * log, so the cross-engine compare is bit-stable (the same reasoning
    * as the TF-IDF integer surrogate above).
    *
    * 100 TB shape: the token explode collapses to per-(source, token)
    * counts with map-side combine — the only corpus-sized shuffle. The
    * rank window partitions BY SOURCE over that vocabulary frame
    * (bounded by per-source distinct tokens, not corpus rows); freq(1)
    * rides the same window as a max, no second pass.
    */
  def zipfProfile(s: SparkSession, dir: String,
                  ranks: Seq[Int] = Seq(1, 2, 4, 8, 16, 32, 64)): DataFrame = {
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val w = bySrc.orderBy(col("n").desc, col("token"))
    Tables.spread(s, dir, "documents")
      .select(col("source"), explode(expr(TokensExpr)).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("f1", max(col("n")).over(bySrc))
      .filter(col("rk").isin(ranks.map(_.toLong): _*))
      .select(col("source"), col("rk"), col("token"), col("n"),
        expr("CAST((20000 * rk * n + f1) DIV (2 * f1) AS BIGINT)")
          .as("rf_ratio_1e4"))
      .orderBy(col("source"), col("rk"))
  }

  /** [[zipfProfile]] as DuckDB SQL. */
  private[graft] def zipfProfileSql(ranks: Seq[Int]): String =
    s"""WITH tok AS (SELECT source, unnest(regexp_extract_all(lower(coalesce(text, '')),
              '[a-z0-9]+')) AS token FROM documents),
       tf AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
              FROM tok GROUP BY source, token),
       r AS (SELECT source, token, n,
                    CAST(row_number() OVER (PARTITION BY source
                         ORDER BY n DESC, token) AS BIGINT) AS rk,
                    CAST(max(n) OVER (PARTITION BY source) AS BIGINT) AS f1
             FROM tf)
       SELECT source, rk, token, n,
              CAST((20000 * rk * n + f1) // (2 * f1) AS BIGINT)
                AS rf_ratio_1e4
       FROM r WHERE rk IN (${ranks.mkString(", ")})
       ORDER BY source, rk"""

  /** Language-label confusion matrix: the declared `lang` column against
    * the marker-word detector ([[langId]]) — the metadata-quality audit a
    * curation pipeline runs before trusting a feed's self-reported
    * language for routing or balanced sampling (a feed whose declared
    * labels disagree with detection is either mislabelled or
    * code-mixed). share_1e4 is the half-up row share within each
    * declared label.
    *
    * 100 TB shape: one pass scores the marker counts (vectorized filter
    * expressions, no UDFs), then a hash aggregate to <= |langs|^2 cells;
    * the within-declared share window runs over that catalog-sized cell
    * frame.
    */
  def langConfusion(s: SparkSession, dir: String): DataFrame = {
    val markers = Seq(
      "en" -> Seq("the", "and", "of", "to", "in", "is"),
      "de" -> Seq("der", "die", "und", "ist", "nicht", "das"),
      "fr" -> Seq("le", "la", "et", "les", "des", "est"),
      "es" -> Seq("el", "los", "que", "una", "por", "como"))
    val scored = markers.foldLeft(
      Tables.spread(s, dir, "documents").withColumn("toks", expr(TokensExpr))) {
      case (df, (lang, words)) =>
        val arr = words.map(w => s"'$w'").mkString(",")
        df.withColumn(s"s_$lang", expr(
          s"CAST(size(filter(toks, t -> array_contains(array($arr), t))) AS BIGINT)"))
    }
    val byDeclared = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    scored
      .select(col("lang"),
        expr("""CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                     WHEN s_fr >= s_es THEN 'fr'
                     ELSE 'es' END""").as("pred_lang"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_total", sum(col("n_docs")).over(byDeclared))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        expr("(20000 * n_docs + lang_total) DIV (2 * lang_total)")
          .as("share_1e4"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Token-share drift between the first 80% and the trailing 20% of the
    * corpus by doc_id (ingestion order, the snapshot-diff convention):
    * the top tokens by absolute per-billion share shift — the
    * vocabulary-drift alarm that catches a feed changing register,
    * language mix, or template before it skews a frozen tokenizer
    * ([[vocabCoverage]] prices the tokenizer against ONE corpus; this
    * watches the corpus move). The 80% split point is max(doc_id)*4/5
    * computed IN the dataflow (a broadcast scalar, no driver action).
    * df floor: only tokens with >= minCount total occurrences rank
    * (share noise on rare tokens is not drift).
    *
    * 100 TB shape: one map-side-combined (token, slice) count is the
    * only corpus-sized shuffle; shares and shifts are integer
    * cross-multiplications on the vocab-sized frame; top-K via
    * TakeOrderedAndProject.
    */
  def vocabDrift(s: SparkSession, dir: String, minCount: Long = 20,
                 topN: Int = 25): DataFrame = {
    val mx = Tables.spread(s, dir, "documents")
      .agg(max(col("doc_id")).as("max_id"))
    val tok = Tables.spread(s, dir, "documents")
      .crossJoin(broadcast(mx))
      .select((col("doc_id") * 5 <= col("max_id") * 4).as("is_old"),
        explode(expr(TokensExpr)).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("is_old"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("is_old"), 0L).otherwise(1L)).as("n_new"))
      .localCheckpoint(true) // totals + shares read one counted frame
    val tot = tok.agg(sum(col("n_old")).as("t_old"), sum(col("n_new")).as("t_new"))
    tok.filter(col("n_old") + col("n_new") >= minCount)
      .crossJoin(broadcast(tot))
      .withColumn("share_old_1e9",
        expr("(2000000000 * n_old + t_old) DIV (2 * t_old)"))
      .withColumn("share_new_1e9",
        expr("(2000000000 * n_new + t_new) DIV (2 * t_new)"))
      .select(col("token"), col("n_old"), col("n_new"),
        col("share_old_1e9"), col("share_new_1e9"),
        abs(col("share_new_1e9") - col("share_old_1e9")).as("shift_1e9"))
      .orderBy(col("shift_1e9").desc, col("token"))
      .limit(topN)
  }

  /** [[langConfusion]] as DuckDB SQL. */
  private[graft] val langConfusionSql: String = {
    def cnt(words: Seq[String]): String = {
      val lst = words.map(w => s"'$w'").mkString(",")
      s"CAST(len(list_filter(toks, t -> list_contains([$lst], t))) AS BIGINT)"
    }
    s"""WITH t AS (SELECT lang, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS toks FROM documents),
       sc AS (SELECT lang,
         ${cnt(Seq("the", "and", "of", "to", "in", "is"))} AS s_en,
         ${cnt(Seq("der", "die", "und", "ist", "nicht", "das"))} AS s_de,
         ${cnt(Seq("le", "la", "et", "les", "des", "est"))} AS s_fr,
         ${cnt(Seq("el", "los", "que", "una", "por", "como"))} AS s_es
         FROM t),
       p AS (SELECT lang,
         CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
              WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
              WHEN s_fr >= s_es THEN 'fr'
              ELSE 'es' END AS pred_lang
         FROM sc),
       g AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
             FROM p GROUP BY lang, pred_lang)
       SELECT lang, pred_lang, n_docs,
              CAST((20000 * n_docs + sum(n_docs) OVER (PARTITION BY lang))
                   // (2 * sum(n_docs) OVER (PARTITION BY lang)) AS BIGINT)
                AS share_1e4
       FROM g ORDER BY lang, pred_lang"""
  }

  /** [[vocabDrift]] as DuckDB SQL. */
  private[graft] def vocabDriftSql(minCount: Long, topN: Int): String =
    s"""WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
       tok AS (SELECT doc_id * 5 <= max_id * 4 AS is_old, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS token
               FROM documents CROSS JOIN mx),
       c AS (SELECT token,
                    CAST(sum(CASE WHEN is_old THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
                    CAST(sum(CASE WHEN is_old THEN 0 ELSE 1 END) AS BIGINT) AS n_new
             FROM tok GROUP BY token),
       tt AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
                     CAST(sum(n_new) AS BIGINT) AS t_new FROM c),
       sh AS (SELECT token, n_old, n_new,
                     CAST((2000000000 * n_old + t_old) // (2 * t_old) AS BIGINT)
                       AS share_old_1e9,
                     CAST((2000000000 * n_new + t_new) // (2 * t_new) AS BIGINT)
                       AS share_new_1e9
              FROM c CROSS JOIN tt
              WHERE n_old + n_new >= $minCount)
       SELECT token, n_old, n_new, share_old_1e9, share_new_1e9,
              abs(share_new_1e9 - share_old_1e9) AS shift_1e9
       FROM sh ORDER BY shift_1e9 DESC, token LIMIT $topN"""

  /** Token burstiness: the variance-to-mean ratio (index of dispersion)
    * of each token's per-document count, zeros included — a Poisson
    * token scores ~1e4, while a token that arrives in bursts (template
    * boilerplate, navigation chrome, code blocks) scores far above it,
    * making this the statistical cousin of [[boilerplate]]'s rule-based
    * screen. VMR = (N·Σc² − (Σc)²) / ((N−1)·Σc) in half-up 1e4 — one
    * division at the readout, everything else integer cross-products.
    * Only tokens with at least [[minTotal]] occurrences rank (dispersion
    * of a rare token is noise).
    *
    * 100 TB shape: per-(doc, token) counts are one map-side-combined
    * shuffle of the token stream; the per-token moment aggregate (Σc,
    * Σc², df) map-side combines again onto the vocab frame; N broadcasts.
    * int64 holds to ~1e14 corpus tokens (1e4·N·Σc² is the binding
    * product); the DECIMAL(38,0) hatch applies beyond, same as the
    * regression-moments operator.
    */
  def tokenBurstiness(s: SparkSession, dir: String, minTotal: Long = 50,
                      topN: Int = 25): DataFrame = {
    val nDocs = Tables.spread(s, dir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    val perDoc = Tables.spread(s, dir, "documents")
      .select(col("doc_id"), explode(expr(TokensExpr)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("total"),
        sum(col("c") * col("c")).as("sumsq"))
      .filter(col("total") >= minTotal)
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("df"), col("total"),
        expr("""CAST((20000 * (n_docs * sumsq - total * total)
                      + (n_docs - 1) * total)
                     DIV (2 * (n_docs - 1) * total) AS BIGINT)""")
          .as("burstiness_1e4"))
      .orderBy(col("burstiness_1e4").desc, col("token"))
      .limit(topN)
  }

  /** [[tokenBurstiness]] as DuckDB SQL. */
  private[graft] def tokenBurstinessSql(minTotal: Long, topN: Int): String =
    s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       pd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c FROM
              (SELECT doc_id, unnest(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS token FROM documents)
              GROUP BY doc_id, token),
       m AS (SELECT token, CAST(count(*) AS BIGINT) AS df,
                    CAST(sum(c) AS BIGINT) AS total,
                    CAST(sum(c * c) AS BIGINT) AS sumsq
             FROM pd GROUP BY token
             HAVING sum(c) >= $minTotal)
       SELECT token, df, total,
              CAST((20000 * (n_docs * sumsq - total * total)
                    + (n_docs - 1) * total)
                   // (2 * (n_docs - 1) * total) AS BIGINT)
                AS burstiness_1e4
       FROM m CROSS JOIN nd
       ORDER BY burstiness_1e4 DESC, token LIMIT $topN"""

  /** Tokenizer fertility by language: BPE-ish pieces per whitespace word
    * — THE number multilingual tokenizer evals report per language (a
    * tokenizer trained on English typically shows fertility near 1.2-1.4
    * there and 2+ on scripts it fragments, which directly inflates that
    * language's training cost per word). Half-up 1e-4 over exact summed
    * counts; the doc-level regexes are the q_token_estimate pair, so the
    * two surfaces can never disagree about what a piece is.
    *
    * 100 TB shape: one regex pass per document map-side, then a
    * |langs|-row aggregate — no shuffle beyond the partial-agg exchange.
    */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .withColumn("bpe", expr(BpePiecesExpr))
      .select(col("lang"),
        expr("""CAST(size(regexp_extract_all(coalesce(text, ''), '\\S+', 0)) AS BIGINT)""")
          .as("words"),
        expr("""CAST(size(filter(bpe, t -> NOT (t RLIKE '^\\s+$'))) AS BIGINT)""")
          .as("pieces"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("words")).as("n_words"),
        sum(col("pieces")).as("n_pieces"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"),
        expr("CAST((20000 * n_pieces + n_words) DIV (2 * n_words) AS BIGINT)")
          .as("fertility_1e4"))
      .orderBy(col("lang"))

  /** Token-mass-weighted length percentiles: the doc length (in tokens)
    * below which q of the corpus TOKENS sit, for q in {25, 50, 75, 90,
    * 99}% — the number a length-cutoff decision actually needs (a plain
    * doc-count percentile says half the DOCS are short; this says where
    * the training token mass lives, which is what the budget pays for).
    * Exact integers: the percentile is the smallest length whose
    * cumulative token mass reaches ceil(q * total / 100) (max-rank ties,
    * the quantileNormalize discipline).
    *
    * 100 TB shape: one map-side regex pass collapses the corpus to a
    * |distinct lengths|-row mass frame; the cumulative window, the
    * threshold probes, and the readout all ride that bounded-domain
    * frame (lengths are ~thousands of distinct values at any corpus
    * size). The percentile slate is a constant-width cross join.
    */
  def weightedLengthPercentiles(s: SparkSession, dir: String): DataFrame = {
    val mass = Tables.documents(s, dir)
      .select(expr(s"CAST(size($TokensExpr) AS BIGINT)").as("len"))
      .groupBy(col("len")).agg(sum(col("len")).as("mass"))
      // bounded-domain frame; pinned once so the cum window and the total
      // probe do not re-run the corpus tokenize per branch
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("len"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = mass.withColumn("cum", sum(col("mass")).over(w))
    val total = cum.agg(max(col("cum")).as("total"))
    val qs = Seq(25L, 50L, 75L, 90L, 99L)
      .map(q => s.range(1).select(lit(q).as("pct")))
      .reduce(_ unionByName _)
    cum.crossJoin(broadcast(total)).crossJoin(broadcast(qs))
      .filter(col("cum") * 100 >= col("pct") * col("total"))
      .groupBy(col("pct"))
      .agg(min(col("len")).as("len_at_pct"), max(col("total")).as("total_tokens"))
      .orderBy(col("pct"))
  }

  /** [[weightedLengthPercentiles]] as fully portable SQL. */
  private[graft] val weightedLengthPercentilesSql: String =
    s"""WITH m AS (SELECT len, CAST(sum(len) AS BIGINT) AS mass FROM
           (SELECT CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS BIGINT) AS len FROM documents) d
         GROUP BY len),
       c AS (SELECT len, sum(mass) OVER (ORDER BY len
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM m),
       t AS (SELECT max(cum) AS total FROM c),
       q AS (SELECT CAST(25 AS BIGINT) AS pct UNION ALL SELECT 50
             UNION ALL SELECT 75 UNION ALL SELECT 90 UNION ALL SELECT 99)
       SELECT pct, CAST(min(len) AS BIGINT) AS len_at_pct,
              CAST(max(total) AS BIGINT) AS total_tokens
       FROM c CROSS JOIN t CROSS JOIN q
       WHERE cum * 100 >= pct * total
       GROUP BY pct ORDER BY pct"""

  /** Corpus-level source-mix diversity by TOKEN MASS: the effective
    * number of sources (inverse Simpson over token-mass shares) plus the
    * top source's share — the one-row headline a data-mixing plan quotes
    * ("this corpus behaves like k equally-sized feeds, and the largest
    * holds x%"). Mass-weighted, not doc-weighted: a million stub docs
    * from one feed must not read as diversity. Exact rationals over
    * BIGINT token sums (the langDiversity discipline — no libm log);
    * the share and index are half-up cross-multiplied divisions at the
    * readout, with the eff-sources numerator (2·1e4·total²) lifted to
    * DECIMAL(38,0) — in BIGINT it wraps at ~2.1e7 corpus tokens, two
    * orders below the Σmass² bound. The remaining BIGINT bounds:
    * Σmass² holds to ~3e9 corpus tokens (aggregation-side; the
    * DECIMAL(38,0) hatch is one cast on mass·mass) and the top-share
    * numerator 2e4·top_mass holds to ~4.6e14 — Σmass² binds first.
    *
    * 100 TB shape: one map-side regex pass to a |sources|-row mass frame;
    * everything after is a 1-row readout.
    */
  def sourceMixDiversity(s: SparkSession, dir: String): DataFrame =
    Tables.spread(s, dir, "documents")
      .select(col("source"),
        expr(s"CAST(size($TokensExpr) AS BIGINT)").as("m"))
      .groupBy(col("source")).agg(sum(col("m")).as("mass"))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("mass")).as("total_tokens"),
        sum(expr("mass * mass")).as("ss"),
        max(col("mass")).as("top_mass"))
      // half-up division as the exact truncated quotient (num - num % den)
      // / den over DECIMAL(38,0) — the regr-slope discipline; all terms
      // are non-negative so trunc == floor == the old DIV
      .withColumn("effnum",
        expr("CAST(20000 AS DECIMAL(38,0)) * total_tokens * total_tokens + ss"))
      .withColumn("effden", expr("CAST(2 AS DECIMAL(38,0)) * ss"))
      .select(col("n_sources"), col("total_tokens"),
        expr("CAST((effnum - effnum % effden) / effden AS BIGINT)")
          .as("eff_sources_1e4"),
        expr("CAST((20000 * top_mass + total_tokens) DIV (2 * total_tokens) AS BIGINT)")
          .as("top_share_1e4"))

  /** [[sourceMixDiversity]] as DuckDB SQL. */
  private[graft] val sourceMixDiversitySql: String =
    s"""WITH m AS (SELECT source, CAST(sum(CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS BIGINT)) AS BIGINT) AS mass
                 FROM documents GROUP BY source),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n_sources,
                      CAST(sum(mass) AS BIGINT) AS total_tokens,
                      CAST(sum(mass * mass) AS BIGINT) AS ss,
                      CAST(max(mass) AS BIGINT) AS top_mass
               FROM m),
       fin AS (SELECT n_sources, total_tokens, top_mass,
                      CAST(20000 AS DECIMAL(38,0)) * total_tokens * total_tokens
                        + ss AS effnum,
                      CAST(2 AS DECIMAL(38,0)) * ss AS effden
               FROM agg)
       SELECT n_sources, total_tokens,
              CAST((effnum - effnum % effden) / effden AS BIGINT)
                AS eff_sources_1e4,
              CAST((20000 * top_mass + total_tokens)
                // (2 * total_tokens) AS BIGINT) AS top_share_1e4
       FROM fin"""

  /** Language-diversity audit per source: Simpson's diversity index
    * 1 - sum(p_i^2) over the source's language mix, plus the inverse
    * Simpson ("effective number of languages"). Ecology's standard
    * concentration duals — exact rationals (n^2 - sum c_i^2) / n^2, so
    * unlike Shannon entropy they need no libm log and stay engine-exact
    * (the columnHhi reasoning; HHI measures the same thing over ONE
    * categorical column, this is its per-group readout with the
    * effective-count dual that mixing dashboards quote).
    *
    * simpson_1e6 = 0 means a monolingual feed; inv_simpson_1e4 ~= k*1e4
    * means "as diverse as k equally-sized languages" — the number a
    * data-mixing plan targets per source.
    *
    * 100 TB shape: two stacked map-side-combinable aggregates (corpus ->
    * |sources|x|langs| -> |sources|); nothing downstream exceeds catalog
    * size. The readout numerators (2·1e6·n² and 2·1e4·n²) ride
    * DECIMAL(38,0) — in BIGINT they wrap at ~2.1e6 docs/source, far
    * below the aggregation-side bound. What remains BIGINT: Σc² holds
    * to ~3e9 docs per source; past that lift c*c to DECIMAL(38,0)
    * (documented hatch).
    */
  def langDiversity(s: SparkSession, dir: String): DataFrame =
    diversityFromCounts(
      Tables.documents(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c")))

  /** The Simpson readout over an externally-maintained (source, lang, c)
    * count-cell table — the streaming ingest face keeps exactly these
    * cells as complete-mode aggregate state (counts ADD, so partials
    * merge under any trigger boundary), and this epilogue runs
    * downstream of the sink over the catalog-sized cells.
    */
  def diversityFromCounts(cells: DataFrame): DataFrame =
    cells
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum(expr("c * c")).as("ss"))
      // n² and both half-up numerators in DECIMAL(38,0); the exact
      // truncated quotient (num - num % den) / den == the old DIV since
      // every term is non-negative (n² >= Σc² always)
      .withColumn("nn", expr("CAST(n_docs AS DECIMAL(38,0)) * n_docs"))
      .withColumn("snum", expr("CAST(2000000 AS DECIMAL(38,0)) * (nn - ss) + nn"))
      .withColumn("sden", expr("CAST(2 AS DECIMAL(38,0)) * nn"))
      .withColumn("inum", expr("CAST(20000 AS DECIMAL(38,0)) * nn + ss"))
      .withColumn("iden", expr("CAST(2 AS DECIMAL(38,0)) * ss"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        expr("CAST((snum - snum % sden) / sden AS BIGINT)").as("simpson_1e6"),
        expr("CAST((inum - inum % iden) / iden AS BIGINT)").as("inv_simpson_1e4"))
      .orderBy(col("source"))

  /** [[langDiversity]] as DuckDB SQL. */
  private[graft] val langDiversitySql: String =
    s"""WITH cl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS c
                  FROM documents GROUP BY source, lang),
       agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
                      CAST(count(*) AS BIGINT) AS n_langs,
                      CAST(sum(c * c) AS BIGINT) AS ss
               FROM cl GROUP BY source),
       fin AS (SELECT source, n_docs, n_langs, ss,
                      CAST(n_docs AS DECIMAL(38,0)) * n_docs AS nn
               FROM agg),
       rd AS (SELECT source, n_docs, n_langs,
                     CAST(2000000 AS DECIMAL(38,0)) * (nn - ss) + nn AS snum,
                     CAST(2 AS DECIMAL(38,0)) * nn AS sden,
                     CAST(20000 AS DECIMAL(38,0)) * nn + ss AS inum,
                     CAST(2 AS DECIMAL(38,0)) * ss AS iden
              FROM fin)
       SELECT source, n_docs, n_langs,
              CAST((snum - snum % sden) / sden AS BIGINT) AS simpson_1e6,
              CAST((inum - inum % iden) / iden AS BIGINT) AS inv_simpson_1e4
       FROM rd ORDER BY source"""
}
