package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Hybrid lexical + vector retrieval — the two-channel search shape a
  * training-data pipeline uses for eval-set mining and RAG corpus
  * construction: a rarity-weighted lexical channel (shared distinct
  * tokens through an inverted index) and an exact-cosine vector channel
  * (the existing brute-force top-k), fused by reciprocal-rank fusion.
  *
  * Everything is integer-exact so the DuckDB oracle matches cell for
  * cell: lexical weights are 1e6 div df (monotone in idf, no floating
  * log), rank contributions are 1e6 div (rrfK + rank), and every rank
  * breaks ties on doc_id.
  */
object Retrieval {

  /** BM25 ranking (Robertson/Sparck-Jones Okapi weighting) with every
    * factor in exact integer micros, so the DuckDB oracle matches cell
    * for cell:
    *
    *   - idf is the Robertson ratio without the log — `(2(N-df)+1)·1e6
    *     div (2df+1)` = 1e6·(N-df+0.5)/(df+0.5). The log is monotone, so
    *     ranking by the ratio ranks identically per-term; summing ratios
    *     instead of log-ratios is a documented variant (it sharpens the
    *     rarity weighting) and keeps the arithmetic in int64.
    *   - the tf saturation term tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl))
    *     uses milli-scaled k1/b and one `div` per factor, with dl/avgdl
    *     expanded to (dl·N) div Σdl so there is no fractional average.
    *
    * Terms in more than maxDfPermille/1000 of the corpus are pruned from
    * BOTH scoring and candidate generation (relative stop-term pruning:
    * a term in most of the corpus carries no rarity signal). The cap is
    * relative, not an absolute df, so it does not silently empty the
    * result as the corpus grows; the default is permissive (80%) because
    * the synthetic fixture draws from a ~31-word vocabulary — a
    * production corpus with a Zipfian vocabulary would run 100-300‰,
    * where per-query candidate volume Σ_t min(df(t), cap·N) stays a
    * small corpus fraction.
    *
    * Scale shape: same inverted-index discipline as [[hybridTopK]] — the
    * per-(doc,term) tf table is one map-side-combined shuffle of the
    * token stream, df one more over distinct terms; query terms (a few
    * hundred rows) BROADCAST against the capped index, and the rank
    * window runs over candidates, never the corpus. int64 stays exact to
    * ~1e9 docs per index shard (idf_micro·tf_micro < 2^63);
    * shard-and-merge beyond.
    */
  def bm25TopK(s: SparkSession, dir: String, nQueries: Int = 10,
               k: Int = 10, maxDfPermille: Int = 800,
               k1Milli: Int = 1200, bMilli: Int = 750): DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(expr(TextAnalysis.TokensExpr)).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dl = docs.select(col("doc_id"),
      expr(s"CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT)").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .filter(expr(s"df * 1000 <= n_docs * $maxDfPermille"))
      .select(col("tok"), col("df"))
    val idx = tf.join(dfTab.hint("shuffle_hash"), Seq("tok"))
    val qterms = idx.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("tok"))
    val scored = idx.join(broadcast(qterms), Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl.hint("shuffle_hash"), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro", expr(
        "CAST((2 * (n_docs - df) + 1) * CAST(1000000 AS BIGINT) div (2 * df + 1) AS BIGINT)"))
      .withColumn("norm_milli", expr(
        s"CAST(1000 - $bMilli + ($bMilli * dl * n_docs) div total_tokens AS BIGINT)"))
      .withColumn("tf_micro", expr(
        s"""CAST((tf * (${k1Milli + 1000}) * CAST(1000000000 AS BIGINT))
             div (tf * 1000000 + $k1Milli * norm_milli) AS BIGINT)"""))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("(idf_micro * tf_micro) div 1000000")).as("score_micro"),
        count(lit(1)).as("n_terms"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro"), col("n_terms"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid top-k: for each query document (doc_id < nQueries), fuse the
    * candK best lexical matches and the candK nearest embedding
    * neighbors by RRF and keep the top k.
    *
    * Scale shape: the lexical channel is the dedup-family inverted-index
    * discipline — candidates come from a token equi-join (query tokens
    * BROADCAST: nQueries documents' distinct tokens), with the df cap
    * dropping degenerate buckets (a token in half the corpus is not a
    * retrieval signal, and it would fan out O(corpus) candidate rows);
    * per-query candidate volume is bounded by Σ_t min(df(t), maxDf).
    * The vector channel is the zero-corpus-shuffle map-side top-k
    * aggregator. The rank windows run over candidate sets (≤ bounded
    * candidates per query), never the corpus.
    */
  def hybridTopK(s: SparkSession, dir: String, nQueries: Int = 10,
                 candK: Int = 20, k: Int = 10, rrfK: Int = 60,
                 maxDf: Int = 100): DataFrame = {
    val docToks = Tables.spread(s, dir, "documents")
      .select(col("doc_id"),
        explode(expr(TextAnalysis.TokensExpr)).as("tok"))
      .distinct()
    val weights = docToks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .withColumn("w", expr("CAST(1000000 div df AS BIGINT)"))
    val indexed = docToks.join(weights.hint("shuffle_hash"), Seq("tok"))
      .select(col("doc_id"), col("tok"), col("w"))
    val queryToks = indexed.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("tok"))
    val lexTop = indexed.join(broadcast(queryToks), Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("lex_score"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("lex_score").desc, col("doc_id"))).cast("long"))
      .filter(col("lex_rank") <= candK)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val vecTop = Similarity.bruteForceTopK(s, dir, nQueries, candK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    lexTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"CAST(1000000 div ($rrfK + lex_rank) AS BIGINT)"), lit(0L))
          + coalesce(expr(s"CAST(1000000 div ($rrfK + vec_rank) AS BIGINT)"), lit(0L)))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_micro"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Exact phrase search through a positional inverted index: documents
    * containing the token sequence `phrase` contiguously, with occurrence
    * count and first match position — the IR primitive BM25's bag-of-words
    * scoring cannot express ("new york" is not "york new"). Matching is
    * the classic positional-postings alignment: each phrase term's
    * postings shift left by its offset, and a start position surviving
    * the n-way (doc_id, start_pos) equi-join is a contiguous match.
    *
    * 100 TB shape: per-term postings are filtered to the phrase's tokens
    * BEFORE any join, so join volume is bounded by the rarest term's df
    * (the join chain intersects monotonically — each step can only
    * shrink). All joins are equi-joins on (doc_id, start_pos); no window
    * or self-join ever sees the full token stream, and the final
    * aggregate is map-side combined. A production index would persist
    * the (tok, doc_id, pos) table bucketed by tok to skip the tokenize
    * pass per query; the alignment plan is unchanged.
    */
  def phraseSearch(s: SparkSession, dir: String,
                   phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one token")
    val tok = Tables.spread(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(expr(TextAnalysis.TokensExpr)).as(Seq("pos", "tok")))
    val anchors = phrase.zipWithIndex.map { case (t, i) =>
      tok.filter(col("tok") === lit(t))
        .select(col("doc_id"), (col("pos") - i).as("start_pos"))
    }
    anchors.reduce((a, b) => a.join(b, Seq("doc_id", "start_pos")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("start_pos")).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** Retrieval-quality evaluation: recall@k, hit-rate@k, and MRR of the
    * BM25 ranker against EXACT near-duplicate ground truth. Every doc
    * with a threshold-Jaccard partner ([[Dedup.prefixFilterJaccard]],
    * the exact PPJoin — no sketch error in the truth set) becomes a
    * query; its partners are the relevant set; the ranker must surface
    * them. This is the eval harness a retrieval-backed curation pipeline
    * runs before trusting a ranker for eval-set mining or RAG corpus
    * construction — and the lexical sibling of [[Dedup.dedupRecallReport]]
    * (there the system under test is the LSH pipeline; here it is BM25).
    *
    * All metrics exact-integer: recall/hit-rate half-up 1e-4; MRR sums
    * per-query half-up reciprocal ranks (1e6) then one half-up mean —
    * the oracle replicates the identical two-stage rounding.
    *
    * Scale shape: the truth derivation and the BM25 index each pay their
    * documented shuffles (see prefixFilterJaccard / bm25TopK); past
    * those, the eval itself is query-count-sized — hits are a rank-frame
    * join against the relevance pairs, and the @k fan-out is a
    * constant-width non-equi join over catalog-sized frames.
    */
  def retrievalEval(s: SparkSession, dir: String,
                    ks: Seq[Int] = Seq(1, 5, 10),
                    maxDfPermille: Int = 800, k1Milli: Int = 1200,
                    bMilli: Int = 750): DataFrame = {
    import s.implicits._
    val kMax = ks.max
    val truth = Dedup.prefixFilterJaccard(s, dir)
    val rel = truth.select(col("doc_a").as("query_id"), col("doc_b").as("rel_id"))
      .union(truth.select(col("doc_b").as("query_id"), col("doc_a").as("rel_id")))
      .localCheckpoint(true) // O(near-dup pairs); three consumers
    val qids = rel.select("query_id").distinct()
    val ranked = rankedForQueries(s, dir, qids, kMax, maxDfPermille,
      k1Milli, bMilli)

    val hits = ranked.join(rel,
        ranked("query_id") === rel("query_id") &&
        ranked("doc_id") === rel("rel_id"))
      .select(ranked("query_id"), col("rank"))
      .localCheckpoint(true) // tiny; read once per k band + first-rank
    val first = hits.groupBy(col("query_id")).agg(min(col("rank")).as("first_rank"))
    val totals = qids.agg(count(lit(1)).as("n_queries"))
      .crossJoin(rel.agg(count(lit(1)).as("n_relevant")))
    val kFrame = ks.map(_.toLong).toDF("k")
    val hitsK = kFrame.join(broadcast(hits), col("rank") <= col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_hits"))
    val rrK = kFrame.join(broadcast(first), col("first_rank") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_q_hit"),
        sum(expr("(2000000 + first_rank) DIV (2 * first_rank)")).as("sum_rr"))
    kFrame
      .join(hitsK, Seq("k"), "left")
      .join(rrK, Seq("k"), "left")
      .crossJoin(broadcast(totals))
      .select(col("k"), col("n_queries"), col("n_relevant"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("CAST((20000 * coalesce(n_hits, 0) + n_relevant) DIV (2 * n_relevant) AS BIGINT)")
          .as("recall_1e4"),
        expr("CAST((20000 * coalesce(n_q_hit, 0) + n_queries) DIV (2 * n_queries) AS BIGINT)")
          .as("hit_rate_1e4"),
        expr("CAST((2 * coalesce(sum_rr, 0) + n_queries) DIV (2 * n_queries) AS BIGINT)")
          .as("mrr_1e6"))
      .orderBy(col("k"))
  }

  /** The eval's ranking frame (query_id, rank, doc_id) for the spec's
    * in-memory metric recompute — ground-truth queries, BM25 top-kMax.
    */
  private[graft] def retrievalRankedForTest(s: SparkSession,
                                            dir: String): DataFrame = {
    val truth = Dedup.prefixFilterJaccard(s, dir)
    val qids = truth.select(col("doc_a").as("query_id"))
      .union(truth.select(col("doc_b").as("query_id"))).distinct()
    rankedForQueries(s, dir, qids, 10, 800, 1200, 750)
      .select(col("query_id"), col("rank"), col("doc_id"))
  }

  /** The bm25TopK scoring chain with the query set joined in rather than
    * id-range-filtered (an eval's queries are wherever its truth pairs
    * landed). Same scale shape as [[bm25TopK]].
    */
  private def rankedForQueries(s: SparkSession, dir: String, qids: DataFrame,
                               kMax: Int, maxDfPermille: Int, k1Milli: Int,
                               bMilli: Int): DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(expr(TextAnalysis.TokensExpr)).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dl = docs.select(col("doc_id"),
      expr(s"CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT)").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))
    val dfTab = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .filter(expr(s"df * 1000 <= n_docs * $maxDfPermille"))
      .select(col("tok"), col("df"))
    val idx = tf.join(dfTab.hint("shuffle_hash"), Seq("tok"))
    val qterms = idx.join(broadcast(qids), idx("doc_id") === qids("query_id"))
      .select(col("query_id"), col("tok"))
    val ranked = idx.join(broadcast(qterms), Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dl.hint("shuffle_hash"), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro", expr(
        "CAST((2 * (n_docs - df) + 1) * CAST(1000000 AS BIGINT) div (2 * df + 1) AS BIGINT)"))
      .withColumn("norm_milli", expr(
        s"CAST(1000 - $bMilli + ($bMilli * dl * n_docs) div total_tokens AS BIGINT)"))
      .withColumn("tf_micro", expr(
        s"""CAST((tf * (${k1Milli + 1000}) * CAST(1000000000 AS BIGINT))
             div (tf * 1000000 + $k1Milli * norm_milli) AS BIGINT)"""))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("(idf_micro * tf_micro) div 1000000")).as("score_micro"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_micro").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= kMax)
    ranked
  }

  /** [[retrievalEval]] as DuckDB SQL — the exact-truth CTEs, the BM25
    * chain, and the @k readout in one statement.
    */
  private[graft] def retrievalEvalSql(ks: Seq[Int],
                                      maxDfPermille: Int, k1Milli: Int,
                                      bMilli: Int): String = {
    val kMax = ks.max
    s"""WITH d AS (SELECT doc_id, regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+') AS ws FROM documents),
       shd AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
                FROM d WHERE len(ws) >= 3),
       ex AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh, unnest(sh) AS shingle FROM shd),
       pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.n_sh AS na, b.n_sh AS nb, count(*) AS common
                 FROM ex a JOIN ex b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh),
       tp AS (SELECT doc_a, doc_b FROM pairs
              WHERE (20000 * common + (na + nb - common))
                    // (2 * (na + nb - common)) >= 5000),
       rel AS (SELECT doc_a AS query_id, doc_b AS rel_id FROM tp
               UNION ALL SELECT doc_b AS query_id, doc_a AS rel_id FROM tp),
       q AS (SELECT DISTINCT query_id FROM rel),
       tf AS (SELECT doc_id, tok, count(*) AS tf FROM
              (SELECT doc_id, unnest(ws) AS tok FROM d)
              GROUP BY doc_id, tok),
       dlt AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d),
       st AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens FROM dlt),
       dfb AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok
               HAVING count(*) * 1000 <= (SELECT n_docs FROM st) * $maxDfPermille),
       idx AS (SELECT t.doc_id, t.tok, t.tf, f.df FROM tf t JOIN dfb f USING (tok)),
       qt AS (SELECT i.doc_id AS query_id, i.tok FROM idx i
              JOIN q ON q.query_id = i.doc_id),
       sc AS (SELECT qq.query_id, i.doc_id,
              CAST(sum(
                (((2 * (st.n_docs - i.df) + 1) * CAST(1000000 AS BIGINT) // (2 * i.df + 1))
                 * ((i.tf * ${k1Milli + 1000} * CAST(1000000000 AS BIGINT))
                    // (i.tf * 1000000 + $k1Milli *
                       (1000 - $bMilli + ($bMilli * dlt.dl * st.n_docs) // st.total_tokens))))
                // 1000000) AS BIGINT) AS score_micro
              FROM idx i JOIN qt qq USING (tok)
              JOIN dlt ON dlt.doc_id = i.doc_id CROSS JOIN st
              WHERE i.doc_id <> qq.query_id
              GROUP BY qq.query_id, i.doc_id),
       rk AS (SELECT query_id, doc_id, rank FROM (
              SELECT query_id, doc_id,
                     CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
              FROM sc) r WHERE rank <= $kMax),
       hits AS (SELECT rk.query_id, rk.rank FROM rk
                JOIN rel ON rel.query_id = rk.query_id
                        AND rel.rel_id = rk.doc_id),
       fh AS (SELECT query_id, min(rank) AS first_rank FROM hits GROUP BY query_id),
       tot AS (SELECT (SELECT count(*) FROM q) AS n_queries,
                      (SELECT count(*) FROM rel) AS n_relevant),
       kv AS (SELECT unnest([${ks.mkString(", ")}]) AS k),
       hk AS (SELECT kv.k, count(*) AS n_hits FROM kv
              JOIN hits ON hits.rank <= kv.k GROUP BY kv.k),
       rr AS (SELECT kv.k, count(*) AS n_q_hit,
                     sum((2000000 + first_rank) // (2 * first_rank)) AS sum_rr
              FROM kv JOIN fh ON fh.first_rank <= kv.k GROUP BY kv.k)
       SELECT CAST(kv.k AS BIGINT) AS k,
              CAST(t.n_queries AS BIGINT) AS n_queries,
              CAST(t.n_relevant AS BIGINT) AS n_relevant,
              CAST(coalesce(hk.n_hits, 0) AS BIGINT) AS n_hits,
              CAST((20000 * coalesce(hk.n_hits, 0) + t.n_relevant)
                   // (2 * t.n_relevant) AS BIGINT) AS recall_1e4,
              CAST((20000 * coalesce(rr.n_q_hit, 0) + t.n_queries)
                   // (2 * t.n_queries) AS BIGINT) AS hit_rate_1e4,
              CAST((2 * coalesce(rr.sum_rr, 0) + t.n_queries)
                   // (2 * t.n_queries) AS BIGINT) AS mrr_1e6
       FROM kv CROSS JOIN tot t
       LEFT JOIN hk ON hk.k = kv.k
       LEFT JOIN rr ON rr.k = kv.k
       ORDER BY k"""
  }
}
