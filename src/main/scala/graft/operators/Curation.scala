package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Training-corpus curation passes that sit between cleaning/dedup and the
  * final dataset write: benchmark decontamination, sequence packing, and
  * the train/valid/test split. The reference corpus has none of these (it
  * is a traffic ETL — `/root/reference/src/etl/transform.py` stops at
  * validation); they are the builder-brief "large-scale training-data
  * pipeline" extensions, designed Spark-first.
  */
object Curation {

  /** Word n-gram expression over a token-array column `ws`: the doc's
    * DISTINCT space-joined n-grams (distinct because contamination is a
    * set-overlap question, not a multiplicity one).
    */
  private def ngramsExpr(n: Int): String = {
    val parts = (0 until n).map(j => s"element_at(ws, i + $j)").mkString(", ")
    s"array_distinct(transform(sequence(1, size(ws) - ${n - 1}), i -> concat_ws(' ', $parts)))"
  }

  /** 1. Benchmark decontamination (the GPT-3-style n-gram overlap pass):
    * flag every training document that shares at least one word n-gram
    * with the held-out eval set, so it can be dropped before training.
    *
    * The eval set here is the deterministic `doc_id % evalMod == 0` slice
    * (a stand-in for a benchmark suite); n = 4 on the fixtures' ~30-word
    * vocabulary is the selectivity equivalent of the 13-gram window used
    * on real text.
    *
    * 100 TB shape: benchmark suites are tiny (thousands of documents)
    * while the corpus is the 100 TB side — so the eval n-gram set is
    * BROADCAST and the corpus is never shuffled; the only aggregation
    * runs over the collision rows (proportional to actual contamination,
    * not corpus size). The dual countDistinct plans via Expand, which is
    * safe here for the same reason: its input is the collision set.
    */
  def decontaminate(s: SparkSession, dir: String, n: Int = 4,
                    evalMod: Int = 97): DataFrame = {
    val grams = Tables.spread(s, dir, "documents")
      .withColumn("ws", expr(TextAnalysis.TokensExpr))
      .filter(expr(s"size(ws) >= $n"))
      .select(col("doc_id"), explode(expr(ngramsExpr(n))).as("g"))
    val eval = grams.filter(pmod(col("doc_id"), lit(evalMod)) === 0)
      .select(col("g"), col("doc_id").as("eval_doc")).distinct()
    grams.filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
      .join(broadcast(eval), "g")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("g")).as("n_overlap_ngrams"),
        countDistinct(col("eval_doc")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /** 1b. Per-source contamination report: the rollup an operator reads
    * after [[decontaminate]] — which sources are leaking eval content,
    * and how badly. The flagged set is proportional to actual
    * contamination (tiny), so it broadcasts back onto the per-source
    * doc counts; eval docs themselves are excluded from the denominator.
    */
  def contaminationReport(s: SparkSession, dir: String, n: Int = 4,
                          evalMod: Int = 97): DataFrame = {
    val flagged = decontaminate(s, dir, n, evalMod)
      .select(col("doc_id"), lit(1L).as("hit"))
    Tables.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
      .select(col("doc_id"), col("source"))
      .join(broadcast(flagged), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      // half-up 4-decimal contaminated fraction, pure integer arithmetic
      .withColumn("contaminated_1e4",
        expr("(20000 * n_contaminated + n_docs) DIV (2 * n_docs)"))
      .orderBy(col("source"))
  }

  /** 2. Sequence packing (concat-and-chunk): lay the corpus out as one
    * token stream per source (documents in doc_id order) and cut it into
    * training sequences of `budget` tokens; a document belongs to the
    * sequence its first token falls in. This is the packing strategy GPT
    * pretraining uses — no padding waste, documents straddle boundaries.
    *
    * Output is one row per (source, seq_id): how many documents start in
    * the sequence, their token mass, and the doc_id span (the metadata a
    * loader needs to materialize the sequence).
    *
    * 100 TB shape: one window cumsum PARTITIONED BY source (sources give
    * natural parallelism; no global ordering is ever required) + one hash
    * aggregate. Rows out = total_tokens / budget, independent of doc
    * count skew.
    */
  def packSequences(s: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(s, dir)
      .withColumn("n_tokens", expr(s"CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT)"))
      .withColumn("strt", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"strt DIV $budget"))
      .groupBy(col("source"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("seq_id"))
  }

  /** 2b. INCREMENTAL sequence packing — the steady-state shape for a
    * growing corpus: doc_ids are append-monotone, so a delta batch
    * continues each source's token stream from the carried per-source
    * offset (total tokens packed so far) instead of re-windowing the
    * corpus. The boundary sequence (the one the prefix left partially
    * filled) appears in both halves and merges by summing; everything
    * else is disjoint. merge(pack(prefix), packFrom(delta, offsets)) ==
    * pack(all) EXACTLY — the registry query's oracle is the from-scratch
    * recompute, proving it every round.
    */
  def packSequencesSlice(s: SparkSession, dir: String, budget: Int,
                         minIdInclusive: Long, maxIdExclusive: Long,
                         offsets: Option[DataFrame] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val sliced = Tables.documents(s, dir)
      .filter(col("doc_id") >= minIdInclusive && col("doc_id") < maxIdExclusive)
      .withColumn("n_tokens", expr(s"CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT)"))
      .withColumn("local_strt", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
    val based = offsets match {
      case Some(off) => sliced
        .join(broadcast(off), Seq("source"), "left") // a brand-new source has no offset yet
        .withColumn("strt", col("local_strt") + coalesce(col("base_tokens"), lit(0L)))
      case None => sliced.withColumn("strt", col("local_strt"))
    }
    based
      .withColumn("seq_id", expr(s"strt DIV $budget"))
      .groupBy(col("source"), col("seq_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Per-source packed-token totals of a prefix — the offsets a delta
    * continues from (one tiny row per source; persist it next to the
    * packed output and this pass never re-reads the prefix).
    */
  def packOffsets(s: SparkSession, dir: String, maxIdExclusive: Long): DataFrame =
    Tables.documents(s, dir)
      .filter(col("doc_id") < maxIdExclusive)
      .groupBy(col("source"))
      .agg(expr(s"sum(CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT))").as("base_tokens"))

  /** Merge packed slices: the boundary sequence sums, disjoint rows pass
    * through. Output contract matches [[packSequences]].
    */
  def mergePacked(slices: DataFrame*): DataFrame =
    slices.reduce(_ unionByName _)
      .groupBy(col("source"), col("seq_id"))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("seq_tokens")).as("seq_tokens"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"))
      .orderBy(col("source"), col("seq_id"))

  /** 3. Deterministic stratified train/valid/test split: assignment by
    * content-hash threshold (the [[Sampling]] mechanics — reproducible
    * across engines, reruns, and repartitions; a doc's split never
    * changes when the corpus grows, so incremental ingestion keeps old
    * split assignments valid). Hash uniformity makes the split
    * stratified-in-expectation within every (source) cell; the output
    * reports the realized per-source counts, token mass, and the
    * half-up 4-decimal realized fraction so drift is observable.
    *
    * 100 TB shape: one md5 per row, no shuffle for the assignment; one
    * hash aggregate for the report. The split column itself is the thing
    * a writer would partition the output by.
    */
  /** Corpus snapshot diff — the data-versioning audit a managed corpus
    * runs between releases: which documents were ADDED, REMOVED, or
    * CHANGED (by content hash), and how many characters each source
    * gained or lost. The fixtures carry one corpus state, so the prior
    * snapshot is FABRICATED deterministically (the piiRedact discipline
    * — the oracle rebuilds the identical prior, making the diff logic
    * itself hash-verified, not a no-op pass): prior = doc_id < 80% of
    * the id ceiling with every doc_id % 5 == 0 text carrying a ' draft'
    * suffix (a simulated edit); current = doc_id >= 10%. All four
    * statuses are therefore populated: removed (< 10%), added (>= 80%),
    * changed (%5 edits in the overlap), unchanged (the rest).
    *
    * Scale shape: ONE full outer join co-partitioned on doc_id, content
    * equality by md5 (never the text itself crossing the compare), then
    * a hash aggregate to |sources|×4 rows. Character deltas stay exact
    * BIGINT.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(s, dir, "documents")
      .select(col("doc_id"), col("source"), coalesce(col("text"), lit("")).as("text"))
    val ceil = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val (lo, hi) = (ceil / 10, ceil * 4 / 5)
    val prior = docs.filter(col("doc_id") < hi)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" draft")))
          .otherwise(col("text")).as("p_text"))
    val current = docs.filter(col("doc_id") >= lo)
    current.select(col("doc_id"), col("source").as("c_source"),
        md5(col("text")).as("c_md5"), length(col("text")).cast("long").as("c_len"))
      .join(prior.select(col("doc_id"), col("source").as("p_source"),
        md5(col("p_text")).as("p_md5"),
        length(col("p_text")).cast("long").as("p_len")),
        Seq("doc_id"), "full_outer")
      .select(coalesce(col("c_source"), col("p_source")).as("source"),
        when(col("p_md5").isNull, lit("added"))
          .when(col("c_md5").isNull, lit("removed"))
          .when(col("c_md5") === col("p_md5"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        (coalesce(col("c_len"), lit(0L)) - coalesce(col("p_len"), lit(0L)))
          .as("delta"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("delta")).as("chars_delta"))
      .orderBy(col("source"), col("status"))
  }

  /** The diff as portable SQL (valid verbatim in DuckDB and Spark) —
    * `$ceil` is the id ceiling the operator reads from the data; the
    * registry wires it per-SF via a scalar subquery.
    */
  private[graft] val snapshotDiffSql: String =
    """WITH b AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS ceil
                  FROM documents),
       docs AS (SELECT doc_id, source, coalesce(text, '') AS text
                FROM documents),
       prior AS (SELECT doc_id, source,
                   CASE WHEN doc_id % 5 = 0 THEN text || ' draft'
                        ELSE text END AS p_text
                 FROM docs CROSS JOIN b
                 WHERE doc_id < CAST(b.ceil * 4 / 5 AS BIGINT)),
       cur AS (SELECT doc_id, source, text
               FROM docs CROSS JOIN b
               WHERE doc_id >= CAST(b.ceil / 10 AS BIGINT)),
       j AS (SELECT coalesce(c.source, p.source) AS source,
                    CASE WHEN p.doc_id IS NULL THEN 'added'
                         WHEN c.doc_id IS NULL THEN 'removed'
                         WHEN md5(c.text) = md5(p.p_text) THEN 'unchanged'
                         ELSE 'changed' END AS status,
                    CAST(coalesce(length(c.text), 0) AS BIGINT)
                      - CAST(coalesce(length(p.p_text), 0) AS BIGINT) AS delta
             FROM cur c FULL OUTER JOIN prior p ON p.doc_id = c.doc_id)
       SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(delta) AS BIGINT) AS chars_delta
       FROM j GROUP BY source, status ORDER BY source, status"""

  def stratifiedSplit(s: SparkSession, dir: String,
                      trainRate: Double = 0.8, validRate: Double = 0.1): DataFrame = {
    val tTrain = Sampling.hexThreshold(trainRate)
    val tValid = Sampling.hexThreshold(trainRate + validRate)
    Tables.documents(s, dir)
      .withColumn("n_tokens", expr(s"CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT)"))
      .withColumn("split", expr(
        s"""CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 8) < '$tTrain' THEN 'train'
                 WHEN substring(md5(CAST(doc_id AS STRING)), 1, 8) < '$tValid' THEN 'valid'
                 ELSE 'test' END"""))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("src_total",
        sum(col("n_docs")).over(org.apache.spark.sql.expressions.Window.partitionBy("source")))
      // half-up 4-decimal realized split fraction, pure integer arithmetic
      // (see Similarity.Micro4 for why engine round() must not be used)
      .withColumn("share_1e4", expr("(20000 * n_docs + src_total) DIV (2 * src_total)"))
      .select(col("source"), col("split"), col("n_docs"), col("n_tokens"), col("share_1e4"))
      .orderBy(col("source"), col("split"))
  }

  /** 4. Exact token-budget apportionment across sources (Hamilton /
    * largest-remainder): split a global training-token budget over
    * sources proportionally to their available tokens, EXACT TO THE
    * TOKEN — sum(alloc_tokens) == budget, always. floor quotas first,
    * then the leftover seats go to the largest fractional remainders
    * (ties broken by source name, so the result is deterministic).
    *
    * The budget here is total/3 (a fixed fraction keeps the semantics
    * identical at every scale factor).
    *
    * 100 TB shape: everything after the per-source token aggregate
    * operates on ONE ROW PER SOURCE — source counts are bounded by the
    * catalog, not the corpus, so the rank-over-all-sources window is a
    * few-row operation forever. Quota products are DECIMAL(38,0)
    * (budget x tokens overflows BIGINT at ~1e14-token corpora — same
    * guard as the regression-moments operator); the exact floor is the
    * (q - q % T) / T identity.
    */
  def apportionBudget(s: SparkSession, dir: String): DataFrame = {
    val perSrc = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(expr(s"sum(CAST(size(${TextAnalysis.TokensExpr}) AS BIGINT))").as("n_tokens"))
    val tot = perSrc.agg(sum(col("n_tokens")).as("t"))
      .select(col("t"), expr("(t - t % 3) DIV 3").as("budget"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy(lit(0))
      .orderBy(col("remainder").desc, col("source"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("q", expr("CAST(budget AS DECIMAL(38,0)) * CAST(n_tokens AS DECIMAL(38,0))"))
      .withColumn("td", expr("CAST(t AS DECIMAL(38,0))"))
      .withColumn("base_tokens", expr("CAST((q - q % td) / td AS BIGINT)"))
      .withColumn("remainder", expr("CAST(q % td AS BIGINT)"))
      .withColumn("extra", (col("budget") - sum(col("base_tokens")).over(wAll)))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("alloc_tokens",
        col("base_tokens") + when(col("rk") <= col("extra"), lit(1L)).otherwise(lit(0L)))
      .select(col("source"), col("n_tokens"), col("base_tokens"),
        col("remainder"), col("alloc_tokens"))
      .orderBy(col("source"))
  }

  /** Canonical-document selection: the step after near-dup clustering
    * that decides WHICH copy of each duplicate group survives into the
    * training set. Every document gets a cluster (its [[Dedup.dupClusters]]
    * label if it near-duplicates anything, else itself), and within each
    * cluster exactly one doc is kept — the highest quality_1e4 score,
    * ties to the smallest doc_id. This replaces the naive "keep the
    * first/smallest id" retention rule with a quality-aware one (the
    * curation practice for web corpora: among mirror copies, keep the
    * cleanest rendering).
    *
    * Scale shape: the clustering dominates (see dupClusters — LSH-bucketed
    * pairs + min-label propagation over edges); this pass adds one
    * hash join of the corpus quality table against the (much smaller)
    * clustered-doc labeling and one window over cluster partitions, whose
    * sizes are dup-group sizes — bounded by data redundancy, not corpus
    * size. A whale cluster (one doc mirrored everywhere) is exactly the
    * whale-key case SkewUtils covers.
    */
  def keepBestPerCluster(s: SparkSession, dir: String,
                         threshold: Double = 0.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val clusters = Dedup.dupClusters(s, dir, threshold)
      .select(col("doc_id"), col("cluster_id"))
    val quality = TextAnalysis.qualityScore(s, dir)
      .select(col("doc_id"), col("quality_1e4"))
    val labeled = quality.join(clusters.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val wSize = w.partitionBy(col("cluster_id"))
    val wRank = w.partitionBy(col("cluster_id"))
      .orderBy(col("quality_1e4").desc_nulls_last, col("doc_id"))
    labeled
      .withColumn("cluster_size", count(lit(1)).over(wSize))
      .withColumn("kept", row_number().over(wRank) === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_1e4"), col("kept"))
      .orderBy(col("doc_id"))
  }

  /** Packing-efficiency report — the quality readout over
    * [[packSequences]]' output that tells a training run what its padding
    * bill will be: per source, sequence counts, overfull sequences (a
    * boundary-spanning doc pushes seq_tokens past the budget — truncation
    * candidates), underfull NON-FINAL sequences (real fragmentation; the
    * final partial sequence is legitimate), the exact pad-token bill
    * (budget - seq_tokens over non-final sequences), and the half-up
    * fill rate vs nominal capacity.
    *
    * 100 TB shape: runs entirely on the packed-sequence table (one row
    * per sequence — corpus/budget-sized, far below docs); the per-source
    * final-sequence ids broadcast back; one aggregate to |sources| rows.
    */
  def packEfficiency(s: SparkSession, dir: String,
                     budget: Int = 512): DataFrame = {
    val b = budget.toLong
    val seqs = packSequences(s, dir, budget)
    val finals = seqs.groupBy(col("source"))
      .agg(max(col("seq_id")).as("final_seq"))
    seqs.join(broadcast(finals), Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("seq_tokens")).as("total_tokens"),
        sum(when(col("seq_tokens") > b, lit(1L)).otherwise(lit(0L)))
          .as("n_overfull"),
        sum(when(col("seq_tokens") < b && col("seq_id") =!= col("final_seq"),
          lit(1L)).otherwise(lit(0L))).as("n_underfull_nonfinal"),
        sum(when(col("seq_id") =!= col("final_seq"),
          greatest(lit(0L), lit(b) - col("seq_tokens"))).otherwise(lit(0L)))
          .as("pad_tokens"))
      .withColumn("fill_1e4",
        expr(s"(20000 * total_tokens + n_seqs * $b) DIV (2 * n_seqs * $b)"))
      .orderBy(col("source"))
  }

  /** The efficiency statement from the same packed-sequence derivation as
    * the q_pack_sequences oracle.
    */
  private[graft] def packEfficiencySql(budget: Int = 512): String =
    s"""WITH d AS (SELECT doc_id, source, CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z0-9]+')) AS BIGINT)
              AS n_tokens
            FROM documents),
         st AS (SELECT doc_id, source, n_tokens,
                COALESCE(sum(n_tokens) OVER (PARTITION BY source
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS strt FROM d),
         seqs AS (SELECT source, CAST(strt // $budget AS BIGINT) AS seq_id,
                         CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
                  FROM st GROUP BY source, CAST(strt // $budget AS BIGINT)),
         fin AS (SELECT source, max(seq_id) AS final_seq
                 FROM seqs GROUP BY source)
         SELECT seqs.source, CAST(count(*) AS BIGINT) AS n_seqs,
                CAST(sum(seq_tokens) AS BIGINT) AS total_tokens,
                CAST(sum(CASE WHEN seq_tokens > $budget THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overfull,
                CAST(sum(CASE WHEN seq_tokens < $budget
                          AND seq_id <> fin.final_seq THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_underfull_nonfinal,
                CAST(sum(CASE WHEN seq_id <> fin.final_seq
                          THEN greatest(0, $budget - seq_tokens)
                          ELSE 0 END) AS BIGINT) AS pad_tokens,
                (20000 * CAST(sum(seq_tokens) AS BIGINT)
                 + CAST(count(*) AS BIGINT) * $budget)
                  // (2 * CAST(count(*) AS BIGINT) * $budget) AS fill_1e4
         FROM seqs JOIN fin ON fin.source = seqs.source
         GROUP BY seqs.source ORDER BY seqs.source"""

  /** Deterministic proportional interleave (curriculum schedule) audit:
    * assign every document a SCHEDULE KEY such that reading the corpus in
    * key order interleaves the sources proportionally — every prefix of
    * the training stream sees (approximately) the global source mix, the
    * property that keeps a run's early loss curve representative (a
    * source-sorted corpus front-loads one distribution; a random shuffle
    * loses rerun determinism).
    *
    * The key is the classic stride schedule: the r-th document of a
    * source holding n_s documents lands at phase (2r-1)/(2·n_s) of the
    * stream — evenly spread, first item at half a stride. Keys are
    * realized as exact integers via a PRECOMPUTED per-source stride,
    * stride_s = 2^40 DIV (2·n_s), skey = (2r-1)·stride_s — truncation
    * identical in every engine, and the product stays under 2^40 for any
    * r (the naive ((2r-1)·2^40) DIV (2·n_s) form overflows BIGINT once
    * n_s exceeds ~4·10^8; the stride form holds to n_s = 2^39 docs per
    * source, beyond which widen the phase space from 2^40).
    *
    * The emitted AUDIT proves the mix property without materializing the
    * global order: bucketing keys into deciles of [0, 2^40) needs no
    * sort, and per (decile, source) counts vs the source's global share
    * show every tenth of the schedule carrying the corpus mix. A full
    * writer would range-partition on the key (the zorderWrite pattern:
    * sampled boundaries, in-partition sort, NO global rank window).
    *
    * 100 TB shape: one per-source window rank (the only shuffle,
    * unavoidable — ranks ARE per-source sequence numbers), broadcast
    * per-source counts, then a hash aggregate to 10·|sources| rows.
    */
  def interleaveMix(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val ranked = Tables.spread(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("r", row_number().over(w).cast("long"))
    // counts from the bare projection, not from `ranked` — deriving them
    // downstream of the window would pay the rank shuffle twice
    val counts = Tables.spread(s, dir, "documents")
      .groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val tot = counts.agg(sum(col("n_s")).as("n_total"))
    ranked.join(broadcast(counts), Seq("source"))
      .withColumn("stride",
        expr("CAST(1099511627776 AS BIGINT) DIV (2 * n_s)"))
      .withColumn("skey", expr("(2 * r - 1) * stride"))
      .withColumn("decile", expr("(skey * 10) DIV 1099511627776"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(tot))
      .join(broadcast(counts), Seq("source"))
      .withColumn("share_1e4",
        expr("(20000 * n_docs * 10 + n_total) DIV (2 * n_total)"))
      .withColumn("source_share_1e4",
        expr("(20000 * n_s + n_total) DIV (2 * n_total)"))
      .select(col("source"), col("decile"), col("n_docs"),
        col("share_1e4"), col("source_share_1e4"))
      .orderBy(col("source"), col("decile"))
  }

  /** The interleave audit as one statement. share_1e4 is the decile-
    * local share ((n_docs·10)/n_total, half-up 1e-4): a perfect schedule
    * makes it equal source_share_1e4 in every decile.
    */
  private[graft] def interleaveSql: String =
    s"""WITH r AS (SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                 AS BIGINT) AS r
           FROM documents),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
               FROM documents GROUP BY source),
         t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM c),
         k AS (SELECT r.source,
                      (2 * r.r - 1) *
                        (CAST(1099511627776 AS BIGINT) // (2 * c.n_s))
                        AS skey
               FROM r JOIN c ON c.source = r.source),
         d AS (SELECT source, (skey * 10) // 1099511627776 AS decile,
                      CAST(count(*) AS BIGINT) AS n_docs
               FROM k GROUP BY source, (skey * 10) // 1099511627776)
         SELECT d.source, d.decile, d.n_docs,
                (20000 * d.n_docs * 10 + t.n_total) // (2 * t.n_total)
                  AS share_1e4,
                (20000 * c.n_s + t.n_total) // (2 * t.n_total)
                  AS source_share_1e4
         FROM d CROSS JOIN t JOIN c ON c.source = d.source
         ORDER BY d.source, d.decile"""

  /** Near-duplicate leakage across the deterministic train/valid/test
    * split: every exact threshold-Jaccard pair
    * ([[Dedup.prefixFilterJaccard]] ground truth) classified by the
    * splits its two docs land in under the SAME md5 rule as
    * [[stratifiedSplit]]. Off-diagonal rows (split_a != split_b,
    * leak = 1) are evaluation contamination — a test doc whose near-twin
    * sits in train scores as memorization, not generalization. This is
    * the pair-level audit [[decontaminate]] acts on (there: drop the
    * offenders; here: measure the exposure before deciding).
    *
    * 100 TB shape: the truth derivation pays the documented PPJoin
    * shuffles; the split labels are a pure projection (md5 on the id —
    * no join against any split table), so the census is one hash
    * aggregate over the O(near-dup) pair frame to at most 6 rows.
    */
  def splitLeakage(s: SparkSession, dir: String, trainRate: Double = 0.8,
                   validRate: Double = 0.1): DataFrame = {
    val tTrain = Sampling.hexThreshold(trainRate)
    val tValid = Sampling.hexThreshold(trainRate + validRate)
    def splitOf(c: String) = expr(
      s"""CASE WHEN substring(md5(CAST($c AS STRING)), 1, 8) < '$tTrain' THEN 'train'
               WHEN substring(md5(CAST($c AS STRING)), 1, 8) < '$tValid' THEN 'valid'
               ELSE 'test' END""")
    Dedup.prefixFilterJaccard(s, dir)
      .withColumn("sa", splitOf("doc_a"))
      .withColumn("sb", splitOf("doc_b"))
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leak", (col("split_a") =!= col("split_b")).cast("int"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Quality-selection gain curve: rank every document by the composite
    * quality score ([[TextAnalysis.qualityScore]], score-less docs rank
    * last), cut into score deciles (decile 0 = best), and report the
    * cumulative token mass each cut captures — the curve that prices a
    * "train on the top X% by quality" decision in actual training
    * tokens, and the data-selection sibling of the revenue Lorenz curve.
    *
    * 100 TB shape: the exact global rank is DISTRIBUTED — the
    * repartitionByRange + per-partition row_number + broadcast
    * prefix-count offsets build (the revenueLorenz strategy; sampled
    * range boundaries move partition splits, never the total order), so
    * no single task ever sorts the corpus. The decile rollup is a hash
    * aggregate to 10 rows; the oracle states the naive global
    * row_number, proving the distributed strategy result-invisible.
    */
  def selectionGain(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = TextAnalysis.qualityScore(s, dir)
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("quality_1e4"), lit(-1L)).as("q"))
    val ranked = RankUtils.globalRank(docs, 32, col("q"), col("doc_id"))
    val tot = ranked.agg(count(lit(1)).as("n"),
      sum(col("n_tokens")).as("total_tokens"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("(10 * (n - rank)) DIV n")) // 0 = best
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens_sum"),
        min(col("q")).as("min_quality_1e4"),
        max(col("total_tokens")).as("total_tokens"))
      .withColumn("cum_tokens", sum(col("tokens_sum")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_share_1e4",
        expr("(20000 * cum_tokens + total_tokens) DIV (2 * total_tokens)"))
      .select(col("decile"), col("n_docs"), col("tokens_sum"),
        col("min_quality_1e4"), col("cum_tokens"), col("cum_share_1e4"))
      .orderBy(col("decile"))
  }
}
